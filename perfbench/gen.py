"""Seeded input generators owned by the benchmark.

Everything the engine is given is made here from ``--seed`` alone, with
numpy and pyarrow; nothing in the engine package is imported, so a change
to the engine cannot change its own workload. The generator runs as a
child process of ``run.py`` (``python3 perfbench/gen.py --workload W
--seed N --out DIR``) so that neither its time nor its memory lands in the
benchmark's ``setup_s`` or ``driver_peak_rss_mb``. It writes its inputs
under ``DIR`` and a ``facts.json`` holding the input's logical size and
the answers the benchmark checks the engine against, computed here with
numpy from the generated arrays.

Shapes follow FIXTURES.md F1: ``doc_id`` is ``doc-%08d``, ``n_tok`` is
log-normal(5, 1) clipped to [1, 8192], ``source`` is one of 8 values with
one holding ~60% of rows, and token values are Zipf(1.2) over a 50,257-word
vocabulary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_257
ZIPF_S = 1.2
SOURCES = [f"src{i}" for i in range(8)]
SOURCE_P = np.array([0.60, 0.14, 0.08, 0.06, 0.05, 0.03, 0.02, 0.02])
FP_MOD = 2_147_483_647  # 2**31 - 1
FP_MUL = 31
TOKENS_DDL = "doc_id string, tokens array<int>, n_tok int, source string"
DIGEST_EVERY = 8  # ingest_scan checks the token digest of every 8th row

# Per-workload sizes (rows of the F1 table). curate_mutate's store must sit
# well below the engine's 64 MiB and 128 MiB driver-local valves.
INGEST_ROWS, INGEST_FILES = 160_000, 16
CURATE_ROWS = 8_000
CURATE_CYCLES = 16
PREP_DOCS = 3_000
# corpus_prep documents: figures measured on the testdata documents table
# (sf0.1, 5,000 rows). Each word's count there is 8,829 to 9,182 (uniform);
# word counts are uniform over 10..99; lang is en 2,059, zh 753, es 744,
# fr 742, de 702; 20 sources of 250 rows each; 250 near copies (text +
# " dup", 5%) and 8 exact copies (0.16%).
PREP_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
PREP_MIN_WORDS, PREP_MAX_WORDS = 10, 99
PREP_LANGS = ["en", "zh", "es", "fr", "de"]
PREP_LANG_P = np.array([2059, 753, 744, 742, 702]) / 5000
PREP_SOURCES = 20
PREP_NEAR_PER_MILLE, PREP_EXACT_PER_MILLE = 50, 2


def zipf_table(rng: np.random.Generator, bits: int = 20) -> np.ndarray:
    """Quantized inverse CDF of Zipf(ZIPF_S) over VOCAB ids, with the rank
    -> token id mapping shuffled (frequent tokens are not the small ids)."""
    w = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    q = (np.arange(1 << bits, dtype=np.float64) + 0.5) / (1 << bits)
    ranks = np.minimum(np.searchsorted(cdf, q), VOCAB - 1)
    return rng.permutation(VOCAB).astype(np.int32)[ranks]


def row_fingerprints(tokens: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row Horner hash ``fold(acc*31 + x) mod 2**31-1`` over each row's
    tokens — the value Spark's ``aggregate(tokens, 0L, (a, x) -> (a*31 + x)
    % M)`` returns for non-negative tokens, computed here as
    ``sum(x_j * 31**(n-1-j)) mod M`` without a Python loop."""
    n = np.diff(offsets)
    sums = np.zeros(len(n), dtype=np.int64)
    if len(tokens) == 0:
        return sums
    pw = np.ones(int(n.max()) + 1, dtype=np.int64)
    for i in range(1, len(pw)):
        pw[i] = pw[i - 1] * FP_MUL % FP_MOD
    step = 20_000  # rows per chunk, bounds the temporaries
    for lo in range(0, len(n), step):
        hi = min(lo + step, len(n))
        cn = n[lo:hi]
        base = offsets[lo]
        row = np.repeat(np.arange(hi - lo), cn)
        exp = cn[row] - 1 - (np.arange(offsets[hi] - base) - (offsets[lo:hi] - base)[row])
        terms = tokens[base : offsets[hi]].astype(np.int64) * pw[exp] % FP_MOD
        nz = cn > 0
        if nz.any():
            sums[lo:hi][nz] = np.add.reduceat(terms, (offsets[lo:hi] - base)[nz])
    return sums % FP_MOD


class TokenTable:
    """One generated F1 table held as flat numpy arrays."""

    def __init__(self, rng: np.random.Generator, n_rows: int, first_id: int = 0,
                 table: np.ndarray | None = None):
        self.ids = np.arange(first_id, first_id + n_rows, dtype=np.int64)
        self.n_tok = np.clip(rng.lognormal(5.0, 1.0, n_rows), 1, 8192).astype(np.int32)
        self.offsets = np.zeros(n_rows + 1, dtype=np.int64)
        np.cumsum(self.n_tok, out=self.offsets[1:])
        table = zipf_table(rng) if table is None else table
        self.tokens = np.empty(int(self.offsets[-1]), dtype=np.int32)
        for lo in range(0, len(self.tokens), 1 << 23):  # bounded temporaries
            chunk = self.tokens[lo : lo + (1 << 23)]
            chunk[:] = table[rng.integers(0, len(table), len(chunk))]
        self.source = rng.choice(len(SOURCES), n_rows, p=SOURCE_P).astype(np.int8)

    def __len__(self) -> int:
        return len(self.ids)

    def doc_ids(self, lo: int = 0, hi: int | None = None) -> list[str]:
        return [f"doc-{i:08d}" for i in self.ids[lo:hi].tolist()]

    def arrow(self, lo: int = 0, hi: int | None = None) -> pa.Table:
        hi = len(self) if hi is None else hi
        o = self.offsets[lo : hi + 1]
        toks = pa.ListArray.from_arrays(
            pa.array((o - o[0]).astype(np.int32)),
            pa.array(self.tokens[o[0] : o[-1]]),
        )
        return pa.table(
            {
                "doc_id": pa.array(self.doc_ids(lo, hi), pa.string()),
                "tokens": toks,
                "n_tok": pa.array(self.n_tok[lo:hi]),
                "source": pa.DictionaryArray.from_arrays(
                    pa.array(self.source[lo:hi]), pa.array(SOURCES)
                ).cast(pa.string()),
            }
        )

    def logical_bytes(self) -> int:
        """Bytes of the values a user hands the engine: id and source
        UTF-8 bytes plus 4 bytes per token and per ``n_tok``."""
        src_len = np.array([len(s) for s in SOURCES])
        return int(
            12 * len(self)  # "doc-%08d"
            + src_len[self.source].sum()
            + 4 * (len(self.tokens) + len(self))
        )

    def write(self, out_dir: str, n_files: int) -> None:
        os.makedirs(out_dir, exist_ok=True)
        bounds = np.linspace(0, len(self), n_files + 1).astype(int)

        def one(k: int) -> None:
            pq.write_table(
                self.arrow(bounds[k], bounds[k + 1]),
                os.path.join(out_dir, f"part-{k:05d}.parquet"),
                compression="none",
                use_dictionary=["doc_id", "source"],
            )

        with ThreadPoolExecutor(4) as pool:
            list(pool.map(one, range(n_files)))

    def fingerprints(self) -> np.ndarray:
        return row_fingerprints(self.tokens, self.offsets)

    def digest(self, every: int = 1) -> tuple[int, int]:
        """(rows, order-free digest of (row id, token fingerprint)) over the
        rows whose id is a multiple of ``every``."""
        keep = self.ids % every == 0
        n = self.n_tok[keep].astype(np.int64)
        offsets = np.zeros(len(n) + 1, dtype=np.int64)
        np.cumsum(n, out=offsets[1:])
        fp = row_fingerprints(self.tokens[np.repeat(keep, self.n_tok)], offsets)
        return int(keep.sum()), int((fp * (self.ids[keep] % 1000 + 1) % FP_MOD).sum())


def _ranges(rng, n_tok, k):
    """k inclusive n_tok ranges of varying width around random quantiles."""
    out = []
    for _ in range(k):
        q = rng.uniform(0.05, 0.9)
        lo = int(np.quantile(n_tok, q))
        hi = lo + int(rng.integers(5, 60))
        out.append((lo, hi))
    return out


def gen_ingest(seed: int, out: str) -> dict:
    """The F1 table, plus a small table (one file per core of the reference
    VM) that set-up encodes and decodes to start every Python worker."""
    rng = np.random.default_rng([seed, 1])
    t = TokenTable(rng, INGEST_ROWS)
    t.write(os.path.join(out, "input"), INGEST_FILES)
    small = TokenTable(rng, INGEST_ROWS // INGEST_FILES)
    small.write(os.path.join(out, "prep"), 4)
    digest_rows, digest = t.digest(DIGEST_EVERY)
    return {
        "rows": len(t),
        "tokens": int(len(t.tokens)),
        "files": INGEST_FILES,
        "prep_rows": len(small),
        "prep_tokens": int(len(small.tokens)),
        "logical_bytes": t.logical_bytes(),
        "digest_rows": digest_rows,
        "digest": digest,
    }


def gen_curate(seed: int, out: str) -> dict:
    """Base table plus a plan of CURATE_CYCLES mutation cycles. Each cycle
    replaces ~0.5% and inserts ~0.5% of the base (one upsert batch), looks
    up 16 ids (present, freshly inserted and never-existing), tombstones 8,
    looks up 16 again (including every tombstoned id), deletes 40 and counts
    an n_tok range. Which ids are present when is the driver's model's
    business; the plan itself depends only on the seed."""
    rng = np.random.default_rng([seed, 3])
    table = zipf_table(rng)
    base = TokenTable(rng, CURATE_ROWS, 0, table)
    base.write(os.path.join(out, "input"), 4)
    pq.write_table(
        pa.table({"doc_id": base.doc_ids(), "n_tok": base.n_tok,
                  "fp": base.fingerprints(),
                  "source": base.arrow().column("source")}),
        os.path.join(out, "model.parquet"),
    )
    cycles, upserts = [], []
    n_rep = n_ins = CURATE_ROWS // 200
    for c in range(CURATE_CYCLES):
        rep_ids = rng.choice(CURATE_ROWS, n_rep, replace=False)
        first_new = 10_000_000 + c * 1000
        ins = TokenTable(rng, n_ins + n_rep, first_new, table)
        # the replacements reuse base ids with fresh payloads
        ins.ids[n_ins:] = rep_ids
        tbl = ins.arrow()
        upserts.append(tbl.append_column("cycle", pa.array(np.full(len(ins), c, np.int32))))
        fps = ins.fingerprints()
        absent = [f"doc-{90_000_000 + c * 100 + j:08d}" for j in range(4)]
        look1 = ([f"doc-{i:08d}" for i in rng.choice(CURATE_ROWS, 6, replace=False)]
                 + [f"doc-{i:08d}" for i in ins.ids[:4]]
                 + [f"doc-{i:08d}" for i in ins.ids[-2:]] + absent)
        tomb = [f"doc-{i:08d}" for i in rng.choice(CURATE_ROWS, 8, replace=False)]
        look2 = tomb + [f"doc-{i:08d}" for i in rng.choice(CURATE_ROWS, 6, replace=False)] + absent[:2]
        dele = [f"doc-{i:08d}" for i in rng.choice(CURATE_ROWS, 40, replace=False)]
        lo, hi = _ranges(rng, base.n_tok, 1)[0]
        cycles.append({
            "upsert_fp": {f"doc-{i:08d}": int(f) for i, f in zip(ins.ids.tolist(), fps.tolist())},
            "lookup1": look1, "tombstone": tomb, "lookup2": look2,
            "delete": dele, "count_range": [lo, hi],
        })
    pq.write_table(pa.concat_tables(upserts), os.path.join(out, "upserts.parquet"))
    return {
        "rows": len(base),
        "tokens": int(len(base.tokens)),
        "logical_bytes": base.logical_bytes(),
        "cycles": cycles,
    }


def gen_prep(seed: int, out: str) -> dict:
    """Documents (doc_id bigint, text, lang, source, n_chars) shaped like
    the repo's testdata ``documents`` table (sf0.1: 5,000 rows), whose
    figures the constants below reproduce: text is a uniform draw from a
    30-word vocabulary, 10 to 99 words long (each length equally often);
    ``lang`` and ``source`` follow that table's shares; ``n_chars`` is the
    text's length. Planted, as in
    that table: near copies (an earlier document's text plus the word
    ``dup``) and exact copies of an earlier document's text. The shares
    are exact; which documents get them is seeded."""
    rng = np.random.default_rng([seed, 4])
    n = PREP_DOCS
    n_near, n_exact = n * PREP_NEAR_PER_MILLE // 1000, n * PREP_EXACT_PER_MILLE // 1000
    # plants never come first, so each has an earlier original to copy
    kind = np.array(["orig"] * n, dtype=object)
    planted = 100 + rng.permutation(n - 100)[: n_near + n_exact]
    kind[planted[:n_near]] = "near"
    kind[planted[n_near:]] = "exact"
    # every length equally often (then shuffled), so the share of documents
    # long enough for the quality gate does not move with the seed
    lengths = rng.permutation(np.resize(np.arange(PREP_MIN_WORDS, PREP_MAX_WORDS + 1), n))
    vocab = np.array(PREP_WORDS)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if kind[i] == "orig":
            texts.append(" ".join(rng.choice(vocab, int(lengths[i]))))
            originals.append(i)
        else:
            text = texts[originals[int(rng.integers(0, len(originals)))]]
            texts.append(text + " dup" if kind[i] == "near" else text)
    ids = np.arange(n, dtype=np.int64)
    langs = [PREP_LANGS[k] for k in rng.choice(len(PREP_LANGS), n, p=PREP_LANG_P)]
    sources = [f"src{k}" for k in rng.integers(0, PREP_SOURCES, n)]
    tbl = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(os.path.join(out, "input"), exist_ok=True)
    pq.write_table(tbl, os.path.join(out, "input", "documents.parquet"))
    n_words = {int(i): len(t.split(" ")) for i, t in zip(ids.tolist(), texts)}
    return {
        "rows": n,
        "logical_bytes": int(sum(len(t) for t in texts) + 8 * n
                             + sum(len(x) for x in langs) + sum(len(x) for x in sources)),
        "exact_dups": [int(i) for i in np.nonzero(kind == "exact")[0]],
        "near_dups": [int(i) for i in np.nonzero(kind == "near")[0]],
        "n_words": n_words,
    }


def gen_kernel_blocks(seed: int, out: str, n_values: int = 4 * 65_536) -> None:
    """Canonical codec blocks for the kernel microbench: Zipf token values
    from an F1 table and ``doc-%08d`` ids, ``n_values`` of each."""
    rng = np.random.default_rng([seed, 9])
    t = TokenTable(rng, 4 * n_values // 200)
    toks = np.resize(t.tokens, n_values)
    pq.write_table(
        pa.table({"tokens": toks,
                  "doc_id": [f"doc-{i:08d}" for i in range(n_values)]}),
        os.path.join(out, "kernel_blocks.parquet"),
    )


GENERATORS = {
    "ingest_scan": gen_ingest,
    "curate_mutate": gen_curate,
    "corpus_prep": gen_prep,
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    facts = GENERATORS[args.workload](args.seed, args.out)
    gen_kernel_blocks(args.seed, args.out)
    with open(os.path.join(args.out, "facts.json"), "w") as f:
        json.dump(facts, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
