"""The benchmark's three workloads, driven through the engine's public API.

Each workload has the same shape:

- ``prepare(rep)``: the repeated part of set-up (building the store the
  timed ops read). ``run.py`` runs it ``SETUP_REPS`` times and reports the
  median, so ``setup_s`` is steady;
- ``warm_up()``: ``warm_up_rounds`` untimed rounds of the op mix (rounds
  -1, -2, ...), so the timed phase sees warm Python workers and
  JIT-compiled JVM paths;
- ``round(i)``: the ops of one round, as ``(name, fn)`` pairs. ``fn`` runs
  the op, forces its result and returns ``True`` when the result matches
  the answer the benchmark computed itself. The timed phase runs whole
  rounds, so every run times the same op mix;
- ``finish()``: untimed end-of-run checks; returns extra figures for the
  report and whether the checks passed.

``stored_bytes`` is the on-disk size of the workload's store at a point
that does not depend on how many rounds ran, so it repeats for a seed.

Spans (``ctx.tracer.span``) sit around every call into a layer's public
function; the untraced run's tracer records nothing.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import DIGEST_EVERY, FP_MOD, TOKENS_DDL, row_fingerprints

# Digest of a decoded token table: per-row Horner fingerprint of the tokens,
# tied to the row's id, summed. Matches gen.TokenTable.digest.
ROW_FP_SQL = f"aggregate(tokens, 0L, (a, x) -> (a * 31 + x) % {FP_MOD})"
DIGEST_SQL = (
    f"sum(({ROW_FP_SQL}) * (cast(substr(doc_id, 5) as bigint) % 1000 + 1) % {FP_MOD})"
)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


class Context:
    def __init__(self, spark, work: str, data: str, facts: dict, tracer):
        self.spark = spark
        self.work = work
        self.data = data
        self.facts = facts
        self.tracer = tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class Workload:
    name = ""
    # the traced run materialises each stage corpus_prep calls (see
    # layers.instrument_prep_stages)
    forces_prep_stages = False

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.facts = ctx.facts
        self.span = ctx.tracer.span
        self.stored_bytes = 0

    def prepare(self, rep: int) -> None:
        pass

    warm_up_rounds = 1

    def warm_up(self) -> None:
        for i in range(-self.warm_up_rounds, 0):
            for name, fn in self.round(i):
                if not fn():
                    raise RuntimeError(f"warm-up {name} returned a wrong answer")

    def round(self, i: int):
        raise NotImplementedError

    def finish(self) -> tuple[dict, bool]:
        return {}, True


# -- ingest_scan --------------------------------------------------------------


class IngestScan(Workload):
    """Encode the F1 table into a fresh store with encode_parquet_dataset,
    then decode it all with decode_dataset, forcing the token payload."""

    name = "ingest_scan"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.input = os.path.join(ctx.data, "input")
        self.store = None

    def _encode(self, src: str, out: str, rows: int, tokens: int) -> bool:
        from xml2arrow_spark.operators.dataset import encode_parquet_dataset

        shutil.rmtree(out, ignore_errors=True)
        with self.span("dataset.encode_parquet_dataset"):
            m = encode_parquet_dataset(self.spark, src, out)
        # "values" counts every column's values: the tokens plus one each
        # for doc_id, n_tok and source per row
        return m["rows"] == rows and m["values"] == tokens + 3 * rows

    def _decode(self, store: str, rows: int, tokens: int) -> bool:
        from pyspark.sql import functions as F

        from xml2arrow_spark.operators.dataset import decode_dataset

        with self.span("dataset.decode_dataset"):
            r = decode_dataset(self.spark, store).agg(
                F.count("*").alias("n"), F.sum(F.size("tokens")).alias("t")
            ).collect()[0]
        return r["n"] == rows and r["t"] == tokens

    def prepare(self, rep: int) -> None:
        # nothing to build: the repeated part of set-up runs both paths over
        # a small four-file table, which starts a Python worker per core
        f = self.facts
        src = os.path.join(self.ctx.data, "prep")
        out = self.ctx.path(f"prep-{rep}")
        ok = self._encode(src, out, f["prep_rows"], f["prep_tokens"])
        ok &= self._decode(out, f["prep_rows"], f["prep_tokens"])
        shutil.rmtree(out, ignore_errors=True)
        if not ok:
            raise RuntimeError("set-up encode/decode returned wrong counts")

    def round(self, i: int):
        f = self.facts
        store = self.ctx.path(f"store-{i % 2}")

        def encode():
            self.store = store
            return self._encode(self.input, store, f["rows"], f["tokens"])

        def decode():
            return self._decode(store, f["rows"], f["tokens"])

        return [("encode", encode), ("decode", decode)]

    def finish(self):
        """Untimed round trip of the token payload: the Horner-fingerprint
        digest over every DIGEST_EVERY-th row must equal the generator's."""
        from pyspark.sql import functions as F

        from xml2arrow_spark.operators.dataset import decode_dataset

        r = decode_dataset(self.spark, self.store).filter(
            F.expr(f"cast(substr(doc_id, 5) as bigint) % {DIGEST_EVERY} = 0")
        ).agg(F.count("*").alias("n"), F.expr(DIGEST_SQL).alias("d")).collect()[0]
        f = self.facts
        ok = (r["n"], r["d"]) == (f["digest_rows"], f["digest"])
        self.stored_bytes = dir_bytes(self.store)
        return {"digest_ok": ok}, ok


# -- curate_mutate ------------------------------------------------------------


class CurateMutate(Workload):
    """Writes beside reads on a small mutable store (below every size valve),
    replayed against a driver-side id -> (n_tok, token fingerprint) model."""

    name = "curate_mutate"
    N_UNITS = 4
    BLOCK_ROWS = 256

    def __init__(self, ctx):
        super().__init__(ctx)
        self.input = os.path.join(ctx.data, "input")
        m = pq.read_table(os.path.join(ctx.data, "model.parquet"))
        self.base_model = {
            d: (n, fp)
            for d, n, fp in zip(
                m.column("doc_id").to_pylist(), m.column("n_tok").to_pylist(),
                m.column("fp").to_pylist(),
            )
        }
        self.model = dict(self.base_model)
        self.upserts = pq.read_table(os.path.join(ctx.data, "upserts.parquet"))
        self.store = None

    def prepare(self, rep: int) -> None:
        from xml2arrow_spark.manifest import CodecManifest
        from xml2arrow_spark.operators.bloomidx import build_bloom_index
        from xml2arrow_spark.operators.checkpoint import encode_dataset

        store = self.ctx.path(f"ds-{rep}")
        shutil.rmtree(store, ignore_errors=True)
        df = self.spark.read.parquet(self.input)
        with self.span("checkpoint.encode_dataset"):
            encode_dataset(
                df, store, CodecManifest.auto_for(df.schema, block_rows=self.BLOCK_ROWS),
                n_units=self.N_UNITS, presort=["doc_id"],
            )
        with self.span("bloomidx.build_bloom_index"):
            build_bloom_index(self.spark, store, "doc_id")
        if self.store is not None:
            shutil.rmtree(self.store, ignore_errors=True)
        self.store = store
        self.model = dict(self.base_model)

    def _ids_df(self, ids: list[str]):
        return self.spark.createDataFrame(pa.table({"doc_id": pa.array(ids, pa.string())}))

    def _lookup(self, ids: list[str]) -> bool:
        from xml2arrow_spark.operators.checkpoint import lookup_rows

        with self.span("checkpoint.lookup_rows"):
            rows = lookup_rows(self._ids_df(ids), self.store).collect()
        got = {}
        for r in rows:
            toks = np.asarray(r["tokens"], dtype=np.int32)
            fp = int(row_fingerprints(toks, np.array([0, len(toks)]))[0])
            got[r["doc_id"]] = (r["n_tok"], fp)
        want = {d: self.model[d] for d in ids if d in self.model}
        return got == want

    def round(self, i: int):
        from pyspark.sql import functions as F

        from xml2arrow_spark.operators.checkpoint import (
            delete_rows,
            read_encoded_dataset,
            upsert_rows,
        )
        from xml2arrow_spark.operators.dataset import count_where
        from xml2arrow_spark.operators.tombstones import apply_tombstones, tombstone_rows

        # the warm-up (i = -1) replays the last planned cycle; timed rounds
        # start from the first
        cyc = i % len(self.facts["cycles"])
        c = self.facts["cycles"][cyc]
        spark, store, span, model = self.spark, self.store, self.span, self.model

        def upsert():
            batch = self.upserts.filter(pc.equal(self.upserts.column("cycle"), cyc)).drop_columns(["cycle"])
            ids = batch.column("doc_id").to_pylist()
            n_rep = sum(d in model for d in ids)
            with span("checkpoint.upsert_rows") as a:
                m = upsert_rows(spark.createDataFrame(batch, TOKENS_DDL), store)
                a["units"] = m["affected_units"]
            for d, n in zip(ids, batch.column("n_tok").to_pylist()):
                model[d] = (n, c["upsert_fp"][d])
            return (m["rows_replaced"], m["rows_inserted"], m["rows_after"]) == (
                n_rep, len(ids) - n_rep, len(model))

        def tombstone():
            with span("checkpoint.tombstone_rows"):
                m = tombstone_rows(self._ids_df(c["tombstone"]), store)
            for d in c["tombstone"]:
                model.pop(d, None)
            return m["ids_tombstoned"] == len(c["tombstone"])

        def apply():
            with span("checkpoint.apply_tombstones"):
                apply_tombstones(spark, store)
            return True

        def count():
            lo, hi = c["count_range"]
            with span("dataset.count_where") as a:
                r = count_where(spark, store, ("n_tok", lo, hi)).collect()[0]
                a.update(n_blocks=r["n_blocks"], n_boundary=r["n_boundary"])
            return r["n_match"] == sum(lo <= n <= hi for n, _fp in model.values())

        def delete():
            n_present = sum(d in model for d in c["delete"])
            with span("checkpoint.delete_rows") as a:
                m = delete_rows(self._ids_df(c["delete"]), store)
                a["units"] = m["affected_units"]
            for d in c["delete"]:
                model.pop(d, None)
            return m["rows_deleted"] == n_present

        def read():
            with span("checkpoint.read_encoded_dataset"):
                r = read_encoded_dataset(spark, store, columns=["doc_id", "n_tok"]).agg(
                    F.count("*").alias("n"), F.sum("n_tok").alias("t")
                ).collect()[0]
            return (r["n"], r["t"]) == (len(model), sum(n for n, _fp in model.values()))

        return [
            ("upsert_rows", upsert),
            ("lookup_rows", lambda: self._lookup(c["lookup1"])),
            ("tombstone_rows", tombstone),
            ("lookup_rows", lambda: self._lookup(c["lookup2"])),
            ("apply_tombstones", apply),
            ("count_where", count),
            ("delete_rows", delete),
            ("read_encoded_dataset", read),
        ]

    def warm_up(self) -> None:
        super().warm_up()
        self.stored_bytes = dir_bytes(self.store)  # after exactly one cycle

    def finish(self):
        from pyspark.sql import functions as F

        from xml2arrow_spark.operators.checkpoint import read_encoded_dataset

        r = read_encoded_dataset(self.spark, self.store).agg(
            F.count("*").alias("n"), F.expr(DIGEST_SQL).alias("d")
        ).collect()[0]
        want = sum(
            fp * (int(d[4:]) % 1000 + 1) % FP_MOD for d, (_n, fp) in self.model.items()
        )
        ok = r["n"] == len(self.model) and r["d"] == want
        return {"digest_ok": ok}, ok


# -- corpus_prep --------------------------------------------------------------


class CorpusPrep(Workload):
    """corpus_prep over generated documents with planted duplicates. The
    traced run makes the same call; its stage calls get spans that force
    each stage's output (layers.instrument_prep_stages)."""

    name = "corpus_prep"
    forces_prep_stages = True
    # after one warm-up pass the next passes are still ~10-25% slower
    warm_up_rounds = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        self.input = os.path.join(ctx.data, "input")
        self.docs = None
        self.n_out = None
        self.exact = set(self.facts["exact_dups"])
        self.n_words = {int(k): v for k, v in self.facts["n_words"].items()}
        self.n_pass = 0
        self.sig = None

    def prepare(self, rep: int) -> None:
        self.docs = self.spark.read.parquet(self.input)
        if self.docs.count() != self.facts["rows"]:
            raise RuntimeError("documents read back with the wrong row count")

    def _sig_path(self) -> str:
        """A fresh signature store per pass; the previous one is kept until
        then so the size figure can be read from it."""
        if self.sig is not None:
            shutil.rmtree(self.sig, ignore_errors=True)
        self.n_pass += 1
        self.sig = self.ctx.path(f"sig-{self.n_pass:04d}")
        return self.sig

    def _check(self, rows) -> bool:
        # corpus_prep returns doc_id as a string (the tokenizer casts it)
        ids = [int(r["doc_id"]) for r in rows]
        ok = not (self.exact & set(ids)) and len(ids) == len(set(ids))
        ok &= all(r["n_tok"] == self.n_words[d] for d, r in zip(ids, rows))
        if self.n_out is None:
            self.n_out = len(ids)
        return ok and len(ids) == self.n_out

    def round(self, i: int):
        from xml2arrow_spark.pipeline.prep import corpus_prep

        def prep():
            sig = self._sig_path()
            with self.span("pipeline.corpus_prep"):
                rows = corpus_prep(self.docs, sig_path=sig).collect()
            return self._check(rows)

        return [("corpus_prep", prep)]

    def finish(self):
        self.stored_bytes = dir_bytes(self.sig)
        return {}, True


WORKLOADS = {w.name: w for w in (IngestScan, CurateMutate, CorpusPrep)}


def load_facts(data: str) -> dict:
    with open(os.path.join(data, "facts.json")) as f:
        return json.load(f)
