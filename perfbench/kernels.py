"""Codec kernel microbench for the traced run.

Calls ``xml2arrow_spark.codecs.encode_values``/``decode_values`` directly,
in the Spark driver process, on canonical blocks of ``BLOCK`` values cut from the
generator's ``kernel_blocks.parquet``: every integer codec on Zipf token
values, every string codec on ``doc-%08d`` ids. Each decode is checked
against its input. A (bit width x n_values) grid over ``bitpack`` is
recorded as trace events: it is the kernel-side view of where the
gather-path crossover sits.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

BLOCK = 65_536
N_BLOCKS = 4
REPS = 3
INT_CODECS = ["plain", "bitpack", "for", "delta", "rle", "dict", "pdict", "pfor"]
STR_CODECS = ["plain_str", "dict_str", "fsst", "seq_str"]
GRID_WIDTHS = [1, 2, 4, 6, 8, 10, 12, 16, 20, 24, 31]
GRID_SIZES = [1_024, 8_192, 65_536]


def _time(fn, reps: int) -> tuple[float, object]:
    times, out = [], None
    for _ in range(reps):
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times), out


def _same(codec_kind: str, got, want) -> bool:
    if codec_kind == "int":
        return np.array_equal(np.asarray(got), want)
    return np.array_equal(got.offsets, want.offsets) and bytes(got.data) == bytes(want.data)


def _bench(codec: str, kind: str, blocks) -> tuple[dict, bool]:
    from xml2arrow_spark.codecs import decode_values, encode_values

    enc_t, dec_t, nbytes, nvals, ok = [], [], 0, 0, True
    for blk in blocks:
        te, (meta, blob) = _time(lambda: encode_values(codec, blk), REPS)
        td, got = _time(lambda: decode_values(meta, blob), REPS)
        ok &= _same(kind, got, blk)
        enc_t.append(te)
        dec_t.append(td)
        nbytes += len(blob)
        nvals += len(blk) if kind == "int" else blk.n
    return {
        "encode_us_per_block": statistics.median(enc_t) * 1e6,
        "decode_us_per_block": statistics.median(dec_t) * 1e6,
        "bytes_per_value": nbytes / nvals,
    }, ok


def run(path: str, tracer) -> tuple[dict, int, int]:
    """Returns (per-layer metrics, attempted, failed)."""
    import pyarrow.parquet as pq

    from xml2arrow_spark.codecs.base import strdata_from_arrow

    t = pq.read_table(path)
    toks = t.column("tokens").to_numpy()
    ints = [toks[i * BLOCK : (i + 1) * BLOCK] for i in range(N_BLOCKS)]
    ids = t.column("doc_id").combine_chunks()
    strs = [strdata_from_arrow(ids.slice(i * BLOCK, BLOCK)) for i in range(N_BLOCKS)]
    metrics, attempted, failed = {}, 0, 0
    for kind, codecs, blocks in (("int", INT_CODECS, ints), ("str", STR_CODECS, strs)):
        for codec in codecs:
            attempted += 1
            with tracer.span(f"codecs.{codec}", values=kind) as attrs:
                try:
                    m, ok = _bench(codec, kind, blocks)
                except Exception as e:  # a codec refusing a block is a failure here
                    attrs["error"] = repr(e)
                    m, ok = {}, False
                attrs.update(m)
            failed += not ok
            for k, v in m.items():
                metrics[f"codecs.{codec}.{k}"] = v
    rng = np.random.default_rng(0)
    from xml2arrow_spark.codecs import decode_values, encode_values

    for w in GRID_WIDTHS:
        for n in GRID_SIZES:
            v = rng.integers(0, 1 << w, n).astype(np.int32)
            te, (meta, blob) = _time(lambda: encode_values("bitpack", v), REPS)
            td, _ = _time(lambda: decode_values(meta, blob), REPS)
            tracer.event("bitpack_grid", width=w, n_values=n,
                         encode_us=te * 1e6, decode_us=td * 1e6)
    return metrics, attempted, failed
