"""Per-layer view of a traced run: which engine functions get spans, and how
the spans roll up into the per-layer metrics.

Layers are the engine's modules:

- ``sources``: ``sources/files.py`` (file listing, LPT task planning);
- ``plans``: codec selection (``plans/selector.py``, ``manifest.py``,
  ``operators/encode.py::resolve_manifest_parquet``);
- ``codecs``: the numpy kernels, measured by ``kernels.py``;
- ``dataset``: ``operators/dataset.py`` and the fused encode/decode paths;
- ``checkpoint``: the mutable store (``checkpoint.py``, ``bloomidx.py``,
  ``tombstones.py``, ``lease.py``);
- ``pipeline``: ``pipeline/textstats.py``, ``dedup.py``, ``prep.py``;
- ``spark``: jobs, stages and Python workers under all of the above.

The workloads open spans around the public calls they make; this module
adds spans around the engine functions those calls reach inside the engine
(planning and codec selection), so their cost shows inside the caller's.
Every per-layer metric is reported on every workload; a layer the workload
never reaches reports 0. Every function a metric names is called by at
least one workload. ``count_where`` runs only on ``curate_mutate``'s
driver-local path, which launches no Spark job and no Python worker, so
its ``_jobs`` and ``_python_worker_s`` figures read 0 there.
"""

from __future__ import annotations

import os
import statistics

import kernels
from spans import coverage, inclusive_jobs, median_of, self_times

DATASET_FNS = ["encode_parquet_dataset", "decode_dataset", "count_where"]
CHECKPOINT_FNS = [
    "upsert_rows", "delete_rows", "lookup_rows", "read_encoded_dataset",
    "tombstone_rows", "apply_tombstones",
]


def _units() -> dict[str, str]:
    u = {
        "sources.parquet_file_infos_s": "s",
        "sources.map_local_files_s": "s",
        "sources.plan_parquet_tasks_s": "s",
        "sources.task_bytes_max_over_mean": "ratio",
        "plans.resolve_manifest_s": "s",
    }
    for c in kernels.INT_CODECS + kernels.STR_CODECS:
        u[f"codecs.{c}.encode_us_per_block"] = "us"
        u[f"codecs.{c}.decode_us_per_block"] = "us"
        u[f"codecs.{c}.bytes_per_value"] = "B/value"
    for fn in DATASET_FNS:
        u[f"dataset.{fn}_s"] = "s"
        u[f"dataset.{fn}_jobs"] = "count"
        u[f"dataset.{fn}_python_worker_s"] = "s"
    u["dataset.count_where_boundary_frac"] = "ratio"
    for fn in CHECKPOINT_FNS:
        u[f"checkpoint.{fn}_s"] = "s"
        u[f"checkpoint.{fn}_jobs"] = "count"
    u["checkpoint.upsert_rows_units"] = "count"
    u["checkpoint.delete_rows_units"] = "count"
    u["checkpoint.encode_dataset_s"] = "s"
    u["bloomidx.build_bloom_index_s"] = "s"
    u.update({
        "pipeline.quality_filter_s": "s",
        "pipeline.lsh_near_dup_pairs_s": "s",
        "pipeline.lsh_near_dup_pairs_jobs": "count",
        "pipeline.resolve_near_dups_s": "s",
        "pipeline.resolve_near_dups_jobs": "count",
        "pipeline.encode_table_s": "s",
        "pipeline.decode_table_s": "s",
        "pipeline.near_dup_pairs": "count",
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.shuffle_bytes": "B/op",
        "spark.jvm_gc_s": "s/op",
        "trace.span_coverage": "ratio",
    })
    return u


UNITS = _units()


def _record_codecs(attrs, _a, _kw, manifest) -> None:
    attrs["codecs"] = {c: p.codec for c, p in manifest.columns.items()}


def _record_lpt(attrs, a, kw, bins) -> None:
    sizes = a[0] if a else kw["sizes"]
    n_tasks = a[1] if len(a) > 1 else kw["n_tasks"]
    load = [0] * n_tasks
    for s, b in zip(sizes, bins):
        load[b] += s
    mean = sum(load) / len(load) if load else 0
    attrs["task_bytes_max_over_mean"] = max(load) / mean if mean else 0.0


def instrument_engine(tracer) -> None:
    """Spans around engine-internal calls the workloads reach."""
    from spans import instrument
    # loaded first, so their ``from x import f`` names get the wrappers too
    import xml2arrow_spark.operators.checkpoint  # noqa: F401
    import xml2arrow_spark.operators.dataset  # noqa: F401
    import xml2arrow_spark.pipeline.prep  # noqa: F401
    from xml2arrow_spark.operators import encode
    from xml2arrow_spark.plans import selector
    from xml2arrow_spark.sources import files

    instrument(tracer, [
        (files, "parquet_file_infos", "sources.parquet_file_infos", None),
        (files, "plan_parquet_tasks", "sources.plan_parquet_tasks", None),
        (files, "_lpt_assign", "sources.lpt_assign", _record_lpt),
        (files, "map_local_files", "sources.map_local_files", None),
        (encode, "resolve_manifest_parquet", "plans.resolve_manifest", _record_codecs),
        (selector, "resolve_manifest", "plans.resolve_manifest", _record_codecs),
    ])


def materialise(df):
    """``df`` computed now and held in executor storage
    (``localCheckpoint(eager=True)``), keeping the attributes the engine
    hangs on a DataFrame for its callers."""
    forced = df.localCheckpoint(eager=True)
    for k in ("_sig_cache", "_drop_metrics"):
        if hasattr(df, k):
            setattr(forced, k, getattr(df, k))
    return forced


def _record_pairs(attrs, _a, _kw, pairs) -> None:
    attrs["pairs"] = pairs.count()


def instrument_prep_stages(tracer) -> None:
    """Spans around each stage call ``pipeline.prep.corpus_prep`` makes,
    for that workload's traced run. The stages return lazy DataFrames, so
    each span also materialises its stage's output and hands that on: the
    span then holds the stage's work, and ``corpus_prep`` composes the
    stages as it always does. Exact dedup is inline in
    ``surviving_documents``; its work lands in ``lsh_near_dup_pairs``,
    which writes the signatures of its output. Only the names ``prep``
    calls are replaced."""
    from spans import wrap
    from xml2arrow_spark.pipeline import dedup, prep, textstats

    for mod, attr, on_result in [
        (textstats, "quality_filter", None),
        (dedup, "lsh_near_dup_pairs", _record_pairs),
        (dedup, "resolve_near_dups", None),
        (prep, "tokenize_documents", None),
        (prep, "encode_table", None),
        (prep, "decode_table", None),
    ]:
        setattr(mod, attr, wrap(tracer, getattr(mod, attr), f"pipeline.{attr}",
                                on_result, force=materialise))


def rollup(tracer, t0: float, t1: float, n_ops: int, data: str):
    """Per-layer metrics from the spans, plus the codec microbench.
    Returns (metrics, attempted, failed) — the microbench's round-trip
    checks count as ops of the traced run."""
    k_metrics, k_att, k_fail = kernels.run(os.path.join(data, "kernel_blocks.parquet"), tracer)
    spans = tracer.spans
    selft = self_times(spans)
    incl = inclusive_jobs(spans)
    for s in spans:
        s["self_s"] = selft[s["id"]]
        s["jobs_incl"] = incl[s["id"]]
    # a function's figures come from its calls in the timed phase; functions
    # called only during set-up (store builds) fall back to those calls
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    for name, calls in by_name.items():
        timed_calls = [s for s in calls if s["start"] >= t0 and s["end"] <= t1]
        by_name[name] = timed_calls or calls

    def dur(name):
        return median_of(s["end"] - s["start"] for s in by_name.get(name, []))

    def jobs(name):
        return median_of(s["jobs_incl"] for s in by_name.get(name, []))

    def attr(name, key):
        return median_of(s["attrs"][key] for s in by_name.get(name, []) if key in s["attrs"])

    m = {k: 0.0 for k in UNITS}
    m.update(k_metrics)
    for fn in ("parquet_file_infos", "map_local_files", "plan_parquet_tasks"):
        m[f"sources.{fn}_s"] = dur(f"sources.{fn}")
    m["sources.task_bytes_max_over_mean"] = attr("sources.lpt_assign", "task_bytes_max_over_mean")
    m["plans.resolve_manifest_s"] = dur("plans.resolve_manifest")
    for fn in DATASET_FNS:
        name = f"dataset.{fn}"
        m[f"{name}_s"] = dur(name)
        m[f"{name}_jobs"] = jobs(name)
        m[f"{name}_python_worker_s"] = median_of(s["py_s"] for s in by_name.get(name, []))
    cw = [s["attrs"] for s in by_name.get("dataset.count_where", []) if s["attrs"].get("n_blocks")]
    if cw:
        m["dataset.count_where_boundary_frac"] = statistics.median(
            a["n_boundary"] / a["n_blocks"] for a in cw)
    for fn in CHECKPOINT_FNS:
        name = f"checkpoint.{fn}"
        m[f"{name}_s"] = dur(name)
        m[f"{name}_jobs"] = jobs(name)
    m["checkpoint.upsert_rows_units"] = attr("checkpoint.upsert_rows", "units")
    m["checkpoint.delete_rows_units"] = attr("checkpoint.delete_rows", "units")
    m["checkpoint.encode_dataset_s"] = dur("checkpoint.encode_dataset")
    m["bloomidx.build_bloom_index_s"] = dur("bloomidx.build_bloom_index")
    for stage in ("quality_filter", "lsh_near_dup_pairs", "resolve_near_dups",
                  "encode_table", "decode_table"):
        m[f"pipeline.{stage}_s"] = dur(f"pipeline.{stage}")
    m["pipeline.lsh_near_dup_pairs_jobs"] = jobs("pipeline.lsh_near_dup_pairs")
    m["pipeline.resolve_near_dups_jobs"] = jobs("pipeline.resolve_near_dups")
    m["pipeline.near_dup_pairs"] = attr("pipeline.lsh_near_dup_pairs", "pairs")

    # Spark totals over the timed phase, per op
    timed = [s for s in spans if s["start"] >= t0 and s["end"] <= t1]
    jobs_t = {j for s in timed for j in s["jobs"]}
    stages_t = {st for s in timed for st in s["stages"]}
    stage_m = tracer.stage_metrics()
    n = max(n_ops, 1)
    m["spark.jobs_per_op"] = len(jobs_t) / n
    m["spark.stages_per_op"] = len(stages_t) / n
    m["spark.shuffle_bytes"] = sum(stage_m.get(s, {}).get("shuffle_bytes", 0) for s in stages_t) / n
    m["spark.jvm_gc_s"] = sum(stage_m.get(s, {}).get("gc_s", 0.0) for s in stages_t) / n
    m["trace.span_coverage"] = coverage(spans, t0, t1)
    for s in spans:
        s["stage_metrics"] = {st: stage_m.get(st) for st in s["stages"]}
    tracer.event("rollup", metrics=m, timed_start=t0, timed_end=t1, n_ops=n_ops)
    return m, k_att, k_fail
