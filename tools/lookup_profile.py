"""Profile bench.py's q18b point lookup in isolation.

Builds the q18b store the way ``bench.py`` does (tokenized documents,
``encode_dataset`` with one unit per core, a ``quality`` column family, a
Bloom index on ``doc_id``), then times ``lookup_rows`` of the same 16-id
probe projecting ``doc_id, n_tok``: one untimed warm-up, min of
``--reps``. For the last rep it prints the Spark jobs the call launched
(read from ``statusTracker`` under a job group), the py4j commands the
driver sent, and the executed plan of the returned DataFrame.

    python tools/lookup_profile.py <sf_dir> [--reps 3]

``sf_dir`` holds the testdata ``documents.parquet`` (e.g. the sf0.01 set).

Runs against whichever ``xml2arrow_spark`` is first on ``sys.path`` (the
checkout root), so the same script profiles two trees side by side.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _Py4jCounter:
    """Counts driver->JVM py4j commands while active."""

    def __init__(self):
        self.n = 0
        self._patched = []

    def __enter__(self):
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            real = cls.send_command

            def counted(conn, command, *a, _real=real, **kw):
                self.n += 1
                return _real(conn, command, *a, **kw)

            cls.send_command = counted
            self._patched.append((cls, real))
        return self

    def __exit__(self, *exc):
        for cls, real in self._patched:
            cls.send_command = real


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from xml2arrow_spark.env import set_kernel_malloc_env

    set_kernel_malloc_env()
    from pyspark.sql import SparkSession, functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from xml2arrow_spark.manifest import CodecManifest
    from xml2arrow_spark.operators.bloomidx import build_bloom_index
    from xml2arrow_spark.operators.checkpoint import (
        add_columns,
        encode_dataset,
        lookup_rows,
    )
    from xml2arrow_spark.plans.selector import resolve_manifest
    from xml2arrow_spark.sources.tokens import tokenize_documents

    docs = spark.read.parquet(os.path.join(args.sf_dir, "documents.parquet"))
    work = tempfile.mkdtemp(prefix="lookup_profile_")
    try:
        path = os.path.join(work, "ds")
        tok = tokenize_documents(docs).cache()
        man = resolve_manifest(tok, CodecManifest.auto_for(tok.schema, block_rows=1024))
        encode_dataset(tok, path, man, n_units=cpus)
        add_columns(
            tok.select("doc_id", (F.col("n_tok") % F.lit(31)).cast("int").alias("q_score")),
            path, "quality",
        )
        build_bloom_index(spark, path, "doc_id")
        ids = [r["doc_id"] for r in tok.select("doc_id").limit(16).collect()]
        probe = spark.createDataFrame([(i,) for i in ids], "doc_id string")

        def run():
            return lookup_rows(probe, path, columns=["doc_id", "n_tok"])

        run().collect()  # untimed warm-up
        sc = spark.sparkContext
        walls = []
        for rep in range(args.reps):
            group = f"lookup-profile-{rep}"
            sc.setJobGroup(group, group)
            with _Py4jCounter() as calls:
                t0 = time.perf_counter()
                df = run()
                rows = df.collect()
                walls.append(time.perf_counter() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        plan = df._jdf.queryExecution().executedPlan().toString()
        sf = os.path.basename(os.path.normpath(args.sf_dir))
        print(f"# q18b_point_lookup, {sf}, local[{cpus}]")
        print(f"# min-of-{args.reps} lookup_rows(...).collect(): {min(walls):.3f} s, "
              f"reps {[round(w, 3) for w in walls]}")
        print(f"# rows returned: {len(rows)}")
        print(f"# Spark jobs per call (last rep): {jobs}")
        print(f"# py4j commands per call (last rep): {calls.n}")
        print()
        print("# returned relation plan:")
        print(plan)
        tok.unpersist()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
