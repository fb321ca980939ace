"""lookup_rows' driver-local path is an exact twin of its distributed path:
same rows and the same ``df.schema`` on every store shape and batch shape
the point read serves, with ``LOOKUP_LOCAL_BYTES = 0`` pinning the
distributed side. Routing is read off the executed plan: the local path returns an
Arrow-backed LocalTableScan with no decode kernel in it."""

import os
import shutil

import pytest

from xml2arrow_spark.manifest import CodecManifest
from xml2arrow_spark.operators import checkpoint
from xml2arrow_spark.operators.checkpoint import (
    add_columns,
    encode_dataset,
    lookup_rows,
    plan_units,
)
from xml2arrow_spark.sources import tokens_dataframe

N_UNITS = 4


def _ids_df(spark, ids):
    import pyarrow as pa

    return spark.createDataFrame(pa.table({"doc_id": pa.array(ids, pa.string())}))


def _ran_local(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "MapInArrow" not in plan and "LocalTableScan" in plan


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _distributed(ids_df, path, **kw):
    """lookup_rows with the size valve at 0: the distributed path."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(checkpoint, "LOOKUP_LOCAL_BYTES", 0)
        return lookup_rows(ids_df, path, **kw)


def _pin(spark, ids, path, local=True, **kw):
    """Both paths over the same batch: equal rows and schema; returns the
    rows. ``local`` states which way the default valve must route."""
    got = lookup_rows(_ids_df(spark, ids), path, **kw)
    want = _distributed(_ids_df(spark, ids), path, **kw)
    assert _ran_local(got) is local
    assert not _ran_local(want)
    assert got.schema == want.schema
    rows = _rows(got)
    assert rows == _rows(want)
    return rows


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """A presorted store with a column family (covering part of the base
    plus ghost ids the base never had) and an unclustered store with a
    Bloom index on the id."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.bloomidx import build_bloom_index

    root = tmp_path_factory.mktemp("lookup_local")
    df = tokens_dataframe(spark, 1200, variant="low_card", n_partitions=2).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=64)
    sorted_path = str(root / "presorted")
    encode_dataset(df, sorted_path, man, n_units=N_UNITS, presort=["doc_id"])
    covered = df.orderBy("doc_id").limit(300).select(
        "doc_id", (F.col("n_tok") % F.lit(7)).cast("int").alias("q7")
    )
    ghosts = spark.createDataFrame([("ghost-1", 5), ("ghost-2", 6)], "doc_id string, q7 int")
    add_columns(covered.unionByName(ghosts), sorted_path, "quality")
    bloom_path = str(root / "bloom")
    encode_dataset(df, bloom_path, man, n_units=N_UNITS)
    build_bloom_index(spark, bloom_path, "doc_id")
    ids = sorted(r["doc_id"] for r in df.select("doc_id").collect())
    cov = sorted(r["doc_id"] for r in covered.select("doc_id").collect())
    yield {"sorted": sorted_path, "bloom": bloom_path, "ids": ids,
           "covered": cov, "root": root}
    df.unpersist()


def _copy(stores, name, tmp_path):
    dst = str(tmp_path / name)
    shutil.copytree(stores[name], dst)
    return dst


def test_local_matches_distributed_presorted_and_bloom(spark, stores):
    ids = stores["ids"]
    # present ids spread over the id space, one absent id, one duplicate
    batch = ids[::150] + ["no-such-doc", ids[0]]
    for name in ("sorted", "bloom"):
        rows = _pin(spark, batch, stores[name])
        assert sorted(r[0] for r in rows) == sorted(set(ids[::150]))


def test_local_matches_distributed_bloom_invalidated_unit(spark, stores, tmp_path):
    """The mutation crash window: a unit whose Bloom partition was removed
    must stay unprunable on both paths (its ids are still found)."""
    from xml2arrow_spark.operators import bloomidx

    path = _copy(stores, "bloom", tmp_path)
    batch = stores["ids"][5:400:40]
    units = sorted({
        r["unit_id"]
        for r in plan_units(_ids_df(spark, batch), N_UNITS).collect()
    })
    bloomidx.invalidate_units(path, units[:1])
    unprunable, _ = bloomidx.bloom_survivors(path, "doc_id", batch, units)
    assert unprunable == {units[0]}
    rows = _pin(spark, batch, path)
    assert len(rows) == len(batch)


def test_local_matches_distributed_pending_tombstones(spark, stores, tmp_path):
    from xml2arrow_spark.operators.tombstones import tombstone_rows

    path = _copy(stores, "sorted", tmp_path)
    batch = stores["ids"][10:1000:90]
    tombstone_rows(_ids_df(spark, batch[:3]), path)
    rows = _pin(spark, batch, path)
    assert sorted(r[0] for r in rows) == sorted(batch[3:])


def test_local_matches_distributed_family_and_projection(spark, stores):
    """Family columns: covered ids read the value, uncovered ids read NULL,
    ghost family rows never surface; ``columns=`` may omit the id."""
    cov = stores["covered"]
    unc = [d for d in stores["ids"] if d not in set(cov)][:3]
    batch = cov[:3] + unc + ["ghost-1"]
    rows = _pin(spark, batch, stores["sorted"], columns=["doc_id", "n_tok", "q7"])
    got = {r[0]: r[2] for r in rows}
    assert len(got) == len(rows)
    assert sorted(got) == sorted(cov[:3] + unc)
    assert all(got[d] is not None for d in cov[:3])
    assert all(got[d] is None for d in unc)
    only = _pin(spark, batch, stores["sorted"], columns=["q7"])
    assert len(only) == len(cov[:3] + unc)
    _pin(spark, cov[:2], stores["sorted"], columns=["n_tok"])


def test_local_matches_distributed_empty_result(spark, stores):
    assert _pin(spark, ["nope-1", "nope-2"], stores["bloom"]) == []
    assert _pin(spark, ["nope-3"], stores["sorted"], columns=["doc_id", "q7"]) == []


def test_null_id_and_oversized_batches_route_distributed(spark, stores, monkeypatch):
    """A NULL id keeps the batch on the distributed path (the Bloom prune is
    then skipped and the NULL rides the row filter and the semi-join there);
    so does a batch larger than LOOKUP_PRUNE_MAX_IDS."""
    import pyarrow as pa

    ids = stores["ids"][:3]
    with_null = spark.createDataFrame(
        pa.table({"doc_id": pa.array(ids + [None], pa.string())})
    )
    got = lookup_rows(with_null, stores["bloom"])
    want = _distributed(with_null, stores["bloom"])
    assert not _ran_local(got)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    assert sorted(r[0] for r in _rows(got)) == ids

    monkeypatch.setattr(checkpoint, "LOOKUP_PRUNE_MAX_IDS", 2)
    rows = _pin(spark, ids, stores["sorted"], local=False)
    assert sorted(r[0] for r in rows) == ids


def test_size_valve_counts_base_and_family_bytes(spark, stores, monkeypatch):
    """A budget below the affected units' block bytes routes the batch
    distributed with the same rows, and a requested family's block files
    count toward the budget: a base that fits on its own no longer fits
    once family columns are asked for."""
    path = stores["sorted"]
    batch = stores["covered"][:4]
    base_cols, fam_cols = ["doc_id", "n_tok"], ["doc_id", "n_tok", "q7"]
    units = sorted({
        r["unit_id"]
        for r in plan_units(_ids_df(spark, batch), N_UNITS).collect()
    })
    base = sum(sz for _u, _f, sz in checkpoint._unit_block_files(path, units))
    fam_tree = os.path.join(path, "families", "quality")
    fam = sum(sz for _u, _f, sz in checkpoint._unit_block_files(fam_tree, units))
    assert base > 0 and fam > 0
    want = _rows(_distributed(_ids_df(spark, batch), path, columns=base_cols))
    want_fam = _rows(_distributed(_ids_df(spark, batch), path, columns=fam_cols))
    assert len(want) == len(want_fam) == len(batch)

    def routed(budget, **kw):
        monkeypatch.setattr(checkpoint, "LOOKUP_LOCAL_BYTES", budget)
        df = lookup_rows(_ids_df(spark, batch), path, **kw)
        return _ran_local(df), _rows(df)

    assert routed(1, columns=base_cols) == (False, want)
    assert routed(base, columns=base_cols) == (True, want)
    assert routed(base, columns=fam_cols) == (False, want_fam)
    assert routed(base + fam, columns=fam_cols) == (True, want_fam)

    # the valve fails closed on a tree the driver cannot list
    assert checkpoint._unit_block_files("file://" + path, units) is None
    assert checkpoint._unit_block_files(os.path.join(path, "nope"), units) is None


def test_sidecar_loader_matches_safe_load(spark, stores, tmp_path):
    """Every sidecar shape the engine writes parses to the same dict with
    the C loader as with ``yaml.safe_load``: the row-level dataset and
    family sidecars (presort, placement, n_units), the Bloom sidecar, the
    snapshot sidecar, and the file-level dataset sidecar (wide layout with
    clustering)."""
    import yaml

    from xml2arrow_spark.manifest import load_yaml
    from xml2arrow_spark.operators.dataset import encode_parquet_dataset
    from xml2arrow_spark.operators.snapshot import snapshot_dataset

    snap = _copy(stores, "bloom", tmp_path)
    snapshot_dataset(snap, "t1")
    src = str(tmp_path / "src")
    tokens_dataframe(spark, 200, variant="low_card", n_partitions=1).write.parquet(src)
    wide = str(tmp_path / "wide")
    encode_parquet_dataset(spark, src, wide, layout="wide", presort=["doc_id"])

    seen = set()
    for top in (stores["sorted"], snap, wide):
        for root, _dirs, files in os.walk(top):
            for f in files:
                if f.endswith(".yaml"):
                    text = open(os.path.join(root, f)).read()
                    assert load_yaml(text) == yaml.safe_load(text), f
                    seen.add(f)
    assert seen == {"_manifest.yaml", "_bloom.yaml", "_snapshot.yaml"}
