"""Merge-on-read row deletes (tombstones) for encoded datasets.

:func:`~xml2arrow_spark.operators.checkpoint.delete_rows` is the EAGER
delete: it decodes, anti-joins, and re-encodes every affected unit —
correct, but a rewrite whose cost is O(affected units' payload). At
10^12-sequence scale the everyday case (a takedown list, a
right-to-be-forgotten batch, a curation pass flagging a few thousand
doc_ids an hour) must cost O(batch), not O(payload): this module stages
the doomed ids as **tombstone files** — the Iceberg v2 equality-delete
analog (a delete file is just ids + metadata; readers anti-join, and
compaction folds them into data files later).

Layout (rides the dataset root, next to ``blocks/`` and ``manifest/``)::

    <path>/tombstones/unit_id=<u>/ts-<uuid>.parquet   (one id column)

partitioned by the SAME unit placement as the blocks tree (a pure
function of the id), so every reader prunes tombstone IO exactly like
block IO.

Semantics and contracts:

- **Writes are append-only and replay-idempotent.** A tombstone batch
  crash-replayed lands duplicate id rows under new file names; the read-
  side anti-join and the fold are insensitive to duplicates, so there is
  no crash window at all — half-written batches are simply completed by
  the replay.
- **Reads apply tombstones (merge-on-read).** ``read_encoded_dataset``
  and ``lookup_rows`` anti-join pending tombstones (partition-pruned to
  the units they touch); a snapshot taken BEFORE a tombstone keeps
  showing the rows (soft deletes are not time travel — pinned by the
  resume gate's legs).
- **Mutations fold tombstones for the units they rewrite.** delete_rows
  and upsert_rows already decode + re-encode their affected units; they
  drop those units' tombstoned rows in the same pass and clear the
  folded partitions, so an upsert RE-INSERTING a tombstoned id makes the
  new version visible (the tombstone applied to the old version, which
  the rewrite just removed).
- **Metadata-accelerated aggregates refuse pending tombstones.**
  count_where / group_* / top_k / quantiles answer from block stats that
  cannot see row-level deletes; silently including tombstoned rows would
  be a wrong answer, so those paths raise until :func:`apply_tombstones`
  folds the pending set (the explicit maintenance step — Iceberg's
  ``rewrite_data_files`` with delete files).

Reference analog: the reference has no update path at all — a changed
input is a whole-run rebuild (/root/reference/src/xml_parser.rs:934-936);
tombstones + fold give the partitioned dataset the cheap tier the eager
rewrite cannot.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from xml2arrow_spark.operators import lease as _lease

__all__ = [
    "TOMBSTONES_DIR",
    "tombstone_rows",
    "has_pending",
    "pending_units",
    "pending_count",
    "tombstones_df",
    "pending_ids_local",
    "clear_units",
    "apply_tombstones",
    "refuse_pending",
]

TOMBSTONES_DIR = "tombstones"

# Batches at most this many (id, unit) rows are written driver-side with
# pyarrow: a Spark partitioned write of a KB-scale batch measured ~4.6 s of
# pure job overhead (repo ground rule — KB metadata never rides a Spark
# write job), while a driver loop over per-unit arrow tables is ~ms. Larger
# batches fan out through the ordinary partitioned parquet sink.
DRIVER_WRITE_MAX_IDS = 200_000


def _tomb_dir(path: str) -> str:
    return os.path.join(path, TOMBSTONES_DIR)


def _unit_dirs(path: str) -> dict[int, str]:
    """Pending tombstone partitions: ``{unit_id: dir}`` (only dirs that
    actually hold files — an emptied partition dir is not pending)."""
    root = _tomb_dir(path)
    out: dict[int, str] = {}
    if not os.path.isdir(root):
        return out
    for name in os.listdir(root):
        if not name.startswith("unit_id="):
            continue
        d = os.path.join(root, name)
        if any(f.endswith(".parquet") for f in os.listdir(d)):
            out[int(name.split("=", 1)[1])] = d
    return out


def has_pending(path: str) -> bool:
    return bool(_unit_dirs(path))


def pending_units(path: str) -> list[int]:
    return sorted(_unit_dirs(path))


def pending_count(path: str) -> int:
    """Distinct pending tombstoned ids, read driver-side (the tree is
    metadata-scale by construction — ids only). Used by audit_dataset."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    dirs = _unit_dirs(path)
    if not dirs:
        return 0
    n = 0
    for d in dirs.values():
        tbl = pads.dataset(d, format="parquet").to_table()
        n += len(pc.unique(tbl.column(0)))
    return n


def refuse_pending(path: str, op: str) -> None:
    """Raise when the dataset has pending tombstones and ``op`` cannot
    apply them. The metadata-accelerated aggregates answer from block
    stats, which cannot see row-level deletes — proceeding would silently
    count tombstoned rows, violating the engine's no-silent-misreport
    contract."""
    units = pending_units(path)
    if units:
        raise ValueError(
            f"{op}: dataset at {path!r} has pending tombstones in units "
            f"{units}; block statistics cannot see row-level deletes. Read "
            f"through read_encoded_dataset (merge-on-read) or fold them "
            f"first with apply_tombstones()."
        )


@_lease.with_dataset_lease
def tombstone_rows(ids: DataFrame, path: str, id_col: str = "doc_id") -> dict:
    """Soft-delete a batch of ids: stage them as tombstone files, touching
    ZERO payload bytes. Cost is O(batch) — the cheap tier of the deletion
    story (delete_rows is the eager fold). Absent ids are legal (the fold
    is a no-op for them), NULL ids are refused (no identity to delete).

    Holds the writer lease: a tombstone landing between a concurrent
    rewrite's fold (which read the pending set) and its partition clear
    would be wiped without ever being applied.

    Returns ``{"affected_units", "ids_tombstoned"}``."""
    from xml2arrow_spark.operators.checkpoint import (
        _heal_torn_swap,
        _load_sidecar,
        plan_units,
    )

    spark = ids.sparkSession
    _heal_torn_swap(path)
    _manifest, _ddl, n_units, _presort = _load_sidecar(path)

    planned = plan_units(ids.select(id_col).distinct(), n_units, id_col)
    # one probe action decides the write path AND catches small batches in
    # full (the common case: takedown lists are KB-scale)
    head = planned.limit(DRIVER_WRITE_MAX_IDS + 1).toArrow()
    if head.num_rows == 0:
        return {"affected_units": 0, "ids_tombstoned": 0}
    null_ids = head.column(id_col).null_count
    if null_ids:
        raise ValueError(
            f"tombstone batch has {null_ids} NULL {id_col} row(s); ids "
            f"must be non-null — a NULL id identifies no row"
        )
    if head.num_rows <= DRIVER_WRITE_MAX_IDS:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        n_written = 0
        units: list[int] = []
        for u in pc.unique(head.column("unit_id")).to_pylist():
            part = head.filter(pc.equal(head.column("unit_id"), u))
            d = os.path.join(_tomb_dir(path), f"unit_id={int(u)}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(
                pa.table({id_col: part.column(id_col)}),
                os.path.join(d, f"ts-{uuid.uuid4().hex}.parquet"),
            )
            n_written += part.num_rows
            units.append(int(u))
        return {"affected_units": len(units), "ids_tombstoned": n_written}

    # oversized batch: ordinary distributed partitioned append. NULL ids
    # were screened above only for the sampled head; re-screen exactly.
    from pyspark.sql import functions as F

    n_null = planned.filter(F.col(id_col).isNull()).count()
    if n_null:
        raise ValueError(
            f"tombstone batch has {n_null} NULL {id_col} row(s); ids "
            f"must be non-null — a NULL id identifies no row"
        )
    planned.write.mode("append").partitionBy("unit_id").parquet(
        _tomb_dir(path)
    )
    agg = planned.groupBy().agg(
        F.count("*").alias("n"), F.count_distinct("unit_id").alias("u")
    ).collect()[0]
    return {"affected_units": int(agg["u"]), "ids_tombstoned": int(agg["n"])}


def tombstones_df(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    units: list[int] | None = None,
) -> DataFrame | None:
    """Pending tombstoned ids as a one-column DataFrame (distinct), or
    ``None`` when nothing is pending — callers skip the anti-join
    entirely in the common no-tombstones case. ``units`` restricts the
    scan to those partitions (partition-pruned, for point reads)."""
    from pyspark.sql import functions as F

    dirs = _unit_dirs(path)
    if units is not None:
        dirs = {u: d for u, d in dirs.items() if u in set(units)}
    if not dirs:
        return None
    df = spark.read.parquet(_tomb_dir(path))
    if units is not None:
        df = df.filter(F.col("unit_id").isin(sorted(dirs)))
    return df.select(id_col).distinct()


def pending_ids_local(path: str, units: list[int], id_col: str = "doc_id"):
    """Driver-side twin of ``tombstones_df(units=...)`` for point reads:
    the pending tombstoned ids of ``units`` as a list of pyarrow arrays,
    read one ``unit_id=<u>`` partition at a time (ids only — metadata
    scale), or ``None`` when none of those units has anything pending."""
    import pyarrow.dataset as pads

    dirs = _unit_dirs(path)
    chunks = []
    for u in sorted({int(x) for x in units} & dirs.keys()):
        t = pads.dataset(dirs[u], format="parquet").to_table(columns=[id_col])
        chunks.extend(t.column(id_col).chunks)
    return chunks or None


def clear_units(path: str, units: list[int]) -> None:
    """Drop the tombstone partitions of units whose pending deletes have
    been FOLDED (the unit was just rewritten without those rows). Called
    by the mutation core after its manifest swap; ENOENT-tolerant, so a
    crash between fold and clear is healed by replaying the mutation."""
    for u in units:
        shutil.rmtree(
            os.path.join(_tomb_dir(path), f"unit_id={int(u)}"),
            ignore_errors=True,
        )


def apply_tombstones(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> dict:
    """Fold every pending tombstone into the data files — the maintenance
    step (Iceberg's rewrite with delete files). Reads the pending id set
    (metadata-scale), runs the eager :func:`delete_rows` over it (which
    rewrites ONLY the affected units and clears their folded partitions),
    and returns its counters plus ``ids_pending``. Replay-idempotent: a
    crash mid-fold leaves tombstones pending for un-rewritten units, and
    re-running folds the remainder (a re-delete of absent ids is a
    no-op)."""
    from xml2arrow_spark.operators.checkpoint import delete_rows

    tomb = tombstones_df(spark, path, id_col)
    if tomb is None:
        return {
            "affected_units": 0, "rows_before": 0, "rows_after": 0,
            "rows_deleted": 0, "ids_pending": 0,
        }
    res = delete_rows(tomb, path, id_col)
    # delete_rows folds + clears the partitions of every unit the pending
    # ids hash into, which is exactly the pending set — nothing remains.
    res["ids_pending"] = 0
    return res
