"""Lineage / checkpoint table + resume semantics.

Reference analog: the classification retry cache — DynamoDB rows keyed
``classcache#{doc}#{workflow}`` let a retried run skip already-classified
pages (``classification/service.py:1455-1603``); our rebuild generalizes
this to per-PARTITION lineage (FIXTURES.md §4): one row per
``(run_id, input_snapshot_id, partition_id)`` with row/span counts, a
metrics map, and a status mirroring the reference Status enum
(``models.py:18``).  The counts come from one groupBy(pt) aggregate over
the persisted write frame (:func:`lineage_agg_rows`).

Resume = left anti-join of the partition set against COMMITTED rows for the
same input snapshot: a killed run restarted with the same input recomputes
only uncommitted buckets (north_rule resumability).  The checkpoint store
is an append-only parquet dir (atomic per-commit files); on Iceberg this
would be an append to a lineage table in the same catalog.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("input_snapshot_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("metrics", T.MapType(T.StringType(), T.LongType())),
        T.StructField("status", T.StringType()),
        T.StructField("committed_at", T.TimestampType()),
    ]
)


class CheckpointStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") or not f.startswith("_")
            for f in os.listdir(self.path)
        )

    def read(self) -> Optional[DataFrame]:
        if not self._exists():
            return None
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def committed_partitions(self, input_snapshot_id: str) -> List[int]:
        df = self.read()
        if df is None:
            return []
        rows = (
            df.filter(
                (F.col("input_snapshot_id") == input_snapshot_id)
                & (F.col("status") == "COMMITTED")
            )
            .select("partition_id")
            .distinct()
            .collect()
        )
        return sorted(r.partition_id for r in rows)

    def fully_committed_snapshots(self, n_buckets: int) -> List[str]:
        """Snapshot ids whose every bucket 0..n_buckets-1 is COMMITTED —
        the set an incremental run may treat as already-processed input.
        A partially committed (crashed) snapshot is deliberately NOT in
        this list: its input files stay in the current delta, so no row
        can be lost between a crash and the next (possibly larger)
        snapshot."""
        df = self.read()
        if df is None:
            return []
        rows = (
            df.filter(F.col("status") == "COMMITTED")
            .groupBy("input_snapshot_id")
            .agg(F.countDistinct("partition_id").alias("n"))
            .filter(F.col("n") >= n_buckets)
            .collect()
        )
        return sorted(r.input_snapshot_id for r in rows)

    def append(self, lineage_df: DataFrame) -> None:
        # lineage is metadata-sized (one row per bucket): without the
        # coalesce, createDataFrame parallelizes it over the default
        # parallelism and the append runs a 32-task job committing 32
        # two-row parquet files PER RUN (measured 6 s of pure job/commit
        # overhead) and fragments the store run over run
        lineage_df.coalesce(1).write.mode("append").parquet(self.path)

    def expire_snapshots(self, keep_last: int = 3) -> int:
        """Drop lineage rows of all but the ``keep_last`` most recent input
        snapshots (Iceberg analog: ``expire_snapshots``).

        The store is append-only — one row per (run, snapshot, bucket),
        one FILE per run (``append`` commits a new file; existing files
        are never rewritten) — so expiry is file-level garbage collection,
        not a rewrite: a file is deleted iff EVERY row in it belongs to an
        expired snapshot.  Surviving data is never touched, so a crash at
        any point leaves a valid store (at worst some expired files
        remain — the next expire pass removes them).  The previous
        implementation rewrote the whole store with a non-atomic
        ``mode('overwrite')``; a crash between Spark's delete of the old
        files and the commit of the new ones destroyed ALL lineage.
        Returns rows dropped.
        """
        df = self.read()
        if df is None:
            return 0
        keep = [
            r.input_snapshot_id
            for r in df.groupBy("input_snapshot_id")
            .agg(F.max("committed_at").alias("ts"))
            .orderBy(F.col("ts").desc())
            .limit(keep_last)
            .collect()
        ]
        # one aggregate job over the (metadata-sized) store: per file, row
        # count + whether any row's snapshot survives.  Mixed files (never
        # produced by append(), but defended against) are kept whole.
        per_file = (
            df.withColumn("_f", F.input_file_name())
            .groupBy("_f")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(
                    F.col("input_snapshot_id").isin(keep).cast("int")
                ).alias("any_kept"),
            )
            .collect()
        )
        from urllib.parse import unquote, urlparse

        dropped = 0
        for r in per_file:
            if r.any_kept:
                continue
            p = unquote(urlparse(r._f).path)
            if os.path.isfile(p):
                os.remove(p)
                dropped += int(r.n)
        return dropped


def write_input_manifest(checkpoint_path: str, snap: str, files: list) -> None:
    """Record the input's full data-file listing (relpath + size) for a
    snapshot, under ``<checkpoint>/_inputs/`` — what incremental runs
    diff against.  Written atomically (temp file + ``os.replace``) so a
    crash can never leave a torn JSON; writing it early is crash-safe:
    delta coverage is derived ONLY from snapshots carrying a ``.done``
    marker (:func:`mark_input_done`, written after the delta's lineage
    fully commits), so an orphaned manifest of a crashed run is simply
    ignored."""
    import time as _time

    d = os.path.join(checkpoint_path, "_inputs")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"snap-{snap}.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {"snapshot_id": snap, "ts": _time.time(), "files": files}, fh
        )
    os.replace(tmp, p)


def read_input_manifest(checkpoint_path: str, snap: str) -> Optional[list]:
    p = os.path.join(checkpoint_path, "_inputs", f"snap-{snap}.json")
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        return json.load(fh)["files"]


def mark_input_done(checkpoint_path: str, snap: str) -> None:
    """Mark a snapshot's delta as fully processed — the incremental-
    coverage commit point.  A marker (not lineage) carries coverage so
    that ``expire_snapshots`` garbage collection or a later
    ``n_buckets`` change can never silently shrink coverage and
    re-extract history as duplicates."""
    d = os.path.join(checkpoint_path, "_inputs")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"snap-{snap}.done")
    with open(p + ".tmp", "w") as fh:
        fh.write(snap)
    os.replace(p + ".tmp", p)


def input_done(checkpoint_path: str, snap: str) -> bool:
    return os.path.isfile(
        os.path.join(checkpoint_path, "_inputs", f"snap-{snap}.done")
    )


def latest_done_manifest(checkpoint_path: str) -> Optional[dict]:
    """The newest (by manifest ts) fully-processed input manifest —
    sufficient coverage by itself: each manifest records the FULL input
    listing at its commit, and the append-only guard ensures later
    listings are supersets of earlier ones.  Returns
    ``{"snapshot_id": ..., "files": [[rel, size], ...]}`` or None."""
    d = os.path.join(checkpoint_path, "_inputs")
    if not os.path.isdir(d):
        return None
    best = None
    for f in os.listdir(d):
        if not (f.startswith("snap-") and f.endswith(".json")):
            continue
        snap = f[len("snap-"):-len(".json")]
        if not input_done(checkpoint_path, snap):
            continue
        with open(os.path.join(d, f)) as fh:
            rec = json.load(fh)
        if best is None or rec.get("ts", 0) > best.get("ts", 0):
            best = rec
    return best


# payload-kind vocabulary of the extraction dispatcher
# (kernels/extract.py detect_kind) — per-kind counts mirror the reference's
# per-service_api metering map (utils/__init__.py:73-96).
PAYLOAD_KINDS = ("ocr_blocks", "html", "pdfish", "plain")


def lineage_metric_exprs() -> dict:
    """The eight per-bucket lineage metrics: metric name → aggregate
    Column, summed under a groupBy(pt) by :func:`lineage_agg_rows`."""

    def kind_count(kname: str):
        # kname bound through this helper on purpose: a two-parameter
        # lambda (even with a defaulted second arg) would be treated by
        # F.filter as the (element, index) form
        return F.size(F.filter("payload_kinds", lambda x: x == F.lit(kname)))

    metrics = {
        "rows": F.sum(F.lit(1)).cast("long"),
        "spans": F.sum(F.size("spans")).cast("long"),
        "bounds": F.sum(F.col("is_boundary").cast("long")).cast("long"),
        "empty": F.sum(
            (F.length("extracted_text") == 0).cast("long")
        ).cast("long"),
    }
    for k in PAYLOAD_KINDS:
        metrics[f"kind_{k}"] = F.sum(kind_count(k)).cast("long")
    return metrics


def lineage_agg_rows(
    written: DataFrame,
    candidates: List[int],
    run_id: str,
    input_snapshot_id: str,
    partition_col: str = "pt",
) -> List[dict]:
    """Per-bucket lineage of the just-written frame: ONE hash aggregate
    (8 fixed expressions, independent of bucket count) grouped by the
    partition column.  Callers persist the frame before the write so this
    aggregate reads the cache — never the input a second time, never the
    output table.  Hash-empty candidate buckets still commit with zero
    counts."""
    spec = lineage_metric_exprs()
    agg = (
        written.groupBy(F.col(partition_col).alias("_pt"))
        .agg(*[expr.alias(name) for name, expr in spec.items()])
        .collect()
    )
    observed: dict = {}
    for r in agg:
        p = int(r["_pt"])
        for name in spec:
            observed[f"{name}_{p}"] = r[name]
    return lineage_rows_from_metrics(
        observed, candidates, run_id, input_snapshot_id
    )


def lineage_rows_from_metrics(
    observed: dict, candidates: List[int], run_id: str, input_snapshot_id: str
) -> List[dict]:
    """Turn per-bucket metrics (``<metric>_<bucket>`` keys, as built by
    :func:`lineage_agg_rows`) into one lineage row per candidate bucket.
    Every candidate commits — INCLUDING hash-empty buckets
    (row_count 0) — so a completed run's resume early-returns
    instead of re-executing the scan forever.  Lineage derives only from
    rows the current run actually wrote: stale files from an older input
    snapshot sharing the output dir can never be certified."""
    import datetime as _dt

    now = _dt.datetime.now()
    rows = []
    for p in candidates:
        g = lambda key: int(observed.get(key) or 0)  # noqa: E731  (sum over 0 rows → None)
        metrics = {
            "boundaries": g(f"bounds_{p}"),
            "empty_turns": g(f"empty_{p}"),
        }
        for k in PAYLOAD_KINDS:
            metrics[f"kind_{k}"] = g(f"kind_{k}_{p}")
        rows.append(
            {
                "run_id": run_id,
                "input_snapshot_id": input_snapshot_id,
                "partition_id": int(p),
                "row_count": g(f"rows_{p}"),
                "span_count": g(f"spans_{p}"),
                "metrics": metrics,
                "status": "COMMITTED",
                "committed_at": now,
            }
        )
    return rows


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
