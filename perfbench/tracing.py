"""The traced run: per-layer metrics of one workload.

Four sources, all from the benchmark's side of the program's public
functions (no span lives inside the program):

* spans around the module attributes ``run_pipeline`` calls (the wrappers
  only time the call and pass it through);
* cumulative ``noop`` prefixes built from the public stage functions:
  scan, +UDF, +classify, +sectionize, +respan, +write fan-in, then the
  durable tail (+write, +lineage), each timed on its own;
* the extraction kernels timed per payload kind in this process, outside
  Spark;
* the Spark event log of the benchmark's own session, one job group per
  pass.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F

from accelerated_intelligent_document_processing_on_aws_spark import pipeline
from accelerated_intelligent_document_processing_on_aws_spark.functions.text import (
    turn_class_col,
)
from accelerated_intelligent_document_processing_on_aws_spark.io.checkpoint import (
    CHECKPOINT_SCHEMA,
    CheckpointStore,
    lineage_agg_rows,
    new_run_id,
)
from accelerated_intelligent_document_processing_on_aws_spark.io.tables import (
    record_snapshot,
    salted_bucket,
    snapshot_id,
    write_partitioned,
)
from accelerated_intelligent_document_processing_on_aws_spark.kernels.extract import (
    DOC_BOUNDARY,
    detect_kind,
    extract_turn,
    split_segments,
)
from accelerated_intelligent_document_processing_on_aws_spark.operators.extract import (
    respan_with_text,
    with_extraction,
)
from accelerated_intelligent_document_processing_on_aws_spark.operators.sectionize import (
    sectionize,
)

KINDS = ("html", "pdfish", "ocr_blocks", "plain", "mixed")

# span name -> (owner, attribute) of what run_pipeline calls; the pipeline
# module imported these names, so its namespace is where they are looked up
WRAPPED = {
    "pipeline.extract_stage": (pipeline, "extract_stage"),
    "io.tables.snapshot_id": (pipeline, "snapshot_id"),
    "io.tables._data_files": (pipeline, "_data_files"),
    "io.tables.record_snapshot": (pipeline, "record_snapshot"),
    "io.tables.write_partitioned": (pipeline, "write_partitioned"),
    "io.checkpoint.lineage_agg_rows": (pipeline, "lineage_agg_rows"),
    "io.checkpoint.lineage_rows_from_metrics": (pipeline, "lineage_rows_from_metrics"),
    "io.checkpoint.write_input_manifest": (pipeline, "write_input_manifest"),
    "io.checkpoint.read_input_manifest": (pipeline, "read_input_manifest"),
    "io.checkpoint.mark_input_done": (pipeline, "mark_input_done"),
    "io.checkpoint.input_done": (pipeline, "input_done"),
    "io.checkpoint.latest_done_manifest": (pipeline, "latest_done_manifest"),
    "io.checkpoint.committed_partitions": (CheckpointStore, "committed_partitions"),
    "io.checkpoint.fully_committed_snapshots": (CheckpointStore, "fully_committed_snapshots"),
    "io.checkpoint.append": (CheckpointStore, "append"),
}
# layer metric -> the spans it sums within one pass
SPAN_GROUPS = {
    "write": ("io.tables.write_partitioned",),
    "snapshot": ("io.tables.snapshot_id", "io.tables._data_files", "io.tables.record_snapshot"),
    "lineage": ("io.checkpoint.lineage_agg_rows", "io.checkpoint.lineage_rows_from_metrics"),
    "append": ("io.checkpoint.append",),
    "read": (
        "io.checkpoint.committed_partitions",
        "io.checkpoint.fully_committed_snapshots",
        "io.checkpoint.write_input_manifest",
        "io.checkpoint.read_input_manifest",
        "io.checkpoint.mark_input_done",
        "io.checkpoint.input_done",
        "io.checkpoint.latest_done_manifest",
    ),
}
PREFIXES = ("scan", "udf", "classify", "sectionize", "respan", "fanin", "write", "lineage")


class Spans:
    """Spans (name, start, end, parent) kept in memory; ``pass_id`` tags
    every span with the pass that caused it."""

    def __init__(self):
        self.rows: list = []
        self._stack: list = []
        self.pass_id = None
        self._saved: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.rows)
        self.rows.append([name, time.perf_counter(), None, parent, self.pass_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.rows[idx][2] = time.perf_counter()
            self._stack.pop()

    def wrap_program(self) -> None:
        for name, (owner, attr) in WRAPPED.items():
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._timed(name, fn))

    def unwrap_program(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def _timed(self, name, fn):
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def per_pass(self, names, prefix: str) -> list:
        """Summed duration of spans named ``names`` per pass whose id
        starts with ``prefix``."""
        tot = defaultdict(float)
        for name, t0, t1, _parent, pid in self.rows:
            if pid and pid.startswith(prefix):
                tot[pid] += (t1 - t0) if name in names else 0.0
        return [tot[k] for k in sorted(tot)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": n, "start": a, "end": b, "parent": p, "pass": pid}
                    for n, a, b, p, pid in self.rows
                ],
                fh,
            )


def kernel_times(texts) -> dict:
    """Kind -> (turns, seconds) of ``extract_turn`` in this process; the
    faster of two sweeps, so the first sweep warms caches."""
    kinds = []
    for text in texts:
        body = text
        if body.startswith(DOC_BOUNDARY):
            body = body[len(DOC_BOUNDARY):]
            body = body[1:] if body.startswith("\n") else body
        segs = [s for _, s in split_segments(body) if s.strip()]
        kinds.append("mixed" if len(segs) > 1 else detect_kind(segs[0]) if segs else "plain")
    best = None
    for _ in range(2):
        tot = defaultdict(int)
        for kind, text in zip(kinds, texts):
            t0 = time.perf_counter_ns()
            extract_turn(text)
            tot[kind] += time.perf_counter_ns() - t0
        best = tot if best is None else {k: min(best[k], tot[k]) for k in tot}
    counts = defaultdict(int)
    for k in kinds:
        counts[k] += 1
    return {k: (counts[k], best.get(k, 0) / 1e9) for k in KINDS}


def prefix_frames(spark, table: str, cfg) -> dict:
    """The bench's model of ``extract_stage`` as cumulative frames."""
    scan = spark.read.parquet(table).withColumn(
        "pt", salted_bucket(F.col("conv_id"), cfg.n_buckets, cfg.salt)
    )
    udf = with_extraction(scan)
    classify = udf.withColumn("turn_class", turn_class_col(F.col("extracted_text")))
    sect = sectionize(classify)
    respan = respan_with_text(sect)
    fanin = respan.repartition(cfg.n_buckets, F.col("pt"))
    return {
        "scan": scan,
        "udf": udf,
        "classify": classify,
        "sectionize": sect,
        "respan": respan,
        "fanin": fanin,
    }


def durable_tail(spark, table: str, frame, out: str, ckpt: str, with_lineage: bool) -> None:
    """The bench's model of ``run_pipeline``'s durable path on a fresh
    output: snapshot, resume read, persisted write, then (``with_lineage``)
    lineage aggregate, checkpoint append and manifest commit."""
    cfg = pipeline.PipelineConfig()
    snap = snapshot_id(table)
    store = CheckpointStore(spark, ckpt)
    store.committed_partitions(snap)
    frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        write_partitioned(frame, out, "pt")
        if with_lineage:
            rows = lineage_agg_rows(frame, list(range(cfg.n_buckets)), new_run_id(), snap)
    finally:
        frame.unpersist()
    if with_lineage:
        store.append(spark.createDataFrame(pd.DataFrame(rows), CHECKPOINT_SCHEMA))
        record_snapshot(out, snap, {"run_id": "bench"})


def read_event_log(events_dir: str) -> dict:
    """Job group -> {jobs, stages: {stage id: [(run_ms, shuffle_bytes,
    spill_bytes) per task]}} from the session's event log."""
    logs = [f for f in os.listdir(events_dir) if not f.startswith(".")]
    groups = defaultdict(lambda: {"jobs": 0, "stages": defaultdict(list)})
    stage_group = {}
    with open(os.path.join(events_dir, logs[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                groups[g]["jobs"] += 1
                for s in ev.get("Stage IDs", []):
                    stage_group[s] = g
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                g = stage_group.get(ev["Stage ID"])
                groups[g]["stages"][ev["Stage ID"]].append(
                    (m.get("Executor Run Time", 0), sw, spill)
                )
    return groups


def plan_counts(group: dict) -> dict:
    tasks = [t for ts in group["stages"].values() for t in ts]
    return {
        "jobs": group["jobs"],
        "tasks": len(tasks),
        "shuffle_stages": sum(
            1 for ts in group["stages"].values() if any(t[1] for t in ts)
        ),
        "shuffle_write_mb": sum(t[1] for t in tasks) / 2**20,
        "spill_mb": sum(t[2] for t in tasks) / 2**20,
    }


def task_skew(group: dict) -> float:
    """max / median task run time of the window stage: the group's
    costliest stage that writes no shuffle, i.e. the one that reads the
    conv-keyed exchange and runs the window."""
    stages = [ts for ts in group["stages"].values() if not any(t[1] for t in ts)]
    runs = [t[0] for t in max(stages, key=lambda ts: sum(t[0] for t in ts))]
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0
