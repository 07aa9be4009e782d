"""End-to-end extraction pipeline: the Spark replacement for the reference's
Step Functions workflow (``patterns/pattern-2/statemachine/workflow.asl.json``).

Stages (each a DataFrame → DataFrame function, composable like the
reference's service objects, ``idp_common/__init__.py:11-72``):

    load → salt → extract (pandas UDF) → classify (rlike cascade)
         → sectionize (one conv_id window) → write buckets + lineage

Plan shape at scale (deliberate, §4 of SURVEY.md):

* Extraction needs no conv locality: a file-backed scan with enough
  splits feeds the UDF directly, and only an UNDER-SPLIT input gets a
  spread exchange on (pt, turn_idx mod turn_spread) first, where
  ``pt = pmod(xxhash64(salt, conv_id), n_buckets)``.
* Sectionization is the conv_id-keyed window exchange over
  (conv_id, turn_idx); AQE handles residual skew.
* The durable path then runs the write fan-in: one exchange keyed on
  ``pt`` (plus the optional conv-bucket and sub-split keys), the write,
  and one groupBy(pt) lineage aggregate over the persisted write frame.
* Resume: buckets already COMMITTED for this input snapshot are
  anti-joined away before any work happens (partition-pruned scan on
  re-run; no recomputation — verified by tests/test_resume.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import turn_class_col
from .io.checkpoint import (
    CHECKPOINT_SCHEMA,
    CheckpointStore,
    lineage_agg_rows,
    # unused here, kept as a module attribute perfbench/tracing.py wraps
    lineage_rows_from_metrics,  # noqa: F401
    input_done,
    latest_done_manifest,
    mark_input_done,
    new_run_id,
    read_input_manifest,
    write_input_manifest,
)
from .io.tables import (
    _data_files,
    record_snapshot,
    salted_bucket,
    snapshot_id,
    write_partitioned,
    write_partitioned_bucketed,
)
from .operators.common import num_partitions
from .operators.extract import respan_with_text, with_extraction
from .operators.sectionize import sectionize, sectionize_chunked

# cap on one bucket's adaptive write sub-splits (adaptive_write_split)
MAX_FILES_PER_BUCKET = 64


@dataclass
class PipelineConfig:
    n_buckets: int = 64
    salt: str = "idp"
    with_sections: bool = True
    # turn-level spread for the extraction shuffle: a bucket keyed on
    # conv_id alone would serialize a mega-conversation through ONE task
    # (10^8 turns = 10^8-row partition).  Per-turn extraction needs no conv
    # locality, so the exchange also hashes pmod(turn_idx, turn_spread) —
    # a hot conversation fans out over up to ``turn_spread`` tasks while
    # ``pt`` still drives the write layout.  The conv-keyed window later
    # re-groups; that exchange is the one AQE skew handling addresses.
    turn_spread: int = 16
    # mega-conversation defense for sectionization: a window partition
    # CANNOT be split by AQE — a 10^8-turn conversation serializes its
    # section numbering through ONE task under the plain conv window.
    # With section_chunk_size set, sectionization runs the two-phase
    # chunked algorithm (operators/sectionize.py sectionize_chunked):
    # heavy windows keyed on (conv, turn_idx div chunk) fan the mega-conv
    # across tasks, and only a tiny per-chunk metadata table sees a
    # conv-level window.  Output is IDENTICAL to the plain window
    # (equivalence pinned by tests/test_sectionize_chunked.py).
    section_chunk_size: Optional[int] = None
    # write parallelism decoupled from resume granularity: the fan-in
    # exchange before the write targets n_buckets * files_per_bucket
    # tasks keyed on (pt, sub-split), so a 1000-executor cluster is not
    # capped at n_buckets write tasks while lineage/resume stays keyed on
    # pt alone.  Each bucket lands in at most files_per_bucket files per
    # run (one per sub-split task).  1 = the round-3 behavior.
    files_per_bucket: int = 1
    # skew-aware write sub-splitting: a flat files_per_bucket gives a HOT
    # bucket (one mega-conversation = most of a bucket's rows) the same
    # write parallelism as a cold one, so the write stage's wall clock is
    # the hot bucket's rows / files_per_bucket while the rest of the
    # cluster idles (measured: a 75%-in-one-conv input ran the durable
    # path at 0.54x the balanced input's throughput; raising the hot
    # bucket's sub-splits recovered most of it).  AQE cannot fix this —
    # REPARTITION_BY_NUM is exempt by design (correctly: AQE coalesces by
    # bytes and would undo the explicit fan-in).  With
    # adaptive_write_split=True, a metadata-sized pre-pass counts rows per
    # pt on the RAW input scan (pt is a pure function of conv_id, so this
    # prunes to one short column and runs no extraction) and each bucket
    # gets sub-splits proportional to its share — hot buckets fan out to
    # up to MAX_FILES_PER_BUCKET tasks, cold buckets stay at ONE file.
    # files_per_bucket remains the flat fallback (and the target mean).
    # Caveat: the pre-pass is column-pruned only for parquet input
    # (jsonl/csv feeds pay a re-parse — land them as parquet first).
    # Composes with bucketed_table (round-4 VERDICT #6): hot
    # (pt, conv-bucket) slices sub-split into multiple files of the SAME
    # bucket id, which a Spark bucketed table represents natively.
    adaptive_write_split: bool = False
    # bucketed publish (VERDICT #8): when set, the output is written as a
    # managed table partitioned by pt AND bucketed by conv_id
    # (io/tables.py write_partitioned_bucketed) instead of plain
    # partitioned parquet at output_path — downstream conv-keyed joins /
    # aggs (sectionize re-runs, evaluation joins) then plan ZERO
    # exchanges.  Resume semantics are identical: dynamic partition
    # overwrite replaces only the buckets this run writes.  The pre-write
    # fan-in keys on (pt, pmod(hash(conv_id), conv_buckets)) — F.hash is
    # the same Murmur3 the bucket spec uses, so each write task holds
    # whole table-buckets and the file count stays n_buckets x
    # conv_buckets (x sub-splits) per run, never tasks x buckets.
    bucketed_table: Optional[str] = None
    conv_buckets: int = 16
    # user plug-in point (SURVEY §2.8): the reference's post-processing
    # Lambda hook rewrites extraction results per document
    # (extraction/service.py:643-711; docs/post-processing-lambda-hook.md);
    # the Spark analog is a DataFrame→DataFrame stage applied after the
    # extraction columns exist, before sectionization.  Must be a
    # narrow/per-row transformation so it adds no exchange to the plan:
    # spread (under-split input only) → UDF → conv window → pt fan-in →
    # write (pinned by tests/test_hook.py with a hook installed).
    post_extract_hook: Optional[Callable] = None


def extract_stage(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Salt → extract → classify → (optionally) sectionize."""
    df = df.withColumn("pt", salted_bucket(F.col("conv_id"), cfg.n_buckets, cfg.salt))
    # The spread exchange exists for inputs that arrive UNBALANCED or
    # UNDER-SPLIT (createDataFrame frames slice by driver-side layout —
    # often conv-clustered; tiny tables; streaming micro-batches) — without
    # it the CPU-heavy extraction UDF starves (and a bare repartition(cols)
    # would be AQE-coalesced by BYTES, blind to CPU, hence the explicit
    # count).  A FILE-BACKED scan with enough splits skips the exchange
    # entirely: parquet splits are even by bytes and the UDF is per-row, so
    # conversation-size skew cannot unbalance it — at 100 TB the scan is
    # naturally split and this branch saves a full-table shuffle.
    needs_spread = True
    if not df.isStreaming:
        sc = df.sparkSession.sparkContext
        try:
            needs_spread = not (
                len(df.inputFiles()) > 0
                and num_partitions(df) >= sc.defaultParallelism
            )
        except Exception:
            needs_spread = True
    if needs_spread:
        df = df.repartition(
            cfg.n_buckets, F.col("pt"), F.pmod(F.col("turn_idx"), F.lit(cfg.turn_spread))
        )
    df = with_extraction(df)
    df = df.withColumn("turn_class", turn_class_col(F.col("extracted_text")))
    if cfg.post_extract_hook is not None:
        df = cfg.post_extract_hook(df)
    if cfg.with_sections:
        if cfg.section_chunk_size:
            df = sectionize_chunked(df, chunk_size=cfg.section_chunk_size)
        else:
            df = sectionize(df)
    # span text rehydrated LAST: offsets-only spans ride the Arrow transfer
    # and the conv window shuffle; the public 5-field schema is restored
    # here byte-for-byte (substring of the original text column)
    return respan_with_text(df)


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    cfg: PipelineConfig = PipelineConfig(),
    run_id: Optional[str] = None,
    input_format: str = "parquet",
    dead_letter_path: Optional[str] = None,
    incremental: bool = False,
) -> dict:
    """Full run with lineage + resume. Returns a summary dict.

    ``input_format``: ``parquet`` (default), ``jsonl`` or ``csv`` — the
    semi-structured formats parse through ``sources.read_transcripts``
    with PERMISSIVE corrupt-record routing: malformed records go to
    ``dead_letter_path`` (when given) instead of failing the run — the
    Spark analog of the reference's SQS dead-letter queue.  The DLQ
    write is its own cheap pass over the feed (raw text scan, no
    extraction), landing in ``dead_letter_path/snap=<snapshot>`` with
    overwrite so retries of a crashed run replace rather than duplicate
    the snapshot's bad rows; the clean side flows into the pipeline
    unchanged.

    ``incremental``: process only the input files NOT covered by a
    previously fully-committed snapshot (the daily-append case — at
    10^12-turn scale a new batch must never recompute history).  Each
    delta lands under ``output_path/ingest=<snapshot>/pt=...``, so
    dynamic partition overwrite + lineage resume keep their exact
    idempotency WITHIN the delta while prior ingests' files are never
    touched; readers see one table with an extra ``ingest`` partition
    column.  The input must be append-only (a removed or rewritten
    previously-processed file raises — silent partial tables are never
    produced) and appends must be conversation-complete: sections are
    computed within a delta, so a conversation split across two ingests
    would sectionize per-ingest (document batches accordingly —
    transcripts land whole conversations per batch).  Coverage commits
    via a ``.done`` marker written AFTER the delta's lineage fully
    commits — decoupled from the lineage table, so ``expire_snapshots``
    garbage collection or a later ``n_buckets`` change can never shrink
    coverage and re-extract history; a crash mid-delta leaves those
    files in the next run's delta (no loss, bounded recompute), and a
    startup reconcile pass heals the two crash windows: an ingest dir
    whose lineage fully committed but whose marker was never written is
    marked done in place, and an abandoned partial ingest dir (its
    snapshot superseded before completing) is deleted so it can never
    surface duplicate rows.  Each run also commits a CUMULATIVE
    ``record_snapshot`` manifest at ``output_path``, so
    ``io.tables.read_as_of(output_path, <snap>)`` time-travels across
    ingests (prior deltas' files are never rewritten, so old snapshots
    stay readable).  The append-only check compares (path, size): Spark
    writers emit unique part-file names per job, so a same-name
    same-size content rewrite is outside the contract (use new file
    names, as any Spark/parquet writer does).  Parquet input only; not
    composable with ``bucketed_table`` (the managed-table spec has no
    ingest layer).  Use a fresh output/checkpoint pair when adopting
    incremental mode: plain runs write ``pt=...`` at the top level and
    incremental runs write ``ingest=<snap>/pt=...`` — mixing the two
    layouts under one directory breaks parquet partition inference.
    """
    run_id = run_id or new_run_id()
    snap = snapshot_id(input_path)
    store = CheckpointStore(spark, checkpoint_path)
    done = store.committed_partitions(snap)

    new_files = None
    if incremental:
        if cfg.bucketed_table is not None:
            raise ValueError(
                "incremental mode is not supported with bucketed_table"
            )
        if input_format != "parquet":
            raise ValueError(
                "incremental mode requires parquet input (land feeds as "
                "parquet first)"
            )
        current = {rel: size for rel, size in _data_files(input_path)}
        # reconcile crash windows BEFORE computing coverage: heal a
        # fully-committed-but-unmarked ingest (crash after the lineage
        # commit, before the marker), delete an abandoned partial ingest
        # (its snapshot superseded before completing — left in place its
        # rows would read as duplicates once this run re-extracts them)
        if os.path.isdir(output_path):
            import shutil as _shutil

            _full = None
            for entry in sorted(os.listdir(output_path)):
                if not entry.startswith("ingest="):
                    continue
                s = entry.split("=", 1)[1]
                if s == snap or input_done(checkpoint_path, s):
                    continue
                if _full is None:
                    _full = set(
                        store.fully_committed_snapshots(cfg.n_buckets)
                    )
                if s in _full and read_input_manifest(
                    checkpoint_path, s
                ) is not None:
                    mark_input_done(checkpoint_path, s)
                else:
                    _shutil.rmtree(
                        os.path.join(output_path, entry), ignore_errors=True
                    )
        # coverage = the LATEST done-marked manifest alone: every
        # manifest records the FULL input listing at its commit and the
        # append-only guard makes later listings supersets — O(1)
        # manifests read per run instead of O(history)
        cov = latest_done_manifest(checkpoint_path)
        covered = {rel: size for rel, size in (cov or {}).get("files", [])}
        for rel, size in covered.items():
            if current.get(rel) != size:
                raise ValueError(
                    "incremental run requires append-only input: "
                    f"{rel!r} was removed or rewritten since it was "
                    "processed"
                )
        new_files = sorted(set(current) - set(covered))
        write_input_manifest(
            checkpoint_path, snap, sorted([k, v] for k, v in current.items())
        )
        if not new_files:
            # everything current is covered — advance the marker so the
            # latest manifest reflects this (possibly renamed) snapshot
            mark_input_done(checkpoint_path, snap)
            return {
                "run_id": run_id,
                "snapshot_id": snap,
                "partitions_written": 0,
                "partitions_committed": 0,
                "resumed": True,
                "incremental": True,
                "new_files": 0,
            }

    # candidate buckets = enumerate(range) minus committed — NO extra
    # distinct-collect job over the extracted frame (bounded by n_buckets)
    candidates = sorted(set(range(cfg.n_buckets)) - set(done))
    if not candidates:
        if incremental:
            # all buckets committed for this exact input: heal the
            # crash-after-lineage-before-marker window on resume
            mark_input_done(checkpoint_path, snap)
        return {
            "run_id": run_id,
            "snapshot_id": snap,
            "partitions_written": 0,
            "partitions_committed": 0,
            "resumed": True,
        }

    n_dead = 0
    if incremental:
        # the delta scan: ONLY files no committed snapshot covers.
        # basePath keeps hive-partition columns of partitioned INPUT
        # layouts resolving identically to the full-run scan
        df = spark.read.option("basePath", input_path).parquet(
            *[os.path.join(input_path, rel) for rel in new_files]
        )
    elif input_format == "parquet":
        df = spark.read.parquet(input_path)
    else:
        from .sources import split_corrupt
        from .sources import read_transcripts as _read

        df, bad = split_corrupt(_read(spark, input_path, fmt=input_format))
        if dead_letter_path is not None:
            from pyspark.sql import Observation

            dlq_obs = Observation(f"dlq_{run_id}")
            bad = bad.observe(dlq_obs, F.count(F.lit(1)).alias("n"))
            # idempotent per input snapshot: the DLQ re-derives from the
            # WHOLE feed on every (partial-resume) retry, so an append
            # would duplicate every bad row per retry of a crashed run —
            # overwrite of the snapshot's own subdir replaces instead
            bad.write.mode("overwrite").parquet(
                os.path.join(dead_letter_path, f"snap={snap}")
            )
            n_dead = int(dlq_obs.get["n"])
    if done:
        # resume filter applied at the SCAN (pt is a pure function of
        # conv_id), so committed buckets never reach the extraction UDF —
        # a filter above the conv window would not push through it
        df = df.filter(
            ~salted_bucket(F.col("conv_id"), cfg.n_buckets, cfg.salt).isin(done)
        )
    out = extract_stage(df, cfg)
    # the write fan-in aligns the write with its partition layout: without
    # it every task holds rows of ~every bucket, so a W-task job opens
    # W x n_buckets parquet writers and commits W x n_buckets files PER
    # RUN (measured 2,032 files and 12.0 s for a 255k-turn run; with the
    # exchange: 64 files, 3.3 s).  REPARTITION_BY_NUM is exempt from AQE
    # coalescing, so the fan-in is exact.  One key builder:
    #   * pt: the write layout and the resume granularity;
    #   * + pmod(hash(conv_id), conv_buckets) with bucketed_table: the same
    #     Murmur3 as the table's bucket spec, so each task holds whole
    #     table-buckets and writes one file per (pt, conv-bucket);
    #   * + pmod(xxhash64(conv_id, turn_idx), k_of_pt) when some bucket
    #     gets k > 1 sub-splits: write parallelism scales past the bucket
    #     count while each (pt[, conv-bucket]) slice lands in at most k
    #     files.  The sub-split only divides rows WITHIN a slice, so every
    #     bucketed file still holds one bucket id (a Spark bucketed table
    #     tolerates many files per bucket) and conv-keyed joins against
    #     the table stay exchange-free (test_bucketing.py pins both).
    # k_of_pt is files_per_bucket for every bucket, or the adaptive map.
    k = max(int(cfg.files_per_bucket), 1)
    k_of_pt = dict.fromkeys(range(cfg.n_buckets), k)
    k_col = F.lit(k)
    if cfg.adaptive_write_split:
        # skew-aware sub-splitting: rows per pt counted on the RAW scan
        # (pt is a pure function of conv_id — for parquet input the scan
        # column-prunes to conv_id and runs no extraction; for jsonl/csv
        # feeds this pass re-parses the feed, so land hot feeds as
        # parquet first if the pre-pass cost matters.  The result is
        # metadata-sized, <= n_buckets rows).
        # Each bucket's sub-split count is proportional to its share of
        # the total with a budget of n_buckets * files_per_bucket splits:
        # balanced inputs land at ~files_per_bucket everywhere, a hot
        # bucket fans out to up to MAX_FILES_PER_BUCKET write tasks, cold
        # buckets stay at 1 file.
        cnt_rows = (
            df.groupBy(
                salted_bucket(
                    F.col("conv_id"), cfg.n_buckets, cfg.salt
                ).alias("_pt")
            )
            .agg(F.count(F.lit(1)).alias("_c"))
            .collect()
        )
        total = sum(r["_c"] for r in cnt_rows)
        if total > 0:
            k_of_pt = {
                int(r["_pt"]): max(
                    1,
                    min(
                        int(round(r["_c"] / total * cfg.n_buckets * k)),
                        MAX_FILES_PER_BUCKET,
                    ),
                )
                for r in cnt_rows
            }
            # O(1) per-row lookup: pt is dense 0..n_buckets-1, so the
            # split counts go into a literal ARRAY indexed by pt+1 (a
            # literal MAP would be GetMapValue — a linear key scan per
            # row).  try_element_at: ANSI-safe null (not throw) out of
            # range; coalesce to one sub-split for any pt the count pass
            # never saw.
            k_col = F.coalesce(
                F.try_element_at(
                    F.array(
                        *[F.lit(k_of_pt.get(i, 1)) for i in range(cfg.n_buckets)]
                    ),
                    F.col("pt").cast("int") + F.lit(1),
                ),
                F.lit(1),
            )
    keys = [F.col("pt")]
    n_parts = max(sum(k_of_pt.values()), cfg.n_buckets)
    if cfg.bucketed_table is not None:
        keys.append(F.pmod(F.hash(F.col("conv_id")), F.lit(cfg.conv_buckets)))
        n_parts *= max(int(cfg.conv_buckets), 1)
    if max(k_of_pt.values()) > 1:
        keys.append(
            F.pmod(F.xxhash64(F.col("conv_id"), F.col("turn_idx")), k_col)
        )
    out = out.repartition(n_parts, *keys)

    # lineage: persist the write frame, write it (which materializes the
    # cache), then run ONE fixed-width groupBy(pt) aggregate against the
    # cache — one scan of the input, zero scans of the output.  A resume
    # tail caches only its few buckets' rows.  Every candidate bucket
    # commits, including hash-empty ones, so a completed run's rerun
    # early-returns above.
    from pyspark import StorageLevel

    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if cfg.bucketed_table is not None:
            manifest_loc = write_partitioned_bucketed(
                out,
                cfg.bucketed_table,
                partition_col="pt",
                bucket_col="conv_id",
                sort_cols=("conv_id", "turn_idx"),
                n_buckets=cfg.conv_buckets,
            )
        else:
            # incremental deltas land one directory level down
            # (ingest=<snap>): dynamic partition overwrite then only ever
            # touches THIS delta's pt buckets — prior ingests' files are
            # physically untouchable by this run, and readers of
            # output_path see ingest as a partition column
            manifest_loc = (
                os.path.join(output_path, f"ingest={snap}") if incremental
                else output_path
            )
            write_partitioned(out, manifest_loc, "pt")
        lineage_rows = lineage_agg_rows(out, candidates, run_id, snap)
    finally:
        out.unpersist()
    # Arrow local relation, NOT createDataFrame(list): the pickled-rows
    # path evaluates through spawned Python workers and costs a flat
    # ~4.5-7.5 s PER ACTION on this host for even 64 rows; the pandas
    # conversion plans a JVM-side LocalTableScan (measured 0.2 s).
    import pandas as _pd

    store.append(
        spark.createDataFrame(_pd.DataFrame(lineage_rows), CHECKPOINT_SCHEMA)
    )
    if manifest_loc:
        # incremental runs record a CUMULATIVE manifest at the table
        # root (all ingests' files as of this commit), so read_as_of
        # time-travels across deltas — prior ingests are never
        # rewritten, keeping every older snapshot readable
        record_snapshot(
            output_path if incremental else manifest_loc,
            snap,
            {"run_id": run_id},
        )
    if incremental:
        # the coverage commit point: only now is this delta "covered"
        mark_input_done(checkpoint_path, snap)
    n_written = sum(1 for r in lineage_rows if r["row_count"] > 0)
    summary = {
        "run_id": run_id,
        "snapshot_id": snap,
        "partitions_written": n_written,
        "partitions_committed": len(candidates),
        "resumed": bool(done),
    }
    if incremental:
        summary["incremental"] = True
        summary["new_files"] = len(new_files)
    if input_format != "parquet" and dead_letter_path is not None:
        summary["dead_letter_rows"] = n_dead
    return summary
