"""Benchmark of the transcript extraction engine, end to end and per layer.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process drives a ``local[nproc]``
session through the package's public functions:

* ``extract``: ``extract_stage(scan)`` into a ``noop`` sink (the flagship);
* ``pipeline``: ``run_pipeline`` into a fresh output and checkpoint;
* ``commit`` (traced run only): one small delta landed beside a committed
  table, then ``run_pipeline(incremental=True)`` until its ``.done`` marker.

Set-up (session start plus warm-up of the timed paths) is timed as
``setup_s``; input generation is cached per (workload, seed) and excluded.
Every pass is checked (see check.py).  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a separate
traced run with ``--trace 1``.  DESIGN.md records the design.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PKG = "accelerated_intelligent_document_processing_on_aws_spark"
RUN_DIR = ROOT / ".perfbench_run"
WORKLOADS = ("mixed", "chat_skew")
N_BUCKETS = 64  # PipelineConfig's default, which every pass uses
# warm-up: a fixed list of passes.  Pipeline passes first: the first
# pays the cold start, ~4x a warm pass; the next ones keep falling (mostly
# task time: the JVM and Python workers warming up) and level off within
# the host's noise from about the fifth.  Then one extract pass: the first
# extract pass of a session reads ~20% above the next ones even after
# the pipeline passes.  A whole run cannot afford more.  A fixed list
# puts every run at the same point of those trends, where a
# stop-when-flat rule would vary it.
WARM_UP = ("pipeline",) * 4 + ("extract",)
# timed passes: until the window closes, the kind furthest below its share
# of the window runs next.  On a shared VM the host's speed swings by ~25%
# from one second to the next, so a metric's spread falls with the
# seconds it is timed over.  A pipeline pass is ~3x an extract pass, so
# pipeline gets 60% of the window: three passes or more on a slow host,
# where an even split left it two.
TIMED = {"extract": 0.4, "pipeline": 0.6}
MIN_PASSES = 3


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def worker_pids(root_pid: int) -> list:
    """Python worker processes (pyspark daemon and its forks) below the
    JVM process ``root_pid``."""
    parent, cmd = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd[int(d)] = fh.read()
        except (OSError, IndexError, ValueError):
            continue
    out = []
    for pid in parent:
        p = pid
        while p in parent and p != root_pid:
            p = parent[p]
        if pid != root_pid and p == root_pid and b"pyspark.daemon" in cmd.get(pid, b""):
            out.append(pid)
    return out


def host_probe_ms() -> float:
    """Median time of a fixed pure-Python loop (~10 ms each): the host's
    own speed, logged with every run so host drift can be told apart from
    a change in the program."""
    ts = []
    for _ in range(9):
        t = time.perf_counter()
        acc = 0
        for i in range(150_000):
            acc += i * i % 7
        ts.append((time.perf_counter() - t) * 1e3)
    return statistics.median(ts)


def cpu_times() -> tuple:
    """(steal, total) jiffies of the whole host since boot."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


class RssSampler:
    """Peak summed RSS of the Python workers, sampled while ``on``."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak = 0
        self.seen: set = set()
        self.on = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids, tick = [], 0
        while not self._stop.wait(0.05):
            if not self.on.is_set():
                continue
            # walking /proc costs far more than reading statm: rescan the
            # worker set once a second (workers are reused across tasks)
            if tick % 20 == 0:
                pids = worker_pids(self.jvm_pid)
                self.seen.update(pids)
            tick += 1
            total = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as fh:
                        total += int(fh.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    continue
            self.peak = max(self.peak, total)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def start_session(work: Path, cores: int, trace: bool):
    from accelerated_intelligent_document_processing_on_aws_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata file: HotSpot writes it to /tmp whatever tmpdir is
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        (work / "events").mkdir()
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(work / "events")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, worker_pids_seen: set) -> None:
    """Stop Spark, then the JVM, then wait for every Python worker."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in worker_pids_seen:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


class Bench:
    """The three timed paths over one workload's inputs, each pass checked."""

    def __init__(self, spark, work: Path, cache: Path, workload: str, seed: int):
        from perfbench import inputs

        self.spark, self.work, self.cache = spark, work, cache
        self.workload, self.seed = workload, seed
        self.gen_s = 0.0
        self.table, self.turns = self._gen(inputs.table, cache, workload, seed)
        self.inc_in, self.inc_out, self.inc_ck = (work / n for n in ("inc_in", "inc_out", "inc_ck"))
        self.inc_in.mkdir()
        self.n_deltas = 0
        self.n_pipes = 0
        self.first_out = None
        self.last_out_files = self.last_out_mb = 0

    def _gen(self, fn, *args):
        t = time.perf_counter()
        out = fn(*args)
        self.gen_s += time.perf_counter() - t
        return out

    def extract(self) -> tuple:
        from accelerated_intelligent_document_processing_on_aws_spark import extract_stage

        t = time.perf_counter()
        extract_stage(self.spark.read.parquet(self.table)).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t, []

    def pipeline(self) -> tuple:
        from accelerated_intelligent_document_processing_on_aws_spark import run_pipeline
        from perfbench import check

        d = self.work / f"pipe{self.n_pipes}"
        self.n_pipes += 1
        t = time.perf_counter()
        res = run_pipeline(self.spark, self.table, str(d / "out"), str(d / "ck"))
        dt = time.perf_counter() - t
        errs = check.lineage(str(d / "ck"), res["snapshot_id"], N_BUCKETS, self.turns)
        files = list((d / "out").rglob("*.parquet"))
        self.last_out_files = len(files)
        self.last_out_mb = sum(f.stat().st_size for f in files) / 2**20
        tbl = check.read_table(str(d / "out"))
        if self.first_out is None:
            self.first_out = tbl
        elif not tbl.equals(self.first_out):
            errs.append("output differs from the first pass's")
        shutil.rmtree(d)
        return dt, errs

    def commit(self, base: bool = False) -> tuple:
        """Land the next delta (the table itself when ``base``) and commit
        it incrementally; timed from landing to the ``.done`` marker."""
        from accelerated_intelligent_document_processing_on_aws_spark import run_pipeline
        from perfbench import check, inputs

        if base:
            src, n = self.table, self.turns
        else:
            src, n = self._gen(inputs.delta, self.cache, self.workload, self.seed, self.n_deltas)
            self.n_deltas += 1
        tag = "base" if base else f"delta{self.n_deltas:03d}"
        for f in sorted(Path(src).glob("*.parquet")):
            shutil.copyfile(f, self.inc_in / f"{tag}-{f.name}")
        t = time.perf_counter()
        res = run_pipeline(
            self.spark, str(self.inc_in), str(self.inc_out), str(self.inc_ck), incremental=True
        )
        dt = time.perf_counter() - t
        snap = res["snapshot_id"]
        errs = check.lineage(str(self.inc_ck), snap, N_BUCKETS, n)
        errs += check.done_marker(str(self.inc_ck), snap)
        return dt, errs

    def base(self) -> tuple:
        return self.commit(base=True)

    def run(self, kind: str) -> tuple:
        return getattr(self, kind)()

    def final_checks(self) -> dict:
        """Path -> failures of the checks made once per run: extract and
        pipeline outputs against the driver-side kernel, and the union of
        ingests."""
        from accelerated_intelligent_document_processing_on_aws_spark import extract_stage
        from perfbench import check

        if self.first_out is None:
            return {"pipeline": ["no pipeline output"]}
        # the pipeline output against the driver-side kernel, the extract
        # path's output against the pipeline output
        cols = ["conv_id", "turn_idx", "extracted_text", "spans"]
        want = self.first_out.select(cols)
        got = (
            extract_stage(self.spark.read.parquet(self.table))
            .select(*cols)
            .toArrow()
            .sort_by([(k, "ascending") for k in check.KEY])
            .cast(want.schema)
        )
        failures = {
            "pipeline": check.against_reference(self.first_out, check.reference(self.table)),
            "extract": [] if got.equals(want) else ["extract_stage output differs"],
        }
        if self.inc_out.exists():
            failures["commit"] = check.union_of_ingests(
                str(self.inc_out), check.input_keys(str(self.inc_in))
            )
        return failures


class Tally:
    """Passes attempted and failed, and the times of the recorded ones."""

    def __init__(self):
        self.times = {k: [] for k in ("extract", "pipeline", "commit")}
        self.attempted = self.failed = 0

    def run(self, b: Bench, kind: str, record: bool = True) -> float | None:
        self.attempted += 1
        try:
            dt, errs = b.run(kind)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if errs:
            log(f"{kind} pass failed: {errs}")
            self.failed += 1
            return None
        if record:
            self.times[kind].append(dt)
        return dt

    def apply_final(self, failures: dict) -> None:
        for kind, errs in failures.items():
            if errs:
                log(f"{kind} check failed: {errs}")
                self.failed += len(self.times[kind])

    def median(self, kind: str) -> float:
        """Median pass time; 0 when no pass succeeded (the run is then
        already counted as failed)."""
        return statistics.median(self.times[kind]) if self.times[kind] else 0.0

    def per_second(self, n: int, kind: str) -> float:
        t = self.median(kind)
        return n / t if t else 0.0


def warm_up(b: Bench, tally: Tally) -> None:
    """Run the warm-up passes; they count as attempted, not timed."""
    for kind in WARM_UP:
        log(f"warm-up {kind}: {tally.run(b, kind, record=False)}")


def timed_window(b: Bench, tally: Tally, seconds: float) -> None:
    deadline = time.perf_counter() + seconds
    spent = dict.fromkeys(TIMED, 0.0)
    runs = dict.fromkeys(TIMED, 0)
    while time.perf_counter() < deadline or min(runs.values()) < MIN_PASSES:
        kind = min(TIMED, key=lambda k: (runs[k] >= MIN_PASSES, spent[k] / TIMED[k]))
        t = time.perf_counter()
        tally.run(b, kind)
        spent[kind] += time.perf_counter() - t
        runs[kind] += 1


def measure(b: Bench, tally: Tally, args, rss: RssSampler, setup_s: float) -> dict:
    probe = host_probe_ms()
    cpu0 = cpu_times()
    rss.on.set()
    timed_window(b, tally, args.seconds)
    rss.on.clear()
    cpu1 = cpu_times()
    steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    log(f"host: probe {probe:.2f} ms before the window, {host_probe_ms():.2f} ms after; steal {steal:.1%}")
    tally.apply_final(b.final_checks())
    log("final checks done")
    log(f"passes: { {k: [round(t, 3) for t in v] for k, v in tally.times.items()} }")
    return {
        "extract_tps": (tally.per_second(b.turns, "extract"), "turns/s"),
        "pipeline_tps": (tally.per_second(b.turns, "pipeline"), "turns/s"),
        "setup_s": (setup_s, "s"),
        "py_peak_rss_mb": (rss.peak / 2**20, "MB"),
    }


def traced(b: Bench, tally: Tally, args, cores: int, start_s: float, warm_s: float, work: Path):
    """Per-layer metrics; returns a finisher to call after the session
    stopped (the event log is complete only then)."""
    from perfbench import check, tracing

    sc = b.spark.sparkContext
    m = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warm_s, "s"),
        "host.probe_ms": (host_probe_ms(), "ms"),
    }

    texts = check.read_table(b.table)["text"].to_pylist()
    ktimes = tracing.kernel_times(texts)
    for kind, (n, secs) in ktimes.items():
        m[f"kernels.{kind}.turns"] = (n, "count")
        m[f"kernels.{kind}.us_per_turn"] = (secs / n * 1e6 if n else 0.0, "us")
    kernel_s = sum(secs for _, secs in ktimes.values())
    log("kernels timed")

    def group(name, fn):
        sc.setJobGroup(name, name)
        t = time.perf_counter()
        fn()
        return time.perf_counter() - t

    # untraced real passes of the same session: the reference walls
    real = {"extract": [], "pipeline": []}
    for i in range(2):
        for kind in ("extract", "pipeline"):
            sc.setJobGroup(f"real-{kind}-{i}", kind)
            dt = tally.run(b, kind)
            if dt is not None:
                real[kind].append(dt)

    from accelerated_intelligent_document_processing_on_aws_spark.pipeline import PipelineConfig

    cfg = PipelineConfig()
    walls = {k: [] for k in tracing.PREFIXES}
    # the noop prefixes are cheap and their differences small: three
    # repeats each; the durable tail (a real write) once
    for rep in range(3):
        for name, df in tracing.prefix_frames(b.spark, b.table, cfg).items():
            walls[name].append(
                group(f"prefix-{name}-{rep}", lambda: df.write.format("noop").mode("overwrite").save())
            )
    for name, lin in (("write", False), ("lineage", True)):
        d = work / f"prefix-{name}"
        fanin = tracing.prefix_frames(b.spark, b.table, cfg)["fanin"]
        walls[name].append(
            group(
                f"prefix-{name}-0",
                lambda: tracing.durable_tail(
                    b.spark, b.table, fanin, str(d / "out"), str(d / "ck"), lin
                ),
            )
        )
        shutil.rmtree(d)
    w = {k: statistics.median(v) for k, v in walls.items()}
    log(f"prefixes timed: {walls}")

    spans = tracing.Spans()
    spans.wrap_program()
    try:
        traced_pipe = []
        for i in range(2):
            spans.pass_id = f"pipeline-{i}"
            sc.setJobGroup(spans.pass_id, "traced pipeline")
            dt = tally.run(b, "pipeline")
            if dt is not None:
                traced_pipe.append(dt)
        files, mb = b.last_out_files, b.last_out_mb
        log("traced pipeline passes done")
        # the commit path: the table as committed history, then the traced
        # deltas
        spans.pass_id = None
        sc.setJobGroup("commit-base", "commit base")
        tally.run(b, "base", record=False)
        commit_walls = []
        for i in range(2):
            spans.pass_id = f"commit-{i}"
            sc.setJobGroup(spans.pass_id, "traced commit")
            dt = tally.run(b, "commit")
            if dt is not None:
                commit_walls.append(dt)
        spans.pass_id = None
        log("traced commits done")
    finally:
        spans.unwrap_program()
    tally.apply_final(b.final_checks())

    def med(xs):
        # 0 when every pass of a kind failed (the run is then failed)
        return statistics.median(xs) if xs else 0.0

    def per(group_name, prefix):
        return med(spans.per_pass(tracing.SPAN_GROUPS[group_name], prefix))

    ext, pipe = med(real["extract"]), med(real["pipeline"])
    write_s = per("write", "pipeline-")
    m.update(
        {
            "io.scan_s": (w["scan"], "s"),
            "operators.extract.udf_s": (w["udf"] - w["scan"], "s"),
            "operators.extract.boundary_ratio": (
                (w["udf"] - w["scan"]) * cores / kernel_s if kernel_s else 0.0,
                "ratio",
            ),
            "functions.text.classify_s": (w["classify"] - w["udf"], "s"),
            "operators.sectionize.window_s": (w["sectionize"] - w["classify"], "s"),
            "operators.extract.respan_s": (w["respan"] - w["sectionize"], "s"),
            "pipeline.fanin_s": (w["fanin"] - w["respan"], "s"),
            "io.tables.write_s": (write_s, "s"),
            "io.tables.write_self_s": (write_s - ext, "s"),
            "io.tables.files_written": (files, "count"),
            "io.tables.mb_written": (mb, "MB"),
            "pipeline.commit_s": (med(commit_walls), "s"),
            "io.tables.delta_write_s": (per("write", "commit-"), "s"),
            "io.tables.snapshot_s": (per("snapshot", "commit-"), "s"),
            "io.checkpoint.lineage_s": (per("lineage", "pipeline-"), "s"),
            "io.checkpoint.append_s": (per("append", "pipeline-"), "s"),
            "io.checkpoint.read_s": (per("read", "commit-"), "s"),
            "io.checkpoint.store_files": (
                len(list(b.inc_ck.glob("*.parquet"))),
                "count",
            ),
            "trace.overhead_s": (med(traced_pipe) - pipe, "s"),
            "trace.unattributed_s": ((ext - w["respan"]) + (pipe - w["lineage"]), "s"),
        }
    )
    trace_dir = RUN_DIR / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    spans.dump(str(trace_dir / f"{args.workload}-{args.seed}.json"))

    def finish() -> dict:
        groups = tracing.read_event_log(str(work / "events"))
        counts = [tracing.plan_counts(g) for k, g in groups.items() if k and k.startswith("pipeline-")]
        for key in ("jobs", "tasks", "shuffle_stages", "shuffle_write_mb", "spill_mb"):
            unit = "MB" if key.endswith("_mb") else "count"
            m[f"pipeline.{key}"] = (med([c[key] for c in counts]), unit)
        commits = [tracing.plan_counts(g) for k, g in groups.items() if k and k.startswith("commit-")]
        m["pipeline.commit_jobs"] = (med([c["jobs"] for c in commits]), "count")
        m["pipeline.commit_tasks"] = (med([c["tasks"] for c in commits]), "count")
        m["operators.sectionize.task_skew"] = (
            med([tracing.task_skew(groups[f"prefix-sectionize-{r}"]) for r in range(3)]),
            "ratio",
        )
        return m

    return finish


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: no {PKG} package next to perfbench/", file=sys.stderr)
        return 2
    work = RUN_DIR / "work"
    cache = RUN_DIR / "inputs"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True)
    cache.mkdir(parents=True, exist_ok=True)
    # everything the session, its JVM and its Python workers write stays
    # under the run directory; workers import the package from ROOT
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))
    cores = len(os.sched_getaffinity(0))
    seed = args.seed % 2**20

    t_gen = time.perf_counter()
    from perfbench import inputs

    inputs.table(str(cache), args.workload, seed)
    gen_s = time.perf_counter() - t_gen
    log(f"inputs ready ({gen_s:.1f}s)")

    t = time.perf_counter()
    spark = start_session(work, cores, bool(args.trace))
    start_s = time.perf_counter() - t
    log(f"session up ({start_s:.1f}s)")
    rss = RssSampler(getattr(spark.sparkContext._gateway.proc, "pid", -1))
    tally = Tally()
    finish = None
    try:
        b = Bench(spark, work, cache, args.workload, seed)
        t = time.perf_counter()
        warm_up(b, tally)
        warm_s = time.perf_counter() - t - b.gen_s
        setup_s = time.perf_counter() - T_START - gen_s - b.gen_s
        log(f"set-up done: {setup_s:.1f}s (warm-up {warm_s:.1f}s)")
        if args.trace:
            finish = traced(b, tally, args, cores, start_s, warm_s, work)
        else:
            metrics = measure(b, tally, args, rss, setup_s)
    finally:
        rss.close()
        stop_session(spark, rss.seen | set(worker_pids(rss.jvm_pid)))
    if finish is not None:
        metrics = finish()
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
