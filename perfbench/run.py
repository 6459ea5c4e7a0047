"""Benchmark entry point.

    python3 perfbench/run.py --workload options_etl --seed 1 --seconds 40 --trace 0

Run from the repository root. Prints a provenance line, a detail line
and, last, one JSON result line::

    {"correct": true, "attempted": 22, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` the run does the same work in a session that also writes
Spark's event log and tags every job with its op and layer, and the
metrics are the per-layer ones plus the tracing overhead. See
``perfbench/README.md`` for the workloads and metrics.

``--seconds`` is accepted and recorded but does not change the work:
every run of one workload measures the same, fixed ops. Times are
adjusted for host contention (``host.adjusted``) with the steal counters
read around set-up and around each op; the detail line keeps the wall
times, and the provenance line how busy the host was. Everything the
run writes lives under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (the result, provenance and spans of every run).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "eth_options_data_pipeline_spark"

RELATIONAL_FACES = ["q01_pricing_summary", "q07_lag_delta", "q26_window_battery",
                    "q41_supplier_variety"]
RELATIONAL_SF = 0.01
WORKLOADS = ["options_etl", "relational_batch"]

END_TO_END_UNITS = {"setup_s": "s", "total_s": "s", "op_p50_s": "s", "op_tail_s": "s",
                    "peak_rss_mb": "MB", "ok_frac": "frac"}
SPARK_METRICS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.input_bytes",
                 "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
                 "spark.executor_run_s", "spark.gc_s", "spark.idle_slot_s",
                 "spark.single_task_stages", "spark.task_skew", "spark.task_failures",
                 "spark.stage_retries"]


def per_layer_names(workload: str) -> list[str]:
    """Every per-layer metric a traced run prints; 0 where the workload
    does not exercise the layer."""
    names = ["session.get_spark_s", "session.warmup_s",
             "sources.read_ticker_json_s", "sinks.read_history_s", "pipeline.run_s",
             "sinks.append_snapshot_s", "sinks.compact_partition_s",
             "sinks.table_files", "sinks.table_bytes",
             "queries.construct_s", "queries.construct_jobs", "queries.execute_s"]
    for f in RELATIONAL_FACES:
        names += [f"face.{f}.construct_s", f"face.{f}.execute_s"]
    return names + SPARK_METRICS + ["trace.overhead_ratio"]


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name in ("spark.task_skew", "trace.overhead_ratio"):
        return "ratio"
    return "count"


class Context:
    """The run's session, tracer, scratch space and set-up clock."""

    def __init__(self, seed: int, nproc: int, work: str):
        self.seed = seed
        self.nproc = nproc
        self.work = work
        self.spark = None
        self.tracer = None
        self.t0 = time.perf_counter()
        self.jiffies0 = host.cpu_jiffies()
        self.marks: dict[str, float] = {}

    def mark(self, name: str) -> None:
        self.marks[name] = time.perf_counter() - self.t0

    def start_session(self, event_log: str | None = None) -> float:
        from tracing import Tracer

        from eth_options_data_pipeline_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed, pre-touched heap: peak RSS then moves with off-heap
            # and Python memory, not with the collector's heap sizing
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
                " -Xms1g -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + event_log,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.nproc}]",
                               shuffle_partitions=self.nproc, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        seconds = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext if event_log else None)
        return seconds

    def jvm_peak_rss_kb(self) -> int:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        raise RuntimeError("no VmHWM for the driver JVM")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the session and the JVM and wait for it to exit, even when
        the session is past saving (the run was interrupted mid-call)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.stop_session()
            if gateway is not None:
                gateway.shutdown()
        except Exception:
            traceback.print_exc()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def stop_children() -> None:
    """Terminate every child process still running and wait for each to
    end: a JVM whose launch a SIGTERM interrupted is not yet known to
    pyspark, so ``Context.shutdown_jvm`` cannot stop it."""
    me = os.getpid()
    kids = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(stat.split("/")[2]))
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30.0
    while kids:
        for pid in list(kids):
            try:
                done = os.waitpid(pid, os.WNOHANG)[0] == pid
            except ChildProcessError:
                done = True
            if done:
                kids.remove(pid)
        if kids and time.monotonic() > deadline:
            for pid in kids:
                os.kill(pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def make_workload(name: str, ctx: Context, sf: float | None):
    import workloads

    if name == "options_etl":
        return workloads.OptionsEtl(ctx)
    return workloads.FaceBatch(ctx, RELATIONAL_FACES, sf)


def total_seconds(wl, ops, value=lambda op: op.adjusted) -> float:
    """Timed-section time: the summed op times of the ETL replay; for a
    face batch the sum of each face's median over the passes, which a
    stall in one pass does not move."""
    if hasattr(wl, "face_medians"):
        return sum(wl.face_medians(ops, value).values())
    return sum(value(op) for op in ops)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and
    that percentile: the 11th largest value, at 100 * (n - 10) / n. From
    21 samples on it is at or above the median."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        raise ValueError(f"{n} samples; the tail needs at least 21")
    return xs[n - 11], 100.0 * (n - 10) / n


def timed_section(wl):
    """Run the timed ops, reading the host's steal counters around each
    one (the op runs inside the generator's ``next``), then check them."""
    ops = []
    start = host.cpu_jiffies()
    for op in wl.timed():
        end = host.cpu_jiffies()
        op.steal = host.steal_share(start, end)
        ops.append(op)
        start = end
    wl.check(ops)
    return ops, total_seconds(wl, ops)


def source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)
                       + glob.glob(os.path.join(HERE, "*.py"))):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def untraced_total(out_dir: str, provenance: dict) -> float | None:
    """Median total_s of the untraced runs recorded with the same
    workload, scale and sources, or None when there are none."""
    same = ("workload", "sf", "source_digest")
    totals = []
    for path in glob.glob(os.path.join(out_dir, f"{provenance['workload']}-*.json")):
        with open(path) as f:
            rec = json.load(f)
        p = rec["provenance"]
        if p["trace"] == 0 and all(p.get(k) == provenance[k] for k in same):
            totals.append(rec["result"]["metrics"]["total_s"]["value"])
    return statistics.median(totals) if totals else None


def run(args, ctx: Context, out_dir: str, provenance: dict) -> dict:
    """One run. A traced run is an untraced run whose session also writes
    Spark's event log and whose tracer records spans and tags jobs; its
    overhead is its total_s over that of the untraced runs recorded
    under ``out_dir`` with the same settings."""
    wl = make_workload(args.workload, ctx, provenance["sf"])
    event_dir = os.path.join(ctx.work, "eventlog") if args.trace else None
    get_spark_s = ctx.start_session(event_log=event_dir)
    ctx.mark("session")
    wl.setup()
    setup_wall = time.perf_counter() - ctx.t0
    setup_steal = host.steal_share(ctx.jiffies0, host.cpu_jiffies())
    setup_s = host.adjusted(setup_wall, setup_steal)
    ops, total_s = timed_section(wl)
    detail: dict = {"marks": ctx.marks, "op_seconds": [round(op.seconds, 4) for op in ops],
                    "op_steal": [round(op.steal, 4) for op in ops], "setup_steal": setup_steal}

    if not args.trace:
        peak_kb = ctx.jvm_peak_rss_kb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        p50 = statistics.median(op.adjusted for op in ops)
        tail_s, tail_pct = tail([op.adjusted for op in ops])
        values = {"setup_s": setup_s, "total_s": total_s, "op_p50_s": p50,
                  "op_tail_s": tail_s, "peak_rss_mb": peak_kb / 1024.0,
                  "ok_frac": sum(op.ok for op in ops) / len(ops)}
        wall = [op.seconds for op in ops]
        detail.update({"op_tail_pct": tail_pct, "op_n": len(ops),
                       "wall": {"setup_s": setup_wall,
                                "total_s": total_seconds(wl, ops, lambda op: op.seconds),
                                "op_p50_s": statistics.median(wall),
                                "op_tail_s": tail(wall)[0]}})
        return finish(values, END_TO_END_UNITS, ops, detail)

    from tracing import read_event_log

    app_id = ctx.spark.sparkContext.applicationId
    ctx.stop_session()
    timed_log = read_event_log(os.path.join(event_dir, app_id)).restrict(
        lambda g: g.startswith("t"))
    values = {name: 0.0 for name in per_layer_names(args.workload)}
    values["session.get_spark_s"] = get_spark_s
    values["session.warmup_s"] = ctx.marks["warmup"] - ctx.marks["land"]
    if hasattr(wl, "face_medians"):
        values.update(wl.layer_metrics(ops))
        values["queries.construct_jobs"] = timed_log.jobs_in(
            lambda g: g.endswith("|queries.construct")) / wl.PASSES
    else:
        values.update(wl.layer_metrics(ctx.tracer))
    values.update(timed_log.summary(ctx.nproc))
    base = untraced_total(out_dir, provenance)
    values["trace.overhead_ratio"] = total_s / base if base else 0.0
    ctx.tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    detail.update({"traced_total_s": total_s, "untraced_total_s": base,
                   "construct_job_sites": timed_log.sites_in(
                       lambda g: g.endswith("|queries.construct"))})
    return finish(values, {name: unit_of(name) for name in values}, ops, detail)


def finish(values: dict, units: dict, ops: list, detail: dict) -> dict:
    failed = sum(not op.ok for op in ops)
    return {
        "detail": detail,
        "result": {"correct": failed == 0, "attempted": len(ops), "failed": failed,
                   "metrics": {k: {"value": float(v), "unit": units[k]}
                               for k, v in values.items()}},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the face batches' tables (smoke test)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # faces keep scratch trees under the temp dir; the run owns and removes it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tempfile.tempdir = None
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]

    run_index = len(glob.glob(os.path.join(out_dir, f"{args.workload}-*.json")))
    provenance = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "seconds": args.seconds, "run_index": run_index, "nproc": nproc,
                  "sf": (args.sf or RELATIONAL_SF) if args.workload == "relational_batch"
                  else None,
                  "git_commit": git_commit(), "source_digest": source_digest(),
                  "loadavg_start": host.loadavg(), "spin_s_start": host.spin_s()}
    ctx = Context(args.seed, nproc, work)
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import pyspark

        provenance["spark_version"] = pyspark.__version__
        out = run(args, ctx, out_dir, provenance)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            ctx.shutdown_jvm()
        finally:
            stop_children()
            shutil.rmtree(work, ignore_errors=True)
            if not os.listdir(os.path.dirname(work)):
                os.rmdir(os.path.dirname(work))
    provenance.update({"loadavg_end": host.loadavg(), "spin_s_end": host.spin_s(),
                       "steal_frac": host.steal_share(ctx.jiffies0, host.cpu_jiffies())})
    record = {"provenance": provenance, **out}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(out_dir, f"{args.workload}-{stamp}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
