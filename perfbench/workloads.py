"""The benchmark's workloads: the hourly options ETL and a face batch.

Each workload has three phases, driven by ``run.py``:

* ``setup`` lands its inputs and warms the session (untimed ops);
* ``timed`` runs the measured ops, yielding one ``Op`` per operation;
* ``check`` verifies the outputs, marking failed ops, outside the timing.

An op's time is taken from outside, around the calls into the package's
public layer functions; the tracer's spans sit around the same calls.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import datagen
import duckdb
import host
import oracle
from eth_options_data_pipeline_spark import pipeline, sinks, sources
from eth_options_data_pipeline_spark.queries import REGISTRY


@dataclass
class Op:
    id: str
    name: str
    seconds: float = 0.0          # wall time
    ok: bool = True
    phases: dict[str, float] = field(default_factory=dict)
    steal: float = 0.0            # stolen share of busy CPU time while it ran

    @property
    def adjusted(self) -> float:
        return host.adjusted(self.seconds, self.steal)


def _parquet_sizes(root: str) -> list[int]:
    return [os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")]


def _fail(op: Op, what: str) -> None:
    op.ok = False
    print(f"perfbench: op {op.id} ({op.name}) failed: {what}", file=sys.stderr)


class OptionsEtl:
    """Closed-loop replay of 28 hourly ``HOURLY`` runs from midnight into
    a fresh table.

    One op is one hourly run: ``read_ticker_json`` -> ``read_history``
    -> ``pipeline.run`` -> ``append_snapshot``, plus ``compact_partition``
    of the day's partition after its 23:00 run, which merges the day's
    24 hourly files. The first ``WARMUP_HOURS`` runs, 00:00 to 05:00 of
    the first day, are the warm-up: they go into the same table,
    untimed, while op times fall the most. The other 22, 06:00 of the
    first day to 03:00 of the second, are timed; the eighteenth of them
    is the 23:00 run with its compaction.
    """

    START = dt.datetime(2025, 10, 27, 0, 0)
    HOURS = 28
    WARMUP_HOURS = 6

    def __init__(self, ctx):
        self.ctx = ctx
        self.expected: list[dict[str, tuple]] = []
        self.drops: list[str] = []
        self.table = os.path.join(ctx.work, "table")
        self.day_files: list[int] = []   # sizes, read when tracing

    def setup(self) -> None:
        ctx = self.ctx
        replay = datagen.TickerReplay(ctx.seed, self.START, pipeline.HOURLY.state_tail)
        drop_dir = os.path.join(ctx.work, "drops")
        os.makedirs(drop_dir)
        for h in range(self.HOURS):
            rows, expected = replay.drop(h)
            path = os.path.join(drop_dir, f"hour={h:04d}.json")
            datagen.write_drop(path, rows)
            self.drops.append(path)
            self.expected.append(expected)
        ctx.mark("land")
        self.warmup = [self._hour(f"w{h}", h) for h in range(self.WARMUP_HOURS)]
        ctx.mark("warmup")

    def timed(self):
        for h in range(self.WARMUP_HOURS, self.HOURS):
            yield self._hour(f"t{h}", h)

    def _hour(self, op_id: str, h: int) -> Op:
        tr, spark = self.ctx.tracer, self.ctx.spark
        ts = self.START + dt.timedelta(hours=h)
        op = Op(op_id, f"hour {ts:%Y-%m-%d %H:%M}")
        t0 = time.perf_counter()
        try:
            with tr.span("etl.hour", op_id):
                with tr.span("sources.read_ticker_json", op_id):
                    raw = sources.read_ticker_json(spark, self.drops[h])
                history = None
                if h > 0:
                    with tr.span("sinks.read_history", op_id):
                        history = sinks.read_history(spark, self.table)
                with tr.span("pipeline.run", op_id):
                    out = pipeline.run(raw, history, pipeline.HOURLY, ts)
                with tr.span("sinks.append_snapshot", op_id):
                    sinks.append_snapshot(out, self.table)
                if ts.hour == 23:
                    if tr.enabled:  # the day's hourly files, before they are merged
                        self.day_files = _parquet_sizes(self.table)
                    with tr.span("sinks.compact_partition", op_id):
                        sinks.compact_partition(spark, self.table, f"Date={ts.date()}")
        except Exception:  # one failed op must not end the run
            _fail(op, traceback.format_exc())
        op.seconds = time.perf_counter() - t0
        return op

    def check(self, ops: list[Op]) -> None:
        """Every hour appended exactly the rows the generator expects:
        row count, Close, OI, Open = previous Close, OI_Change = ΔOI. A
        warm-up hour that went wrong fails the first timed op, whose
        state it is."""
        got: dict[dt.datetime, dict[str, tuple]] = {}
        rows = (self.ctx.spark.read.parquet(self.table)
                .select("Time", "SYMBOL", "Close", "OI", "Open", "OI_Change").collect())
        for r in rows:
            got.setdefault(r["Time"], {})[r["SYMBOL"]] = (r["Close"], r["OI"], r["Open"],
                                                          r["OI_Change"])
        for h, op in enumerate(self.warmup + ops):
            want = self.expected[h]
            have = got.get(self.START + dt.timedelta(hours=h), {})
            if have != want:
                diff = sum(have.get(k) != v for k, v in want.items())
                _fail(ops[0] if h < self.WARMUP_HOURS else op,
                      f"hour {h}: {len(have)} rows appended, {len(want)} expected, {diff} differ")

    def layer_metrics(self, tracer) -> dict[str, float]:
        def per_op(name):
            xs = [s.seconds for s in tracer.spans if s.name == name and s.op.startswith("t")]
            return statistics.median(xs) if xs else 0.0
        return {
            "sources.read_ticker_json_s": per_op("sources.read_ticker_json"),
            "sinks.read_history_s": per_op("sinks.read_history"),
            "pipeline.run_s": per_op("pipeline.run"),
            "sinks.append_snapshot_s": per_op("sinks.append_snapshot"),
            "sinks.compact_partition_s": per_op("sinks.compact_partition"),
            "sinks.table_files": len(self.day_files),
            "sinks.table_bytes": sum(self.day_files),
        }


class FaceBatch:
    """Registry faces run back to back, ``PASSES`` times, noop sink.

    One op is one face: ``REGISTRY[name].fn(spark, sf_dir)`` (the
    construction) then a noop write (the execution). The face order is
    shuffled per pass by the seed. The first warm-up pass collects every
    face's output and checks it against the face's DuckDB oracle, which
    runs on a second thread while Spark warms up. ``WARMUP_PASSES`` noop
    passes follow, over which pass times fall the most.
    """

    PASSES = 6
    WARMUP_PASSES = 2

    def __init__(self, ctx, faces: list[str], sf: float):
        self.ctx = ctx
        self.faces = faces
        self.sf = sf
        self.sf_dir = ""
        self.bad: dict[str, str] = {}

    def setup(self) -> None:
        ctx = self.ctx
        self.sf_dir = os.path.join(ctx.work, "data")
        datagen.write_tables(self.sf_dir, self.sf, ctx.seed)
        ctx.mark("land")
        con = oracle.connect(self.sf_dir, threads=max(1, ctx.nproc // 2))
        with ThreadPoolExecutor(1) as pool:
            want = {f: pool.submit(lambda f=f: con.execute(REGISTRY[f].sql).fetchdf())
                    for f in self.faces}
            got = {}
            for f in self.faces:
                try:
                    got[f] = REGISTRY[f].fn(ctx.spark, self.sf_dir).toPandas()
                except Exception:
                    self.bad[f] = traceback.format_exc()
            for f in self.faces:
                try:
                    oracle_pdf = want[f].result()
                except duckdb.Error:
                    self.bad.setdefault(f, traceback.format_exc())
                    continue
                if f not in self.bad:
                    why = oracle.mismatch(got[f], oracle_pdf)
                    if why:
                        self.bad[f] = why
        con.close()
        for p in range(self.WARMUP_PASSES):
            for f in self.faces:
                self._face(f"w{p}.{f}", f)
        ctx.mark("warmup")

    def timed(self):
        for p in range(self.PASSES):
            order = list(self.faces)
            random.Random(self.ctx.seed * 1000 + p).shuffle(order)
            for f in order:
                yield self._face(f"t{p}.{f}", f)

    def _face(self, op_id: str, face: str) -> Op:
        tr = self.ctx.tracer
        op = Op(op_id, face)
        t0 = time.perf_counter()
        try:
            with tr.span("face", op_id):
                with tr.span("queries.construct", op_id):
                    df = REGISTRY[face].fn(self.ctx.spark, self.sf_dir)
                t1 = time.perf_counter()
                with tr.span("queries.execute", op_id):
                    df.write.mode("overwrite").format("noop").save()
            op.phases = {"construct": t1 - t0, "execute": time.perf_counter() - t1}
        except Exception:  # one failed op must not end the run
            _fail(op, traceback.format_exc())
        op.seconds = time.perf_counter() - t0
        return op

    def check(self, ops: list[Op]) -> None:
        """A face whose warm-up output failed its oracle fails every op."""
        for op in ops:
            if op.name in self.bad:
                _fail(op, self.bad[op.name])

    def face_medians(self, ops: list[Op], value) -> dict[str, float]:
        """Each face's median of ``value(op)`` over the passes."""
        by_face: dict[str, list[float]] = {}
        for op in ops:
            by_face.setdefault(op.name, []).append(value(op))
        return {f: statistics.median(xs) for f, xs in by_face.items()}

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        construct = self.face_medians(ops, lambda op: op.phases.get("construct", 0.0))
        execute = self.face_medians(ops, lambda op: op.phases.get("execute", 0.0))
        out = {"queries.construct_s": sum(construct.values()),
               "queries.execute_s": sum(execute.values())}
        for f in self.faces:
            out[f"face.{f}.construct_s"] = construct[f]
            out[f"face.{f}.execute_s"] = execute[f]
        return out
