"""One benchmark run in a fresh process: set-up, a cold pass, warm passes.

Started by ``perfbench/run.py``; writes its measurements as JSON to
``--out`` and each query's result rows to ``--results`` for the oracle check
that runs after this process has exited.

Every query is timed in three phases from outside the engine:

  build  ``fn(spark, data_dir)``
  plan   ``queryExecution().executedPlan()``
  exec   ``executedPlan().execute().count()``, run in the JVM, so no result
         rows travel to this process.

With ``--trace 0`` nothing else runs between the timers. With ``--trace 1``
the cold pass and every second warm pass are traced: each phase is a span,
Spark's own counters are read around it (job and stage ids, the status
store, the executed plan's SQL metrics, ``/proc`` write bytes), and a
StreamingQueryListener records every micro-batch. The untraced warm passes
of the same run give the tracing overhead. After the passes, a traced run
probes the write path (``workloads.INGEST_PROBE``) the same way.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import sys
import time

from procfs import tree_write_bytes, written_since
from spans import Tracer
from workloads import CRITEO, INGEST_PROBE, WORKLOADS

# Warm passes after the cold pass; in a traced run the first is untraced
# and the second traced, so one run gives both the per-query times and the
# tracing overhead.
WARM_PASSES = 2
MB = 1024 * 1024

# Wrapper nodes that hold no work of their own in the executed plan.
_PLAN_WRAPPERS = ("AdaptiveSparkPlan", "InputAdapter", "WholeStageCodegen")


def memo_entries() -> int:
    """Entries currently held by the memos registered in sources.tables."""
    from columnar_estimator_sample_spark.sources import tables
    return sum(len(m) for m in tables._MEMOS)


class SparkCounters:
    """Spark's own counters, read between two points of the driver loop.

    Jobs and stages get increasing ids, so everything a phase launched,
    including jobs from streaming threads, lies between the ids read before
    and after it. Stage figures come from the status store once the
    listener bus has delivered every event."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()

    def mark(self) -> tuple[int, int]:
        dag = self.sc.dagScheduler()  # py4j returns the AtomicIntegers' values
        return int(dag.nextJobId()), int(dag.nextStageId())

    def between(self, start: tuple[int, int], end: tuple[int, int]) -> dict:
        self.sc.listenerBus().waitUntilEmpty()
        store = self.sc.statusStore()
        out = dict(jobs=end[0] - start[0], stages=0, tasks=0, failed_tasks=0,
                   run_s=0.0, shuffle_write_mb=0.0, shuffle_fetch_wait_s=0.0,
                   spill_mb=0.0, scan_rows=0)
        for sid in range(start[1], end[1]):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            out["spill_mb"] += sd.diskBytesSpilled() / MB
            out["scan_rows"] += sd.inputRecords()
        return out


def plan_stats(df) -> dict:
    """Walk the executed (post-AQE) plan through the engine's profiler."""
    from columnar_estimator_sample_spark.plans.profiler import (
        collect_plan_metrics,
    )
    out = dict(physical_nodes=0, exchanges=0, broadcast_mb=0.0,
               python_s=0.0, python_boot_s=0.0, python_mb=0.0)

    def value(metrics, key, scale):
        kind, v = metrics.get(key, ("", 0))
        return v * (1e-9 if kind == "nsTiming" else scale)

    for rec in collect_plan_metrics(df, execute=False):
        op, m = rec["op"], rec["metrics"]
        if op.startswith(_PLAN_WRAPPERS) or "QueryStage" in op:
            continue
        out["physical_nodes"] += 1
        if op in ("Exchange", "ShuffleExchange", "BroadcastExchange"):
            out["exchanges"] += 1
        if op == "BroadcastExchange":
            out["broadcast_mb"] += value(m, "dataSize", 1 / MB)
        out["python_s"] += value(m, "pythonTotalTime", 1e-3)
        out["python_boot_s"] += (value(m, "pythonBootTime", 1e-3)
                                 + value(m, "pythonInitTime", 1e-3))
        out["python_mb"] += (value(m, "pythonDataSent", 1 / MB)
                             + value(m, "pythonDataReceived", 1 / MB))
    return out


class StreamRecorder:
    """StreamingQueryListener that keeps every micro-batch's progress."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches.append(dict(
                    start_ms=_iso_ms(p.timestamp),
                    duration=dict(p.durationMs),
                    rows=p.numInputRows))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()


def _iso_ms(stamp: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(
        stamp.replace("Z", "+00:00")).timestamp() * 1e3


class Criteo:
    """The seeded Criteo-shaped frame (ml.train.criteo_shaped_frame, 33
    columns) written as gzipped TFRecord and read back. Called like a
    registered query: the write happens at build time, the read-back frame
    is returned and its drain decodes every tf.Example."""

    EXACT = ["id", "label", "row_hash"] + [f"int{i}" for i in range(1, 14)] \
        + [f"cat{j}" for j in range(1, 5)]

    def __init__(self, rows: int, seed: int, tmp: str, tracer: Tracer):
        self.rows, self.seed, self.tmp, self.seq = rows, seed, tmp, 0
        self.tracer = tracer
        self.source = self.path = None

    def __call__(self, spark, data_dir: str):
        import shutil

        from columnar_estimator_sample_spark.ml.train import (
            criteo_shaped_frame,
        )
        from columnar_estimator_sample_spark.sources.tfrecord import (
            register_tfrecord,
        )
        register_tfrecord(spark)
        if self.path:
            shutil.rmtree(self.path, ignore_errors=True)
        self.seq += 1
        self.path = os.path.join(self.tmp, f"criteo_{self.seq}")
        self.source = criteo_shaped_frame(spark, self.rows, n_int=13,
                                          n_cat=4, seed=self.seed)
        with self.tracer.span("tfrecord.write"):
            (self.source.write.format("tfrecord_example")
             .option("compression", "gzip").mode("overwrite").save(self.path))
        return (spark.read.format("tfrecord_example")
                .schema(self.source.schema).load(self.path))

    def file_bytes(self) -> int:
        """Bytes of the TFRecord files the last write left on disk."""
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.path) for f in fs
                   if not f.startswith((".", "_")))

    def check(self, back) -> list[str]:
        """Compare exact columns of the read-back with the source frame."""
        from pyspark.sql import functions as F

        def fp(df):
            return df.agg(F.count(F.lit(1)), F.sum("id"), F.sum("label"),
                          F.expr(f"bit_xor(xxhash64({', '.join(self.EXACT)}))")
                          ).collect()[0]
        want, got = fp(self.source), fp(back)
        return [] if want == got else [f"read-back {got} != written {want}"]


def run(args) -> dict:
    t_start = time.perf_counter()
    tracer = Tracer(args.trace)
    layers: dict[str, float] = {}

    @contextlib.contextmanager
    def timed(name):
        t = time.perf_counter()
        with tracer.span(name):
            yield
        layers[name + "_s"] = time.perf_counter() - t

    wl = WORKLOADS[args.workload]
    with tracer.span("setup"):
        with timed("session.start"):
            from columnar_estimator_sample_spark.session import get_spark
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
        with timed("registry.load"):
            from columnar_estimator_sample_spark import registry
            fns = registry.queries()
        with timed("sources.open"):
            from columnar_estimator_sample_spark.sources import tables
            for name in wl["tables"]:
                tables.table(spark, args.data, name)
    setup_s = time.perf_counter() - t_start

    criteo = Criteo(INGEST_PROBE["criteo_rows"], args.seed,
                    os.environ["TMPDIR"], tracer)
    probe = INGEST_PROBE["queries"] if args.trace else []
    fns = {q: (criteo if q == CRITEO else fns[q])
           for q in wl["queries"] + probe}
    counters = SparkCounters(spark) if args.trace else None
    streams = StreamRecorder() if args.trace else None

    def run_query(q: str, traced: bool) -> tuple[dict, object]:
        rec: dict = {}
        if traced:
            mark0, io0 = counters.mark(), tree_write_bytes()
        with tracer.span("query", q):
            t0 = time.perf_counter()
            with tracer.span("build", q):
                df = fns[q](spark, args.data)
            t1 = time.perf_counter()
            if traced:
                mark1 = counters.mark()
            with tracer.span("plan", q):
                plan = df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tracer.span("exec", q):
                rec["rows"] = plan.execute().count()
            t3 = time.perf_counter()
            if traced:
                with tracer.span("metrics", q):
                    rec["build_jobs"] = counters.between(mark0, mark1)["jobs"]
                    rec["spark"] = counters.between(mark0, counters.mark())
                    rec["plan"] = plan_stats(df)
                    rec["write_mb"] = written_since(io0) / MB
        rec.update(build=t1 - t0, plan_s=t2 - t1, exec=t3 - t2, total=t3 - t0)
        if q == CRITEO:
            rec["file_bytes"] = criteo.file_bytes()
        return rec, df

    frames: dict = {}

    def run_round(order: list[str], traced: bool, reset: bool) -> dict:
        """Run ``order`` once; a traced round also records micro-batches."""
        rec: dict = {"traced": traced, "queries": {}, "errors": {}}
        tracer.enabled = traced
        if traced:
            spark.streams.addListener(streams.listener)
        wall0, t0 = time.time(), time.perf_counter()
        if reset:
            with tracer.span("reset_handles"):
                tables.reset_handles()
            rec["reset_s"] = time.perf_counter() - t0
        memo0 = memo_entries()
        for q in order:
            try:
                rec["queries"][q], frames[q] = run_query(q, traced)
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                rec["errors"][q] = f"{type(e).__name__}: {e}"[:300]
                frames.pop(q, None)
        rec["seconds"] = time.perf_counter() - t0
        rec["wall"] = [wall0, time.time()]
        rec["memo_added"] = memo_entries() - memo0
        if traced:
            counters.sc.listenerBus().waitUntilEmpty()
            spark.streams.removeListener(streams.listener)
        return rec

    rng = random.Random(args.seed)
    passes: list[dict] = []
    window_start = time.time()
    t_window = time.perf_counter()
    while len(passes) <= WARM_PASSES or \
            time.perf_counter() - t_window < args.seconds:
        order = list(wl["queries"])
        rng.shuffle(order)
        passes.append(run_round(order, args.trace and len(passes) % 2 == 0,
                                reset=False))
    window_end = time.time()

    # Untimed: collect each query's rows from its last built frame, before
    # the probe's reset_handles() drops the memos those frames may read.
    os.makedirs(args.results, exist_ok=True)
    checks: dict[str, list[str]] = {}

    def collect() -> None:
        for q, df in frames.items():
            if q == CRITEO:
                checks[q] = criteo.check(df)
                continue
            df.toPandas().to_parquet(
                os.path.join(args.results, f"{q}.parquet"))
            with open(os.path.join(args.results, f"{q}.types.json"),
                      "w") as f:
                json.dump({fl.name: fl.dataType.simpleString()
                           for fl in df.schema.fields}, f)
        frames.clear()

    collect()
    rounds = [run_round(probe, True, reset=True)] if args.trace else []
    collect()

    oracles = registry.oracle_sql()
    out = dict(setup_s=setup_s, layers=layers, passes=passes, rounds=rounds,
               checks=checks, window=[window_start, window_end],
               queries=wl["queries"], probe=probe,
               oracles={q: oracles[q] for q in fns if q in oracles})
    if args.trace:
        out["streams"] = streams.batches
        out["trace"] = tracer.export(args.trace_out, spark,
                                     stream_batches=streams.batches)
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--results", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args()
    args.trace = bool(args.trace)
    out = run(args)
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
