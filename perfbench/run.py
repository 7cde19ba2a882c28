"""Layered cold/warm benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. generates the seeded input tables under ``.perfbench_work/`` (untimed);
2. starts a fresh worker process (``perfbench/worker.py``), a single
   closed-loop client on ``local[nproc]``: set-up, one cold pass, then the
   warm passes (more only while ``--seconds`` have not passed);
3. samples the summed PSS of the worker, its JVM and its Python workers from
   ``/proc`` while the passes run;
4. after the worker has exited, checks every query's rows against its DuckDB
   oracle (``tools/check_oracle.compare``) and that each query drained the
   same row count on every pass.

It prints one line per metric and, last, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run and
writes its Chrome trace to ``.perfbench_out/``. README.md in this directory
defines every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from procfs import tree, tree_pss_mb  # noqa: E402
from workloads import CRITEO, WORKLOADS  # noqa: E402

WORKER_TIMEOUT_S = 160
MEM_SAMPLE_S = 0.25

END_TO_END = [
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("query_p50_s", "s"), ("query_tail_s", "s"), ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("session.start_s", "s"), ("registry.load_s", "s"),
    ("sources.open_s", "s"),
    ("sources.memo_entries_added", "count"),
    ("sources.memo_entries_added_warm", "count"),
    ("sources.reset_s", "s"), ("sources.tfrecord_write_s", "s"),
    ("sources.tfrecord_read_s", "s"), ("examples_per_s", "rows/s"),
    ("sources.disk_write_mb", "MB"), ("sources.write_bytes_per_row", "B"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("operators.python_s", "s"), ("operators.python_boot_s", "s"),
    ("operators.python_mb", "MB"),
    ("plans.plan_s", "s"), ("plans.physical_nodes", "count"),
    ("plans.exchanges", "count"),
    ("spark.run_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_fetch_wait_s", "s"), ("spark.spill_mb", "MB"),
    ("spark.scan_rows", "count"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.broadcast_mb", "MB"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.trigger_s", "s"), ("streaming.commit_s", "s"),
    ("trace.overhead_s", "s"), ("trace.accounting_gap_s", "s"),
] + [(f"operators.{q}_s", "s")
     for wl in WORKLOADS.values() for q in wl["queries"]]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(per_query: dict[str, list[float]]) -> tuple[float, str]:
    """The highest percentile of the pooled samples with at least ten
    samples beyond it. Below 40 samples that percentile is under p75, so
    the slowest query's median is reported instead. Returns (value, how it
    was taken)."""
    s = sorted(x for xs in per_query.values() for x in xs)
    n = len(s)
    if n >= 40:
        return s[n - 11], f"p{100.0 * (n - 10) / n:.1f} of {n} samples"
    q, v = max(((q, median(xs)) for q, xs in per_query.items()),
               key=lambda kv: kv[1])
    return v, f"median of the slowest query ({q}); {n} samples"


# ----------------------------------------------------------------- worker


def worker_env(root: str, work: str) -> dict[str, str]:
    """The worker's environment: the repo root on PYTHONPATH (Python
    workers import the engine package by name), every scratch path inside
    the work directory, and the engine's core count set to this host's."""
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=os.pathsep.join(
            [root] + [p for p in [env.get("PYTHONPATH")] if p]),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEM=env.get("SPARK_DRIVER_MEM", "1g"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def run_worker(args, root: str, work: str, data: str) -> tuple[dict, list]:
    """Run the worker to completion while sampling its tree's memory.
    Returns (worker output, [(wall time, PSS MiB)])."""
    out = os.path.join(work, "worker.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--results", os.path.join(work, "results"),
           "--out", out, "--trace-out",
           os.path.join(root, ".perfbench_out",
                        f"trace_{args.workload}_{args.seed}.json")]
    log_path = os.path.join(work, "worker.log")
    samples: list[tuple[float, float]] = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=worker_env(root, work),
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        deadline = time.time() + WORKER_TIMEOUT_S
        try:
            while proc.poll() is None and time.time() < deadline:
                samples.append((time.time(), tree_pss_mb(proc.pid)))
                time.sleep(MEM_SAMPLE_S)
        finally:
            stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"worker failed (exit {proc.returncode})")
    with open(out) as f:
        return json.load(f), samples


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (JVM, Python workers) and
    wait until they are gone."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
    with_group = [p for p in tree(proc.pid) if p != proc.pid]
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for pid in with_group:
        while os.path.exists(f"/proc/{pid}"):
            time.sleep(0.02)


# ------------------------------------------------------------ correctness


def check(res: dict, work: str, data: str, root: str,
          corrupt: str | None) -> dict[str, list[str]]:
    """Problems per query; an empty list means the query passed."""
    import pandas as pd
    sys.path.insert(0, os.path.join(root, "tools"))
    from check_oracle import compare, compare_types, run_duckdb

    results = os.path.join(work, "results")
    queries = res["queries"] + res["probe"]
    rounds = res["passes"] + res["rounds"]
    problems: dict[str, list[str]] = {q: [] for q in queries}
    for p in rounds:
        for q, err in p["errors"].items():
            problems[q].append(err)
    for q in queries:
        counts = {p["queries"][q]["rows"] for p in rounds
                  if q in p["queries"]}
        if len(counts) > 1:
            problems[q].append(f"drained row count differs between passes: "
                               f"{sorted(counts)}")
    for q, errs in res["checks"].items():
        problems[q] += errs
    for q in set(queries) - set(res["oracles"]) - set(res["checks"]):
        problems[q].append("no oracle to check the rows against")
    for q, sql in res["oracles"].items():
        path = os.path.join(results, f"{q}.parquet")
        if problems[q] or not os.path.exists(path):
            continue
        sdf = pd.read_parquet(path)
        with open(os.path.join(results, f"{q}.types.json")) as f:
            spark_types = json.load(f)
        try:
            odf, duck_types = run_duckdb(sql, data)
        except Exception as e:  # noqa: BLE001 - an oracle error fails q
            problems[q].append(f"oracle error: {e}")
            continue
        if q == corrupt:  # self-test: a deliberately wrong expected result
            odf = odf.iloc[:-1] if len(odf) else odf
        problems[q] += compare_types(duck_types, spark_types)
        problems[q] += compare(q, sdf, odf)
    return problems


# ---------------------------------------------------------------- metrics


def end_to_end(res: dict, mem: list) -> tuple[dict, list[str]]:
    passes = res["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    per_query = {q: [p["queries"][q]["total"] for p in warm
                     if q in p["queries"]] for q in res["queries"]}
    samples = [x for xs in per_query.values() for x in xs]
    t, how = tail(per_query)
    w0, w1 = res["window"]
    m = {
        "setup_s": res["setup_s"],
        "cold_pass_s": passes[0]["seconds"],
        "warm_pass_s": median([p["seconds"] for p in warm]),
        "query_p50_s": median(samples),
        "query_tail_s": t,
        "peak_rss_mb": max((v for ts, v in mem if w0 <= ts <= w1),
                           default=0.0),
    }
    notes = [f"query_tail_s is the {how}",
             f"query_p50_s is the median of {len(samples)} warm "
             f"(query, pass) samples; warm passes: {len(warm)}"]
    return m, notes


def per_layer(res: dict) -> tuple[dict, list[str]]:
    passes = res["passes"]
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]

    def per_pass(fn):
        return median([fn(p) for p in traced])

    def qsum(p, fn):
        return sum(fn(r) for r in p["queries"].values())

    def spark(key):
        return per_pass(lambda p: qsum(p, lambda r: r["spark"][key]))

    def plan(key):
        return per_pass(lambda p: qsum(p, lambda r: r["plan"][key]))

    # the write-path probe that follows the passes (one round)
    rounds = [r for r in res["rounds"] if CRITEO in r["queries"]]

    def per_round(fn):
        return median([fn(r) for r in rounds])

    def crit(r, key):
        return r["queries"][CRITEO][key]

    def batches(r):
        w0, w1 = r["wall"]
        return [b for b in res["streams"]
                if w0 * 1e3 <= b["start_ms"] <= w1 * 1e3]

    m = dict(res["layers"])
    m.update({
        "sources.memo_entries_added": passes[0]["memo_added"],
        "sources.memo_entries_added_warm": max(
            p["memo_added"] for p in passes[1:]),
        "sources.reset_s": per_round(lambda r: r["reset_s"]),
        "sources.tfrecord_write_s": per_round(lambda r: crit(r, "build")),
        "sources.tfrecord_read_s": per_round(lambda r: crit(r, "exec")),
        "examples_per_s": per_round(
            lambda r: crit(r, "rows") / crit(r, "exec")),
        "sources.disk_write_mb": per_round(
            lambda r: qsum(r, lambda q: q["write_mb"])),
        "sources.write_bytes_per_row": per_round(
            lambda r: crit(r, "file_bytes") / crit(r, "rows")),
        "operators.build_s": per_pass(lambda p: qsum(p, lambda r: r["build"])),
        "operators.build_jobs": per_pass(
            lambda p: qsum(p, lambda r: r["build_jobs"])),
        "operators.python_s": plan("python_s"),
        "operators.python_boot_s": plan("python_boot_s"),
        "operators.python_mb": plan("python_mb"),
        "plans.plan_s": per_pass(lambda p: qsum(p, lambda r: r["plan_s"])),
        "plans.physical_nodes": plan("physical_nodes"),
        "plans.exchanges": plan("exchanges"),
        "spark.broadcast_mb": plan("broadcast_mb"),
        "streaming.batches": per_round(lambda r: len(batches(r))),
        "streaming.input_rows": per_round(
            lambda r: sum(b["rows"] for b in batches(r))),
        "streaming.trigger_s": per_round(lambda r: sum(
            b["duration"].get("triggerExecution", 0)
            for b in batches(r)) / 1e3),
        "streaming.commit_s": per_round(lambda r: sum(
            b["duration"].get("commitOffsets", 0)
            + b["duration"].get("walCommit", 0) for b in batches(r)) / 1e3),
        "trace.overhead_s": median([p["seconds"] for p in traced])
        - median([p["seconds"] for p in untraced]),
    })
    for key in ("run_s", "shuffle_write_mb", "shuffle_fetch_wait_s",
                "spill_mb", "scan_rows", "jobs", "stages", "tasks",
                "failed_tasks"):
        m[f"spark.{key}"] = spark(key)

    notes, gap = [], 0.0
    for q in res["queries"]:
        plain = median([p["queries"][q]["total"] for p in untraced
                        if q in p["queries"]])
        phases = median([sum(p["queries"][q][k]
                             for k in ("build", "plan_s", "exec"))
                         for p in traced if q in p["queries"]])
        m[f"operators.{q}_s"] = plain
        gap += phases - plain
        notes.append(f"traced build+plan+exec {phases:.3f} s vs untraced "
                     f"{plain:.3f} s  {q}")
    m["trace.accounting_gap_s"] = gap
    top = res["trace"]["top_ops"]
    notes.append(f"trace: {res['trace']['spans']} spans -> "
                 f"{res['trace']['path']}")
    for r in top[:10]:
        notes.append(f"top self time {r['total_dur'] / 1e6:8.3f} s  "
                     f"{r['arg_name']}")
    return m, notes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size; 1 gives the sf0.01 row counts")
    ap.add_argument("--corrupt-oracle", metavar="QUERY",
                    help="self-test: drop one row of QUERY's expected result")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("__spark_entry__.py", "columnar_estimator_sample_spark",
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository "
                  "root", file=sys.stderr)
            return 2

    # A TERM from outside still runs the cleanup below: the worker's
    # process group is stopped and the work directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}_{args.seed}_{os.getpid()}")
    data = os.path.join(work, "data")
    try:
        gen.generate(data, args.seed, args.scale)
        res, mem = run_worker(args, root, work, data)
        problems = check(res, work, data, root, args.corrupt_oracle)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    if args.trace:
        metrics, notes = per_layer(res)
        units = dict(PER_LAYER)
    else:
        metrics, notes = end_to_end(res, mem)
        units = dict(END_TO_END)
    failed = sorted(q for q, errs in problems.items() if errs)
    attempted = len(problems)
    for name, unit in units.items():
        print(f"{name} = {metrics.get(name, 0.0):.6g} {unit}")
    print(f"failed_frac = {len(failed) / attempted:.6g} ratio")
    for note in notes:
        print(f"# {note}")
    for q in failed:
        print(f"# FAIL {q}: {'; '.join(problems[q])[:400]}")
    print(f"# verdict: {'correct' if not failed else 'INCORRECT'} "
          f"({attempted - len(failed)}/{attempted} queries pass)")
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {name: {"value": float(metrics.get(name, 0.0)),
                           "unit": unit} for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
