"""Self-test of the benchmark at sf0.001-sized inputs.

    python3 perfbench/selftest.py

Runs ``run.py`` three times on the ``olap`` workload with small inputs and
checks that:

- every end-to-end metric is printed by name with its unit, and the run is
  correct;
- the traced run prints every per-layer metric, runs the write-path probe
  and writes a Chrome trace that parses through
  ``operators.flatten.flatten_trace`` -> ``trace_top_ops`` (the run ranks
  it; this re-parses the file);
- a deliberately wrong expected result makes the run report the query as
  failed, so ``failed_frac`` rises above 0.

Exits 0 when all checks pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402

SCALE = "0.1"  # sf0.001 row counts


def bench(*extra: str) -> tuple[dict, list[str]]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "olap",
         "--seed", "3", "--seconds", "1", "--scale", SCALE, *extra],
        capture_output=True, text=True, timeout=300, check=True).stdout
    lines = out.strip().splitlines()
    return json.loads(lines[-1]), lines


def expect(ok: bool, what: str) -> None:
    print(("ok    " if ok else "FAIL  ") + what)
    if not ok:
        raise SystemExit(1)


def main() -> int:
    res, lines = bench("--trace", "0")
    expect(res["correct"] and res["failed"] == 0, "untraced run is correct")
    for name, unit in END_TO_END:
        expect(any(ln.startswith(f"{name} = ") and ln.endswith(f" {unit}")
                   for ln in lines), f"prints {name} in {unit}")
        expect(res["metrics"][name] == {"value": res["metrics"][name]["value"],
                                        "unit": unit}, f"JSON has {name}")
    expect(any(ln.startswith("failed_frac = 0 ") for ln in lines),
           "prints failed_frac = 0")

    res, lines = bench("--trace", "1")
    expect(sorted(res["metrics"]) == sorted(n for n, _ in PER_LAYER),
           "traced run reports every per-layer metric")
    trace = os.path.join(os.getcwd(), ".perfbench_out", "trace_olap_3.json")
    with open(trace) as f:
        names = {e["name"] for e in json.load(f)["traceEvents"]}
    expect({"setup", "session.start", "registry.load", "sources.open",
            "query", "build", "plan", "exec", "metrics"} <= names,
           "trace holds the setup and query spans")
    expect({"reset_handles", "tfrecord.write", "streaming.batch"} <= names,
           "trace holds the write-path probe's spans")
    expect(res["correct"] and res["attempted"] == 12,
           "traced run checks the 10 queries and the 2 probe queries")
    expect(any(ln.startswith("# top self time") for ln in lines),
           "run ranks the trace with trace_top_ops")
    ranked = subprocess.run(
        [sys.executable, "-c", (
            "import sys; from columnar_estimator_sample_spark.session "
            "import get_spark; from columnar_estimator_sample_spark."
            "operators.flatten import flatten_trace, trace_top_ops; "
            "s = get_spark('selftest'); "
            "print(len(trace_top_ops(flatten_trace(s, sys.argv[1]))"
            ".collect()))"), trace + ".self.ndjson"],
        capture_output=True, text=True, timeout=300, check=True,
        env=dict(os.environ, PYTHONPATH=os.getcwd(), SPARK_DRIVER_MEM="1g"))
    expect(int(ranked.stdout.strip().splitlines()[-1]) > 0,
           "self-time trace parses through flatten_trace -> trace_top_ops")

    res, lines = bench("--trace", "0", "--corrupt-oracle",
                       "q06_forecast_revenue")
    expect(not res["correct"] and res["failed"] == 1,
           "a wrong expected result fails its query")
    expect(any(ln.startswith("failed_frac = 0.1 ") for ln in lines),
           "failed_frac rises to 1/10")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
