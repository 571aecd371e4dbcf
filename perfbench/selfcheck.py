#!/usr/bin/env python3
"""Self-check of the benchmark's own code (not of the engine):

    python3 perfbench/selfcheck.py

Covers the median and per-run arithmetic, the result line format, the
strict frame comparison, the profile's rounding and the near-duplicate
group finder, then builds
if needed and runs the Scala self-check (CDC reference fold, change-log
generator). Exits non-zero on any failure."""
import json
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import run  # noqa: E402

failures = 0


def check(what, ok):
    global failures
    print(f"{'PASS' if ok else 'FAIL'} {what}")
    failures += not ok


def op(rnd, name, s, ok=True, call=True):
    return {"round": rnd, "name": name, "s": s, "rows": 10, "call": call, "ok": ok,
            "error": ""}


res = {"setup": {"session_s": 2.0, "prepare_s": [5.0, 1.0, 2.0], "warmup_s": 0.5},
       "ops": [op(1, "a", 1.0), op(1, "b", 3.0), op(2, "a", 2.0), op(2, "b", 2.0, ok=False),
               op(3, "a", 1.5), op(3, "b", 4.0), op(3, "step", 0.5, call=False)]}
e = run.end_to_end(res)
check("setup_s = session + median of the prepares + warm-up", e["setup_s"] == 4.5)
check("round_s = median over rounds of the summed successful ops", e["round_s"] == 4.0)
check("call_p50_s = median of successful interactive calls", e["call_p50_s"] == 2.0)
check("a failed op adds no time", run.end_to_end({**res, "ops": res["ops"][:3]})["round_s"] == 3.0)
check("median of an even count averages the middle two", run.median([1, 2, 3, 10]) == 2.5)

line = run.result_line(True, 7, 1, e, run.END_TO_END)
parsed = json.loads(line)
check("result line has exactly correct, attempted, failed, metrics",
      list(parsed) == ["correct", "attempted", "failed", "metrics"])
check("every end-to-end metric has a value and its unit, and only those",
      all(parsed["metrics"][k] == {"value": e[k], "unit": u} for k, u in run.END_TO_END.items())
      and set(parsed["metrics"]) == set(run.END_TO_END))
check("counts are integers", parsed["attempted"] == 7 and parsed["failed"] == 1)
layer_line = json.loads(run.result_line(True, 1, 0, {"spark.jobs": 3}, run.PER_LAYER))
check("a per-layer metric the run did not produce reads 0",
      layer_line["metrics"]["spark.task_s"]["value"] == 0.0
      and layer_line["metrics"]["spark.jobs"]["value"] == 3.0)

bench = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
if os.path.exists(bench):
    spec = json.load(open(bench))
    check("BENCHMARK.json end_to_end names and units match run.py",
          {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END)
    check("BENCHMARK.json per_layer names and units match run.py",
          {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER)
    check("BENCHMARK.json workloads match run.py",
          [w["name"] for w in spec["workloads"]] == run.WORKLOADS)

a = pd.DataFrame({"x": [1, 2], "y": ["p", None]})
check("same frames compare equal", checks.same_frame(a, a.copy())[0])
check("column order does not matter", checks.same_frame(a, a[["y", "x"]])[0])
check("1.0 and 1 differ (strict rendering)",
      not checks.same_frame(pd.DataFrame({"x": [1.0]}), pd.DataFrame({"x": [1]}))[0])
check("row order matters", not checks.same_frame(a, a.iloc[::-1])[0])

check("the profile's expected average rounds half up at the decimal rendering",
      checks._round_half_up(0.0625, 3) == 0.063 and checks._round_half_up(2.0005, 3) == 2.001
      and checks._round_half_up(1 / 3, 3) == 0.333)

docs = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5, 6],
                     "text": ["a b c d", "a b c d", "a nd3 c d", "x y z", "x nd5 z", "q nd6"]})
groups = sorted(sorted(g) for g in checks.near_dup_groups(docs))
check("near-duplicate groups are found from the nd<id> marker",
      groups == [[1, 2, 3], [4, 5]])

cp = run.build()
java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
    if os.environ.get("JAVA_HOME") else "java"
p = subprocess.run([java, "-cp", cp, "perfbench.SelfCheck"], stdin=subprocess.DEVNULL)
check("Scala self-check", p.returncode == 0)

print("all passed" if not failures else f"{failures} failed")
sys.exit(1 if failures else 0)
