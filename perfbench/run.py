#!/usr/bin/env python3
"""Benchmark of the graft engine: the work its users wait on.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark's own code with sbt into perfbench/target (see build.sbt); later
runs reuse that build. Each run is one JVM on local[N], N = the number of
cores. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and every per-layer figure is also written to
perfbench/out/trace-<workload>-seed<n>.json. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["medallion", "curation"]
QUERIES = ["p56_doremi_mix", "p52_rm3_expansion", "p14_embed_lsh_neardup"]
PANELS = ["account_balance_distribution", "customer_acquisition_trends",
          "daily_transaction_volumes", "data_quality_metrics",
          "fraud_detection_alerts"]
# Call sites that run Spark actions in these workloads. Lazy operators
# (TextAnalysis, Mix, Quality, Ann, Retrieval) run inside the action
# that writes the output, so their work shows under `output`.
SITES = ["Dedup", "Curate", "Fanout", "Ingest", "Lake", "Inventory",
         "PipelineInventory", "Tables", "output"]
LAYERS = ["gen", "sources", "operators", "functions", "queries", "pipelines",
          "streaming", "output"]

END_TO_END = {"setup_s": "s", "round_s": "s"}

PER_LAYER = {
    "call.p50_s": "s", "process.cpu_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.peak_execution_memory_bytes": "bytes",
    "sql.file_scans": "count",
}
PER_LAYER.update({f"layer.{l}.s": "s" for l in LAYERS})
for s in SITES:
    PER_LAYER[f"site.{s}.jobs"] = "count"
    PER_LAYER[f"site.{s}.task_s"] = "s"
PER_LAYER.update({"medallion.gen_bronze_s": "s", "medallion.quality_report_s": "s",
                  "medallion.bronze_bytes": "bytes"})
PER_LAYER.update({f"medallion.gold_s.{p}": "s" for p in PANELS})
PER_LAYER.update({"curate.profile_s": "s", "curate.run_s": "s", "curate.write_s": "s",
                  "curate.scans.documents": "count", "curate.jobs": "count",
                  "curate.survivors": "count"})
PER_LAYER.update({"cdc.batch_max_s": "s", "cdc.jobs_per_batch": "count",
                  "cdc.buckets_rewritten": "count", "cdc.snapshot_bytes": "bytes",
                  "cdc.large_rows_per_s": "rows/s"})
for q in QUERIES:
    PER_LAYER.update({f"q.{q}.s": "s", f"q.{q}.jobs": "count",
                      f"q.{q}.task_s": "s", f"q.{q}.scans.documents": "count"})

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
# Beyond --seconds: JVM and session start, set-up, one round past the
# timer, the in-JVM checks.
JVM_TIMEOUT_S = 160


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        if os.path.isfile(d):
            yield d
        for base, _, files in os.walk(d):
            if os.sep + "target" in base:
                continue
            for f in files:
                yield os.path.join(base, f)


def build():
    """Compile with sbt unless the build is newer than every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources at src/main/scala/graft: run from the root of a checkout")
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return open(CLASSPATH).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    print("perfbench: building with sbt", file=sys.stderr)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if os.path.join(TARGET, "scala-") in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    """The end-to-end metrics of one run from its operation records, plus
    the median interactive call (`call_p50_s`), which the traced run
    reports as the per-layer `call.p50_s`. Failed operations add no time
    to any metric."""
    ok = [o for o in res["ops"] if o["ok"]]
    rounds = {}
    for o in ok:
        rounds[o["round"]] = rounds.get(o["round"], 0.0) + o["s"]
    setup = res["setup"]
    return {
        "setup_s": setup["session_s"] + median(setup["prepare_s"]) + setup["warmup_s"],
        "round_s": median(list(rounds.values())),
        "call_p50_s": median([o["s"] for o in ok if o["call"]]),
    }


def result_line(correct, attempted, failed, values, units):
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in units.items()}})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    env = dict(os.environ, GRAFT_QUALITY_DIR=os.path.join(work, "quality"),
               SPARK_LOCAL_DIRS=tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, *JAVA_OPENS, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--result", result]
    p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr)
    # the JVM never outlives this process, however it ends
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S + a.seconds)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if code is None:
        fail(f"the run did not end within {JVM_TIMEOUT_S + a.seconds:.0f} s")
    if code != 0 or not os.path.exists(result):
        fail(f"the run exited with code {code}")
    res = json.load(open(result))
    t_checks = time.time()

    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    import checks as oracle  # duckdb loads only once the JVM is done
    checks += [(n, bool(ok), str(d)) for n, ok, d in oracle.run_all(res["facts"])]
    for name, ok, detail in checks:
        print(f"perfbench: {'PASS' if ok else 'FAIL'} {name}: {detail}", file=sys.stderr)
    correct = all(ok for _, ok, _ in checks)
    print(f"perfbench: checks out of the JVM took {time.time() - t_checks:.1f} s", file=sys.stderr)
    attempted = len(res["ops"])
    failed = sum(not o["ok"] for o in res["ops"])
    e2e = end_to_end(res)
    print("perfbench: ops " + ", ".join(
        f"r{o['round']}/{o['name']}={o['s']:.2f}{'' if o['ok'] else ' FAILED'}"
        for o in res["ops"]), file=sys.stderr)
    st = res["setup"]
    print(f"perfbench: setup: session {st['session_s']:.2f} s, prepare "
          + ", ".join(f"{x:.2f}" for x in st["prepare_s"])
          + f" s, warm-up {st['warmup_s']:.2f} s", file=sys.stderr)
    print(f"perfbench: {a.workload} seed {a.seed}: {res['rounds']} rounds, "
          + ", ".join(f"{k}={v:.4f}" for k, v in e2e.items()), file=sys.stderr)

    if a.trace:
        layers = res["layers"]
        values = {k: layers.get(k, 0.0) for k in PER_LAYER}
        values["call.p50_s"] = e2e["call_p50_s"]
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "rounds": res["rounds"],
                       "end_to_end": e2e, "per_layer": values,
                       "unlisted": {k: v for k, v in layers.items() if k not in PER_LAYER},
                       "detail": res["detail"], "checks": checks}, f, indent=1)
        line = result_line(correct, attempted, failed, values, PER_LAYER)
    else:
        line = result_line(correct, attempted, failed, e2e, END_TO_END)
    shutil.rmtree(work, ignore_errors=True)
    print(line)


if __name__ == "__main__":
    main()
