#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload <ingest|serve> \
      --seed <n> --seconds <s> --trace <0|1>

Steps: build the engine and `perfbench.Main` (first run in a checkout, or when
a source changed), generate the workload's inputs from the seed, run the
engine process (`perfbench.Main`) on them, check its outputs, write the
full artifact under `perfbench/.runs/`, and print one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
RUNS = os.path.join(BENCH, ".runs")
BUILD_TIMEOUT_S = 840
ENGINE_TIMEOUT_S = 150
# Spark on JDK 17 outside spark-submit needs these (the engine's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Files whose change must trigger a rebuild."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/main/**/*.scala"]
    out = []
    for p in pats:
        out += glob.glob(os.path.join(root, p), recursive=True)
    return out


def classpath(root):
    """Compile engine + driver with sbt when stale; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    srcs = sources(root)
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= max(os.path.getmtime(f) for f in srcs):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf, stdin=subprocess.DEVNULL,
            text=True, timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_engine(cp, workload, inputs, state, result, seconds, trace, seed, cores):
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, inputs, state, result, str(seconds),
            str(trace), str(seed), str(cores)]
    log = os.path.join(state, "engine.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             cwd=state)
        try:
            p.wait(timeout=ENGINE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            tail = f.read()[-3000:]
        die(f"engine process failed (exit {p.returncode}):\n{tail}")
    with open(result) as f:
        return json.load(f)


def contract(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def e2e_values(res):
    n = res["named"]
    return {
        "setup_s": n["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "ops_per_s": n["ops_per_s"],
        "op_p50_ms": n["op_p50_ms"],
        "pass_s": n["pass_s"],
    }


def trace_overhead(workload, traced_pass_s):
    """Gap between this traced run and the untraced runs of the same
    workload recorded in this checkout (median of their wall pass_s)."""
    base = []
    for f in glob.glob(os.path.join(RUNS, f"{workload}-s*-t0-*.json")):
        try:
            with open(f) as fh:
                base.append(json.load(fh)["named"]["pass_s"])
        except (OSError, KeyError, ValueError):
            continue
    if not base:
        return 0.0, 0
    return traced_pass_s / statistics.median(base) - 1.0, len(base)


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.exists(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run from the root of an engine checkout (build.sbt and src/main/scala/graft not found)")
    spec = contract(root)
    cores = len(os.sched_getaffinity(0))
    cp = classpath(root)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    inputs = os.path.join(WORK, f"in-{tag}")
    state = os.path.join(WORK, f"state-{tag}")
    for d in (inputs, state):
        shutil.rmtree(d, ignore_errors=True)
    t_gen = time.time()
    expected = gen.generate(a.workload, a.seed, inputs)
    gen_s = time.time() - t_gen
    os.makedirs(state)
    t_engine = time.time()
    res = run_engine(cp, a.workload, inputs, state, os.path.join(state, "result.json"),
                     a.seconds, a.trace, a.seed, cores)
    engine_s = time.time() - t_engine

    # output checks, outside every timed section
    t_check = time.time()
    errors = list(res["errors"])
    failed = res["failed"]
    report = checks.run(a.workload, res, expected)
    for what, msg in report["failures"]:
        errors.append({"op": f"check:{what}", "error": msg})
    failed = min(res["attempted"], failed + len(report["failures"]))
    attempted = res["attempted"]
    check_s = time.time() - t_check

    e2e = e2e_values(res)
    layers = dict(res["layers"])
    if "lsh_recall" in report["summary"]:
        layers["operators.lsh_recall"] = report["summary"]["lsh_recall"]
    if a.trace:
        layers["trace.overhead_frac"], layers["trace.baseline_runs"] = trace_overhead(
            a.workload, res["named"]["pass_s"])
        layers["trace.bookkeeping_frac"] = layers.get("trace.bookkeeping_s", 0.0) / engine_s
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    correct = failed == 0 and not report["failures"]

    os.makedirs(RUNS, exist_ok=True)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "load": f"closed loop, 1 client, no think time, local[{cores}]",
        "correct": correct, "attempted": attempted, "failed": failed,
        "failed_frac": failed / max(1, attempted), "errors": errors,
        "e2e": e2e, "named": res["named"], "layers": layers, "ops": res["ops"],
        "op_seconds": res["op_seconds"],
        "checks": report["summary"], "input_gen_s": gen_s, "engine_s": engine_s, "check_s": check_s,
        "spans": res.get("spans", []),
    }
    with open(os.path.join(RUNS, f"{tag}-{int(time.time() * 1000)}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for d in (inputs, state):
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
