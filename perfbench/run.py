#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one command.

    python3 perfbench/run.py --workload <etl_star|llm_data>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The command builds the library and the
benchmark driver from source on first use (sbt, into perfbench/target),
generates the workload's inputs from the seed into a private run directory
under .bench_build/, runs the workload in one JVM with private, empty
scratch dirs (java.io.tmpdir, spark.local.dir), checks the outputs, and
prints the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The line
before it is a report with the input properties, the workload-specific
figures and every failed check. The run's result and span files are kept
under .bench_build/perfbench/results/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("etl_star", "llm_data")
JVM_TIMEOUT_S = 150
WARM_SCALE = 0.1

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for r, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(r, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile with sbt when the classpath file is missing or stale."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(p) <= stamp for p in sources()):
            return
    log("building (sbt writeClasspath)")
    # Resolve offline from the local caches, as the repository's own build
    # does, unless the caller configured sbt already.
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"build failed (exit {r.returncode})")


def start_jvm(workload, run_dir, seconds, trace):
    """Start the workload's JVM; it builds its session while the inputs
    are generated, and waits for the ready file before set-up."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(run_dir, "tmp")
    cmd = (["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", "--workload", workload,
              "--inputs", os.path.join(run_dir, "inputs"), "--warm", os.path.join(run_dir, "warm"),
              "--ready", os.path.join(run_dir, "READY"), "--out", os.path.join(run_dir, "out"),
              "--tmp", tmp, "--seconds", str(seconds), "--trace", str(trace)])
    # SPARK_LOCAL_DIRS would override spark.local.dir; keep both private.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    return subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=tmp, env=env)


def finish_jvm(proc):
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code is None:
        raise SystemExit(f"JVM did not finish within {JVM_TIMEOUT_S} s")
    if code != 0:
        raise SystemExit(f"JVM exited with {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("library sources (src/main/scala/graft) not found next to perfbench/")
    sys.path.insert(0, HERE)
    import checks
    import gen
    import metrics

    build()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, warm = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "warm")
    out, tmp = os.path.join(run_dir, "out"), os.path.join(run_dir, "tmp")
    for d in (out, tmp):
        os.makedirs(d)
    proc = None
    try:
        proc = start_jvm(a.workload, run_dir, a.seconds, a.trace)
        t0 = time.time()
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
        gen.generate(warm, a.seed, WARM_SCALE, cpus)
        props = gen.generate(inputs, a.seed, 1.0, cpus)
        open(os.path.join(run_dir, "READY"), "w").close()
        log(f"inputs generated in {time.time() - t0:.1f}s: {json.dumps(props)}")
        finish_jvm(proc)
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)

        res = result["res_dir"]
        checked = checks.oracle_checks(f"{inputs}/data", res, result["oracle"])
        checked += [(c["name"], c["error"]) for c in result["checks"]]
        if a.workload == "etl_star":
            checked += checks.etl_checks(f"{inputs}/json", f"{res}/etl")
        bad_checks = [(n, e) for n, e in checked if e]
        failed_ops = result["failures"]

        e2e, report = metrics.end_to_end(result)
        report.update({"workload": a.workload, "seed": a.seed, "inputs": props,
                       "checks": len(checked), "failed_checks": bad_checks,
                       "failed_ops": failed_ops,
                       "fail_frac": (len(bad_checks) + len(failed_ops))
                       / (len(checked) + result["attempted"])})
        if a.workload == "llm_data":
            c = result["census"]
            report["space_amp"] = c["index_bytes"] / props["corpus_bytes"]
        if a.trace:
            layer, lrep = metrics.per_layer(
                metrics.load_spans(os.path.join(out, "spans.jsonl")), result)
            report.update(lrep)
            shown = {k: {"value": layer[k], "unit": u} for k, u in metrics.LAYER_UNITS.items()}
        else:
            shown = {k: {"value": e2e[k], "unit": u} for k, u in metrics.E2E_UNITS.items()}
        report["end_to_end"] = e2e

        keep = os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("result.json", "spans.jsonl"):
            if os.path.exists(os.path.join(out, f)):
                shutil.copy(os.path.join(out, f), keep)
        with open(os.path.join(keep, "report.json"), "w") as f:
            json.dump(report, f, indent=1)

        print(json.dumps({"report": report}))
        print(json.dumps({
            "correct": not bad_checks and not failed_ops,
            "attempted": result["attempted"] + len(checked),
            "failed": len(failed_ops) + len(bad_checks),
            "metrics": shown}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
