"""graft pipeline benchmark: one seeded workload, fresh JVMs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source on first use (perfbench/build.py),
generates the workload's inputs from the seed (cached under
.bench_data/inputs, never timed), runs the harness JVM (with --trace 0,
JVMS of them, one after the other), verifies every output they wrote,
and prints one JSON line last: the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1.
A full record of the run (machine shape, raw samples, spans) goes to
.bench_data/artifacts/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import tomllib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import verify  # noqa: E402

DATA = os.path.join(ROOT, ".bench_data")
HEAP = "3g"
# A 1 GB starting heap keeps the JVM's resident size from depending on
# when G1 decides to grow the heap: from the JVM's default start, peak
# RSS on etl_join_agg varied between 1.1 and 1.6 GB from run to run.
HEAP_START = "1g"
JVM_TIMEOUT_S = 150
# Fresh JVMs per untraced run. Set-up, the first `graft run` and the
# checks after it vary from one process to the next (by 10% and more on
# a shared 4-vCPU host), so each JVM gives one sample of them. Only the
# first JVM goes on to a warm run; the others stop after the checks,
# which keeps the runs of all workloads within the time budget of
# BENCHMARK.json on a slow host.
JVMS = 2

# What Spark needs on JDK 17 outside spark-submit (the same list as the
# javaOptions in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tree_bytes_hashes(path):
    """Sorted content hashes of the data files under `path`: equal lists
    mean byte-identical outputs (part-file names carry a random id)."""
    out = []
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        with open(f, "rb") as fh:
            out.append(hashlib.sha256(fh.read()).hexdigest())
    return sorted(out)


def launch(workload, inputs, rundir, seconds, trace, cold_only=False):
    with open(os.path.join(HERE, "workloads", f"{workload}.toml")) as fh:
        cfg = fh.read().replace("{inputs}", inputs).replace("{repo}", ROOT)
    # the sink directories under out/ are kept for verification
    sinks = [p["options"]["output_path"].removeprefix("out/")
             for p in tomllib.loads(cfg)["output_plugins"]]
    os.makedirs(rundir)
    cfg_path = os.path.join(rundir, "config.toml")
    with open(cfg_path, "w") as fh:
        fh.write(cfg)
    tmp = os.path.join(rundir, "tmp")
    iters = os.path.join(rundir, "iters")
    os.makedirs(tmp)
    os.makedirs(iters)
    result = os.path.join(rundir, "result.json")
    cpus = str(len(os.sched_getaffinity(0)))  # what `nproc` prints
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    env.pop("SPARK_MASTER", None)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP_START}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", build.classpath(), "graftbench.Main",
                          "--config", cfg_path, "--seconds", str(seconds),
                          "--trace", str(trace), "--result", result, "--iters", iters,
                          "--keep", ",".join(sinks), "--cold-only", str(int(cold_only))])
    log = os.path.join(rundir, "jvm.log")
    with open(log, "w") as lf:
        cmd += ["--launch-ns", str(time.time_ns())]
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=rundir, env=env)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: JVM timed out; log in {log}")
    if p.returncode != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited {p.returncode}")
    with open(result) as fh:
        res = json.load(fh)
    with open(log) as fh:
        # distinct CLI error lines, e.g. the reason a `graft check` fails
        res["errors"] = sorted({ln.strip() for ln in fh if ln.startswith("[ERROR]")})
    res["machine"] = {"cpus": int(cpus), "master": res.get("master"),
                      "heap": f"-Xms{HEAP_START} -Xmx{HEAP}",
                      "max_heap_mb": res.get("max_heap_mb"), "jdk": res.get("jdk"),
                      "spark": res.get("spark")}
    return res, iters


def end_to_end(jvms, check):
    """Metrics over the JVMs of one run: set-up, first run and checks are
    medians over the JVMs; the warm run and the peak RSS come from the
    first JVM, the only one with a warm run. Every run's output is
    verified."""
    runs, checks, warm_runs, verdicts = [], [], [], []
    for res, iters in jvms:
        runs += res["runs"]
        checks += res["checks"]
        verdicts += [check(os.path.join(iters, r["dir"])) if r["code"] == 0
                     else (False, 0.0, None) for r in res["runs"]]
        # timings come from the first warm run (the JIT is still warming
        # up); any later runs are verified and counted only
        warm_runs += res["runs"][1:1 + res["warm_rounds"]]
    run_ok = [r["code"] == 0 and v[0] for r, v in zip(runs, verdicts)]
    check_ok = [c["code"] == 0 for c in checks]
    passing = [c["s"] for c in checks if c["code"] == 0]
    metrics = {
        "setup_s": median([res["setup_s"] for res, _ in jvms]),
        "first_run_s": median([res["runs"][0]["s"] for res, _ in jvms]),
        "run_s": median([r["s"] for r in warm_runs]),
        # a check that fails does so on every iteration (the seed's
        # recorded failures); its time to the verdict is reported then
        "check_s": median(passing or [c["s"] for c in checks]),
        "peak_rss_mb": jvms[0][0]["peak_rss_mb"],
        "output_bytes": median([r["bytes"] for r in runs]),
        "pass_rate": (sum(run_ok) + sum(check_ok)) / (len(runs) + len(checks)),
        "recall_at_k": statistics.mean(v[1] for v in verdicts),
    }
    detail = {"jvms": [{"setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"],
                        "setup_layers": res["layers"], "runs": res["runs"],
                        "checks": res["checks"]} for res, _ in jvms],
              "verdicts": verdicts, "check_failures": sum(not c for c in check_ok),
              "errors": sorted({e for res, _ in jvms for e in res["errors"]})}
    return metrics, len(runs), len(runs) - sum(run_ok), detail


def per_layer(res, iters, check):
    layers = res["layers"]
    base = [check(os.path.join(iters, d)) for d in res["untraced_dirs"]]
    traced = [check(os.path.join(iters, d)) for d in res["traced_dirs"]]
    hashes = {tuple(tree_bytes_hashes(os.path.join(iters, d)))
              for d in res["untraced_dirs"] + res["traced_dirs"]}
    rows_same = len({v[2] for v in base + traced}) == 1
    layers["trace.outputs_identical"] = 1.0 if len(hashes) == 1 else 0.0
    ok = [v[0] for v in base + traced]
    detail = {"verdicts": base + traced, "rows_identical": rows_same, "errors": res["errors"],
              "layers": layers, "kernel_errors": res.get("kernel_errors"),
              "untraced_run_s": res["untraced_run_s"], "spans": res.pop("spans")}
    return layers, len(ok), len(ok) - sum(ok) + (0 if rows_same else 1), detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build.build()
    inputs, manifest = gen.ensure_inputs(os.path.join(DATA, "inputs"), a.workload, a.seed)
    check = verify.VERIFIERS[a.workload](inputs, manifest)
    rundir = os.path.join(DATA, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        if a.trace:
            res, iters = launch(a.workload, inputs, rundir, a.seconds, a.trace)
            values, attempted, failed, detail = per_layer(res, iters, check)
            wanted = spec["per_layer"]
        else:
            jvms = [launch(a.workload, inputs, os.path.join(rundir, f"jvm{i}"),
                           a.seconds, a.trace, cold_only=i > 0) for i in range(JVMS)]
            res = jvms[0][0]
            values, attempted, failed, detail = end_to_end(jvms, check)
            wanted = spec["end_to_end"]
        # a layer the workload does not reach reads 0
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(DATA, "artifacts"), exist_ok=True)
    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "machine": res["machine"], "inputs": manifest,
                "metrics": metrics, "attempted": attempted, "failed": failed,
                "setup_layers": {k: v for k, v in res["layers"].items() if k.startswith("core.")},
                "detail": detail}
    with open(os.path.join(DATA, "artifacts",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
