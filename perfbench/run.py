"""Benchmark entry point.

    python3 perfbench/run.py --workload <etl|curate|search> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. It builds the library and the benchmark from
source (see build.py), then runs one workload in one JVM at
local[nproc] against inputs generated from the seed, under a fresh
scratch root (warehouse, Spark local dirs, streaming checkpoints,
inputs) that is removed at exit. The last stdout line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: with
`--trace 0` the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics. The line before it records host noise (nproc,
load average before and after, CPU utilisation). A traced run also
writes its spans to .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

# the run's budget once the build is done; a cold build has its own
# limit (build.BUILD_TIMEOUT_S)
DEADLINE_S = 170.0
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]

    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    t0 = time.monotonic()

    run_root = os.path.join(build.BUILD_DIR, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    trace_out = os.path.join(build.BUILD_DIR, "traces",
                             f"{a.workload}-seed{a.seed}.jsonl")
    log_path = os.path.join(build.BUILD_DIR, f"jvm-{a.workload}.log")
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    # a fixed, pre-touched heap: peak RSS then measures the heap size
    # plus what grows outside it (metaspace, code cache, threads, native
    # buffers), not how far garbage got before a collection; no
    # perf-data file is written outside the scratch root
    cmd = (["java", "-Xms2560m", "-Xmx2560m", "-Xmn640m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp]
           + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--root", run_root, "--trace-out", trace_out])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    text=True, cwd=run_root)
            try:
                out, _ = proc.communicate(
                    timeout=max(10.0, DEADLINE_S - (time.monotonic() - t0)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("timed out", 3)
        if proc.returncode != 0:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"benchmark JVM exited with {proc.returncode}", 4)
        lines = [ln for ln in out.splitlines() if ln.startswith("{")]
        noise, result = json.loads(lines[-2]), json.loads(lines[-1])
        if a.workload == "curate":
            t = time.monotonic()
            ok, detail = oracle.check(run_root)
            print(f"[perfbench] oracle replay {time.monotonic() - t:.1f}s",
                  file=sys.stderr)
            if not ok:
                # every pass reproduced the first pass, so all of them are wrong
                print(f"[perfbench] oracle mismatch: {detail}", file=sys.stderr)
                result["correct"] = False
                result["failed"] = result["attempted"]
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    got = result["metrics"]
    metrics = {}
    for m in declared:
        if m["name"] not in got:
            print(f"[perfbench] metric {m['name']} missing", file=sys.stderr)
            result["correct"] = False
            continue
        metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
    print(json.dumps(noise))
    print(json.dumps({"correct": bool(result["correct"]),
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
