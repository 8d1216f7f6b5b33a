#!/usr/bin/env python3
"""Benchmark command: runs one workload for one seed and prints one JSON
result line.

    python3 perfbench/run.py --workload cg_extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --list

It builds the program from the checkout's sources (see build.py), starts
one JVM that generates the seeded inputs (cached per workload and seed),
sets up, warms up and measures, and then checks the names of the metrics
the JVM produced against BENCHMARK.json. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (and writes the span
and job trace next to the run's other files). Exit code 0 means every
output check passed; 1 means a check failed; 2 means the benchmark could
not run (missing sources, toolchain, metric mismatch, time limit); 3 means
it was stopped by SIGTERM or SIGINT, after stopping its JVM.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # the checkout stays free of __pycache__
import build  # noqa: E402

RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 870

# which workloads exercise a per-layer metric, by name prefix (listing only)
LAYER_WORKLOADS = [
    ("cg.", ["cg_extract"]), ("osm.", ["cg_extract"]), ("spatial.", ["cg_extract"]),
    ("ops.", ["cg_extract"]), ("fn.", ["cg_extract"]),
    ("registry.", ["registry_slice"]),
    ("layer.graft.ChangegenPipeline", ["cg_extract"]),
    ("layer.graft.queries", ["registry_slice"]),
]

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def load_spec():
    path = ROOT / "BENCHMARK.json"
    if not path.is_file():
        fail(f"{path} not found")
    return json.loads(path.read_text())


def list_metrics(spec):
    names = [w["name"] for w in spec["workloads"]]
    print(f"{'kind':<10} {'metric':<40} {'unit':<10} {'better':<7} workloads")
    for m in spec["end_to_end"]:
        print(f"{'end2end':<10} {m['name']:<40} {m['unit']:<10} {m['better']:<7} {','.join(names)}")
    for m in spec["per_layer"]:
        ws = next((w for p, w in LAYER_WORKLOADS if m["name"].startswith(p)), names)
        print(f"{'layer':<10} {m['name']:<40} {m['unit']:<10} {m['better']:<7} {','.join(ws)}")


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--list", action="store_true", help="print every metric and exit")
    ap.add_argument("--record", help="registry_slice only: write the fingerprints of the slice to this file")
    args = ap.parse_args()
    start = time.monotonic()

    spec = load_spec()
    if args.list:
        list_metrics(spec)
        return 0
    workloads = [w["name"] for w in spec["workloads"]]
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(workloads)}")

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    stamp_before = (build_dir / "classes" / ".stamp").read_text() if (build_dir / "classes" / ".stamp").is_file() else None
    try:
        classes = build.build(ROOT, build_dir)
    except (build.BuildError, OSError) as e:
        fail(f"build failed: {e}")
    stamp = (classes / ".stamp").read_text()
    built = stamp != stamp_before
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - start)

    # generated inputs depend on the library (its pbf and WKB writers), so
    # they are cached per build; caches of earlier builds are dropped
    cache = build_dir / "fixtures" / stamp[:16]
    for old in (build_dir / "fixtures").glob("*"):
        if old != cache:
            shutil.rmtree(old, ignore_errors=True)
    work = build_dir / "run" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cp = f"{classes}{os.pathsep}{build.spark_jars() / '*'}"
    # no -Xms and a ceiling well above use: the committed heap, and with it
    # the peak RSS, follows demand
    cmd = ["java", "-Xmx4g", "-Xss16m", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--root", str(ROOT), "--work", str(work),
            "--cache", str(cache), "--nproc", str(nproc()), "--result", str(result),
            "--trace-out", str(work / "trace.json")]
    if args.record:
        cmd += ["--record", str(Path(args.record).resolve())]
    # the JVM's own stdout (progress lines of the library) goes to stderr:
    # the result line must be the last line of stdout
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        fail(f"stopped by signal {signum}", 3)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {limit:.0f} s and was stopped")
    if code != 0 or not result.is_file():
        fail(f"benchmark JVM exited with {code}")
    if args.record:
        return 0

    res = json.loads(result.read_text())
    values = res["values"]
    kind = "per_layer" if args.trace else "end_to_end"
    expected = {m["name"]: m["unit"] for m in spec[kind]}
    unknown = sorted(set(values) - set(expected))
    if unknown:
        fail(f"emitted metrics missing from BENCHMARK.json {kind}: {', '.join(unknown)}")
    missing = sorted(set(expected) - set(values))
    if args.trace == 0 and missing and res["correct"]:
        fail(f"end-to-end metrics not emitted: {', '.join(missing)}")
    if missing and args.trace:
        # layers this workload never enters did no work here
        print(f"[perfbench] idle on {args.workload}: {', '.join(missing)}", file=sys.stderr)
    metrics = {n: {"value": values.get(n, 0), "unit": u} for n, u in expected.items()}
    out = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
           "failed": int(res["failed"]), "metrics": metrics}
    print(json.dumps(out), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
