#!/usr/bin/env python3
"""pypiperspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
JVM harness from source with sbt (offline) and caches the launch line under
.bench_build/; later runs reuse it until a source file changes. Each run
generates its corpus from --seed, runs the workload in one fresh JVM, checks
every operation's result against DuckDB running the operation's oracle SQL
on the same parquet, and prints one JSON summary as its last stdout line.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import datagen  # noqa: E402
import oracle  # noqa: E402

# pass_s: a typical warm pass on a 4-core host; a run makes
# max(MIN_WARM, ceil(--seconds / pass_s)) warm passes, the same number in
# every run of a workload
WORKLOADS = {
    # iterative curation: driver round trips, per-round planning, kernels;
    # warm passes reuse the staged classifier model
    "curation": dict(pass_s=5.5, fresh_staging=False, ops=[
        "q_text_bpe", "q_text_heavy_hitters", "q_text_classify", "q_pipe_curate"]),
    # write path: a stateful stream with state-store and WAL checkpoints,
    # index maintenance and an upsert, every pass from an empty staging
    # directory
    "ingest": dict(pass_s=4.8, fresh_staging=True, ops=[
        "q_stream_tumbling", "q_sim_ivf_merge", "q_upsert_snapshot"]),
}
CPUS = 4
MIN_WARM = 3
MAX_JVM_S = 120
JVM_TIMEOUT_S = 160
HEAP = "3g"
BUILD = ROOT / ".bench_build" / "perfbench"
HARNESS = HERE / "harness"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build, so a changed source rebuilds."""
    files = [ROOT / "build.sbt"]
    for base in (ROOT / "project", ROOT / "src" / "main", HARNESS):
        files += [p for p in base.rglob("*")
                  if p.is_file() and "target" not in p.relative_to(base).parts]
    md = hashlib.sha256()
    for p in sorted(files):
        md.update(str(p.relative_to(ROOT)).encode())
        md.update(p.read_bytes())
    return md.hexdigest()


def launch_line():
    """(classpath, JVM options) of the built harness, building if stale."""
    stamp, launch = BUILD / "stamp", BUILD / "launch.txt"
    want = source_stamp()
    if not (stamp.exists() and launch.exists() and stamp.read_text() == want):
        BUILD.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
        log = BUILD / "build.log"
        with open(log, "w") as f:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "compile", "launchFile"],
                               cwd=HARNESS, env=env, stdout=f, stderr=subprocess.STDOUT,
                               timeout=840)
        if r.returncode != 0:
            fail(f"build failed, see {log}")
        shutil.copy(HARNESS / "target" / "launch.txt", launch)
        stamp.write_text(want)
    lines = launch.read_text().splitlines()
    return lines[0], lines[1:]


def host_counters():
    """Host busy and steal seconds since boot (/proc/stat, USER_HZ=100)."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        idle = f[3] + (f[4] if len(f) > 4 else 0)
        return (sum(f) - idle) / 100.0, (f[7] if len(f) > 7 else 0) / 100.0
    except (OSError, ValueError, IndexError):
        return float("nan"), float("nan")


def load1():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except (OSError, ValueError):
        return float("nan")


def run_jvm(cp, jvm_opts, run_dir, data_dir, out_dir, spec, seconds, trace):
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir()
    local.mkdir()
    cmd = (["java"] + jvm_opts + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                  "perfbench.Harness",
                                  "--data", str(data_dir), "--out", str(out_dir),
                                  "--ops", ",".join(spec["ops"]),
                                  "--warm", str(max(MIN_WARM, math.ceil(seconds / spec["pass_s"]))),
                                  "--max-s", str(MAX_JVM_S), "--cpus", str(CPUS),
                                  "--trace", str(trace),
                                  "--fresh-staging", "1" if spec["fresh_staging"] else "0"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    setup_wall_s = None
    try:
        for line in proc.stdout:
            if setup_wall_s is None and line.strip() == "PERFBENCH_READY":
                setup_wall_s = time.perf_counter() - t0
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or setup_wall_s is None:
        fail(f"harness JVM exited with code {rc}")
    return setup_wall_s, json.loads((out_dir / "result.json").read_text())


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def summarise(res, verdicts, setup_wall_s, trace):
    """(attempted, failed, metric values, detail) of one harness result."""
    passes = res["passes"]
    warm = [p for p in passes if p["tag"] == "warm"]
    attempted = failed = 0
    failures = []
    for p in passes:
        for name, r in p["ops"].items():
            attempted += 1
            cold = passes[0]["ops"][name]
            why = (r["error"] or verdicts[name]
                   or ("" if r["digest"] == cold["digest"] else "result differs from the cold pass"))
            if why:
                failed += 1
                failures.append(f"{p['tag']}:{name}: {why}")
    kernels = res["kernels"]
    for name, k in kernels.items():
        attempted += 1
        if k["error"] is not None:
            failed += 1
            failures.append(f"kernel:{name}: {k['error']}")

    def warm_median(f):
        return median([f(p) for p in warm])

    def warm_mean(f):
        return statistics.fmean([f(p) for p in warm]) if warm else float("nan")

    # the end-to-end times are the JVM's CPU seconds: on a shared host the
    # hypervisor's steal moves wall time several times as much (README);
    # a warm figure is the mean over the run's warm passes, which are still
    # warming up (each pass costs less than the one before)
    if not trace:
        values = {
            "setup_s": res["setup_cpu_s"],
            "cold_cpu_s": passes[0]["cpu_s"],
            "warm_cpu_s": warm_mean(lambda p: p["cpu_s"]),
            "heap_retained_mb": res["heap_retained_mb"],
        }
    else:
        values = {
            "graft.session_s": res["session_s"],
            "tables.load_s": res["tables_load_s"],
            "trace.warm_pass_s": warm_mean(lambda p: p["wall_s"]),
            "trace.warm_cpu_s": warm_mean(lambda p: p["cpu_s"]),
        }
        for k in warm[0]["layers"]:
            values[k] = warm_median(lambda p: p["layers"][k])
            values["cold." + k] = passes[0]["layers"][k]
        for name, k in kernels.items():
            values[f"kernel.{name}.ns_per_row"] = k["ns_per_row"]
    detail = {
        "warm_passes": len(warm),
        # wall times, for reading beside the host counters
        "setup_wall_s": setup_wall_s,
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": warm_mean(lambda p: p["wall_s"]),
        "pass_wall_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        "op_warm_wall_s": {n: median([p["ops"][n]["wall_s"] for p in warm])
                           for n in passes[0]["ops"]},
        "op_cold_wall_s": {n: r["wall_s"] for n, r in passes[0]["ops"].items()},
        "heap": [res["heap_first_mb"], res["heap_retained_mb"]],
        "collect_keeps_sort": res["collect_keeps_sort"],
        "count_keeps_sort": res["count_keeps_sort"],
        "failures": failures[:20],
    }
    return attempted, failed, values, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala" / "graft").is_dir()):
        fail(f"no program source under {ROOT}: run from the root of a full checkout")
    spec = WORKLOADS[args.workload]
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())[
        "per_layer" if args.trace else "end_to_end"]
    cp, jvm_opts = launch_line()

    BUILD.mkdir(parents=True, exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=BUILD))
    try:
        data_dir, out_dir = run_dir / "data", run_dir / "out"
        datagen.write(args.seed, data_dir)
        out_dir.mkdir()
        busy0, steal0 = host_counters()
        load_start, t0 = load1(), time.time()
        setup_wall_s, res = run_jvm(cp, jvm_opts, run_dir, data_dir, out_dir, spec,
                               args.seconds, args.trace)
        busy1, steal1 = host_counters()
        verdicts, reordered = oracle.check(data_dir, out_dir / "results", res["oracle"])
        attempted, failed, values, detail = summarise(res, verdicts, setup_wall_s, args.trace)
        detail["order_differs_from_oracle"] = reordered
        missing = [m["name"] for m in declared
                   if not isinstance(values.get(m["name"]), (int, float)) or math.isnan(values[m["name"]])]
        if missing:
            fail(f"no measurement for {', '.join(missing)}")
        # other tenants' CPU over the JVM's lifetime: host busy seconds
        # minus the JVM's own CPU seconds
        detail["host"] = {
            "wall_s": time.time() - t0,
            "ext_cpu_s": busy1 - busy0 - res["process_cpu_s"],
            "steal_s": steal1 - steal0,
            "load1_start": load_start, "load1_end": load1(),
            "nproc": os.cpu_count(),
        }
        # the benchmark's own check: the timed action keeps q1's final sort
        correct = res["collect_keeps_sort"] is True
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in declared},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
