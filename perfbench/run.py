#!/usr/bin/env python3
"""Benchmark of the telemetry engine: one run of one workload.

    python3 perfbench/run.py --workload telemetry_demux --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark's own programs from source when they changed
(sbt, offline), starts the seeded generator (perfbench.Gen) and then the
system under test (perfbench.Main) as two processes, and prints a summary
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = {"telemetry_demux": "telemetry", "session_store": "status"}
RUN_LIMIT_S = 170        # a run (build excluded) must end well inside 180 s
BUILD_LIMIT_S = 700
SUT_HEAP, GEN_HEAP = "3g", "512m"


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*"]
    files = [f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)]
    files += [f for p in ["build.sbt", "project/*.properties", "src/**/*"]
              for f in glob.glob(os.path.join(HERE, p), recursive=True)]
    return sorted(f for f in set(files) if os.path.isfile(f))


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile with sbt unless the sources are unchanged since the last build."""
    stamp_file = os.path.join(BUILD, "stamp")
    launch = os.path.join(BUILD, "launch.txt")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.call([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                             cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                             timeout=BUILD_LIMIT_S)
    if rc != 0 or not os.path.exists(launch):
        with open(os.path.join(BUILD, "build.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"build failed (exit {rc}); log in {BUILD}/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def java_cmd(heap, tmp):
    with open(os.path.join(BUILD, "launch.txt")) as fh:
        lines = [l for l in fh.read().splitlines() if l]
    return ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}"] + lines[1:] + ["-cp", lines[0]]


def cpu_times():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f[:8])
    except OSError:
        return 0, 0


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def stop(proc):
    if proc is not None and proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, deadline):
    cpus = str(len(os.sched_getaffinity(0)))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    gen = sut = None
    t0 = time.time()
    try:
        gen = subprocess.Popen(
            java_cmd(GEN_HEAP, tmp) + ["perfbench.Gen", WORKLOADS[args.workload], str(args.seed),
                                       os.path.join(run_dir, "log"), run_dir, str(args.seconds)],
            cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True)
        ready, _, _ = select.select([gen.stdout], [], [], max(1, deadline - time.time()))
        line = gen.stdout.readline() if ready else ""
        if line.strip() != "READY":
            raise RuntimeError(f"generator failed before READY (exit {gen.wait()})")
        log(f"inputs generated in {time.time() - t0:.1f} s")
        sut = subprocess.Popen(
            java_cmd(SUT_HEAP, tmp) + ["perfbench.Main", args.workload, str(args.seed), run_dir,
                                       str(args.seconds), str(args.trace), cpus],
            cwd=run_dir, env=env, stdout=sys.stderr)
        rc = sut.wait(timeout=max(1, deadline - time.time()))
        log(f"system under test exited {rc} after {time.time() - t0:.1f} s")
        if rc != 0:
            raise RuntimeError(f"system under test exited {rc}")
        if gen.wait(timeout=max(1, deadline - time.time())) != 0:
            raise RuntimeError("generator failed")
        with open(os.path.join(run_dir, "result.json")) as fh:
            result = json.load(fh)
        with open(os.path.join(run_dir, "gen.json")) as fh:
            result["gen"] = json.load(fh)
        os.makedirs(os.path.join(WORK, "samples"), exist_ok=True)
        shutil.copy(os.path.join(run_dir, "samples.tsv"), os.path.join(
            WORK, "samples", f"{args.workload}-seed{args.seed}-t{args.trace}-{int(time.time())}.tsv"))
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}-{int(time.time())}.jsonl"))
        return result, cpus
    finally:
        stop(sut)
        stop(gen)
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the live phase")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its generator and system under test
    def terminate(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)
    signal.signal(signal.SIGTERM, terminate)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(spec_path) and os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no program sources next to {HERE}: expected build.sbt, src/main/scala, BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    load_start = os.getloadavg()
    stamp = tree_hash()
    build(stamp)
    steal0, total0 = cpu_times()
    result, cpus = run(args, time.time() + RUN_LIMIT_S)
    steal1, total1 = cpu_times()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    load_end = os.getloadavg()

    m = dict(result["metrics"])
    m["gen.late_p50_ms"] = result["gen"]["late_p50_ms"]
    m["gen.late_p99_ms"] = result["gen"]["late_p99_ms"]
    missing = [w["name"] for w in wanted if w["name"] not in m]
    if missing:
        die(f"run produced no value for {missing}")
    attempted, failed = int(result["attempted"]), int(result["failed"])
    if attempted < 1:
        die("the correctness gate checked nothing")

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_sha": git_sha(), "tree": stamp, "nproc": int(cpus),
        "loadavg_start": load_start, "loadavg_end": load_end, "cpu_steal_share": steal,
        "attempted": attempted,
        "failed": failed, "error_rate": failed / attempted, "gen": result["gen"], "metrics": m,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-t{args.trace}-"
                                             f"{int(time.time())}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"sha={record['git_sha']} tree={stamp} nproc={cpus} "
          f"load={load_start[0]:.2f}->{load_end[0]:.2f} steal={100 * steal:.1f}%")
    for w in wanted:
        print(f"  {w['name']:<34} {m[w['name']]:>14.4f} {w['unit']}")
    print(f"  {'error_rate':<34} {failed / attempted:>14.4f} ratio ({failed}/{attempted})")
    print(f"  {'e2e samples':<34} {m['e2e.samples']:>14.0f} (tail at p{100 * m['e2e.tail_quantile']:.4g})")
    print(f"  {'e2e.p95_ms':<34} {m['e2e.p95_ms']:>14.4f} ms")
    print(f"  {'gen.late_p99_ms':<34} {m['gen.late_p99_ms']:>14.4f} ms")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {w["name"]: {"value": m[w["name"]], "unit": w["unit"]} for w in wanted},
    }))


if __name__ == "__main__":
    main()
