#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record-fingerprints

Run it from the repository root. The first run builds the repository and the
benchmark with sbt (again whenever a source changes), then every run launches
one JVM at local[nproc] with the repository's JVM options. Scratch data goes to
perfbench/.work/ and is deleted when the run ends; the JVM log and traced spans
go to perfbench/.out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD_DIR = os.path.join(BENCH, ".build")
LAUNCH = os.path.join(BUILD_DIR, "launch.txt")
STAMP = os.path.join(BUILD_DIR, "stamp")
WORKLOADS = ("pagexml_fulltext", "query_mix")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 900


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads, relative to the repository root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def driver_mem():
    """Heap size by the repository's test-suite rule: half the RAM, 2-8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def build(stamp):
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=driver_mem())
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    print("perfbench: building with sbt", file=sys.stderr)
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    if wait(proc, BUILD_TIMEOUT_S) != 0 or not os.path.exists(LAUNCH):
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def wait(proc, timeout):
    """Waits for `proc`; on timeout kills its process group and waits again."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def launch(main_args, tag, timeout):
    """Runs perfbench.Main in a fresh scratch directory, which it deletes
    afterwards; returns its stdout. Its stderr goes to perfbench/.out/<tag>.log."""
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], lines[1:]
    work = os.path.join(BENCH, ".work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(BENCH, ".out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, tag + ".log")
    # Scratch inside the run's own directory, which the repository's options
    # would otherwise place in /dev/shm; the heap by the test-suite rule.
    cmd = ["java", *jvm_opts, f"-Xmx{driver_mem()}",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", classpath, "perfbench.Main", "--work", work, *main_args]
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                    text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                fail(f"{tag} did not finish in {timeout} s; log: {log}")
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{tag} failed (exit {proc.returncode}); log: {log}")
    return stdout


def main():
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # delete the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=("0", "1"))
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="re-record the stored query_mix fingerprints")
    args = ap.parse_args()
    if not args.record_fingerprints and None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the repository sources (build.sbt, src/main/scala) are not next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    stamp = source_stamp()
    current = open(STAMP).read() if os.path.exists(STAMP) else ""
    if current != stamp or not os.path.exists(LAUNCH):
        build(stamp)

    if args.record_fingerprints:
        out = os.path.join(BENCH, "src", "main", "resources", "perfbench", "fingerprints.json")
        launch(["--record-fingerprints", out], "record", RECORD_TIMEOUT_S)
        return
    tag = f"{args.workload}-{args.seed}"
    stdout = launch(["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", args.trace,
                     "--trace-out", os.path.join(BENCH, ".out", f"trace-{tag}.json")],
                    f"{tag}-{'traced' if args.trace == '1' else 'plain'}", RUN_TIMEOUT_S)
    result = next((l[len("PERFBENCH "):] for l in reversed(stdout.splitlines())
                   if l.startswith("PERFBENCH ")), None)
    if result is None:
        fail(f"{args.workload} printed no result")
    result = json.loads(result)

    wanted = spec["per_layer"] if args.trace == "1" else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None and args.trace == "1":
            got = {"value": 0.0, "unit": m["unit"], "samples": 0}  # layer not on this workload
        if got is None or got["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or not in {m['unit']}: {got}")
        metrics[m["name"]] = got
    for name, m in metrics.items():
        print(f"{name:45s} {m['value']:>14.6g} {m['unit']:8s} n={m['samples']}")
    for name in ("error_rate", "query_p50_s", "query_tail_s", "peak_rss_mb", "host.steal_pct"):
        m = result["metrics"].get(name)
        if m and name not in metrics:
            print(f"{name:45s} {m['value']:>14.6g} {m['unit']:8s} n={m['samples']}")
    for note in result["notes"]:
        print(f"note: {note}")
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"], "failed": result["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
