#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload diff_snapshot --seed 1 --seconds 15 --trace 0

Builds the program together with the harness (perfbench/harness) on first
use, starts one JVM that runs the workload, checks its outputs, deletes
what the run left behind, and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. Exits
non-zero when any output check fails or the run cannot complete.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
RESULTS = BENCH / "results"
RUNS = BENCH / ".run"
WORKLOADS = ("diff_snapshot", "near_dup", "catalog_txnlog")
DEADLINE_S = 170  # the whole run, build excluded, must end well inside 180 s

# Per-process scratch directories the program creates under /tmp.
PROGRAM_SCRATCH = ("graft-roundtrip", "graft-gdtxn", "graft-streamsink",
                   "graft-scd2sink", "graft-pipeline")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of everything the build reads: program and harness sources."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HARNESS / "build.sbt",
             HARNESS / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(digest):
    """Compile program + harness once per source state; returns the classpath."""
    stamp = HARNESS / "target" / "perfbench-build.json"
    if stamp.exists():
        s = json.loads(stamp.read_text())
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = HARNESS / "target" / "perfbench-build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850).returncode
    lines = log.read_text().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    classpath = lines[-1].strip()
    stamp.write_text(json.dumps({"digest": digest, "classpath": classpath}))
    return classpath


def driver_heap():
    """Same rule as the repository's test command: SPARK_DRIVER_MEM, else
    half the machine's memory clamped to 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
                return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def tree_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Re-records perfbench/expected_digests.json (see README.md); a benchmark
    # run does not use it.
    ap.add_argument("--record-digests", metavar="FILE",
                    help="store each fixture key's output digest instead of checking it")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources at {ROOT} (build.sbt, src/main/scala)")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    started = time.time()
    digest = source_digest()
    classpath = build(digest)
    build_s = time.time() - started

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    heap = driver_heap()
    run_dir = RUNS / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    record_path = run_dir / "record.json"
    spans_path = run_dir / "spans.json"
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = [java, f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(run_dir), "--cores", str(cores),
            "--out", str(record_path), "--spans", str(spans_path),
            "--digests", str(BENCH / "expected_digests.json")]
    if args.record_digests:
        cmd += ["--record-digests", str(Path(args.record_digests).resolve())]

    log_path = run_dir / "jvm.log"
    t_launch = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (t_launch - started - build_s)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    t_exit = time.time()
    jvm_pid = proc.pid
    log_tail = log_path.read_text(errors="replace").splitlines()[-40:]

    record = None
    if rc == 0 and record_path.exists():
        record = json.loads(record_path.read_text())

    # Run hygiene: the program's per-pid scratch dirs and this run's inputs.
    # Exact names only: a prefix match would also take another process's
    # dirs (pid 1234 is a prefix of 12345).
    leftovers = [p for p in (Path(f"/tmp/{name}-{jvm_pid}") for name in PROGRAM_SCRATCH)
                 if p.exists()]
    scratch_bytes = sum(tree_bytes(p) for p in leftovers) + tree_bytes(run_dir)
    kept = {}
    if record is not None:
        RESULTS.mkdir(exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(started)}-{os.getpid()}"
        if spans_path.exists():
            shutil.copy(spans_path, RESULTS / f"{stem}.spans.json")
            kept["spans"] = str((RESULTS / f"{stem}.spans.json").relative_to(ROOT))
        kept["record"] = str((RESULTS / f"{stem}.json").relative_to(ROOT))
    for p in leftovers + [run_dir]:
        shutil.rmtree(p, ignore_errors=True)
    if not RUNS.exists() or not any(RUNS.iterdir()):
        shutil.rmtree(RUNS, ignore_errors=True)

    if record is None:
        print("\n".join(log_tail), file=sys.stderr)
        fail(f"harness JVM ended with {rc}; no result", code=1)
    record.update({
        "run_s": time.time() - started, "jvm_s": t_exit - t_launch,
        "git_commit": git_commit(), "source_digest": digest, "build_s": build_s,
        "heap": heap, "scratch_bytes_deleted": scratch_bytes,
        "scratch_not_deleted": [str(p) for p in leftovers if p.exists()],
    })
    # left_bytes: what the run leaves behind, i.e. its record and spans files.
    rec_file = ROOT / kept["record"]
    rec_file.write_text(json.dumps(record, indent=1))
    record["left_bytes"] = sum(os.path.getsize(ROOT / p) for p in kept.values())
    rec_file.write_text(json.dumps(record, indent=1))

    if args.record_digests:
        print(f"perfbench: wrote {args.record_digests}")
        return 0
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        name, unit = m["name"], m["unit"]
        value = record["metrics"].get(name)
        if value is None:
            fail(f"metric {name} missing from the record", code=1)
        metrics[name] = {"value": value, "unit": unit}
    attempted, failed = record["attempted"], record["failed"]
    for f in record["failures"]:
        print(f"FAILED {f}")
    p90 = record["metrics"].get("op_p90_s", float("nan"))
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(record['passes'])} passes, {record['op_samples']} op samples in "
          f"op_p50_s, op_p90_s {p90:.4g} s, fail_frac {failed / max(attempted, 1):.4f} "
          f"({failed}/{attempted}), cores {record['cores']}, heap {heap}, "
          f"Spark {record['spark_version']}, inputs {json.dumps(record['inputs'])}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
