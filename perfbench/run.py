#!/usr/bin/env python3
"""Run one benchmark run of graft and print its result line.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload panel_features --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source with sbt the first time (or
when a source file changed), then starts one JVM that generates the
seed's inputs under .perfbench/, sets up, and runs timed passes for
--seconds. The last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The full result, the
input summary and (with --trace 1) the span trace are kept under
.perfbench/out/. See perfbench/README.md.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
TARGET = HERE / "target"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# a fixed-size heap: no resizing between passes
HEAP = ["-Xms2g", "-Xmx2g"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, env, log, timeout):
    """Runs cmd in its own process group, output to log; on timeout kills
    the whole group and waits for it. Returns the exit code, or None on
    timeout."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file() and p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """sbt compile of graft plus the benchmark; writes target/launch.json."""
    stamp = source_stamp()
    launch = TARGET / "launch.json"
    if launch.exists():
        info = json.loads(launch.read_text())
        if info.get("stamp") == stamp:
            return info
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    STATE.mkdir(exist_ok=True)
    log = STATE / "build.log"
    t0 = time.time()
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                   HERE, env, log, BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (log in {log})", 3)
    info = json.loads(launch.read_text())
    info["stamp"] = stamp
    launch.write_text(json.dumps(info))
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return info


def load_expected(workload, seed):
    p = HERE / "expected" / f"{workload}.json"
    if not p.exists():
        return None
    return json.loads(p.read_text()).get(str(seed))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="store this run's output digests as the expected values for the seed")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} is not a graft checkout (no build.sbt or src/main/scala/graft)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    info = build()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tag = f"{a.workload}-seed{a.seed}"
    data = STATE / "data" / a.workload
    out_dir = STATE / "out"
    tmp = STATE / "tmp"
    for d in (out_dir, tmp):
        d.mkdir(parents=True, exist_ok=True)
    result_file = out_dir / f"{tag}-trace{a.trace}.json"
    trace_file = out_dir / f"{tag}-spans.json"
    result_file.unlink(missing_ok=True)

    jvm_opts = [x for x in info["javaOptions"] if not x.startswith(("-Xmx", "-Xms"))]
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", info["classpath"], "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--data", str(data),
            "--out", str(result_file), "--trace-out", str(trace_file)])
    # Spark's scratch space stays inside the checkout too
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(STATE / "spark-local"))
    log = out_dir / f"{tag}-trace{a.trace}.log"
    rc = run_group(cmd, ROOT, env, log, RUN_TIMEOUT_S)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s (log in {log})", 4)
    if rc != 0 or not result_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"JVM exited with {rc} (log in {log})", 5)

    res = json.loads(result_file.read_text())
    digests = res["digests"]
    expected = load_expected(a.workload, a.seed)
    mismatched = []
    if expected is not None:
        mismatched = sorted(k for k in set(expected) | set(digests) if expected.get(k) != digests.get(k))
    if a.record_expected:
        p = HERE / "expected" / f"{a.workload}.json"
        allx = json.loads(p.read_text()) if p.exists() else {}
        allx[str(a.seed)] = digests
        p.parent.mkdir(exist_ok=True)
        p.write_text(json.dumps(allx, indent=1, sort_keys=True) + "\n")

    attempted = res["attempted"]
    # a leg whose reference digest differs from the stored expected value
    # fails in every pass it ran in
    legs_per_pass = max(1, len(res["leg_wall_s"]))
    failed = min(attempted, res["failed"] + len(mismatched) * attempted // legs_per_pass)
    correct = failed == 0 and res["warmup_failures"] == 0 and not mismatched

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["per_layer"] if a.trace else res["end_to_end"]
    if not a.trace:
        got = dict(got, ok_frac=(attempted - failed) / attempted)
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"result lacks metrics {missing}", 6)
    metrics = {m["name"]: {"value": got[m["name"]], "unit": units[m["name"]]} for m in wanted}

    inp = dict(res["input"], bytes=sum(f.stat().st_size for f in data.rglob("*") if f.is_file()))
    print(f"perfbench: {a.workload} seed {a.seed}: input {json.dumps(inp, sort_keys=True)}")
    print(f"perfbench: setup cycles {res['setup_cycles_s']}, passes {len(res['pass_wall_s'])}, "
          f"load avg {res['load_avg_1m']}, expected digests "
          f"{'checked' if expected is not None else 'not stored for this seed'}"
          + (f", MISMATCH {mismatched}" if mismatched else "")
          + (f", errors {res['errors']}" if res["errors"] else ""))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
