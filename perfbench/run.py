#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload pxl_live --seed 1 --seconds 15 --trace 0

Builds the engine from source (perfbench/build.py), computes the expected
outputs from the gate's DuckDB oracle SQL (perfbench/oracle.py), runs the
workload in one JVM and prints, as its last stdout line, one compact JSON
object: `correct`, `attempted`, `failed` and `metrics` - every end-to-end
metric of BENCHMARK.json with --trace 0, every per-layer metric with
--trace 1. The full record (every operation, set-up samples, self times)
goes to .bench_build/perfbench/results/. See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
RESULTS = OUT / "results"
# All workloads read the sf0.01 fixture: at sf0.1 one warm PxL pass takes
# about 2x longer, and the benchmark's runs must fit the harness budget.
SCALE = "0.01"
# A run must end within 180 s; the first one in a checkout also builds.
RUN_LIMIT_S, BUILD_RUN_LIMIT_S = 175, 880
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-XX:-UsePerfData", "-Xmx3g", "-Xss8m"] + [
    opt for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
    for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def data_dir() -> str:
    """SPARK_GRAFT_SF_DIR, else the fixture directory TESTDATA.md lists."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"].rstrip("/")
    doc = ROOT / "TESTDATA.md"
    m = doc.is_file() and re.search(
        r"\|\s*" + re.escape(SCALE) + r"\s*\|\s*`([^`]+)`", doc.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise build.BuildError(f"no sf{SCALE} fixture directory (TESTDATA.md)")
    return m.group(1).rstrip("/")


def expected_file(classes: Path, data: str) -> Path:
    """Expected outputs, computed once per build and fixture directory."""
    stamp = (classes / ".stamp").read_text()[:16]
    out = OUT / f"expected-{stamp}-{re.sub(r'[^A-Za-z0-9]', '_', data)[-40:]}.json"
    if not out.is_file():
        sql = OUT / "oracle_sql.json"
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(), "perfbench.Main",
                        "oracle-sql", str(sql)], check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        oracle.write_expected(data, sql, str(out) + ".tmp")
        os.replace(str(out) + ".tmp", out)
    return out


def run_jvm(args, trace: bool, data: str, expected: Path, deadline: float) -> dict:
    """One JVM run of the workload; returns its record."""
    tag = f"{args.workload}-seed{args.seed}-trace{int(trace)}-{time.time_ns()}"
    run_dir = OUT / "runs" / tag
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    env = dict(os.environ)
    # Pxl.env reads pxviews.pxl eagerly; none of the six scripts imports it.
    env["SPARK_GRAFT_REF_DIR"] = str(Path(__file__).resolve().parent / "refstub")
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    env.pop("SPARK_GRAFT_SKETCH_QUANTILES", None)  # keep the product default
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
            build.classpath(), "perfbench.Main", args.workload,
            str(args.seed), str(args.seconds), "1" if trace else "0", data,
            str(expected), str(run_dir)])
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=run_dir)
        timer = threading.Timer(max(1.0, deadline - time.time()), proc.kill)
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        except BaseException:  # interrupted: never leave the JVM behind
            proc.kill()
            os.waitpid(proc.pid, 0)
            raise
        finally:
            timer.cancel()
    rc = os.waitstatus_to_exitcode(status)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(run_dir / "work", ignore_errors=True)
    if rc != 0 or not (run_dir / "result.json").is_file():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"JVM exited with {rc}:\n{tail}")
    rec = json.loads((run_dir / "result.json").read_text())
    rec["seconds"] = args.seconds
    rec["build"] = (build.CLASSES / ".stamp").read_text()
    rec["detail"]["peak_rss_mb"] = usage.ru_maxrss / 1024.0  # KiB on Linux
    rec["run_dir"] = str(run_dir.relative_to(ROOT))
    RESULTS.mkdir(parents=True, exist_ok=True)
    (RESULTS / f"{tag}.json").write_text(json.dumps(rec) + "\n")
    return rec


def untraced_reference(workload: str, seconds: int, stamp: str):
    """Median untraced latency_mean_s of this build, workload and run
    length over the records in this checkout, or None."""
    vals = []
    for p in RESULTS.glob(f"{workload}-seed*-trace0-*.json"):
        rec = json.loads(p.read_text())
        if rec.get("seconds") == seconds and rec.get("build") == stamp:
            vals.append(rec["metrics"]["latency_mean_s"])
    return statistics.median(vals) if vals else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload}")
    start = time.time()
    try:
        classes_stamp = (build.CLASSES / ".stamp")
        before = classes_stamp.read_text() if classes_stamp.is_file() else None
        classes = build.ensure()
        built = classes_stamp.read_text() != before
        data = data_dir()
        expected = expected_file(classes, data)
        deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)
        base = None
        if args.trace:
            stamp = (classes / ".stamp").read_text()
            base = untraced_reference(args.workload, args.seconds, stamp)
            if base is None:  # the overhead needs an untraced run to compare
                base = run_jvm(args, False, data, expected, deadline)[
                    "metrics"]["latency_mean_s"]
        rec = run_jvm(args, bool(args.trace), data, expected, deadline)
    except (build.BuildError, RuntimeError, subprocess.CalledProcessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    if args.trace:
        rec["per_layer"]["harness.trace_overhead_share"] = (
            rec["metrics"]["latency_mean_s"] / base - 1)
        rec["untraced_latency_mean_s"] = base
        source, names = rec["per_layer"], spec["per_layer"]
    else:
        source, names = rec["metrics"], spec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in source]
    if missing and not args.trace:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    # a per-layer metric of the other workload's layers reads 0 here
    rec["not_applicable"] = missing
    summary = {
        "correct": rec["failed"] == 0 and rec["attempted"] > 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in names},
    }
    rec["summary"] = summary
    record = RESULTS / (Path(rec["run_dir"]).name + ".json")
    record.write_text(json.dumps(rec) + "\n")
    print(f"full record: {record.relative_to(ROOT)}")
    print(json.dumps(summary, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    sys.exit(main())
