#!/usr/bin/env python3
"""Benchmark of the graft engine. See perfbench/README.md.

    python3 perfbench/run.py --workload <alerts_stream|scan_batch>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), runs one workload in one
JVM on local[nproc], checks its outputs, and prints a report line followed by
the result line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("alerts_stream", "scan_batch")
# alerts_stream's offered rate in events/s: about half the rate at which the
# seed code's backlog starts to grow on a 4-core host (README.md)
ALERT_RATE = 800.0
JVM_TIMEOUT_S = 170
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def cpu_times():
    """(steal, iowait, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, v[4], sum(v[:8])


def host_start():
    return {"nproc": len(os.sched_getaffinity(0)), "load1": os.getloadavg()[0],
            "cpu": cpu_times(), "t": time.time()}


def host_end(h):
    steal, iowait, total = (b - a for a, b in zip(h.pop("cpu"), cpu_times()))
    total = max(total, 1)
    h.update(steal_pct=100.0 * steal / total, iowait_pct=100.0 * iowait / total,
             wall_s=time.time() - h.pop("t"))
    # a run started or kept under contention is flagged, never dropped; the
    # load at start includes the tail of a previous run, hence 2 x nproc
    h["contended"] = h["load1"] > 2 * h["nproc"] or h["steal_pct"] > 10.0 or h["iowait_pct"] > 10.0
    return h


def run_jvm(args, out: Path, sf: str, cores: int):
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xss64m", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--out", str(out), "--sf", sf, "--cores", str(cores),
              "--rate", str(ALERT_RATE)])
    with open(out / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: JVM timed out after {JVM_TIMEOUT_S} s; see {out}/jvm.log")
    raw = out / "raw.json"
    if p.returncode != 0 or not raw.exists():
        raise SystemExit(f"perfbench: JVM failed (exit {p.returncode}); see {out}/jvm.log")
    return json.loads(raw.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    host = host_start()
    build.build()
    # the fixture dirs TESTDATA.md describes
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not Path(sf, "events.parquet").exists():
        raise SystemExit(f"perfbench: fixture dir {sf} not found (set SPARK_GRAFT_SF_DIR)")
    out = ROOT / ".bench_out" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    raw = run_jvm(args, out, sf, host["nproc"])
    if "error" in raw:
        raise SystemExit(f"perfbench: workload failed: {raw['error']}")

    report = layers.end_to_end(raw, out)
    result_metrics = report["metrics"]
    if args.trace:
        per_layer = layers.per_layer(raw, out)
        for k, v in report["overhead"].items():
            per_layer[f"trace_overhead.{k}"] = v
        result_metrics = {k: {"value": v, "unit": layers.per_layer_unit(k)} for k, v in per_layer.items()}
    host = host_end(host)
    shutil.rmtree(out / "work", ignore_errors=True)
    shutil.rmtree(out / "tmp", ignore_errors=True)
    full = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "host": host, "conf": raw["conf"], "session_s": raw["session_s"],
            "fail_ratio": stats.fail_ratio(report["attempted"], report["failed"]),
            "named": report["named"], "detail": report["detail"], "metrics": result_metrics}
    (out / "report.json").write_text(json.dumps(full, indent=1, sort_keys=True))
    print(json.dumps({k: full[k] for k in ("workload", "host", "conf", "fail_ratio", "named")}, sort_keys=True))
    print(json.dumps({"correct": report["failed"] == 0, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": result_metrics}))


if __name__ == "__main__":
    main()
