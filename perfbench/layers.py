"""Turns a run's raw record (written by the JVM side) into the end-to-end and
per-layer metrics. Names and definitions are listed in README.md."""
import json
from collections import defaultdict
from pathlib import Path

import oracle_check
import stats

MB = 1024.0 * 1024.0

# end-to-end metrics: the same names on every workload, each workload's unit
# of work filling them (README.md, "End-to-end metrics")
E2E_UNITS = {"setup_s": "s", "p50_ms": "ms", "throughput_per_s": "1/s"}
# reported, and its tracing overhead measured, but not gated: it follows the
# shared host's speed (README.md, "Why CPU per operation is not gated")
UNGATED_UNITS = {"cpu_ms_per_op": "ms"}
OVERHEAD = ("p50_ms", "throughput_per_s", "cpu_ms_per_op")

STREAM_FIELDS = ("batches", "batch_p50_ms", "planning_ms", "add_batch_ms", "wal_commit_ms",
                 "state_rows", "state_commit_ms", "dropped_by_watermark")
STREAM_QUERIES = {"error_rate": "pipeline.error_rate", "p95": "pipeline.p95",
                  "metrics_alerts": "pipeline.metrics_alerts",
                  "metrics_escalations": "pipeline.metrics_escalations",
                  "breach": "stateful.breach", "escalator": "stateful.escalator"}
GATE_FIELDS = ("batch_p50_ms", "add_batch_ms", "state_rows", "state_mem_mb", "state_commit_ms",
               "kept_rows", "late_rows", "eps_1core")
MODULES = ("ops", "ext", "oracle")
MODULE_FIELDS = ("build_s", "action_s", "jobs", "stages", "tasks", "broadcast_jobs", "driver_gap_s",
                 "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb", "task_skew_p90")
SPAN_LAYERS = ("workload", "gen", "pipeline", "stateful", "streaming", "oracle", "ops", "ext",
               "job", "stage")


def per_layer_names():
    names = ["gen.rows", "gen.build_s", "gen.late_p99_ms", "io.topic_rows", "io.roundtrip_ms"]
    names += [f"{p}.{f}" for p in STREAM_QUERIES.values() for f in STREAM_FIELDS]
    names += [f"streaming.gate.{f}" for f in GATE_FIELDS]
    names += ["oracle.release_s", "oracle.cached_mb_peak"]
    names += [f"{m}.{f}" for m in MODULES for f in MODULE_FIELDS]
    names += [f"self_s.{layer}" for layer in SPAN_LAYERS]
    names += [f"trace_overhead.{m}" for m in OVERHEAD]
    return names


def per_layer_unit(name):
    last = name.split(".")[-1]
    if name.startswith("trace_overhead."):
        return {**E2E_UNITS, **UNGATED_UNITS}[last]
    if name.startswith("self_s."):
        return "s"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_mb_peak", "MB")):
        if last.endswith(suffix):
            return unit
    if last == "eps_1core":
        return "1/s"
    if last == "task_skew_p90":
        return "ratio"
    return "count"


# ---------------------------------------------------------------- e2e

def alerts_samples(m):
    """(alert latencies, achieved events/s, alerts closed only by the flush)."""
    last = {(svc, int(sec)): int(i) for svc, sec, i in m["last_index"]}
    lat, flush_only = stats.alert_latencies(
        [(a[0], a[1], a[2], a[3], int(a[4]), int(a[5])) for a in m["alerts"]], last, m["rate"],
        int(m["closed_by_s"]))
    # achieved rate: events sent over the time until both raw consumers had
    # finished the batch holding the last one; it falls as the backlog grows
    return lat, m["sent"] / (m["drained_ms"] / 1000.0), flush_only


def scan_counts(measures, bad):
    """(executions attempted, executions failed): an execution fails when it
    threw or its query's output failed the oracle check."""
    runs = [r for m in measures for p in m["passes"] for r in p["runs"]]
    return len(runs), sum(1 for r in runs if r["error"] is not None or r["name"] in bad)


def scan_samples(m, bad, key="wall_ms"):
    """Per query of the first pass: the fastest of its cold executions, as
    graft.Bench times it, by wall time or (key="cpu_ms") Java-thread CPU time.
    A query with a failed execution has no time; the suite is the sum over
    the others (the failure shows in fail_ratio and `correct`).
    Returns (query ms, queries/s, suite s)."""
    execs = defaultdict(list)
    for r in m["passes"][0]["runs"]:
        execs[r["name"]].append(None if r["error"] is not None or r["name"] in bad else r[key])
    best = {n: None if None in ts else min(ts) for n, ts in execs.items()}
    times = [v for v in best.values() if v is not None]
    suite = sum(times) / 1000.0
    return times, (len(times) / suite if suite else None), suite


def cpu_per_op(workload, m):
    """Java-thread CPU ms per operation: on alerts_stream per event sent,
    counted from the feed's start until every query has drained the flush,
    so all the work on the sent events and no part of a batch; on scan_batch
    per cold execution. Steal does not count as CPU time."""
    if workload == "alerts_stream":
        return m["cpu_ms"] / m["sent"]
    runs = m["passes"][0]["runs"]
    return sum(r["cpu_ms"] for r in runs) / len(runs)


def e2e_of(workload, m, bad):
    """The timing metrics of one measurement (untraced or traced)."""
    flush_only = None
    if workload == "alerts_stream":
        lat, thr, flush_only = alerts_samples(m)
    else:
        # by CPU time: a cold query saturates the cores, so its wall time
        # moves with the host's steal (README.md, "scan_batch by CPU time")
        lat, thr, _ = scan_samples(m, bad, key="cpu_ms")
    p, t = stats.tail(lat)
    return {"p50_ms": stats.median(lat), "tail_ms": t, "throughput_per_s": thr,
            "cpu_ms_per_op": cpu_per_op(workload, m), "_n": len(lat), "_tail_pct": p,
            "_flush_only": flush_only}


def end_to_end(raw, out: Path):
    w = raw["workload"]
    u, tr = raw["untraced"], raw.get("traced")
    measures = [u] + ([tr] if tr else [])
    bad, detail = {}, {}
    if w == "scan_batch":
        bad = oracle_check.check(out / "results")
        detail["oracle_failures"] = bad
        detail["oracle_checked"] = len(json.loads((out / "results" / "oracle.json").read_text())["oracle"])
        attempted, failed = scan_counts(measures, bad)
    else:
        attempted = sum(int(m["attempted"]) for m in measures)
        failed = sum(int(m["failed"]) for m in measures)
    if "gate_ok" in raw.get("extra", {}):  # the gate replay of a traced alerts_stream run
        attempted += 1
        failed += 0 if raw["extra"]["gate_ok"] else 1

    e = e2e_of(w, u, bad)
    # set-up by CPU time: it is a string of small Spark jobs whose wall time
    # follows the host's steal (README.md, "setup_s by CPU time")
    setup = stats.median(raw["setup_cpu_s"])
    metrics = {k: setup if k == "setup_s" else e[k] for k in E2E_UNITS}
    missing = [k for k, v in metrics.items() if v is None]
    if missing:
        raise SystemExit(f"perfbench: no samples for {missing}; failed {failed}/{attempted}")
    overhead = {}
    if tr:
        et = e2e_of(w, tr, bad)
        overhead = {k: et[k] - e[k] for k in OVERHEAD if et[k] is not None}

    n, tp = e["_n"], e["_tail_pct"]
    named = {"setup_s": {"value": setup, "unit": "s", "stat": "median CPU", "n": len(raw["setup_cpu_s"])},
             "setup_wall_s": {"value": stats.median(raw["setup_wall_s"]), "unit": "s", "stat": "median",
                              "n": len(raw["setup_wall_s"])},
             "rss_peak_mb": {"value": raw["rss_peak_kb"] / 1024.0, "unit": "MB", "stat": "max", "n": 1},
             "fail_ratio": {"value": stats.fail_ratio(attempted, failed), "unit": "ratio",
                            "n": attempted},
             "cpu_ms_per_op": {"value": e["cpu_ms_per_op"], "unit": "ms", "gated": False,
                               "stat": "per event sent" if w == "alerts_stream" else "mean per execution"}}
    if w == "alerts_stream":
        named["alert_p50_ms"] = {"value": e["p50_ms"], "unit": "ms", "stat": "median", "n": n,
                                 "flush_only": e["_flush_only"]}
        if tp is not None and tp > 50:
            named[f"alert_p{tp:g}_ms"] = {"value": e["tail_ms"], "unit": "ms", "stat": f"p{tp:g}", "n": n}
        named["events_per_s"] = {"value": e["throughput_per_s"], "unit": "1/s", "stat": "achieved",
                                 "n": 1, "offered": u["rate"]}
        detail["check"] = u["check"]
    else:
        wall, _, suite = scan_samples(u, bad)
        named["suite_s"] = {"value": suite, "unit": "s", "stat": "sum of per-query floors", "n": len(wall)}
        named["query_p50_s"] = {"value": stats.median(wall) / 1000.0, "unit": "s", "stat": "median",
                                "n": len(wall)}
        named["query_cpu_p50_s"] = {"value": e["p50_ms"] / 1000.0, "unit": "s", "stat": "median", "n": n}
    return {"metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()},
            "named": named, "detail": detail, "attempted": attempted, "failed": failed,
            "overhead": overhead}


# ---------------------------------------------------------------- per layer

def stream_fields(records):
    ran = [r for r in records if "addBatch" in r["duration_ms"]]
    if not ran:
        return {}

    def med(key):
        return stats.median([r["duration_ms"].get(key, 0) for r in ran])
    last_state = ran[-1]["state"]
    return {"batches": len(ran), "batch_p50_ms": med("triggerExecution"), "planning_ms": med("queryPlanning"),
            "add_batch_ms": med("addBatch"), "wal_commit_ms": med("walCommit"),
            "state_rows": sum(s["rows"] for s in last_state),
            "state_mem_mb": sum(s["memory_bytes"] for s in last_state) / MB,
            "state_commit_ms": stats.median([sum(s["commit_ms"] for s in r["state"]) for r in ran]),
            "dropped_by_watermark": sum(s["dropped_by_watermark"] for r in ran for s in r["state"])}


def build_spans(t):
    """The traced run's span tree: the benchmark's own spans, one span per
    micro-batch under its query, each Spark job under its micro-batch
    (streaming) or under the query whose interval holds its start (batch),
    and each stage under its job."""
    spans = [dict(s) for s in t["spans"]]
    next_id = max([s["id"] for s in spans] + [0]) + 1
    by_query = {s["query_id"]: s["id"] for s in spans if s.get("query_id")}
    batch_span = {}
    for p in t["progress"]:
        if "addBatch" not in p["duration_ms"] or p["query_id"] not in by_query:
            continue
        q = next(s for s in spans if s["id"] == by_query[p["query_id"]])
        spans.append({"id": next_id, "parent": q["id"], "name": f"{p['name']}#{p['batch_id']}",
                      "layer": q["layer"], "start_ms": p["start_ms"],
                      "end_ms": p["start_ms"] + p["duration_ms"]["triggerExecution"]})
        batch_span[(p["query_id"], str(p["batch_id"]))] = next_id
        next_id += 1
    ops = [s for s in spans if s["layer"] in MODULES and s["parent"] != 0 and "build_ms" in s]
    done = [j for j in t["jobs"] if "end_ms" in j]
    owner = stats.attribute(ops, [j for j in done if not j.get("query_id")])
    job_parent = {j["job"]: ops[i]["id"] for i, js in owner.items() for j in js}
    roots = [s for s in spans if s["parent"] == 0]
    job_span = {}
    for j in done:
        parent = batch_span.get((j.get("query_id"), j.get("batch_id")), job_parent.get(j["job"]))
        if parent is None:
            parent = next((r["id"] for r in roots if r["start_ms"] <= j["start_ms"] <= r["end_ms"]), 0)
        spans.append({"id": next_id, "parent": parent, "name": f"job{j['job']}", "layer": "job",
                      "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
        for st in j["stages"]:
            job_span[st] = next_id
        next_id += 1
    for st in t["stages"]:
        if st["start_ms"] is None or st["end_ms"] is None:
            continue
        spans.append({"id": next_id, "parent": job_span.get(st["stage"], 0), "name": f"stage{st['stage']}",
                      "layer": "stage", "start_ms": st["start_ms"], "end_ms": st["end_ms"]})
        next_id += 1
    return spans, ops, owner


def module_metrics(t, ops, owner):
    stage_of = defaultdict(list)
    for st in t["stages"]:
        stage_of[st["stage"]].append(st)
    out = {}
    for mod in MODULES:
        idx = [i for i, o in enumerate(ops) if o["layer"] == mod]
        jobs = [j for i in idx for j in owner.get(i, [])]
        stages = [st for j in jobs for sid in j["stages"] for st in stage_of.get(sid, [])]
        skew = []
        for st in stages:
            med = stats.median(st["task_ms"])
            if med:
                skew += [x / med for x in st["task_ms"]]
        out[mod] = {
            "build_s": sum(ops[i]["build_ms"] for i in idx) / 1000.0,
            "action_s": sum(ops[i]["action_ms"] for i in idx) / 1000.0,
            "jobs": len(jobs), "stages": len(stages), "tasks": sum(st["tasks"] for st in stages),
            "broadcast_jobs": sum(1 for j in jobs if (j.get("description") or "").startswith("broadcast exchange")),
            "driver_gap_s": sum(stats.driver_gap(ops[i]["start_ms"], ops[i]["end_ms"],
                                                 [(j["start_ms"], j["end_ms"]) for j in owner.get(i, [])])
                                for i in idx) / 1000.0,
            "exec_run_s": sum(st["run_ms"] for st in stages) / 1000.0,
            "exec_cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
            "gc_s": sum(st["gc_ms"] for st in stages) / 1000.0,
            "shuffle_mb": sum(st["shuffle_read_bytes"] + st["shuffle_write_bytes"] for st in stages) / MB,
            "spill_mb": sum(st["spill_bytes"] for st in stages) / MB,
            "task_skew_p90": stats.percentile(skew, 90) or 0.0,
        }
    return out


def per_layer(raw, out: Path):
    """Every per-layer metric of the traced measurement; a layer the workload
    does not run reports 0 (it did no work)."""
    t = dict(raw["traced"])
    w = raw["workload"]
    v = {n: 0.0 for n in per_layer_names()}
    extra = raw.get("extra", {})
    if "gate_spans" in extra:  # the traced alerts_stream run's gate replay, ids moved past the run's
        shift = max([s["id"] for s in t["spans"]] + [0])
        t["spans"] = t["spans"] + [dict(s, id=s["id"] + shift, parent=s["parent"] + shift if s["parent"] else 0)
                                   for s in extra["gate_spans"]]
        t["progress"] = t["progress"] + extra["gate_progress"]
    spans, ops, owner = build_spans(t)
    (out / "spans.json").write_text(json.dumps(spans))
    for layer, ms in stats.layer_self_ms(spans).items():
        if layer in SPAN_LAYERS:
            v[f"self_s.{layer}"] = ms / 1000.0
    by_name = defaultdict(list)
    for p in sorted(t["progress"], key=lambda r: (r["start_ms"], r["batch_id"])):
        by_name[p["name"]].append(p)

    if w == "alerts_stream":
        v["gen.rows"] = t["sent"]
        v["gen.build_s"] = raw["setup_info"]["gen_build_s"]
        v["gen.late_p99_ms"] = stats.percentile(stats.lateness(t["sends"], t["rate"]), 99)
        v["io.topic_rows"] = len(t["alerts"]) + len(t["escalations"])
        published = {a[1]: a[0] for a in t["alerts"]}
        hops = [ms - published[i] for ms, i in t["escalations"] if i in published]
        v["io.roundtrip_ms"] = stats.median(hops) or 0.0
        for q, prefix in STREAM_QUERIES.items():
            for f, x in stream_fields(by_name.get(q, [])).items():
                if f in STREAM_FIELDS:
                    v[f"{prefix}.{f}"] = x
        gate = stream_fields([p for p in extra["gate_progress"] if p["name"] == "gate"])
        for f in ("batch_p50_ms", "add_batch_ms", "state_rows", "state_mem_mb", "state_commit_ms"):
            v[f"streaming.gate.{f}"] = gate.get(f, 0.0)
        v["streaming.gate.kept_rows"] = extra["kept"]
        v["streaming.gate.late_rows"] = extra["late"]
        v["streaming.gate.eps_1core"] = extra["eps_1core"]
    else:
        runs = [r for p in t["passes"] for r in p["runs"]]
        v["oracle.release_s"] = sum(r["release_ms"] for r in runs) / 1000.0 / len(t["passes"])
        v["oracle.cached_mb_peak"] = max(r["cached_bytes"] for r in runs) / MB
        for mod, fields in module_metrics(t, ops, owner).items():
            for f, x in fields.items():
                v[f"{mod}.{f}"] = x
    return v
