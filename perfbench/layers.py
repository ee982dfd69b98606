"""Per-layer attribution for the traced runs, timed from outside the program.

MCP: Spark's own event log (SQL executions, jobs, stages, tasks, streaming
progress; written because the server JVM runs with -Dspark.eventLog.*)
is joined with the client's send/receive timestamps. The server answers
one call at a time, so everything that starts inside a call's
[send, receive] window belongs to that call. Within a call:

    pre_exec   send -> first Spark execution or streaming query
    construct  union of the non-final, non-streaming executions
    streaming  each drain, QueryStarted -> end of its last micro-batch
    exec       the final execution (the one that produces the answer)
    serialize  end of the final execution -> response received

What none of these spans covers is unattributed. A call with no execution
(a gate denial, tools/list) is all mcp time.

Catalog: the driver's records and listener tally (CatalogDriver.scala).
"""
import glob
import json
import statistics
from datetime import datetime


def _iso_ms(s):
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


def read_eventlog(ev_dir):
    log = {"app_start": None, "execs": {}, "jobs": {}, "stages": {}, "tasks": {},
           "queries": {}}
    for path in sorted(glob.glob(f"{ev_dir}/*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerApplicationStart":
                    log["app_start"] = e["Timestamp"]
                elif kind == "SparkListenerSQLExecutionStart":
                    log["execs"][e["executionId"]] = {
                        "start": e["time"], "end": None,
                        "root": e.get("rootExecutionId", e["executionId"])}
                elif kind == "SparkListenerSQLExecutionEnd":
                    if e["executionId"] in log["execs"]:
                        log["execs"][e["executionId"]]["end"] = e["time"]
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    eid = props.get("spark.sql.execution.id")
                    log["jobs"][e["Job ID"]] = {
                        "submit": e["Submission Time"], "stages": e["Stage IDs"],
                        "exec": int(eid) if eid not in (None, "") else None}
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    log["stages"][si["Stage ID"]] = {"tasks": si["Number of Tasks"]}
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    t = log["tasks"].setdefault(e["Stage ID"], {
                        "n": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "sr": 0, "sw": 0,
                        "spill": 0, "peak": 0})
                    t["n"] += 1
                    t["run_ms"] += m.get("Executor Run Time", 0)
                    t["cpu_ns"] += m.get("Executor CPU Time", 0)
                    t["gc_ms"] += m.get("JVM GC Time", 0)
                    t["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    t["sw"] += sw.get("Shuffle Bytes Written", 0)
                    t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    t["peak"] = max(t["peak"], m.get("Peak Execution Memory", 0))
                elif kind == "StreamingQueryListener$QueryStartedEvent":
                    start = _iso_ms(e["timestamp"])
                    log["queries"][e["runId"]] = {"start": start, "end": start, "batches": 0,
                                                  "state_rows": 0, "terminated": False}
                elif kind == "StreamingQueryListener$QueryProgressEvent":
                    p = e["progress"]
                    q = log["queries"].get(p["runId"])
                    if q is not None:
                        q["batches"] += 1
                        q["state_rows"] += sum(s.get("numRowsTotal", 0)
                                               for s in p.get("stateOperators", []))
                        q["end"] = max(q["end"], _iso_ms(p["timestamp"]) + p.get("batchDuration", 0))
                elif kind == "StreamingQueryListener$QueryTerminatedEvent":
                    q = log["queries"].get(e["runId"])
                    if q is not None:
                        q["terminated"] = True
    return log


def _union(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _zero_exec():
    return {"jobs": 0, "stages": 0, "tasks": 0, "single": 0, "run_ms": 0, "cpu_ns": 0,
            "gc_ms": 0, "sr": 0, "sw": 0, "spill": 0, "peak": 0}


def _add_job(acc, log, job):
    acc["jobs"] += 1
    for sid in job["stages"]:
        st = log["stages"].get(sid)
        if st is None:  # skipped stage: its output was reused
            continue
        acc["stages"] += 1
        acc["single"] += st["tasks"] == 1
        t = log["tasks"].get(sid)
        if t:
            acc["tasks"] += t["n"]
            for k in ("run_ms", "cpu_ns", "gc_ms", "sr", "sw", "spill"):
                acc[k] += t[k]
            acc["peak"] = max(acc["peak"], t["peak"])


def attribute_calls(log, calls):
    """Adds a `layers` dict to each answered call (times in seconds)."""
    execs = sorted(((x["start"], x["end"] if x["end"] is not None else x["start"], eid)
                    for eid, x in log["execs"].items() if x["root"] == eid))
    for c in calls:
        if c.get("t_recv") is None:
            continue
        s, e = c["t_send"] * 1000.0, c["t_recv"] * 1000.0
        wall = e - s
        drains = [(q["start"], q["end"], q) for q in log["queries"].values() if s <= q["start"] <= e]
        inside = [x for x in execs if s <= x[0] <= e]
        stream_ids = {x[2] for x in inside if any(d0 <= x[0] <= d1 for d0, d1, _ in drains)}
        plain = [x for x in inside if x[2] not in stream_ids]
        final = plain[-1] if plain else None
        construct = plain[:-1]
        L = {"wall": wall / 1000.0, "pre_exec": 0.0, "construct": 0.0, "streaming": 0.0,
             "exec": 0.0, "serialize": 0.0, "mcp_only": final is None and not drains,
             "drain_batches": sum(q["batches"] for _, _, q in drains),
             "state_rows": sum(q["state_rows"] for _, _, q in drains),
             "queries": len(drains), "terminated": sum(q["terminated"] for _, _, q in drains)}
        if L["mcp_only"]:
            covered = wall
        else:
            first = min([x[0] for x in inside] + [d[0] for d in drains])
            last = final[1] if final else max(d[1] for d in drains)
            spans = [(s, first), (last, e)]
            spans += [(x[0], x[1]) for x in construct]
            spans += [(d0, d1) for d0, d1, _ in drains]
            spans += [(x[0], x[1]) for x in inside if x[2] in stream_ids]
            if final:
                spans.append((final[0], final[1]))
            covered = _union([(max(a, s), min(b, e)) for a, b in spans if b >= a])
            L["pre_exec"] = (first - s) / 1000.0
            L["construct"] = _union([(x[0], x[1]) for x in construct]) / 1000.0
            L["streaming"] = _union([(d0, d1) for d0, d1, _ in drains]) / 1000.0
            L["exec"] = (final[1] - final[0]) / 1000.0 if final else 0.0
            L["serialize"] = (e - last) / 1000.0
        L["unattributed"] = max(0.0, wall - covered) / 1000.0
        final_id = final[2] if final else None
        construct_ids = {x[2] for x in construct}
        acc = {"exec": _zero_exec(), "construct": _zero_exec(), "streaming": _zero_exec()}
        for job in log["jobs"].values():
            if not s <= job["submit"] <= e:
                continue
            root = log["execs"].get(job["exec"], {}).get("root", job["exec"])
            if root is not None and root == final_id:
                layer = "exec"
            elif root in stream_ids or any(d0 <= job["submit"] <= d1 for d0, d1, _ in drains):
                layer = "streaming"
            elif root in construct_ids or (final and job["submit"] < final[0]):
                layer = "construct"
            else:
                layer = "exec"
            _add_job(acc[layer], log, job)
        L["counters"] = acc
        c["layers"] = L


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def mcp_metrics(log, calls, spawn_s, ready_s, cpus):
    """Per-layer metrics of one traced MCP session. Times are per-call means
    unless named as medians in perfbench/README.md."""
    attribute_calls(log, calls)
    done = [c for c in calls if "layers" in c]
    n = max(1, len(done))
    lay = [c["layers"] for c in done]
    ex = _zero_exec()
    con = _zero_exec()
    for L in lay:
        for k in ex:
            if k == "peak":
                ex[k] = max(ex[k], L["counters"]["exec"][k])
                con[k] = max(con[k], L["counters"]["construct"][k])
            else:
                ex[k] += L["counters"]["exec"][k]
                con[k] += L["counters"]["construct"][k]
    exec_wall = sum(L["exec"] for L in lay)
    wall = sum(L["wall"] for L in lay)
    protocol = _med([c["layers"]["wall"] for c in done if c["check"] == "tools_list"])
    with_exec = [L for L in lay if not L["mcp_only"]]
    ready_ms = ready_s * 1000.0
    m = {
        "setup.jvm_s": (log["app_start"] / 1000.0 - spawn_s) if log["app_start"] else 0.0,
        "setup.tables_s": (ready_s - log["app_start"] / 1000.0) if log["app_start"] else 0.0,
        "setup.jobs": sum(1 for j in log["jobs"].values() if j["submit"] <= ready_ms),
        "mcp.protocol_s": protocol,
        "mcp.gate_s": _med([c["layers"]["wall"] for c in done if c["check"] == "denied"]),
        "mcp.pre_exec_s": _med([L["pre_exec"] for L in with_exec]),
        "mcp.serialize_s": _med([L["serialize"] for L in with_exec]),
        "mcp.rows": sum(c.get("rows", 0) for c in done) / n,
        "mcp.resp_bytes": sum(c.get("bytes", 0) for c in done) / n,
        "mcp.denied": sum(1 for c in done if c["check"] == "denied"),
        "mcp.errors": sum(1 for c in done if c.get("is_error") and c["check"] != "denied"),
        "catalyst.explain_s": max(0.0, _med([c["layers"]["wall"] for c in done
                                             if c["check"] == "explain"]) - protocol),
        "pipeline.construct_s": sum(L["construct"] for L in lay) / n,
        "pipeline.construct_jobs": con["jobs"] / n,
        "pipeline.construct_stages": con["stages"] / n,
        "streaming.drain_s": sum(L["streaming"] for L in lay) / n,
        "streaming.batches": sum(L["drain_batches"] for L in lay) / n,
        "streaming.state_rows": sum(L["state_rows"] for L in lay) / n,
        "streaming.queries_left": sum(1 for q in log["queries"].values() if not q["terminated"]),
        "trace.unattributed_frac": sum(L["unattributed"] for L in lay) / wall if wall else 0.0,
        "trace.recon_max_err": max([L["unattributed"] / L["wall"] for L in lay if L["wall"] > 0],
                                   default=0.0),
    }
    m.update(_exec_metrics(ex, exec_wall, n, cpus))
    return m


def _exec_metrics(ex, exec_wall, n, cpus):
    mb = 1024.0 * 1024.0
    return {
        "exec.s": exec_wall / n,
        "exec.jobs": ex["jobs"] / n,
        "exec.stages": ex["stages"] / n,
        "exec.tasks": ex["tasks"] / n,
        "exec.single_task_stages": ex["single"] / n,
        "exec.task_run_s": ex["run_ms"] / 1000.0 / n,
        "exec.task_cpu_s": ex["cpu_ns"] / 1e9 / n,
        "exec.gc_s": ex["gc_ms"] / 1000.0 / n,
        "exec.shuffle_read_mb": ex["sr"] / mb / n,
        "exec.shuffle_write_mb": ex["sw"] / mb / n,
        "exec.spill_mb": ex["spill"] / mb / n,
        "exec.peak_exec_mem_mb": ex["peak"] / mb,
        "exec.core_util": (ex["run_ms"] / 1000.0) / (exec_wall * cpus) if exec_wall else 0.0,
    }


def catalog_metrics(records, tally, spawn_s, app_start_s, ready_s, cpus):
    """Per-layer metrics of one traced catalog run, per entry."""
    n = max(1, len(records))
    phase = {"parsing": 0.0, "analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for r in records:
        for p, span in r.get("phases", {}).items():
            if p in phase:
                phase[p] += (span["end_ms"] - span["start_ms"]) / 1000.0

    def sum_tags(suffix):
        acc = {}
        for tag, k in tally.items():
            if tag.endswith(suffix):
                for f, v in k.items():
                    acc[f] = max(acc.get(f, 0), v) if f == "peak_mem" else acc.get(f, 0) + v
        return acc
    con, exe = sum_tags(":construct"), sum_tags(":exec")
    ex = {"jobs": exe.get("jobs", 0), "stages": exe.get("stages", 0),
          "tasks": exe.get("tasks", 0), "single": exe.get("single_task_stages", 0),
          "run_ms": exe.get("run_ms", 0), "cpu_ns": exe.get("cpu_ns", 0),
          "gc_ms": exe.get("gc_ms", 0), "sr": exe.get("shuffle_read", 0),
          "sw": exe.get("shuffle_write", 0), "spill": exe.get("spill", 0),
          "peak": exe.get("peak_mem", 0)}
    exec_wall = sum(r["exec_s"] for r in records)
    m = {
        "setup.jvm_s": app_start_s - spawn_s,
        "setup.tables_s": ready_s - app_start_s,
        "setup.jobs": tally.get("setup", {}).get("jobs", 0),
        "catalyst.parse_s": phase["parsing"] / n,
        "catalyst.analyze_s": phase["analysis"] / n,
        "catalyst.optimize_s": phase["optimization"] / n,
        "catalyst.plan_s": phase["planning"] / n,
        "pipeline.construct_s": sum(r["construct_s"] for r in records) / n,
        "pipeline.construct_jobs": con.get("jobs", 0) / n,
        "pipeline.construct_stages": con.get("stages", 0) / n,
        "streaming.drain_s": con.get("drain_ms", 0) / 1000.0 / n,
        "streaming.batches": con.get("batches", 0) / n,
        "streaming.state_rows": con.get("state_rows", 0) / n,
        "streaming.queries_left": con.get("stream_queries", 0) - con.get("stream_terminated", 0),
    }
    m.update(_exec_metrics(ex, exec_wall, n, cpus))
    return m
