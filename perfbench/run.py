#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {agent_session,curation_sweep,catalog}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It builds the program from source into
`.bench_build/`, generates the tables, runs the workload, checks every
answer, and prints as its last stdout line one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics of a traced run (see README.md in this directory).
Exit code 2 means nothing could be measured (for example, no program
sources); then no result line is printed.
"""
import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402
from mcp import Server, ServerGone  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("agent_session", "curation_sweep", "catalog")
RUN_LIMIT_S = 170.0       # every run ends well inside the 180 s budget
SETUP_CEILING_S = 90.0
CALL_CEILING_S = {"agent_session": 60.0, "curation_sweep": 90.0}
# A run does a fixed amount of work sized by --seconds, never a cut by time
# (that would change the mix of calls from seed to seed): one cold block of
# the request script, then round(seconds / WARM_BLOCK_S) warm blocks, about
# the time a warm block takes on a 4-core host. All of it is timed.
WARM_BLOCK_S = {"agent_session": 6, "curation_sweep": 30}
TEARDOWN_RESERVE_S = 25.0  # time kept back for residue counts and checks

END_TO_END = [("setup_s", "s"), ("calls_per_s", "1/s"), ("call_p50_s", "s"),
              ("call_p90_s", "s"), ("cold_mean_s", "s"), ("success_rate", "ratio")]
PER_LAYER = [
    ("setup.jvm_s", "s"), ("setup.tables_s", "s"), ("setup.jobs", "count"),
    ("mcp.protocol_s", "s"), ("mcp.gate_s", "s"), ("mcp.pre_exec_s", "s"),
    ("mcp.serialize_s", "s"), ("mcp.rows", "count"), ("mcp.resp_bytes", "bytes"),
    ("mcp.denied", "count"), ("mcp.errors", "count"),
    ("catalyst.explain_s", "s"), ("catalyst.parse_s", "s"), ("catalyst.analyze_s", "s"),
    ("catalyst.optimize_s", "s"), ("catalyst.plan_s", "s"),
    ("pipeline.construct_s", "s"), ("pipeline.construct_jobs", "count"),
    ("pipeline.construct_stages", "count"),
    ("streaming.drain_s", "s"), ("streaming.batches", "count"),
    ("streaming.state_rows", "count"), ("streaming.queries_left", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.single_task_stages", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.peak_exec_mem_mb", "MB"), ("exec.core_util", "ratio"),
    ("mem.peak_rss_mb", "MB"),
    ("residue.tmp_dirs", "count"), ("residue.sink_views", "count"),
    ("trace.overhead", "ratio"), ("trace.unattributed_frac", "ratio"),
    ("trace.recon_max_err", "ratio"),
]
# Tool names tools/list must advertise: the built-ins plus examples/tools.yaml.
TOOL_NAMES = (["list_tables", "execute_sql", "search_catalog", "run_sql", "corpus_funnel"] +
              list(workloads.LIGHT_GRID) + list(workloads.CURATION_GRID))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def host_facts():
    facts = {"nproc": cpus(), "loadavg": os.getloadavg()[0], "python": platform.python_version()}
    try:
        out = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                             capture_output=True, text=True).stderr
        facts["jdk"] = out.splitlines()[0] if out else "unknown"
    except OSError:
        facts["jdk"] = "unknown"
    try:
        jars = [j for j in os.listdir(build.spark_jars(ROOT)) if j.startswith("spark-core_")]
    except (build.BuildError, OSError):
        jars = []
    facts["spark"] = jars[0][len("spark-core_2.13-"):-len(".jar")] if jars else "unknown"
    try:
        facts["commit"] = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                         capture_output=True, text=True).stdout.strip() or "unknown"
    except OSError:
        facts["commit"] = "unknown"
    return facts


class Run:
    """One isolated process run: its own java.io.tmpdir, Spark local dir and
    event-log dir under .bench_build/runs, removed when the run ends."""

    def __init__(self, name):
        self.dir = os.path.join(BUILD_DIR, "runs", f"{name}-{os.getpid()}-{time.time_ns()}")
        self.tmp = os.path.join(self.dir, "tmp")
        self.local = os.path.join(self.dir, "local")
        self.events = os.path.join(self.dir, "events")
        for d in (self.tmp, self.local, self.events):
            os.makedirs(d)

    def env(self, **extra):
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")}
        env.update(SPARK_GRAFT_CPUS=str(cpus()), TMPDIR=self.tmp, **extra)
        return env

    def tmp_residue(self):
        return sum(1 for n in os.listdir(self.tmp) if n.startswith("graft_"))

    def remove(self):
        shutil.rmtree(self.dir, ignore_errors=True)


def eventlog_props(run):
    return ["-Dspark.eventLog.enabled=true", "-Dspark.eventLog.compress=false",
            "-Dspark.eventLog.rolling.enabled=false", f"-Dspark.eventLog.dir=file://{run.events}"]


# ---------------------------------------------------------------- MCP

def mcp_session(ctx, workload, seed, seconds, traced, deadline):
    """One fresh server, one connection, one closed-loop client."""
    run = Run(f"{workload}-{'traced' if traced else 'plain'}")
    cmd = build.java_cmd(ctx["jars"], ctx["classes"], "graft.mcp.Main",
                         ["--stdio", "--tools-file", os.path.join(ROOT, "examples/tools.yaml")],
                         run.tmp, run.local, props=eventlog_props(run) if traced else ())
    srv = Server(cmd, run.env(SPARK_GRAFT_SF_DIR=ctx["data"]["0.1"]), run.dir,
                 os.path.join(run.dir, "server.log"))
    out = {"setup_s": None, "ready": None, "spawn": srv.t_spawn, "calls": [], "lost": 0,
           "sink_views": 0, "rss": 0.0, "tmp_dirs": 0, "notes": []}
    blocks = 1 + round(seconds / WARM_BLOCK_S[workload])
    script = workloads.script(workload, seed, blocks)
    cold_len = len(script) // blocks
    try:
        _, _, _, t1 = srv.call("initialize", {"protocolVersion": "2024-11-05",
                                              "clientInfo": {"name": "perfbench", "version": "1"}},
                               ceiling_s=min(SETUP_CEILING_S, deadline - time.time()))
        out["setup_s"], out["ready"] = t1 - srv.t_spawn, t1
        srv.notify("notifications/initialized")
    except ServerGone as e:
        out["notes"].append(f"server never answered initialize: {e}")
        out["lost"] = len(script)
        script = []
    for i, req in enumerate(script):
        ceiling = min(CALL_CEILING_S[workload], deadline - TEARDOWN_RESERVE_S - time.time())
        call = {"template": req["template"], "check": req["check"], "req": req,
                "phase": "cold" if i < cold_len else "warm", "t_send": time.time(), "t_recv": None}
        try:
            if ceiling <= 0:
                raise ServerGone("run time limit reached")
            if req["method"] == "tools/list":
                resp, raw, ts, tr = srv.call("tools/list", ceiling_s=ceiling)
            else:
                resp, raw, ts, tr = srv.call("tools/call", {"name": req["tool"],
                                                            "arguments": req["args"]},
                                             ceiling_s=ceiling)
        except ServerGone as e:
            call["error"] = str(e)
            out["calls"].append(call)
            left = len(script) - i - 1
            out["lost"] += left
            out["notes"].append(f"call {i} ({req['template']}) failed: {e}; "
                                f"{left} more counted as failed")
            break
        res = resp.get("result", {})
        call.update(t_send=ts, t_recv=tr, resp=resp, bytes=len(raw),
                    rows=len(res.get("content", [])) if isinstance(res, dict) else 0,
                    is_error=bool(res.get("isError")) if isinstance(res, dict) else True)
        out["calls"].append(call)
    if srv.alive:
        try:  # untimed residue probe
            resp, _, _, _ = srv.call("tools/call", {"name": "execute_sql",
                                                    "arguments": {"sql": "SHOW VIEWS"}},
                                     ceiling_s=max(5.0, min(30.0, deadline - time.time() - 10)))
            out["sink_views"] = sum(1 for c in resp.get("result", {}).get("content", [])
                                    if "graft_stream_sink_" in c.get("text", ""))
        except ServerGone as e:
            out["notes"].append(f"SHOW VIEWS failed: {e}")
    out["rss"] = srv.peak_rss_mb()
    srv.close(grace_s=max(5.0, min(30.0, deadline - time.time() - 5)))
    out["tmp_dirs"] = run.tmp_residue()
    checker = checks.McpChecker(ctx["data"]["0.1"], run.tmp, TOOL_NAMES)
    for c in out["calls"]:
        c["wrong"] = c.get("error") or checker.check(c["req"], c["resp"])
        c.pop("resp", None)
    if traced:
        out["layers"] = layers.mcp_metrics(layers.read_eventlog(run.events), out["calls"],
                                           out["spawn"], out["ready"] or out["spawn"], cpus())
    run.remove()
    return out


# ---------------------------------------------------------------- catalog

def catalog_session(ctx, seed, seconds, traced, deadline):
    """One fresh driver JVM timing the seeded catalog plan."""
    run = Run(f"catalog-{'traced' if traced else 'plain'}")
    with open(ctx["catalog"]) as f:
        info = json.load(f)
    plan = workloads.catalog_plan(info["names"], seed, seconds)
    plan_file = os.path.join(run.dir, "plan.txt")
    with open(plan_file, "w") as f:
        f.write("\n".join(plan) + "\n")
    results = os.path.join(run.dir, "results")
    os.makedirs(results)
    cmd = build.java_cmd(ctx["jars"], f"{ctx['driver']}:{ctx['classes']}",
                         "perfbench.CatalogDriver",
                         [ctx["data"]["0.01"], plan_file, results, "1" if traced else "0"],
                         run.tmp, run.local)
    drv = Server(cmd, run.env(), run.dir, os.path.join(run.dir, "driver.log"))
    out = {"setup_s": None, "spawn": drv.t_spawn, "calls": [], "lost": 0, "sink_views": 0,
           "rss": 0.0, "tmp_dirs": 0, "notes": [], "end": None}
    try:
        while True:
            line = drv.readline(min(SETUP_CEILING_S, deadline - time.time()))
            if line.startswith("READY "):
                out["setup_s"] = time.time() - drv.t_spawn
                _, ready_ms, start_ms = line.split()
                out["ready"], out["app_start"] = int(ready_ms) / 1000.0, int(start_ms) / 1000.0
                break
        while True:
            line = drv.readline(deadline - TEARDOWN_RESERVE_S - time.time())
            if line.startswith("END "):
                out["end"] = json.loads(line[4:])
                break
    except ServerGone as e:
        out["notes"].append(f"catalog driver failed: {e}")
    out["rss"] = drv.peak_rss_mb()
    drv.close(grace_s=max(5.0, min(30.0, deadline - time.time() - 5)))
    out["tmp_dirs"] = run.tmp_residue()
    if out["end"]:
        out["sink_views"] = out["end"]["sink_views"]
    records = []
    rec_file = os.path.join(results, "records.jsonl")
    if os.path.exists(rec_file):
        with open(rec_file) as f:
            records = [json.loads(line) for line in f if line.strip()]
    out["lost"] = len(plan) - len(records)
    checker = checks.CatalogChecker(ctx["data"]["0.01"], run.tmp, info["oracles"],
                                    os.path.join(BUILD_DIR, "oracle_cache.json"))
    for r in records:
        wrong = r["error"] or r["check_error"] or (
            r["pass"] == 0 and checker.check(r["name"], os.path.join(results, r["name"])))
        out["calls"].append({"template": r["name"], "check": "oracle", "wrong": wrong,
                             "phase": "cold" if r["pass"] == 0 else "warm",
                             "t_send": r["start_ms"] / 1000.0,
                             "t_recv": r["start_ms"] / 1000.0 + r["construct_s"] + r["exec_s"],
                             "latency": r["construct_s"] + r["exec_s"]})
    checker.save()
    if os.path.exists(os.path.join(results, "conf.json")):
        with open(os.path.join(results, "conf.json")) as f:
            out["conf"] = json.load(f)
    if traced and out["setup_s"] is not None:
        tally = {}
        if os.path.exists(os.path.join(results, "tally.json")):
            with open(os.path.join(results, "tally.json")) as f:
                tally = json.load(f)
        out["layers"] = layers.catalog_metrics(records, tally, out["spawn"], out["app_start"],
                                               out["ready"], cpus())
        if out["end"]:
            out["layers"]["streaming.queries_left"] = out["end"]["queries_left"]
    run.remove()
    return out


# ---------------------------------------------------------------- metrics

def _latency(c):
    if "latency" in c:
        return c["latency"]
    return (c["t_recv"] if c["t_recv"] is not None else time.time()) - c["t_send"]


def end_to_end(s):
    calls = s["calls"]
    lat = [_latency(c) for c in calls]
    answered = [c for c in calls if c["t_recv"] is not None]
    if answered and "latency" in answered[0]:  # catalog: entry times only
        span = sum(c["latency"] for c in answered)
    else:
        span = max(c["t_recv"] for c in answered) - min(c["t_send"] for c in answered) \
            if answered else 0.0
    first = {}
    for c in s["calls"]:
        if c["phase"] == "cold":
            first.setdefault(c["template"], _latency(c))
    attempted = len(s["calls"]) + s["lost"]
    failed = sum(1 for c in s["calls"] if c["wrong"]) + s["lost"]
    return {
        "setup_s": s["setup_s"] or 0.0,
        "calls_per_s": len(answered) / span if span > 0 else 0.0,
        "call_p50_s": statistics.median(lat) if lat else 0.0,
        "call_p90_s": (statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1
                       else sum(lat)),
        "cold_mean_s": statistics.mean(first.values()) if first else 0.0,
        "success_rate": 1.0 - failed / attempted if attempted else 0.0,
    }, attempted, failed


def session(ctx, workload, seed, seconds, traced, deadline):
    if workload == "catalog":
        return catalog_session(ctx, seed, seconds, traced, deadline)
    return mcp_session(ctx, workload, seed, seconds, traced, deadline)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.time()
    facts = host_facts()
    try:
        jars, classes, driver, catalog, data = build.build(ROOT, BUILD_DIR)
    except (build.BuildError, OSError) as e:
        log(f"cannot build the benchmark: {e}")
        return 2
    # A first run pays the build; the measured part keeps its own budget.
    deadline = time.time() + RUN_LIMIT_S
    log(f"built in {time.time() - t0:.1f}s; host {json.dumps(facts)}")
    ctx = {"jars": jars, "classes": classes, "driver": driver, "catalog": catalog, "data": data}
    if args.trace:
        # Same seed, same work: an untraced session, then a traced one.
        half = (deadline - time.time()) / 2
        plain = session(ctx, args.workload, args.seed, args.seconds, False, time.time() + half)
        s = session(ctx, args.workload, args.seed, args.seconds, True, deadline)
    else:
        s = session(ctx, args.workload, args.seed, args.seconds, False, deadline)
    e2e, attempted, failed = end_to_end(s)
    for n in s["notes"]:
        log(n)
    for c in s["calls"]:
        if c["wrong"]:
            log(f"wrong: {c['template']}: {c['wrong']}")
        else:
            log(f"{c['phase']} {_latency(c):8.3f}s {c['template']}")
    if args.trace:
        pe2e, pattempted, pfailed = end_to_end(plain)
        attempted += pattempted
        failed += pfailed
        values = {name: 0.0 for name, _ in PER_LAYER}
        values.update(s.get("layers", {}))
        values["mem.peak_rss_mb"] = s["rss"]
        values["residue.tmp_dirs"] = s["tmp_dirs"]
        values["residue.sink_views"] = s["sink_views"]
        values["trace.overhead"] = (e2e["calls_per_s"] / pe2e["calls_per_s"]
                                    if pe2e["calls_per_s"] else 0.0)
        if args.workload == "catalog":
            # Traced construction + execution totals against the untraced pass.
            traced_total = sum(c["latency"] for c in s["calls"])
            plain_total = sum(c["latency"] for c in plain["calls"])
            values["trace.recon_max_err"] = (abs(traced_total / plain_total - 1.0)
                                             if plain_total else 1.0)
        share = [(c["layers"]["unattributed"] / c["layers"]["wall"], c) for c in s["calls"]
                 if c.get("layers", {}).get("wall")]
        for err, c in sorted(share, key=lambda x: -x[0])[:3]:
            log(f"least covered call: {c['template']} wall {c['layers']['wall']:.3f}s, "
                f"unattributed {c['layers']['unattributed']:.3f}s ({err:.1%})")
        recon_ok = values["trace.recon_max_err"] <= 0.05
        log(f"trace reconciliation {'ok' if recon_ok else 'FAILED'}: "
            f"max error {values['trace.recon_max_err']:.4f} (bound 0.05)")
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    tail = sum(1 for c in s["calls"] if _latency(c) > e2e["call_p90_s"])
    summary = {"workload": args.workload, "seed": args.seed, "host": facts,
               "samples": len(s["calls"]), "beyond_p90": tail, "peak_rss_mb": s["rss"],
               "residue": {"tmp_dirs": s["tmp_dirs"], "sink_views": s["sink_views"]},
               "error_rate": failed / attempted if attempted else 1.0}
    if "conf" in s:
        summary["spark_conf"] = s["conf"]
    print("summary " + json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
