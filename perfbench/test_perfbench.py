"""The benchmark's own tests (no JVM needed):

    python3 -m pytest perfbench/test_perfbench.py -q

- the request generators are deterministic in their seed;
- the table generator is deterministic;
- the MCP load is one client process, one connection, one thread;
- a server that dies mid-run fails the unanswered calls, and the run still
  yields every metric.
"""
import os
import sys
import textwrap
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("workload", ["agent_session", "curation_sweep"])
def test_same_seed_same_script(workload):
    a = workloads.script_bytes(workloads.script(workload, 7, 3))
    b = workloads.script_bytes(workloads.script(workload, 7, 3))
    assert a == b


def test_other_seed_other_literals_and_order():
    a = workloads.script("agent_session", 1, 2)
    b = workloads.script("agent_session", 2, 2)
    n = len(a) // 2
    # the cold block keeps its canonical order; later blocks are shuffled
    assert [q["template"] for q in a[:n]] == [q["template"] for q in b[:n]]
    sql_a = [q["args"].get("sql") for q in a if q["template"] == "sql:top_k"]
    sql_b = [q["args"].get("sql") for q in b if q["template"] == "sql:top_k"]
    assert sql_a != sql_b
    assert [q["template"] for q in a[n:]] != [q["template"] for q in b[n:]]
    # same mix of work in every block
    assert sorted(q["template"] for q in a) == sorted(q["template"] for q in b)
    c1 = workloads.script("curation_sweep", 1, 2)
    c2 = workloads.script("curation_sweep", 2, 2)
    assert [q["args"] for q in c1] != [q["args"] for q in c2]
    assert [q["template"] for q in c1[14:]] != [q["template"] for q in c2[14:]]
    assert sorted(q["tool"] for q in c1) == sorted(q["tool"] for q in c2)


def test_catalog_plan_is_a_seeded_permutation_of_fixed_entries():
    names = [f"q{i}" for i in range(418)]
    a, b = workloads.catalog_plan(names, 1, 15), workloads.catalog_plan(names, 2, 15)
    assert a == workloads.catalog_plan(names, 1, 15)
    assert a != b and sorted(a) == sorted(b)
    cold = [line for line in a if line.startswith("0 ")]
    assert cold == [line for line in b if line.startswith("0 ")]
    assert sorted(line[2:] for line in cold) == sorted(line[2:] for line in a if line[0] == "1")


def test_every_grid_point_is_pinned():
    import checks
    pins = checks.load_pins()
    for grid in (workloads.LIGHT_GRID, workloads.CURATION_GRID):
        for tool, points in grid.items():
            for args in points:
                assert workloads.pin_key(tool, args) in pins


def test_table_generator_is_deterministic():
    a = dict(gen_data.tables(0.001))
    b = dict(gen_data.tables(0.001))
    assert a.keys() == b.keys() == set(workloads.TABLES)
    for name in a:
        assert a[name].equals(b[name]), name


STUB = textwrap.dedent("""
    import json, sys
    die_after = int(sys.argv[1])
    served = 0
    for line in sys.stdin:
        req = json.loads(line)
        if "id" not in req:
            continue
        if req["method"] == "tools/call":
            served += 1
            if served > die_after:
                sys.exit(3)
        result = {"tools": []} if req["method"] == "tools/list" else {"content": []}
        print(json.dumps({"jsonrpc": "2.0", "id": req["id"], "result": result}), flush=True)
""")


@pytest.fixture
def stub_session(tmp_path, monkeypatch):
    stub = tmp_path / "stub.py"
    stub.write_text(STUB)
    monkeypatch.setattr(run, "BUILD_DIR", str(tmp_path / "build"))
    spawned, threads = [], []
    import mcp
    orig_popen = mcp.subprocess.Popen

    def popen(*a, **k):
        spawned.append(a[0])
        return orig_popen(*a, **k)
    monkeypatch.setattr(mcp.subprocess, "Popen", popen)
    orig_call = mcp.Server.call

    def call(self, *a, **k):
        threads.append(threading.active_count())
        return orig_call(self, *a, **k)
    monkeypatch.setattr(mcp.Server, "call", call)

    class NoCheck:
        def __init__(self, *a):
            pass

        def check(self, req, resp):
            return None
    monkeypatch.setattr(run.checks, "McpChecker", NoCheck)

    def go(die_after):
        monkeypatch.setattr(run.build, "java_cmd",
                            lambda *a, **k: [sys.executable, str(stub), str(die_after)])
        ctx = {"jars": "", "classes": "", "data": {"0.1": str(tmp_path)}}
        return run.mcp_session(ctx, "agent_session", 3, 1, False, time.time() + 60)
    return go, spawned, threads


def test_load_is_one_process_one_connection_one_thread(stub_session):
    go, spawned, threads = stub_session
    s = go(die_after=10 ** 6)
    assert len(spawned) == 1
    assert len(s["calls"]) == len(workloads.script("agent_session", 3, 1)) and s["lost"] == 0
    assert threads and max(threads) == 1 <= run.cpus()
    assert all(c["t_recv"] >= c["t_send"] for c in s["calls"])
    # closed loop: each call is sent after the previous answer arrived
    assert all(b["t_send"] >= a["t_recv"] for a, b in zip(s["calls"], s["calls"][1:]))


def test_dead_server_fails_the_unanswered_calls(stub_session):
    go, _, _ = stub_session
    s = go(die_after=5)
    e2e, attempted, failed = run.end_to_end(s)
    assert failed >= 1 and attempted == len(s["calls"]) + s["lost"]
    assert s["lost"] == len(workloads.script("agent_session", 3, 1)) - len(s["calls"])
    assert set(e2e) == {name for name, _ in run.END_TO_END}
    assert e2e["success_rate"] < 1.0
