#!/usr/bin/env python3
"""Reference-harness parity run (VERDICT r10 #3).

The reference's real test contract is its Python MCP harness — pytest
functions that Popen the server with stdio pipes, write newline-delimited
JSON-RPC, and select()-poll stdout with timeouts
(/root/reference/tests/postgres/test_mcp.py:50-157 full protocol flow,
/root/reference/tests/snowflake/test_mcp.py:525-592 negative config
matrix, :673-851 protocol-over-stdio with timeout polling). This file
ports that harness SHAPE against `graft.mcp.Main --stdio` — same client
code structure, same assertions — proving a reference-style MCP client
drives this server unchanged. Where the reference spawns a docker image,
this spawns the local JVM; everything downstream of Popen is the same
protocol surface.

Run:  python3 -m pytest tests/mcp/ -v        (needs target/scala-2.13/classes built)
"""
import json
import os
import select
import subprocess
import time

import pytest

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
CLASSPATH = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"
DATA_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
ADD_OPENS = [
    f"--add-opens=java.base/{m}=ALL-UNNAMED"
    for m in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]]


def server_cmd(*extra):
    return (["java"] + ADD_OPENS +
            ["-Dspark.ui.enabled=false", "-Xmx4g", "-cp", CLASSPATH,
             "graft.mcp.Main", "--stdio"] + list(extra))


def spawn(*extra, env_overrides=None, drop_env=()):
    env = {k: v for k, v in os.environ.items() if k not in drop_env}
    if "SPARK_GRAFT_SF_DIR" not in drop_env:
        env.setdefault("SPARK_GRAFT_SF_DIR", DATA_DIR)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    env.update(env_overrides or {})
    return subprocess.Popen(
        server_cmd(*extra), stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, env=env)


def rpc_roundtrip(process, request, timeout=60):
    """The reference harness's write-then-select-poll loop
    (tests/snowflake/test_mcp.py:714-781), minus the docker noise."""
    process.stdin.write(json.dumps(request) + "\n")
    process.stdin.flush()
    fd = process.stdout.fileno()
    start = time.time()
    while time.time() - start < timeout:
        ready, _, _ = select.select([fd], [], [], 1.0)
        if ready:
            line = process.stdout.readline()
            if line:
                return json.loads(line)
        if process.poll() is not None:
            pytest.fail(f"server exited with code {process.poll()}: "
                        f"{process.stderr.read()[-500:]}")
    pytest.fail(f"no response within {timeout}s for {request.get('method')}")


@pytest.fixture(scope="module")
def server():
    """One shared server for the protocol tests (the reference starts one
    container per test only because each test's config differs; these all
    share the default launch)."""
    process = spawn("--tools-file", f"{REPO}/examples/tools.yaml")
    yield process
    try:
        process.terminate()
        process.wait(timeout=10)
    except Exception:
        process.kill()


@pytest.fixture(scope="module")
def initialized(server):
    resp = rpc_roundtrip(server, {
        "jsonrpc": "2.0", "method": "initialize",
        "params": {"protocolVersion": "1.0.0", "capabilities": {},
                   "clientInfo": {"name": "test-client", "version": "1.0.0"}},
        "id": 1})
    assert "result" in resp, f"Initialize failed: {resp}"
    return server


# ============================================================================
# MCP PROTOCOL TESTS (tests/postgres/test_mcp.py:50-157 flow)
# ============================================================================

def test_mcp_protocol_full(initialized):
    """initialize -> tools/list -> list_tables -> execute_sql, the postgres
    harness's exact sequence and assertions."""
    process = initialized

    tools_response = rpc_roundtrip(process, {
        "jsonrpc": "2.0", "method": "tools/list", "params": {}, "id": 2})
    assert "result" in tools_response, f"tools/list failed: {tools_response}"
    tools = tools_response["result"]["tools"]
    tool_names = [t.get("name", "") for t in tools]
    assert "list_tables" in tool_names
    assert "execute_sql" in tool_names

    lt = rpc_roundtrip(process, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "list_tables",
                   "arguments": {"table_names": ""}},  # empty = all tables
        "id": 3})
    assert "result" in lt, f"list_tables failed: {lt}"
    assert not lt["result"].get("isError", False)
    text = "".join(c.get("text", "") for c in lt["result"].get("content", []))
    assert "lineitem" in text and "documents" in text

    q = rpc_roundtrip(process, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "execute_sql",
                   "arguments": {"sql": "SELECT count(*) AS n FROM region"}},
        "id": 4})
    assert "result" in q, f"execute_sql failed: {q}"
    assert not q["result"].get("isError", False), f"query errored: {q}"
    text = "".join(c.get("text", "") for c in q["result"].get("content", []))
    assert "5" in text  # TPC-H region has 5 rows at every SF


def test_query_result_not_error_flagged(initialized):
    """tests/snowflake/test_mcp.py:845-851: result present AND isError unset."""
    resp = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "execute_sql",
                   "arguments": {"sql": "SELECT current_timestamp() AS now, 'test' AS message"}},
        "id": 5})
    assert "result" in resp, f"Query failed: {resp}"
    assert not resp["result"].get("isError", False), f"Query returned error: {resp['result']}"


def test_blocked_write_is_structured_error(initialized):
    """A write statement must come back as result.isError=true (the MCP
    convention the reference's gated tools use), not a protocol error."""
    resp = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "execute_sql",
                   "arguments": {"sql": "DROP TABLE lineitem"}},
        "id": 6})
    assert "result" in resp
    assert resp["result"].get("isError") is True


def test_unknown_tool_is_invalid_params(initialized):
    resp = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "no_such_tool", "arguments": {}}, "id": 7})
    assert resp.get("error", {}).get("code") == -32602


def test_malformed_line_is_parse_error(initialized):
    process = initialized
    process.stdin.write("{this is not json\n")
    process.stdin.flush()
    fd = process.stdout.fileno()
    start = time.time()
    while time.time() - start < 30:
        ready, _, _ = select.select([fd], [], [], 1.0)
        if ready:
            resp = json.loads(process.stdout.readline())
            assert resp.get("error", {}).get("code") == -32700
            return
    pytest.fail("no parse-error response")


def test_yaml_tool_with_binding(initialized):
    """A declarative YAML tool with a named parameter binding — the
    reference's custom-tool path (CONTRIBUTING.md tool form)."""
    resp = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "sample_corpus", "arguments": {"pct": "10"}},
        "id": 8})
    assert "result" in resp, f"yaml tool failed: {resp}"
    assert not resp["result"].get("isError", False), f"yaml tool errored: {resp}"


def test_typed_yaml_tool(initialized):
    """Typed (integer + array) params bind natively through a reference-style
    client sending real JSON types; violations are structured errors."""
    ok = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "source_mix",
                   "arguments": {"sources": [], "min_chars": 0}},
        "id": 9})
    assert "result" in ok and not ok["result"].get("isError", False), f"source_mix failed: {ok}"
    rows = [json.loads(c["text"]) for c in ok["result"]["content"]]
    assert rows and all("n_docs" in r and "n_tokens" in r for r in rows)

    one = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "source_mix",
                   "arguments": {"sources": [rows[0]["source"]], "min_chars": 0}},
        "id": 10})
    sub = [json.loads(c["text"]) for c in one["result"]["content"]]
    assert len(sub) == 1 and sub[0] == rows[0], f"array filter drift: {sub} vs {rows[0]}"

    # a CSV-encoded string binds leniently through the array branch
    # (ADVICE r13 — the array analogue of "5"-for-integer), producing the
    # same rows as the equivalent JSON list; a structurally non-array node
    # (an object) stays a shape violation
    csv_form = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "source_mix",
                   "arguments": {"sources": rows[0]["source"], "min_chars": 0}},
        "id": 11})
    csv_rows = [json.loads(c["text"]) for c in csv_form["result"]["content"]]
    assert csv_rows == sub, f"CSV-encoded array drifted from JSON list: {csv_rows} vs {sub}"

    bad = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "source_mix",
                   "arguments": {"sources": {"a": 1}, "min_chars": 0}},
        "id": 14})
    assert bad["result"].get("isError") is True
    assert "parameter 'sources' expects array" in bad["result"]["content"][0]["text"]

    missing = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "source_mix", "arguments": {"sources": []}},
        "id": 12})
    assert missing["result"].get("isError") is True
    assert "missing required parameter(s) min_chars" in missing["result"]["content"][0]["text"]


def test_builtin_int_param_native(initialized):
    """search_catalog.page_size advertises integer and binds a native JSON
    int end-to-end — the reference's dataplex analogue takes an int
    (tests/dataplex/test_mcp.py:160-166)."""
    listed = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/list", "params": {}, "id": 13})
    sc = next(t for t in listed["result"]["tools"] if t["name"] == "search_catalog")
    assert sc["inputSchema"]["properties"]["page_size"]["type"] == "integer", sc
    resp = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "search_catalog",
                   "arguments": {"query": "orderkey", "page_size": 4}},
        "id": 14})
    assert "result" in resp and not resp["result"].get("isError", False), resp
    rows = [json.loads(c["text"]) for c in resp["result"]["content"]]
    assert 0 < len(rows) <= 4
    assert all("orderkey" in r["column_name"] for r in rows)


def test_media_dedup_pipeline_tool(initialized):
    """The spark-pipeline tool kind: media_dedup drives the perceptual image
    dedup through the declarative surface; a bad modality is a structured
    tool error."""
    resp = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "media_dedup",
                   "arguments": {"modality": "image", "hash_bits": 16}},
        "id": 15}, timeout=120)
    assert "result" in resp and not resp["result"].get("isError", False), resp
    rows = [json.loads(c["text"]) for c in resp["result"]["content"]]
    assert rows and all(
        set(r) == {"doc_id", "rep_id", "cluster_size", "is_canonical"} for r in rows)
    canon = [r for r in rows if r["is_canonical"]]
    assert canon and all(r["rep_id"] == r["doc_id"] for r in canon)

    bad = rpc_roundtrip(initialized, {
        "jsonrpc": "2.0", "method": "tools/call",
        "params": {"name": "media_dedup",
                   "arguments": {"modality": "video", "hash_bits": 16}},
        "id": 16})
    assert bad["result"].get("isError") is True
    assert "modality" in bad["result"]["content"][0]["text"]


def test_native_functions_without_data_dir():
    """A server started with only --stdio (no --data-dir, no dataset-dir
    source, so Tables.register never runs) still resolves the engine's
    native SQL functions: the session factory installs them."""
    process = spawn(drop_env=("SPARK_GRAFT_SF_DIR",))
    try:
        rpc_roundtrip(process, {
            "jsonrpc": "2.0", "method": "initialize",
            "params": {"protocolVersion": "1.0.0", "capabilities": {},
                       "clientInfo": {"name": "test-client", "version": "1.0.0"}},
            "id": 1})
        one = "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))"
        resp = rpc_roundtrip(process, {
            "jsonrpc": "2.0", "method": "tools/call",
            "params": {"name": "execute_sql",
                       "arguments": {"sql": f"SELECT cosine_similarity({one}, {one}) AS c"}},
            "id": 2})
        assert "result" in resp and not resp["result"].get("isError", False), resp
        rows = [json.loads(c["text"]) for c in resp["result"]["content"]]
        assert rows == [{"c": 1.0}], rows
    finally:
        process.terminate()
        try:
            process.wait(timeout=10)
        except subprocess.TimeoutExpired:
            process.kill()


# ============================================================================
# NEGATIVE CONFIG MATRIX (tests/snowflake/test_mcp.py:525-592 shape:
# bad launch configs must exit non-zero with a diagnostic, fast)
# ============================================================================

def run_expect_config_error(args, fragment, drop_env=(), timeout=30):
    env = {k: v for k, v in os.environ.items() if k not in drop_env}
    env.setdefault("SPARK_GRAFT_SF_DIR", DATA_DIR)
    proc = subprocess.run(
        ["java", "-cp", CLASSPATH, "graft.mcp.Main"] + args,
        capture_output=True, text=True, timeout=timeout, env=env)
    assert proc.returncode == 2, \
        f"expected exit 2, got {proc.returncode}; stderr: {proc.stderr[-300:]}"
    assert fragment in proc.stderr, \
        f"expected {fragment!r} in stderr: {proc.stderr[-300:]}"


def test_missing_stdio_flag():
    run_expect_config_error([], "missing required --stdio")


def test_tools_file_not_found():
    run_expect_config_error(
        ["--stdio", "--tools-file", "/nonexistent/tools.yaml"],
        "tools file not found")


def test_data_dir_not_found():
    run_expect_config_error(
        ["--stdio", "--data-dir", "/nonexistent/datadir"],
        "data dir not found", drop_env=("SPARK_GRAFT_SF_DIR",))


def test_flag_without_value():
    run_expect_config_error(["--stdio", "--tools-file"],
                            "--tools-file needs a value")


def test_bad_timeout_value():
    run_expect_config_error(
        ["--stdio", "--query-timeout-ms", "abc"],
        "--query-timeout-ms is not a number")


def test_negative_timeout_value():
    run_expect_config_error(
        ["--stdio", "--query-timeout-ms", "-5"],
        "--query-timeout-ms must be >= 0")
