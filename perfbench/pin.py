#!/usr/bin/env python3
"""Regenerates pins.json: the result digest of every (tool, args) point in
the YAML and pipeline tool grids of workloads.py, taken from one fresh
server on the benchmark's sf0.1 tables.

    python3 perfbench/pin.py [--check]

With --check it only compares a fresh set of digests with pins.json (exit 1
on any difference). Re-pin only when a tool's answer is meant to change,
and say so in the change that does it.
"""
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from mcp import Server  # noqa: E402


def main():
    jars, classes, _, _, data = build.build(run.ROOT, run.BUILD_DIR)
    r = run.Run("pin")
    cmd = build.java_cmd(jars, classes, "graft.mcp.Main",
                         ["--stdio", "--tools-file", os.path.join(run.ROOT, "examples/tools.yaml")],
                         r.tmp, r.local)
    srv = Server(cmd, r.env(SPARK_GRAFT_SF_DIR=data["0.1"]), r.dir, os.path.join(r.dir, "server.log"))
    srv.call("initialize", {"protocolVersion": "2024-11-05"}, ceiling_s=120)
    pins = {}
    for grid in (workloads.LIGHT_GRID, workloads.CURATION_GRID):
        for tool, points in grid.items():
            for args in points:
                t = time.time()
                resp, _, _, _ = srv.call("tools/call", {"name": tool, "arguments": args},
                                         ceiling_s=300)
                res = resp["result"]
                if res.get("isError"):
                    sys.exit(f"{tool} {args} failed: {res['content'][0]['text']}")
                rows = [json.loads(c["text"]) for c in res["content"]]
                pins[workloads.pin_key(tool, args)] = checks.digest(rows)
                print(f"{time.time() - t:6.2f}s {len(rows):6d} rows  {tool} {args}", file=sys.stderr)
    srv.close()
    r.remove()
    if "--check" in sys.argv:
        old = checks.load_pins()
        bad = sorted(k for k in pins if old.get(k) != pins[k])
        for k in bad:
            print(f"differs: {k}")
        return 1 if bad else 0
    with open(checks.PINS_FILE, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
