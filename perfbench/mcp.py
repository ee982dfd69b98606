"""One stdio connection to a freshly spawned JVM: `graft.mcp.Main` (JSON-RPC)
or the catalog driver (plain lines).

The client is single-threaded and closed-loop: `call` writes one request
line and blocks until the matching response line arrives or the per-call
ceiling passes. Server stderr goes to a file, so no reader thread is needed.
"""
import json
import os
import selectors
import signal
import subprocess
import time


class ServerGone(Exception):
    """The server exited, closed stdout, or missed a call's ceiling."""


class Server:
    def __init__(self, cmd, env, cwd, stderr_path):
        self._err = open(stderr_path, "wb")
        self.t_spawn = time.time()
        self.proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self._err)
        self._sel = selectors.DefaultSelector()
        self._sel.register(self.proc.stdout, selectors.EVENT_READ)
        self._buf = b""
        self._next_id = 0
        self.alive = True

    def _readline(self, deadline):
        fd = self.proc.stdout.fileno()
        while b"\n" not in self._buf:
            left = deadline - time.time()
            if left <= 0 or not self._sel.select(left):
                raise ServerGone("no response before the call ceiling")
            chunk = os.read(fd, 1 << 20)
            if not chunk:
                raise ServerGone(f"server closed stdout (exit {self.proc.poll()})")
            self._buf += chunk
        line, self._buf = self._buf.split(b"\n", 1)
        return line

    def call(self, method, params=None, ceiling_s=120.0):
        """Sends one request; returns (response dict, raw bytes, t_send, t_recv).
        Raises ServerGone (and marks the server dead) on exit or timeout."""
        if not self.alive:
            raise ServerGone("server already gone")
        self._next_id += 1
        req = {"jsonrpc": "2.0", "id": self._next_id, "method": method}
        if params is not None:
            req["params"] = params
        t_send = time.time()
        try:
            self.proc.stdin.write((json.dumps(req) + "\n").encode())
            self.proc.stdin.flush()
            deadline = t_send + ceiling_s
            while True:
                raw = self._readline(deadline)
                t_recv = time.time()
                if not raw.startswith(b"{"):
                    continue
                resp = json.loads(raw)
                if resp.get("id") == self._next_id:
                    return resp, raw, t_send, t_recv
        except (ServerGone, BrokenPipeError, OSError, ValueError) as e:
            self.alive = False
            raise ServerGone(str(e)) from e

    def readline(self, ceiling_s):
        """Next stdout line as text; raises ServerGone at the ceiling."""
        try:
            return self._readline(time.time() + ceiling_s).decode(errors="replace")
        except ServerGone:
            self.alive = False
            raise

    def notify(self, method):
        self.proc.stdin.write((json.dumps({"jsonrpc": "2.0", "method": method}) + "\n").encode())
        self.proc.stdin.flush()

    def peak_rss_mb(self):
        """VmHWM of the server JVM, read while it is still running."""
        try:
            with open(f"/proc/{self.proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return float("nan")

    def close(self, grace_s=30.0):
        """Closes stdin (the server's clean-exit signal), then waits; kills the
        process group if it does not end within `grace_s`."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            self.proc.send_signal(signal.SIGKILL)
            self.proc.wait()
        self._sel.close()
        self.proc.stdout.close()
        self._err.close()
        self.alive = False
