"""The server process and MCP clients over stdio and streamable HTTP.

Clients are closed-loop: each sends its next frame only after the reply
to the previous one has been read in full. Replies are kept as raw bytes
and decoded after the timed window.
"""
import http.client
import json
import os
import re
import subprocess
import time

from .build import OUT, java

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# Fixed heap of the served JVM (-Xms = -Xmx), so peak_rss_mb does not
# depend on when the collector chose to grow the heap.
HEAP = "2g"
SETUP_TIMEOUT_S = 90


def cpus():
    return len(os.sched_getaffinity(0))


class Server:
    """One server JVM: the shipped StdioServer / HttpTransport main, or
    the benchmark's traced twin when `traced`."""

    def __init__(self, b, transport, traced, log_path):
        self.transport = transport
        tmp = os.path.join(OUT, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cp = os.pathsep.join(([b["bench"]] if traced else []) +
                             [b["app"], os.path.join(b["jars"], "*")])
        opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        cmd = [java()] + opens + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-cp", cp]
        if traced:
            cmd += ["perfbench.TraceServer", transport, b["data"]]
        elif transport == "stdio":
            cmd += ["graft.mcp.StdioServer", b["data"]]
        else:
            cmd += ["graft.mcp.HttpMain", b["data"], "0"]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=tmp)
        self.log_path = log_path
        self.log = open(log_path, "wb")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, env=env, cwd=tmp)
        self.port = None

    def wait_port(self):
        deadline = self.t0 + SETUP_TIMEOUT_S
        pat = re.compile(rb"http listening on :(\d+)")
        while time.monotonic() < deadline:
            with open(self.log_path, "rb") as fh:
                m = pat.search(fh.read())
            if m:
                self.port = int(m.group(1))
                return
            if self.proc.poll() is not None:
                raise RuntimeError("server exited during start-up")
            time.sleep(0.01)
        raise RuntimeError("server did not open its port")

    def stderr_value(self, key):
        with open(self.log_path, "rb") as fh:
            m = re.search(rb"\[perfbench\] " + re.escape(key.encode()) + rb"=(\d+)", fh.read())
        return int(m.group(1)) if m else None

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def client(self):
        return StdioClient(self.proc) if self.transport == "stdio" else HttpClient(self.port)

    def stop(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            self.proc.terminate()
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()
        self.log.close()


def frame(rid, method, params=None):
    return json.dumps({"jsonrpc": "2.0", "id": rid, "method": method,
                       "params": params or {}}).encode()


class StdioClient:
    def __init__(self, proc):
        self.proc = proc

    def initialize(self):
        self.call(frame("init", "initialize", {"protocolVersion": "2025-03-26"}))

    def call(self, body):
        self.proc.stdin.write(body + b"\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("server closed stdout")
        return line

    def close(self):
        pass


class HttpClient:
    def __init__(self, port):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=300)
        self.sid = None

    def initialize(self):
        self.call(frame("init", "initialize", {"protocolVersion": "2025-03-26"}))

    def call(self, body):
        headers = {"Content-Type": "application/json",
                   "Accept": "application/json, text/event-stream"}
        if self.sid:
            headers["Mcp-Session-Id"] = self.sid
        self.conn.request("POST", "/mcp", body=body, headers=headers)
        resp = self.conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {data[:200]!r}")
        sid = resp.getheader("Mcp-Session-Id")
        if sid:
            self.sid = sid
        return data

    def close(self):
        self.conn.close()
