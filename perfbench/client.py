"""The one client: a JVM running graft.perfbench.BenchServer, driven over pipes.

Frames go in one line at a time and each reply is read before the next frame
is sent (a closed loop, one client), as in the MCP stdio transport.
"""
import json
import os
import subprocess
import time

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def steal_s():
    """Host-steal seconds so far, summed over the CPUs (the `cpu` line of
    /proc/stat, as the program's own telemetry reads it)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class Server:
    def __init__(self, classpath, work, cpus, heap, trace, log_path):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Duser.timezone=UTC", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
                f"-Dderby.system.home={tmp}",
                "-cp", classpath, "graft.perfbench.BenchServer", str(cpus),
                "1" if trace else "0"]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        self.log = open(log_path, "ab")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, cwd=work, env=env)

    def send(self, line):
        """One line in, one reply line out; returns (reply, seconds)."""
        t0 = time.perf_counter()
        self.proc.stdin.write(line.encode() + b"\n")
        self.proc.stdin.flush()
        reply = self.proc.stdout.readline()
        dt = time.perf_counter() - t0
        if not reply:
            raise RuntimeError("program exited (see the run log)")
        return reply.decode().rstrip("\n"), dt

    def cmd(self, *words):
        reply, dt = self.send("!" + " ".join(str(w) for w in words))
        out = json.loads(reply)
        if "error" in out:
            raise RuntimeError(f"{words[0]}: {out['error']}")
        out["_s"] = dt
        return out

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write(b"!quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=30)
            except Exception:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


class Mcp:
    """JSON-RPC 2.0 frames for the two MCP tools."""

    def __init__(self, server):
        self.server = server
        self.next_id = 0
        self.steal = 0.0  # host-steal seconds during the last call

    def call(self, tool, query):
        """Returns (ok, rows or error text, seconds, reply bytes)."""
        self.next_id += 1
        frame = json.dumps({"jsonrpc": "2.0", "id": self.next_id, "method": "tools/call",
                            "params": {"name": tool, "arguments": {"query": query}}})
        s0 = steal_s()
        reply, dt = self.server.send(frame)
        self.steal = steal_s() - s0
        res = json.loads(reply).get("result", {})
        text = res.get("content", [{}])[0].get("text", "")
        if res.get("isError") or "\n" not in text:
            return False, text, dt, len(reply)
        return True, json.loads(text.split("\n", 1)[1]), dt, len(reply)
