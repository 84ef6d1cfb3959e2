"""One closed-loop client of a serving replica process (``cli.py serve``).

The replica answers one stdin line with one stdout line before it reads the
next, so a single client sends its next query only after the reply arrives.
"""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPLY_TIMEOUT_S = 30.0


class Replica:
    """A replica process; ``trace_out`` starts it under the traced launcher."""

    def __init__(self, index: str, trace_out: str | None = None) -> None:
        if trace_out is None:
            cmd = [sys.executable, os.path.join(ROOT, "cli.py")]
        else:
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "replica.py"), trace_out]
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd + ["serve", "--index", index],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1,
            cwd=ROOT,
        )
        self.health = self.ask({"health": True})
        if self.health.get("status") != "healthy":
            raise RuntimeError(f"replica not healthy: {self.health}")
        self.setup_s = time.perf_counter() - t0

    def ask(self, request) -> dict:
        line = request if isinstance(request, str) else json.dumps(request)
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        # one request in flight, so no reply sits in the reader's buffer and
        # waiting on the pipe itself is enough
        if not select.select([self.proc.stdout], [], [], REPLY_TIMEOUT_S)[0]:
            raise TimeoutError(f"no reply within {REPLY_TIMEOUT_S} s")
        reply = self.proc.stdout.readline()
        if not reply:
            raise RuntimeError(f"replica exited (code {self.proc.poll()})")
        return json.loads(reply)

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc status")

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(REPLY_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()

    def __enter__(self) -> "Replica":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def closed_loop(replica: Replica, warmup: list[str], queries: list[str],
                seconds: float) -> dict:
    """Send ``warmup`` untimed, then ``queries`` in order until ``seconds``
    pass or the list ends. Returns per-request round trips (ms), completion
    times (s since the timed part began), the replica's own ``latency_ms``
    per reply, the hits per query and the error count."""
    for q in warmup:
        replica.ask(q)
    rtt, done, own, hits, errors = [], [], [], {}, 0
    t_start = time.perf_counter()
    deadline = t_start + seconds
    for q in queries:
        t0 = time.perf_counter()
        if t0 >= deadline:
            break
        try:
            reply = replica.ask(q)
        except (RuntimeError, TimeoutError, json.JSONDecodeError):
            errors += 1
            break
        t1 = time.perf_counter()
        if "hits" not in reply:
            errors += 1
            continue
        rtt.append((t1 - t0) * 1000.0)
        done.append(t1 - t_start)
        own.append(float(reply["latency_ms"]))
        hits[q] = [(h["doc_id"], h["score"]) for h in reply["hits"]]
    return {"rtt_ms": rtt, "done_s": done, "own_ms": own, "hits": hits, "errors": errors,
            "attempted": len(rtt) + errors}
