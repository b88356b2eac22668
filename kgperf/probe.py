"""Process-tree memory sampling, shutdown hygiene and the HTTP client.

The program under test runs as this Python process, the JVM it launches
and the JVM's Python workers. Memory is their summed PSS: forked workers
share pages, so summed RSS would count shared pages once per worker.
"""

from __future__ import annotations

import http.client
import json
import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler:
    """Background sampler of the process tree's summed PSS; keeps the peak."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self.samples += 1
            self._stop.wait(self.period_s)

    def __enter__(self) -> PssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the SparkContext, end the JVM and wait for every process the
    session started, so back-to-back runs do not contend."""
    from pyspark import SparkContext

    me = os.getpid()
    tree = descendants(me)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the launcher ends the JVM when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s / 2)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s / 2
    alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        while _running(p):
            time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        # a zombie child of ours: reap it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def request(port: int, route: str, payload: dict | None) -> tuple[int, object, float]:
    """One closed-loop request: (status, decoded body or None, seconds)."""
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        if payload is None:
            conn.request("GET", route)
        else:
            body = json.dumps(payload).encode()
            conn.request("POST", route, body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        status = resp.status
    finally:
        conn.close()
    dt = time.perf_counter() - t0
    try:
        return status, json.loads(data), dt
    except ValueError:
        return status, None, dt
