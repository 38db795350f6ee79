"""Shared benchmark plumbing: spans, the memory sampler, the load
process client and small statistics helpers."""

from __future__ import annotations

import contextlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Tracer:
    """Spans kept in memory: (id, parent, trace, name, start, end).
    The parent is the innermost open span of the calling thread."""

    def __init__(self):
        self.spans: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        if trace is None and parent is not None:
            trace = self.spans[parent][2]
        with self._lock:
            sid = len(self.spans)
            self.spans.append([sid, parent, trace, name, time.time(), None])
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid][5] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s[5] - s[4] for s in self.spans if s[3] == name and s[5] is not None]

    def self_times(self) -> dict[str, float]:
        """Per layer (the span name's first dotted part): total span time
        minus the time covered by its direct children."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s[1] is not None and s[5] is not None:
                child_time[s[1]] = child_time.get(s[1], 0.0) + (s[5] - s[4])
        out: dict[str, float] = {}
        for s in self.spans:
            if s[5] is None:
                continue
            layer = s[3].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s[5] - s[4]) - child_time.get(s[0], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["id", "parent", "trace", "name", "start", "end"],
                       "spans": self.spans}, fh)


def descendants(root: int, exclude=()) -> list[int]:
    """Pids below ``root`` in the process tree, skipping the subtrees
    of ``exclude``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has ended; kill what is left at the timeout."""
    if not wait_until(lambda: not any(os.path.exists(f"/proc/{p}") for p in pids), timeout, 0.1):
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        wait_until(lambda: not any(os.path.exists(f"/proc/{p}") for p in pids), 10, 0.1)


class MemSampler:
    """Peak memory of this process and its descendants (the Python
    driver, the JVM and its Python workers): the sum of their
    proportional set sizes, so pages the forked Python workers share
    count once. Sampled every 100 ms from /proc; ``exclude`` pids (the
    load process) and their children are left out."""

    def __init__(self):
        self.peak_bytes = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _tree_pss(self) -> int:
        total = 0
        for pid in descendants(os.getpid(), self.exclude) + [os.getpid()]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_bytes / 2**20


class LoadClient:
    """Drives ``loadproc.py`` over its stdin/stdout."""

    def __init__(self, seed: int, mem: MemSampler):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadproc.py"), str(seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        mem.exclude.add(self.proc.pid)
        ports = json.loads(self.proc.stdout.readline())
        self.walsender = ("127.0.0.1", ports["walsender"])
        self.broker = ("127.0.0.1", ports["broker"])

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def status(self) -> dict:
        self.send("status")
        st = json.loads(self.proc.stdout.readline())
        if st.get("error"):
            raise RuntimeError(st["error"])
        return st

    def stop(self, path: str) -> None:
        self.send(f"stop {path}")
        self.proc.stdout.readline()
        self.proc.stdin.close()
        self.proc.wait(timeout=30)

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait(timeout=30)


def wait_until(pred, timeout: float, poll: float = 0.05) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        time.sleep(poll)
    return pred()
