"""Process-tree accounting from /proc: CPU seconds, resident memory,
and clean shutdown of the Spark JVM and its Python workers."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after ')'
    return s[s.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for k in kids.get(p, []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime of the tree, including reaped children."""
    root = root or os.getpid()
    total = 0
    for pid in [root] + descendants(root):
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    root = root or os.getpid()
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class PeakMemory(threading.Thread):
    """Samples the tree's resident memory every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the JVM, and wait until every process this
    one started (the JVM and the Python workers it forked) has exited.
    The workers are listed before the JVM goes: once it exits they are
    re-parented and no longer show as descendants."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    started = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout)
            except Exception:
                proc.kill()
                proc.wait()
        end = time.time() + timeout
        while True:
            for pid in started:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            left = [p for p in started if _alive(p)]
            if not left:
                return
            if time.time() > end:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                end = time.time() + 5
            time.sleep(0.1)
