"""Run-time plumbing shared by the workloads: sessions, scratch roots,
the process-tree RSS sampler, latency statistics and the closed load
loop."""

from __future__ import annotations

import math
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench.trace import Tracer

HEAP = "2g"


def start_session(root: str, tracer: Tracer):
    """A fresh SparkSession at ``local[nproc]`` with the program's own
    defaults; the benchmark adds only where Spark may write (inside
    ``root``; block-manager files follow ``SPARK_LOCAL_DIRS``), a
    fixed driver heap and no console progress bar.

    The heap is fixed at 2 GiB and touched whole at launch. Under the
    program's 8 GiB default the JVM grows its heap in steps chosen by
    GC heuristics, not by need: over one ``query_mix`` block the
    resident set ended anywhere from 2.8 to 3.9 GB on runs of the same
    code, so peak RSS measured the collector's timing, and a capped
    but growing heap still swung by 16%. With the heap resident from
    the start, peak RSS moves with what is not Java heap: JVM native
    memory, the Python driver and the Python workers. Both workloads'
    live data is far smaller than 2 GiB."""
    from aws_datalake_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "spark-warehouse"),
        # applies to the first session, which launches the JVM
        "spark.driver.extraJavaOptions": " ".join([
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}", "-XX:-UsePerfData",
            f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
        ]),
    }
    with tracer.span("session.start"):
        spark = get_spark("perfbench", master=f"local[{len(os.sched_getaffinity(0))}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    return spark


def dir_files(*roots: str) -> dict[str, int]:
    """Path -> size of every file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    JVM and Python workers), sampled from ``/proc``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stop sampling; the peak so far, in KiB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak_kb

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(root))
            self._stop.wait(self.interval)


def tree_rss_kb(root: int, exclude_root: bool = False) -> int:
    """Resident KiB of ``root`` and its descendants.

    A child that still runs the JVM binary of its JVM parent is skipped:
    it is a process the JVM is spawning (Hadoop's ``chmod`` and ``rm``
    calls, the Python daemon), caught before its ``exec`` while it
    still shares the JVM's memory. Spark in local mode starts no second
    JVM. Counted, such a sample doubled the JVM's 2.5 GB in one run in
    five."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total = 0
    todo = [(c, None) for c in children.get(root, ())] if exclude_root else [(root, None)]
    while todo:
        pid, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/statm") as f:
                kb = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
        except (OSError, IndexError, ValueError):
            continue
        if exe == parent_exe and os.path.basename(exe) == "java":
            continue
        total += kb
        todo.extend((c, exe) for c in children.get(pid, ()))
    return total


def wait_children(timeout: float) -> None:
    """Wait until this process has no live descendants left."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if tree_rss_kb(me, exclude_root=True) == 0:
            return
        time.sleep(0.2)


def tail_latency(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, estimated with Harrell-Davis. Below twenty
    samples that percentile would not exceed the median, so the 90th
    is estimated instead: a weighted mean of the top few order
    statistics, which moves far less from run to run than the
    maximum, a single sample."""
    n = len(values)
    pct = 100.0 * (n - 10) / n if n >= 20 else 90.0
    return hd_quantile(values, pct / 100), pct


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median. On a handful of unlike
    operations (fifteen different queries, three days) it moves far
    less from run to run than the middle sample alone."""
    return hd_quantile(values, 0.5)


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a weighted mean of
    all order statistics, the weight of the i-th being the mass that
    Beta(q(n+1), (1-q)(n+1)) puts on [(i-1)/n, i/n]."""
    s = np.sort(np.asarray(values, dtype=float))
    n = len(s)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    edges = np.array([_betainc(a, b, i / n) for i in range(n + 1)])
    return float(np.diff(edges) @ s)


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - _betainc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(1.0 - c * d) < 1e-14:
            break
    return front * (f - 1.0)


@dataclass
class OpLog:
    """Outcome of the timed phase."""

    latencies: list[float] = field(default_factory=list)
    rows: int = 0
    attempted: int = 0
    raised: set = field(default_factory=set)
    elapsed: float = 0.0
    warmup_s: float = 0.0

    def summary(self) -> dict:
        ok = self.latencies or [float("nan")]
        tail, pct = tail_latency(ok)
        return {
            "p50": hd_median(ok),
            "tail": tail,
            "tail_pct": pct,
            "n": len(self.latencies),
        }


def closed_loop(op, seconds: float, block: int, tracer: Tracer, log: OpLog) -> None:
    """Issue the next operation as soon as the previous one returns.
    Operations come in blocks of ``block``; a new block starts while
    fewer than ``seconds`` have passed, and the block in flight always
    completes. ``op(i)`` returns the rows it committed or returned."""
    t0 = time.monotonic()
    i = 0
    while time.monotonic() - t0 < seconds:
        for _ in range(block):
            _one(op, i, time.monotonic(), tracer, log)
            i += 1
    log.elapsed = time.monotonic() - t0


def _one(op, i: int, t0: float, tracer: Tracer, log: OpLog) -> None:
    log.attempted += 1
    try:
        with tracer.span("op", op=i):
            log.rows += op(i)
    except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
        import traceback

        traceback.print_exc()
        log.raised.add(i)
        return
    log.latencies.append(time.monotonic() - t0)
