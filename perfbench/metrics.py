"""Small measurement helpers: percentiles, the result line, and a /proc
memory sampler (psutil is not available)."""

from __future__ import annotations

import json
import math
import os
import threading
import time

# the speed probe's nominal time: what `speed_probe` takes on the host the
# benchmark was tuned on, when that host is not slowed by its neighbours
PROBE_REF_S = 0.010
PROBE_LOOPS = 300_000
# held by a probe and by each memory sample, so the sampler thread never
# takes the interpreter from a probe
_PROBE_LOCK = threading.Lock()

# minimum number of samples that must lie beyond a tail percentile
# before it is reported
TAIL_MIN_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def speed_probe() -> float:
    """Seconds one fixed, single-threaded piece of pure Python takes now.

    It touches nothing of the engine, so only the host's speed moves it:
    the median of many probes over a run, against PROBE_REF_S, is how
    much slower than nominal the host ran while the run measured."""
    with _PROBE_LOCK:
        t0 = time.perf_counter()
        total = 0
        for i in range(PROBE_LOOPS):
            total += i
        return time.perf_counter() - t0


def geomean(values) -> float:
    """Geometric mean of positive values."""
    xs = list(values)
    if not xs:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(values: list[float], q: float) -> float | None:
    """The q-th percentile, or None when fewer than TAIL_MIN_SAMPLES
    samples lie beyond it (a p90 from 20 samples rests on 2 of them)."""
    if not values:
        return None
    beyond = sum(1 for v in values if v > percentile(values, q))
    if beyond < TAIL_MIN_SAMPLES:
        return None
    return percentile(values, q)


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The final stdout line of a run."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss_bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                rss_pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        # comm may contain spaces; it is wrapped in the last parentheses
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(name)] = (ppid, comm, rss_pages * page)
    return out


def tree_rss(root_pid: int) -> dict[str, int]:
    """Resident bytes of `root_pid`'s process tree, split into the
    driver python (`python`), the JVM it launched (`jvm`) and the Python
    workers under the JVM (`workers`). Other processes are skipped: a
    helper the JVM forks (e.g. to run `chmod`) shows the JVM's whole
    resident set until it execs."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    split = {"python": 0, "jvm": 0, "workers": 0}
    stack = [(root_pid, "python")]
    while stack:
        pid, kind = stack.pop()
        if pid not in table:
            continue
        split[kind] += table[pid][2]
        for child in children.get(pid, []):
            comm = table[child][1]
            if kind == "python" and comm == "java":
                stack.append((child, "jvm"))
            elif kind in ("jvm", "workers") and comm.startswith("python"):
                stack.append((child, "workers"))
    return split


class RssSampler:
    """Background sampler of the run's process-tree RSS; keeps peaks."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_total = 0
        self.peak = {"python": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        with _PROBE_LOCK:
            split = tree_rss(os.getpid())
        self.peak_total = max(self.peak_total, sum(split.values()))
        for k, v in split.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
