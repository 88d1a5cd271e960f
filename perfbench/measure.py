"""Measurement tools the benchmark runs beside the engine.

- ``ProcSampler``: CPU seconds and resident memory of the Spark JVM and
  the Python workers it forks, read from ``/proc`` (no psutil).
- ``Tracer``: spans around calls into the package's public functions,
  installed from outside the package by replacing module attributes.
- ``eventlog_metrics``: Arrow and shuffle counters from Spark's own JSON
  event log, for the jobs of one job group.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _CLK  # utime stime cutime cstime
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def process_tree(root: int) -> dict[int, tuple[int, float, int]]:
    """{pid: (ppid, cpu_s, rss)} for ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in tree:
            tree[pid] = stats[pid]
            frontier.extend(p for p, s in stats.items() if s[0] == pid)
    return tree


class ProcSampler:
    """Samples the JVM process tree every ``interval`` seconds while
    entered; ``window()`` gives CPU seconds and peak RSS since creation."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._lock = threading.Lock()
        cpu, total, jvm, py = self._sample()
        self._cpu0 = cpu
        self._peak = [total, jvm, py]

    def _sample(self) -> tuple[float, int, int, int]:
        tree = process_tree(self.jvm_pid)
        cpu = sum(s[1] for s in tree.values())
        total = sum(s[2] for s in tree.values())
        jvm = tree[self.jvm_pid][2] if self.jvm_pid in tree else 0
        return cpu, total, jvm, total - jvm

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            _, total, jvm, py = self._sample()
            with self._lock:
                self._peak = [max(a, b) for a, b in zip(self._peak, (total, jvm, py))]

    def window(self) -> dict[str, float]:
        cpu, total, jvm, py = self._sample()
        with self._lock:
            peak = [max(a, b) for a, b in zip(self._peak, (total, jvm, py))]
            cpu0 = self._cpu0
        mb = 1024.0 * 1024.0
        return {
            "cpu_s": cpu - cpu0,
            "peak_rss_mb": peak[0] / mb,
            "jvm_rss_mb": peak[1] / mb,
            "python_rss_mb": peak[2] / mb,
        }

    def __enter__(self) -> ProcSampler:
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5.0)


class Tracer:
    """Span recorder. ``install`` wraps each named public function of the
    given package modules (and every other loaded package module that
    imported the same function object), so calls made inside the engine
    are recorded too. Spans are kept in memory; ``dump`` writes them."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = False
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "run_id": self.run_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets: dict[str, list[str]], package: str) -> None:
        """``targets``: {module name: [public function names]}."""
        mods = {name: importlib.import_module(name) for name in targets}
        loaded = [m for n, m in list(sys.modules.items()) if n.startswith(package) and m]
        for mod_name, names in targets.items():
            mod = mods[mod_name]
            short = mod_name[len(package) + 1 :]
            for attr in names:
                orig = getattr(mod, attr)
                wrapped = self.wrap(f"{short}.{attr}", orig)
                for m in loaded:
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            self._restore.append((m, k, v))
                            setattr(m, k, wrapped)

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = getattr(cls, attr)
        self._restore.append((cls, attr, orig))
        setattr(cls, attr, self.wrap(name, orig))

    def patch_item(self, mapping: dict, key: str, name: str) -> None:
        orig = mapping[key]
        self._restore.append((mapping, key, orig))
        mapping[key] = self.wrap(name, orig)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            if isinstance(obj, dict):
                obj[attr] = orig
            else:
                setattr(obj, attr, orig)
        self._restore.clear()

    def self_times(self, root: int) -> dict[str, list[float]]:
        """{span name: [calls, total_s, self_s]} over the subtree of span
        ``root`` (excluding the root itself). Self time is a span's
        duration minus the time its direct children cover."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(i)
        out: dict[str, list[float]] = {}
        frontier = list(children.get(root, []))
        while frontier:
            i = frontier.pop()
            s = self.spans[i]
            dur = s["end"] - s["start"]
            kids = children.get(i, [])
            own = dur - sum(self.spans[k]["end"] - self.spans[k]["start"] for k in kids)
            acc = out.setdefault(s["name"], [0, 0.0, 0.0])
            acc[0] += 1
            acc[1] += dur
            acc[2] += own
            frontier.extend(kids)
        return out

    def coverage(self, root: int) -> float:
        """Share of span ``root``'s duration covered by the spans two
        levels below it: the layers that the entry call (``root``'s child)
        calls into."""
        r = self.spans[root]
        dur = r["end"] - r["start"]
        entry = {i for i, s in enumerate(self.spans) if s["parent"] == root}
        below = sum(s["end"] - s["start"] for s in self.spans if s["parent"] in entry)
        return below / dur if dur > 0 else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# SQL metric names Spark 4 attaches to Python-UDF and Arrow operators
_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"
_PY_TIME = "time to run Python workers"  # milliseconds
_PY_START = ("time to start Python workers", "time to initialize Python workers")  # ms


def eventlog_metrics(log_dir: str, job_group: str) -> dict[str, float]:
    """Sum Arrow and shuffle counters over every task of the jobs whose
    job group is ``job_group``, from the uncompressed JSON event log(s)
    in ``log_dir``."""
    stages: set[int] = set()
    tot = {"to_py": 0, "from_py": 0, "py_ms": 0, "start_ms": 0, "shuffle": 0}
    keys = {_TO_PY: "to_py", _FROM_PY: "from_py", _PY_TIME: "py_ms"} | {n: "start_ms" for n in _PY_START}
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names if n.startswith("events_")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") == job_group:
                        stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
                    for acc in ev.get("Task Info", {}).get("Accumulables", []):
                        key = keys.get(acc.get("Name"))
                        if key:
                            tot[key] += int(acc["Update"])
                    sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    tot["shuffle"] += int(sw.get("Shuffle Bytes Written", 0))
    return {
        "arrow.bytes_to_python": float(tot["to_py"]),
        "arrow.bytes_from_python": float(tot["from_py"]),
        "arrow.python_s": tot["py_ms"] / 1e3,
        "arrow.python_start_s": tot["start_ms"] / 1e3,
        "exchange.shuffle_bytes": float(tot["shuffle"]),
    }
