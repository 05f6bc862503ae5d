"""Measurement from outside the program: host and process-tree counters,
timing wrappers around public layer functions, and Spark event-log folding.

Nothing here changes the program. CPU and steal shares come from the
repository's own ``bench.read_cpu_ticks`` / ``bench.read_tree_ticks``;
Spark's per-task counters come from its built-in event log, grouped per
benchmark op by the job group the benchmark sets before each op.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

from bench import read_cpu_ticks, read_tree_ticks

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- process tree -----------------------------------------------------------
def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant (driver, Spark JVM, Python
    workers)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        children[int(s[s.rindex(")") + 2 :].split()[1])].append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_rss_mb() -> float:
    """Resident set size summed over the process tree, in MiB."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class Window:
    """Host and process-tree counters over one measurement window."""

    def __init__(self) -> None:
        self.peak_rss_mb = 0.0
        self.cpu0 = read_cpu_ticks()
        self.tree0 = read_tree_ticks()
        self.t0 = time.perf_counter()

    def sample(self) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())

    def close(self) -> dict:
        self.sample()
        elapsed = time.perf_counter() - self.t0
        cpu1, tree1 = read_cpu_ticks(), read_tree_ticks()
        out = {"elapsed_s": elapsed, "peak_rss_mb": self.peak_rss_mb}
        out["tree_cpu_ms"] = (
            (tree1 - self.tree0) * 1000.0 / CLK_TCK
            if tree1 is not None and self.tree0 is not None
            else float("nan")
        )
        if self.cpu0 and cpu1 and cpu1["total"] > self.cpu0["total"]:
            dt = cpu1["total"] - self.cpu0["total"]
            out["steal_pct"] = 100.0 * (cpu1["steal"] - self.cpu0["steal"]) / dt
            out["busy_pct"] = 100.0 * (cpu1["busy"] - self.cpu0["busy"]) / dt
        else:
            out["steal_pct"] = out["busy_pct"] = float("nan")
        return out


def request_gc(spark) -> None:
    """Full JVM GC. It also clears soft references, Spark's generated-code
    cache among them, so callers run one warm cycle after it."""
    spark.sparkContext._jvm.System.gc()


# -- call wrappers ------------------------------------------------------------
class CallMeter:
    """Counts calls into one public function and the time spent inside.

    ``install`` rebinds every module attribute of the package that refers
    to the original function (modules import it by name), so calls from
    anywhere in the program pass through the meter."""

    def __init__(self, module: str, name: str, package: str) -> None:
        self.module, self.name, self.package = module, name, package
        self.calls = 0
        self.seconds = 0.0
        self._orig = None
        self._bound: list[tuple[object, str]] = []

    def install(self) -> None:
        mod = sys.modules[self.module]
        orig = self._orig = getattr(mod, self.name)
        meter = self

        def metered(*args, **kwargs):
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                meter.calls += 1
                meter.seconds += time.perf_counter() - t

        for m in list(sys.modules.values()):
            if not getattr(m, "__name__", "").startswith(self.package):
                continue
            for attr, val in list(vars(m).items()):
                if val is orig:
                    setattr(m, attr, metered)
                    self._bound.append((m, attr))

    def uninstall(self) -> None:
        for m, attr in self._bound:
            setattr(m, attr, self._orig)
        self._bound.clear()

    def snapshot(self) -> tuple[int, float]:
        return self.calls, self.seconds


# -- Spark event log ------------------------------------------------------------
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # one plain JSON-lines file, not Spark 4's rolling compressed directory
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.compress": "false",
}

_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_records", "output_bytes",
)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: the ``_COUNTERS`` sums and the (submit, complete)
    epoch-ms span of every job. Jobs outside any group fold into None."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    groups: dict = defaultdict(lambda: dict.fromkeys(_COUNTERS, 0))
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    submit: dict[int, int] = {}
    spans: dict = defaultdict(list)
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[jid] = g
                submit[jid] = ev["Submission Time"]
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
                groups[g]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                spans[job_group.get(jid)].append(
                    (submit.get(jid, ev["Completion Time"]), ev["Completion Time"])
                )
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid)]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = groups[stage_group.get(ev["Stage ID"])]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                c["tasks"] += 1
                c["executor_run_ms"] += m.get("Executor Run Time", 0)
                c["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                c["input_records"] += (m.get("Input Metrics") or {}).get(
                    "Records Read", 0
                )
                c["output_bytes"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
    return {g: dict(c, spans=sorted(spans[g])) for g, c in groups.items()}


def span_union_ms(spans: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals, in ms."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)
