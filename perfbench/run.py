"""Repository benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 14 --trace 0

Load is one process and one closed-loop client with no think time, on Spark
``local[n]`` with n = the CPUs this process may run on, and the driver heap
from ``SPARK_GRAFT_DRIVER_MEM`` (default here 4g); every other session
setting is the engine's own ``get_spark`` default. Whole cycles of the
workload's op kinds run until ``--seconds`` have passed.

``--trace 0`` prints the end-to-end metrics (BENCHMARK.json ``end_to_end``);
``--trace 1`` turns on Spark's event log, sets a job group per op, meters
calls into ``relcache.read_layout``, and prints the per-layer metrics
(``per_layer``). Either way the lines before the last are a readable report
with sample counts, and the last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Each run works in a fresh directory under ``.perfbench_runs/`` at the
checkout root (store root, ``SPARK_LOCAL_DIRS``, temp files, event log),
removed at exit, and stops the Spark JVM and its Python workers before it
returns.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import probe  # noqa: E402
from curate import STAGES, Curate  # noqa: E402
from serve import FAMILIES, Serve  # noqa: E402

PACKAGE = "vectordb_acc_and_speed_exp_spark"
WORKLOADS = {"serve": Serve, "curate": Curate}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="tiny: small inputs for the benchmark's own smoke tests",
    )
    return p.parse_args(argv)


# -- host isolation -------------------------------------------------------------
def isolate(workdir: str) -> None:
    """Route every scratch path into ``workdir`` and put the checkout on
    the Python workers' path (UDFs unpickle package functions there)."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the engine's 16g default heap does not fit a small host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def other_spark_drivers() -> list[int]:
    """Spark driver JVMs on this host that this process did not start."""
    mine = set(probe.tree_pids())
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                if b"org.apache.spark.deploy.SparkSubmit" in fh.read():
                    out.append(int(d))
        except OSError:
            continue
    return out


def wait_for_quiet_host(limit_s: float = 60.0) -> int:
    """Waits up to ``limit_s`` for other Spark drivers to exit, so no
    second driver shares the CPUs; returns how many were still alive."""
    deadline = time.monotonic() + limit_s
    while (others := other_spark_drivers()) and time.monotonic() < deadline:
        time.sleep(1.0)
    if others:
        print(f"warning: {len(others)} other Spark driver(s) alive", file=sys.stderr)
    return len(others)


def start_spark(workload: str, workdir: str, trace: bool):
    from vectordb_acc_and_speed_exp_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the JVM writes temp files and (by default) /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir)
        conf.update(probe.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + log_dir
    spark = get_spark(
        f"perfbench-{workload}",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stops the session, then the gateway JVM, then waits for every
    process it started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    started = probe.tree_pids()[1:]
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- the timed window -------------------------------------------------------------
def timed_window(spark, wl, seconds: float, meter) -> tuple[list[dict], dict]:
    """Closed loop, one client, no think time: whole cycles of the
    workload's op kinds until ``seconds`` have passed."""
    sc = spark.sparkContext
    ops: list[dict] = []
    window = probe.Window()
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        for kind in wl.kinds():
            i = len(ops)
            if meter is not None:
                sc.setJobGroup(f"op{i}", kind)
                c0, s0 = meter.snapshot()
            w0 = time.time() * 1000.0
            t0 = time.perf_counter()
            try:
                rec = wl.op(i, kind)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                rec = {"ok": False, "ms": (time.perf_counter() - t0) * 1000.0}
            rec.update(i=i, kind=kind, wall=(w0, time.time() * 1000.0))
            if meter is not None:
                c1, s1 = meter.snapshot()
                rec.update(layout_calls=c1 - c0, layout_ms=(s1 - s0) * 1000.0)
            ops.append(rec)
            window.sample()
    if meter is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return ops, window.close()


def p50(values):
    return statistics.median(values) if values else 0.0


def p90(values):
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def mean(values):
    return sum(values) / len(values) if values else 0.0


# -- metrics -------------------------------------------------------------------------
def cycle_p50_ms(ops, kinds) -> tuple[float, str, int]:
    """Sum over op kinds of each kind's median latency (one query per
    family on serve, one pipeline round on curate), with its cycle count.

    Printed, not gated: on a host whose CPU steal moves between runs it
    spreads past any bound the benchmark may set (see BASELINE.md)."""
    value = sum(p50([o["ms"] for o in ops if o["kind"] == k]) for k in kinds)
    return value, "ms", len(ops) // len(kinds)


def end_to_end(ops, host, setup_s, answer_recall) -> dict:
    n = len(ops)
    return {
        "setup_s": (setup_s, "s", 1),
        "cpu_ms_per_op": (host["tree_cpu_ms"] / n, "ms", n),
        "answer_recall": answer_recall,
    }


def per_layer(wl, ops, host, setup, events) -> dict:
    by_kind = {k: [o for o in ops if o["kind"] == k] for k in wl.kinds()}
    out = {
        "setup.session_s": (setup["session_s"], "s", 1),
        "setup.corpus_s": (setup["corpus_s"], "s", 1),
        "setup.warm_s": (setup["warm_s"], "s", 1),
        "trace.cycle_p50_ms": cycle_p50_ms(ops, wl.kinds()),
        "api.query.call_ms": (
            p50([o["call_ms"] for o in ops if "call_ms" in o]), "ms",
            sum("call_ms" in o for o in ops),
        ),
    }
    for fam in FAMILIES:
        fo = by_kind.get(fam, [])
        rec = [o["recall"] for o in fo if o.get("recall") is not None]
        rows = [events.get(f"op{o['i']}", {}).get("input_records", 0) for o in fo]
        pre = f"operators.{fam}."
        out[pre + "query_p50_ms"] = (p50([o["ms"] for o in fo]), "ms", len(fo))
        out[pre + "recall_at_10"] = (mean(rec), "ratio", len(rec))
        out[pre + "scan_fraction"] = (
            mean(rows) / wl.size["n_corpus"] if fo else 0.0, "ratio", len(fo)
        )
        out[pre + "build_s"] = (getattr(wl, "build_s", {}).get(fam, 0.0), "s", 1)
    for stage in STAGES:
        so = by_kind.get(stage, [])
        out[f"queries.{stage}.p50_ms"] = (p50([o["ms"] for o in so]), "ms", len(so))
    n = len(ops)
    out["io.read_layout.calls_per_op"] = (sum(o["layout_calls"] for o in ops) / n, "count", n)
    out["io.read_layout.ms_per_op"] = (sum(o["layout_ms"] for o in ops) / n, "ms", n)
    per_op = [events.get(f"op{i}", {}) for i in range(n)]
    for key, name, unit in (
        ("jobs", "jobs_per_op", "count"),
        ("stages", "stages_per_op", "count"),
        ("tasks", "tasks_per_op", "count"),
        ("executor_run_ms", "executor_run_ms_per_op", "ms"),
        ("executor_cpu_ms", "executor_cpu_ms_per_op", "ms"),
        ("gc_ms", "gc_ms_per_op", "ms"),
        ("shuffle_read_bytes", "shuffle_read_bytes_per_op", "bytes"),
        ("shuffle_write_bytes", "shuffle_write_bytes_per_op", "bytes"),
        ("spill_bytes", "spill_bytes_per_op", "bytes"),
    ):
        out[f"spark.{name}"] = (mean([e.get(key, 0) for e in per_op]), unit, n)
    gaps = [
        (o["wall"][1] - o["wall"][0]) - probe.span_union_ms(e.get("spans", []))
        for o, e in zip(ops, per_op)
    ]
    out["spark.driver_gap_ms_per_op"] = (mean(gaps), "ms", n)
    out["host.steal_pct"] = (host["steal_pct"], "%", 1)
    out["host.busy_pct"] = (host["busy_pct"], "%", 1)
    return out


def named_report(wl, ops, host, e2e, setup) -> list[tuple[str, float, str, int]]:
    """The workload's end-to-end figures under their user-facing names."""
    ms = [o["ms"] for o in ops]
    n_fail = sum(not o["ok"] for o in ops)
    lines = [("setup_s",) + e2e["setup_s"]]
    per_s = len(ops) / host["elapsed_s"]
    if wl.name == "serve":
        lines += [
            ("query_p50_ms", p50(ms), "ms", len(ms)),
            ("query_p90_ms", p90(ms), "ms", len(ms)),
            ("query_qps", per_s, "1/s", len(ms)),
            ("recall_at_10",) + e2e["answer_recall"],
            ("cycle_p50_ms",) + cycle_p50_ms(ops, wl.kinds()),
        ]
    else:
        round_ms, _, rounds = cycle_p50_ms(ops, wl.kinds())
        lines += [
            ("pipeline_p50_ms", round_ms, "ms", rounds),
            ("docs_per_s", wl.size["n_docs"] * per_s / len(STAGES), "docs/s", rounds),
            ("oracle_row_recall",) + e2e["answer_recall"],
        ]
        for stage in STAGES:
            so = [o["ms"] for o in ops if o["kind"] == stage]
            lines.append((f"{stage}_p50_ms", p50(so), "ms", len(so)))
    lines += [
        ("cpu_ms_per_op",) + e2e["cpu_ms_per_op"],
        ("peak_rss_mb", host["peak_rss_mb"], "MB", len(ops)),
        ("error_rate", n_fail / len(ops), "ratio", len(ops)),
        ("host.steal_pct", host["steal_pct"], "%", 1),
        ("host.busy_pct", host["busy_pct"], "%", 1),
    ]
    return lines + [(f"setup.{k}", v, "s", 1) for k, v in setup.items()]


def main(argv=None) -> int:
    args = parse_args(argv)
    # a kill runs the clean-up below (JVM stop, work directory removal)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workdir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    spark = meter = None
    try:
        isolate(workdir)
        others = wait_for_quiet_host()
        t = time.perf_counter()
        spark = start_spark(args.workload, workdir, bool(args.trace))
        setup = {"session_s": time.perf_counter() - t}
        wl = WORKLOADS[args.workload](spark, args.seed, args.size, workdir)
        t = time.perf_counter()
        wl.setup_corpus()
        setup["corpus_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm()
        setup["warm_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - START
        if args.trace:
            meter = probe.CallMeter(f"{PACKAGE}.io.relcache", "read_layout", PACKAGE)
            meter.install()
        ops, host = timed_window(spark, wl, args.seconds, meter)
        if meter is not None:
            meter.uninstall()
        recall, n_checked, wrong_outside = wl.verify(ops)
        answer_recall = (recall, "ratio", n_checked)
        stop_spark(spark)
        spark = None
        events = probe.fold_event_log(os.path.join(workdir, "eventlog")) if args.trace else {}
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(workdir))
            except OSError:
                pass

    failed = sum(not o["ok"] for o in ops)
    e2e = end_to_end(ops, host, setup_s, answer_recall)
    report = named_report(wl, ops, host, e2e, setup)
    if args.trace:
        metrics = per_layer(wl, ops, host, setup, events)
        report += sorted((k,) + v for k, v in metrics.items())
    else:
        metrics = e2e
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(ops)} failed={failed} wrong_outside_window={wrong_outside} "
          f"other_spark_drivers={others}")
    for name, value, unit, n in report:
        print(f"{name:42s} {value:14.4f} {unit:7s} n={n}")
    print("# not exercised: streaming, sources, experiments; functions run "
          "inside Spark stages, so their cost is in spark.executor_*")
    result = {
        "correct": failed == 0
        and wrong_outside == 0
        and all(math.isfinite(v[0]) for v in metrics.values()),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
