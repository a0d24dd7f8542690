"""Run one workload: set up, measure a closed loop, check every
operation, and report end-to-end or per-layer metrics.

A run is one process with one client: the next operation starts only
after the previous one returned and was checked. ``--trace 0`` times
the loop for ``--seconds`` with tracing off. ``--trace 1`` runs a
fixed number of operations untraced and then the same operations
traced, and reports per-layer metrics plus the tracing overhead (the
traced minus the untraced value of each loop metric).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from counters import RETAIN_CONF, SparkCounters
from spans import Tracer

# End-to-end metrics, printed by name with their unit (``--trace 0``).
END_TO_END = {
    "setup_s": "s",
    "result_s_p50": "s",
    "rows_per_s": "rows/s",
}

# Per-layer metrics (``--trace 1``). Every workload reports every
# name; a layer the workload bypasses reads 0.
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.tasks_failed": "count",
    "spark.executor_run_s": "s", "spark.busy_frac": "ratio",
    "spark.driver_gap_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.input_rows": "rows",
    "pipelines.nfl.build_main_df_s": "s",
    "pipelines.nfl.qb_set_point_s": "s",
    "pipelines.nfl.pass_rusher_frames_s": "s",
    "pipelines.nfl.pressure_metric_s": "s",
    "pipelines.nfl.finalize_rushers_s": "s",
    "pipelines.nfl.outputs_s": "s",
    "ml.fit_s": "s", "ml.score_rank_s": "s",
    "pipelines.nfl.main_df_rows": "rows",
    "pipelines.nfl.rushers_final_rows": "rows",
    "streaming.curation.keep_frac": "ratio",
    "streaming.curation.batch_growth": "ratio",
    "sources.files_written": "count",
    "sources.bytes_written_per_input_byte": "ratio",
    "sources.state_files": "count",
    "similarity.bm25_topk_s": "s",
    "similarity.ann_index_search_s": "s",
    "similarity.rrf_fuse_s": "s",
    "similarity.rows_examined_per_result": "ratio",
    "similarity.build_ann_index_s": "s",
    "result_s_tail": "s", "result_tail_percentile": "pct",
    "peak_rss_mb": "MB",
    "trace_overhead.result_s_p50": "s",
    "trace_overhead.result_s_tail": "s",
    "trace_overhead.rows_per_s": "rows/s",
    "trace_overhead.peak_rss_mb": "MB",
}

SETUP_REPEATS = 3


class CheckFailed(Exception):
    """An operation's output disagrees with its reference."""


def expect(ok: bool, what: str) -> None:
    """Raise ``CheckFailed`` unless ``ok`` (survives ``python -O``)."""
    if not ok:
        raise CheckFailed(what)


# -------------------------------------------------------- statistics

def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that has at least
    ten samples beyond it; with ten or fewer samples, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


@dataclass
class Phase:
    """What one measured loop saw."""
    latencies: list = field(default_factory=list)
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    results: list = field(default_factory=list)
    counters: list = field(default_factory=list)
    peak_rss_mb: float = 0.0

    def loop_metrics(self) -> dict[str, float]:
        t, pct = tail(self.latencies)
        return {"result_s_p50": statistics.median(self.latencies),
                "result_s_tail": t,
                "rows_per_s": self.rows / sum(self.latencies),
                "result_tail_percentile": pct}


# ------------------------------------------------------ process tree

class RssSampler:
    """Samples the resident memory of this process and all of its
    descendants (the driver JVM and Python workers) from a thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.window_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def reset_window(self) -> None:
        self.window_mb = 0.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            mb = tree_rss_mb(os.getpid())
            self.peak_mb = max(self.peak_mb, mb)
            self.window_mb = max(self.window_mb, mb)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def tree_rss_mb(pid: int) -> float:
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


# ------------------------------------------------------------ the loop

def run_phase(wl, tracer, counters, rss: RssSampler | None,
              seconds: float | None = None,
              n_ops: int | None = None, log=sys.stderr) -> Phase:
    """Closed loop over ``wl``'s operations until they have taken
    ``seconds`` (at least one operation) or for exactly ``n_ops``
    operations. Each operation is timed alone; its check runs after the
    clock stops and does not count toward ``seconds``."""
    wl.start_phase()
    ph = Phase()
    if rss is not None:
        rss.reset_window()
    i = 0
    while True:
        if n_ops is not None and i >= n_ops:
            break
        if seconds is not None and sum(ph.latencies) >= seconds:
            break
        payload, rows = wl.offer(i)
        tracer.begin_operation()
        scope = counters.operation(f"{wl.name}#{i}") if counters \
            else contextlib.nullcontext()
        result, error = None, None
        with scope as c, tracer.span("op"):
            t0 = time.perf_counter()
            try:
                result = wl.operate(payload, i, tracer)
            except Exception:   # a failed operation is counted, not fatal
                error = traceback.format_exc()
            dt = time.perf_counter() - t0
        if error is None:
            try:
                wl.check(i, result)
            except CheckFailed as e:
                error = f"check failed: {e}"
        ph.attempted += 1
        ph.latencies.append(dt)
        ph.rows += rows
        ph.results.append(result)
        if c is not None:
            ph.counters.append(c)
        if error is not None:
            ph.failed += 1
            print(f"[{wl.name}] operation {i} failed:\n{error}", file=log)
        i += 1
    if rss is not None:
        ph.peak_rss_mb = rss.window_mb
    return ph


def spark_layers(counters: list) -> dict[str, float]:
    """Per-operation means of the Spark counters."""
    n = max(len(counters), 1)

    def mean(attr):
        return sum(getattr(c, attr) for c in counters) / n

    wall = sum(c.wall_s for c in counters)
    cores = counters[0].cores if counters else 1
    return {
        "spark.jobs": mean("jobs"), "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.tasks_failed": mean("tasks_failed"),
        "spark.executor_run_s": mean("executor_run_s"),
        "spark.busy_frac": sum(c.executor_run_s for c in counters)
        / max(wall * cores, 1e-9),
        "spark.driver_gap_s": mean("driver_gap_s"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "spark.input_rows": mean("input_rows"),
    }


# ---------------------------------------------------------- the run

def stop_jvm(timeout: float = 60.0) -> None:
    """End the gateway JVM this process launched and wait until it and
    the Python workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    try:
        gateway.shutdown()
    except Exception:   # py4j may already be disconnected; the pipe
        pass            # close below still ends the JVM
    proc.stdin.close()  # the gateway exits when its stdin closes
    proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in started:
        while time.monotonic() < deadline and _alive(pid):
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def _session(tmp_root: str):
    from big_data_bowl___2023_spark.session import get_spark

    conf = dict(RETAIN_CONF)
    conf["spark.local.dir"] = os.path.join(tmp_root, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(tmp_root, "warehouse")
    # the JVM's temp files go under tmp_root too; without perf data it
    # keeps no hsperfdata file in /tmp
    conf["spark.driver.extraJavaOptions"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_root}"
    return get_spark("perfbench", extra_conf=conf)


def run(workload_cls, seed: int, seconds: float, trace: bool,
        tmp_root: str, log=sys.stderr) -> dict:
    """Set up and measure one workload; returns the result object.
    Everything the run writes lives under ``tmp_root``."""
    report: dict = {"workload": workload_cls.name, "seed": seed}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = _session(tmp_root)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            wl = workload_cls(spark, seed)
            prep = []
            for k in range(SETUP_REPEATS):
                d = os.path.join(tmp_root, f"inputs{k}")
                t0 = time.perf_counter()
                wl.prepare(d)
                prep.append(time.perf_counter() - t0)
                if k:
                    shutil.rmtree(os.path.join(tmp_root, f"inputs{k - 1}"))
            t0 = time.perf_counter()
            wl.build()
            build_s = time.perf_counter() - t0
            wl.warmup()
            warm_s = time.perf_counter() - t0 - build_s
            setup_s = session_s + statistics.median(prep) + build_s \
                + warm_s
            report["setup"] = {"session_s": session_s, "prepare_s": prep,
                               "build_s": build_s, "warmup_s": warm_s}
            report["inputs"] = wl.props
            if not trace:
                ph = run_phase(wl, Tracer(False), None, rss,
                               seconds=seconds, log=log)
                loop = ph.loop_metrics()
                metrics = {"setup_s": setup_s,
                           "result_s_p50": loop["result_s_p50"],
                           "rows_per_s": loop["rows_per_s"]}
                units = END_TO_END
                report["latencies_s"] = ph.latencies
                report["result_s_tail"] = loop["result_s_tail"]
                report["tail_percentile"] = loop["result_tail_percentile"]
                report["peak_rss_mb"] = rss.peak_mb
                attempted, failed = ph.attempted, ph.failed
            else:
                metrics, attempted, failed = _traced(wl, spark, rss,
                                                     report, log)
                metrics["peak_rss_mb"] = rss.peak_mb
                units = PER_LAYER
        finally:
            spark.stop()
            stop_jvm()
    report["failed_frac"] = failed / max(attempted, 1)
    return {"report": report,
            "result": result_object(metrics, units, attempted, failed)}


def result_object(metrics: dict, units: dict, attempted: int,
                  failed: int) -> dict:
    """The last stdout line: every metric named in ``units``."""
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                        for k in units}}


def _traced(wl, spark, rss, report, log):
    n = wl.traced_ops
    plain = run_phase(wl, Tracer(False), None, rss, n_ops=n, log=log)
    tracer = Tracer(True)
    traced = run_phase(wl, tracer, SparkCounters(spark), rss, n_ops=n,
                       log=log)
    failed = plain.failed + traced.failed
    for i, (a, b) in enumerate(zip(plain.results, traced.results)):
        if a is not None and b is not None and \
                not wl.same_result(a, b):
            failed += 1
            print(f"[{wl.name}] traced operation {i} differs from the "
                  f"untraced one", file=log)
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(spark_layers(traced.counters))
    metrics.update(wl.layers(tracer, traced))
    a, b = plain.loop_metrics(), traced.loop_metrics()
    for k in ("result_s_p50", "result_s_tail", "rows_per_s"):
        metrics[f"trace_overhead.{k}"] = b[k] - a[k]
    metrics["trace_overhead.peak_rss_mb"] = \
        traced.peak_rss_mb - plain.peak_rss_mb
    metrics["result_s_tail"] = b["result_s_tail"]
    metrics["result_tail_percentile"] = b["result_tail_percentile"]
    report["untraced"], report["traced"] = a, b
    report["spans"] = tracer.dump()
    report["per_operation_counters"] = [vars(c) for c in traced.counters]
    return metrics, plain.attempted + traced.attempted, failed


def emit(out: dict, out_dir: str, stream=sys.stdout) -> None:
    """Write the full report (spans included) under ``out_dir``, print
    a compact report line, then the result object as the LAST line."""
    rep = out["report"]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{rep['workload']}-seed{rep['seed']}"
                        f"-trace{int('spans' in rep)}.json")
    with open(path, "w") as f:
        json.dump(out, f, default=str)
    brief = {k: v for k, v in rep.items()
             if k not in ("spans", "per_operation_counters")}
    brief["report_file"] = os.path.relpath(path)
    print(json.dumps(brief, default=str), file=stream)
    print(json.dumps(out["result"]), file=stream, flush=True)
