"""Workload-independent machinery: the closed op loop, percentiles,
process-tree memory, spans with per-span Spark counters, and the result
line.

Nothing here reaches inside the engine package. Spans wrap calls into
its public functions from the outside; Spark's own counters are read per
span through job groups (``SparkContext.setJobGroup``), the status
tracker and the status store, which all work with the UI disabled.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: Tail percentiles are reported only when at least this many samples
#: lie beyond them (p90 therefore needs >= 100 ops).
MIN_SAMPLES_BEYOND = 10


def percentile(values: Iterable[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: Iterable[float], p: float) -> float | None:
    """``percentile`` when at least ``MIN_SAMPLES_BEYOND`` samples lie
    beyond ``p``, else None: a tail figure from fewer samples is noise."""
    xs = list(values)
    if len(xs) * (1.0 - p) < MIN_SAMPLES_BEYOND - 1e-9:
        return None
    return percentile(xs, p)


def process_tree() -> list[int]:
    """This process and its live descendants; zombies have ended and are
    left out."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except OSError:
            continue  # the process ended while we looked
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_rss_mb() -> float:
    """Resident memory (MB = 1e6 bytes) of this process and every
    descendant: this Python process, the JVM and its Python workers."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(line.split()[1]) for line in fh
                                 if line.startswith("VmRSS:"))
        except (OSError, StopIteration):
            continue  # ended, or a zombie without memory
    return total_kb * 1024 / 1e6


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
        except (OSError, IndexError):
            continue
    return total / tick


def jvm_counters(sc) -> dict:
    """The driver JVM's cumulative garbage-collection and JIT compile
    time, in ms."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    return {"gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
            "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime()}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    group: str
    start: float = 0.0
    end: float = 0.0
    spark: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


SPARK_KEYS = ("jobs", "tasks", "cpu_ms", "run_ms", "gc_ms", "input_records",
              "shuffle_bytes", "spill_bytes")


class Tracer:
    """Spans around calls into the engine, kept in memory.

    Every span runs under its own job group, so the Spark jobs it starts
    can be found afterwards and their stages' metrics attached to it.
    With ``enabled=False``, ``span`` and ``collect_spark`` do nothing.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counted_stages: set[int] = set()

    @contextmanager
    def span(self, name: str, op: int, **extra):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, op,
                  f"perfbench-{len(self.spans)}", extra=dict(extra))
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def self_ms(self, sp: Span) -> float:
        kids = sum(c.ms for c in self.spans if c.parent == sp.id)
        return sp.ms - kids

    def collect_spark(self, op: int) -> None:
        """Attach Spark counters to every span of ``op``. Called between
        ops, outside every span's interval.

        A shuffle stage reused by a later job is listed under both jobs
        but ran once, in the earlier one; spans are visited in start
        order and each stage is counted once, so it lands on the span
        that ran it."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.op_spans(op):
            acc = dict.fromkeys(SPARK_KEYS, 0)
            job_ids = tracker.getJobIdsForGroup(sp.group)
            acc["jobs"] = len(job_ids)
            for jid in sorted(job_ids):
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in self._counted_stages:
                        continue
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # the stage was never submitted
                        continue
                    if sd.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    self._counted_stages.add(sid)
                    acc["tasks"] += sd.numCompleteTasks()
                    acc["cpu_ms"] += sd.executorCpuTime() / 1e6
                    acc["run_ms"] += sd.executorRunTime()
                    acc["gc_ms"] += sd.jvmGcTime()
                    acc["input_records"] += sd.inputRecords()
                    acc["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                    acc["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sp.spark = acc

    def op_spark(self, op: int) -> dict:
        tot = dict.fromkeys(SPARK_KEYS, 0)
        for sp in self.op_spans(op):
            for k in SPARK_KEYS:
                tot[k] += sp.spark.get(k, 0)
        return tot

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent, "op": sp.op,
                    "start": sp.start, "end": sp.end, "ms": sp.ms,
                    "self_ms": self.self_ms(sp), "spark": sp.spark, **sp.extra,
                }) + "\n")


def storage_mem_mb(sc) -> float:
    """Memory held by cached blocks right now (MB = 1e6 bytes)."""
    return sum(r.memSize() for r in sc._jsc.sc().getRDDStorageInfo()) / 1e6


@dataclass
class OpLog:
    """What one timed window recorded: per-op latency and outcome."""

    first_id: int = 0
    latencies_ms: list[float] = field(default_factory=list)
    raised: set[int] = field(default_factory=set)
    items: float = 0.0
    window_s: float = 0.0
    mem_peak_mb: float = 0.0

    @property
    def ids(self) -> range:
        return range(self.first_id, self.first_id + len(self.latencies_ms))


def closed_loop(
    op: Callable[[int], float],
    seconds: float,
    first_id: int = 0,
    round_len: int = 1,
    after_op: Callable[[int], None] | None = None,
) -> OpLog:
    """One client: send op ``i`` only after op ``i-1`` returned, until
    ``seconds`` have passed and the last round of ``round_len`` ops is
    complete (so every query of a suite weighs the same in the
    percentiles).

    ``op(id)`` returns the items it completed; it raising counts the op
    as failed. ``after_op(id)`` runs between ops, outside the op's
    latency but inside the window (span counters); memory is sampled
    after every op.
    """
    log = OpLog(first_id)
    t_start = time.perf_counter()
    n = 0
    while True:
        op_id = first_id + n
        t0 = time.perf_counter()
        try:
            log.items += op(op_id)
        except Exception:  # noqa: BLE001 — a failed op is data, not an abort
            log.raised.add(op_id)
            print(f"op {op_id} failed:", file=sys.stderr)
            traceback.print_exc()
        log.latencies_ms.append((time.perf_counter() - t0) * 1e3)
        if after_op is not None:
            after_op(op_id)
        log.mem_peak_mb = max(log.mem_peak_mb, tree_rss_mb())
        n += 1
        if time.perf_counter() - t_start >= seconds and n % round_len == 0:
            break
    log.window_s = time.perf_counter() - t_start
    return log


@dataclass
class Windows:
    """The timed windows of one run. An untraced run has one window; a
    traced run adds a traced window after it, so the difference of the
    two is the tracing overhead."""

    untraced: OpLog
    traced: OpLog | None = None
    storage_mb: float = 0.0  # cached blocks held after the last traced op
    warmup_mem_mb: float = 0.0
    window_runtime: dict = field(default_factory=dict)  # process-wide, untraced window

    @property
    def logs(self) -> list[OpLog]:
        return [w for w in (self.untraced, self.traced) if w is not None]


def measure(ctx, tracer: Tracer, op: Callable[[int], float], warmup: Callable[[], None],
            round_len: int = 1) -> Windows:
    """Warm up, then time ``op`` in a closed loop for ``ctx.seconds``;
    on a traced run, time it again with spans on."""
    warmup()
    warm_mem = tree_rss_mb()
    sc = ctx.spark.sparkContext
    start, cpu0 = jvm_counters(sc), tree_cpu_s()
    ctx.mark_first_op()
    untraced = closed_loop(op, ctx.seconds, 0, round_len)
    end, cpu1 = jvm_counters(sc), tree_cpu_s()
    win = Windows(untraced, warmup_mem_mb=warm_mem)
    n = len(untraced.latencies_ms)
    win.window_runtime = {"cpu_ms_per_op": (cpu1 - cpu0) * 1e3 / n,
                          **{f"driver_{k}_per_op": (end[k] - start[k]) / n for k in end}}
    if ctx.trace:
        def after(op_id: int) -> None:
            tracer.collect_spark(op_id)
            win.storage_mb = storage_mem_mb(sc)

        tracer.enabled = True
        win.traced = closed_loop(op, ctx.seconds, len(untraced.latencies_ms),
                                 round_len, after)
        tracer.enabled = False
    return win


#: End-to-end metrics, printed by untraced runs.
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s"}

#: Per-layer metrics, printed by traced runs. A layer a workload does
#: not run reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "sources.catalog.load_table_ms": "ms",
    "sources.catalog.load_table_jobs": "count",
    "plans.build_ms": "ms",
    "plans.build_jobs": "count",
    "plans.catalyst_ms": "ms",
    "plans.exec_ms": "ms",
    "embedder.embed_one_ms": "ms",
    "embedder.embed_df_ms": "ms",
    "embedder.transport_ms": "ms",
    "embedder.api_calls": "count",
    "operators.chunker.chunk_ms": "ms",
    "operators.chunker.chunks_per_doc": "1",
    "rag.search_build_ms": "ms",
    "rag.search_exec_ms": "ms",
    "rag.answer_ms": "ms",
    "rag.ingest_ms": "ms",
    "rag.store_bytes_per_chunk": "B",
    "rag.store_files": "count",
    "operators.knn.rows_scanned_per_result": "1",
    "operators.knn.knn_join_ms": "ms",
    "operators.kmeans.fit_ms": "ms",
    "operators.kmeans.fit_jobs": "count",
    "operators.ann.ivf_assign_ms": "ms",
    "operators.ann.ivf_topk_ms": "ms",
    "operators.ann.ivf_candidates_per_query": "count",
    "operators.ann.ivf_recall_at_10": "1",
    "operators.graph_ann.edges_ms": "ms",
    "operators.graph_ann.edges_jobs": "count",
    "operators.graph_ann.medoids_ms": "ms",
    "operators.graph_ann.beam_topk_ms": "ms",
    "operators.graph_ann.beam_jobs": "count",
    "operators.graph_ann.recall_at_10": "1",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_cpu_ms_per_op": "ms",
    "spark.task_wait_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "B",
    "spark.spill_bytes_per_op": "B",
    "spark.storage_mem_mb": "MB",
    "trace.overhead_ms_per_op": "ms",
    "trace.unattributed_ms_per_op": "ms",
}


def span_medians(tracer: Tracer, names: dict[str, str], jobs: bool = False) -> dict:
    """``{metric: median over spans named name}`` of each span's self
    time, or with ``jobs=True`` of the Spark jobs it started."""
    out = {}
    for metric_name, span_name in names.items():
        spans = [s for s in tracer.spans if s.name == span_name]
        vals = [s.spark.get("jobs", 0) if jobs else tracer.self_ms(s) for s in spans]
        if vals:
            out[metric_name] = median(vals)
    return out


def runtime_layers(tracer: Tracer, win: Windows) -> dict:
    """The Spark-runtime rows and the tracing rows, per traced op."""
    ops = list(win.traced.ids)
    per_op = [tracer.op_spark(i) for i in ops]
    lat = dict(zip(ops, win.traced.latencies_ms))
    roots = {i: sum(s.ms for s in tracer.op_spans(i) if s.parent is None) for i in ops}
    return {
        "spark.jobs_per_op": median(p["jobs"] for p in per_op),
        "spark.tasks_per_op": median(p["tasks"] for p in per_op),
        "spark.task_cpu_ms_per_op": median(p["cpu_ms"] for p in per_op),
        "spark.task_wait_ms_per_op": median(p["run_ms"] - p["cpu_ms"] for p in per_op),
        "spark.gc_ms_per_op": median(p["gc_ms"] for p in per_op),
        "spark.shuffle_bytes_per_op": median(p["shuffle_bytes"] for p in per_op),
        "spark.spill_bytes_per_op": median(p["spill_bytes"] for p in per_op),
        "spark.storage_mem_mb": win.storage_mb,
        "trace.overhead_ms_per_op": (percentile(win.traced.latencies_ms, 0.5)
                                     - percentile(win.untraced.latencies_ms, 0.5)),
        "trace.unattributed_ms_per_op": median(lat[i] - roots[i] for i in ops),
    }


def result(ctx, win: Windows, bad_ops: set[int], layers: dict, context: dict,
           problems: list[str]) -> dict:
    """Assemble the result object and the run context.

    ``bad_ops`` are timed ops whose output failed its check; ops that
    raised are already in the windows. ``problems`` holds every failed
    check's message, including checks outside any timed op (input
    domains, warm-up answers): any problem makes the run incorrect.
    """
    attempted = sum(len(w.latencies_ms) for w in win.logs)
    failed_ids = set(bad_ops).union(*(w.raised for w in win.logs))
    u = win.untraced
    if ctx.trace:
        metrics = {name: metric(layers.get(name, 0.0), unit) for name, unit in PER_LAYER.items()}
    else:
        values = {
            "setup_s": ctx.setup_s,
            "op_p50_ms": percentile(u.latencies_ms, 0.5),
            "items_per_s": u.items / u.window_s,
        }
        metrics = {name: metric(values[name], unit) for name, unit in END_TO_END.items()}
    context = {
        "workload": ctx.workload, "seed": ctx.seed, "seconds": ctx.seconds,
        "trace": ctx.trace, "size": ctx.size, **ctx.spark_context(), **context,
        "samples": {"setup_s": 1, "op_p50_ms": len(u.latencies_ms),
                    "items_per_s": len(u.latencies_ms),
                    "mem_peak_mb": len(u.latencies_ms) + 1},
        "mem_peak_mb": max(u.mem_peak_mb, win.warmup_mem_mb),
        "op_p90_ms": tail_percentile(u.latencies_ms, 0.9),
        **win.window_runtime,
        "op_fail_ratio": len(failed_ids) / attempted,
        "window_s": u.window_s, "items": u.items,
        "op_ms": [round(x, 1) for x in u.latencies_ms],
        "benchmark_own_s": ctx.own_s,
        "problems": problems[:10],
    }
    return {"correct": not failed_ids and not problems, "attempted": attempted,
            "failed": len(failed_ids), "metrics": metrics, "context": context}


def median(xs: Iterable[float]) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict, context: dict) -> None:
    """Print the run context, then the result as the last stdout line."""
    print(json.dumps({"context": context}, default=str), flush=True)
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}), flush=True)
