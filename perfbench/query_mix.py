"""The read-path workloads: rounds of ``rag_chat`` and ``catalog_suite``
ops against one session.

- ``query_mix``: a round runs each of the seven catalog queries once,
  each followed by one ``RagPipeline.ask``: fourteen ops, half asks.
  Both kinds share one session, one set-up and one JIT warm-up.
- ``rag_chat``: a round is one ask.
- ``catalog_suite``: a round is one pass over the seven queries.

Set-up prepares each op kind (store ingest; table generation and the
cold pass with its oracle comparison), then runs at least
``WARMUP_OPS`` ops in whole rounds before timing: ops keep getting
faster while the JVM compiles the engine's hot code, steeply over the
first ~15 s of ops and slowly for a minute after. The timed window ends on a whole round, so every op
kind weighs the same in the percentiles.
"""

from __future__ import annotations

import os

from perfbench import harness
from perfbench.catalog_suite import Suite
from perfbench.rag_chat import Chat

#: Warm-up ops after the cold pass, rounded up to whole rounds: four
#: ``query_mix`` rounds, 56 asks or eight catalog passes. Two rounds
#: left the driver JVM compiling ~300 ms of code per timed op, and its
#: run-to-run swings doubled the spread of ``op_p50_ms``.
WARMUP_OPS = {"full": 56, "tiny": 1}


def run(ctx) -> dict:
    spark = ctx.start_spark()
    tracer = harness.Tracer(spark.sparkContext, enabled=False)
    suite = Suite(ctx, tracer) if ctx.workload in ("query_mix", "catalog_suite") else None
    chat = Chat(ctx, tracer) if ctx.workload in ("query_mix", "rag_chat") else None
    parts = [p for p in (suite, chat) if p is not None]
    if ctx.workload == "query_mix":
        order = [x for q in range(len(suite.kinds)) for x in ((suite, q), (chat, 0))]
    else:
        order = [(parts[0], k) for k in range(len(parts[0].kinds))]
    problems: list[str] = []
    warm: dict = {}

    def op(op_id: int) -> float:
        part, kind = order[op_id % len(order)]
        return part.op(op_id, kind)

    def warmup() -> None:
        for p in parts:
            p.cold()
        n = -(-WARMUP_OPS[ctx.size] // len(order)) * len(order)
        # negative ids, starting on a round boundary
        log = harness.closed_loop(op, 0.0, -len(order) * 10**6, round_len=n)
        problems.extend(f"warm-up op {i} raised" for i in sorted(log.raised))
        warm["ops"], warm["s"] = len(log.latencies_ms), log.window_s

    try:
        win = harness.measure(ctx, tracer, op, warmup, round_len=len(order))
        bad_ops: set[int] = set()
        for p in parts:
            bad, msgs = p.check()
            bad_ops |= bad
            problems += msgs
        layers = {}
        if ctx.trace:
            tracer.enabled = True
            for n, p in enumerate(parts):
                p.traced_extras(-1000 * (n + 1))
            tracer.enabled = False
            layers = {
                "session.start_s": ctx.session_start_s,
                **harness.span_medians(tracer, {
                    "sources.catalog.load_table_ms": "sources.catalog.load_table"}),
                **harness.span_medians(tracer, {
                    "sources.catalog.load_table_jobs": "sources.catalog.load_table"}, jobs=True),
                **{k: v for p in parts for k, v in p.layers().items()},
                **harness.runtime_layers(tracer, win),
            }
            tracer.dump(os.path.join(os.path.dirname(ctx.dir), "traces",
                                     f"{ctx.workload}-seed{ctx.seed}.jsonl"))
        u = win.untraced
        per_kind: dict[str, list[float]] = {}
        for i, ms in zip(u.ids, u.latencies_ms):
            part, kind = order[i % len(order)]
            per_kind.setdefault(part.kinds[kind], []).append(ms)
        part_context = {p.name: p.context() for p in parts}
        context = {
            "sizes": {name: c.pop("sizes") for name, c in part_context.items()},
            **{k: v for c in part_context.values() for k, v in c.items()},
            "round_ops": len(order), "rounds": len(u.latencies_ms) // len(order),
            "warmup_ops": warm["ops"], "warmup_s": warm["s"],
            "op_p50_ms_by_kind": {k: harness.median(v) for k, v in per_kind.items()},
            "index_stores_existed": ctx.index_stores_existed,
        }
    finally:
        for p in parts:
            p.close()
    return harness.result(ctx, win, bad_ops, layers, context, problems)
