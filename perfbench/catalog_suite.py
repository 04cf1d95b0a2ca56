"""``catalog_suite`` ops: registered catalog queries over generated tables.

Tables come from ``tools/gen_sf.py``'s ``gen_tables`` with its ``SEED``
set from the run's seed, and ``check_domains`` checks their categorical
value domains against a frozen copy of the reference fixture set's
domains (``fixture_domains.json``). One op is one registered query,
``load_all()[name].fn(spark, sf_dir)`` forced to the ``noop`` sink; one
item is one query. Each round of a workload runs every query of
``QUERIES`` once.

Set-up runs one cold pass, which also builds the persisted index stores.
Stores are keyed on the identity of the tables, which every run
generates into a directory of its own, so every run starts with none of
its stores built; at its end the run removes the stores built from its
tables. The cold pass collects each result and compares it
with the query's DuckDB ``oracle_sql`` twin the way
``tools/check_oracle.py`` does; the DuckDB side is timed as the
benchmark's own work. A query without an oracle must give the same
value hash after the timed passes as in the cold pass.

The traced form splits each op into plan build (the builder call),
Catalyst (analysis, optimization and planning, from the query's
``QueryExecution.tracker``) and execution, and calls
``sources.catalog.load_table`` once per table.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import time

from rag_application_with_vectordb_spark.plans.registry import load_all
from rag_application_with_vectordb_spark.sources.catalog import TABLES, load_table

from perfbench import checks, harness

#: Frozen copy of ``bench.py``'s 27-query headline list.
HEADLINE = (
    "knn_topk", "bench_knn_1m", "bench_knn_1m_ivf", "ann_ivf_topk", "rag_e2e_retrieval",
    "chunk_sliding_window", "embed_hash_components", "q1_pricing_summary", "q3_top_orders",
    "q5_regional_revenue", "q7_nation_pair_revenue", "q9_product_profit",
    "q18_large_volume_customers", "q21_sole_late_supplier", "window_running_spend",
    "topk_parts_per_brand", "asof_purchase_to_click", "range_join_error_after_purchase",
    "dedup_exact", "dedup_minhash_lsh_pairs", "dedup_simhash_signatures",
    "dedup_embedding_topk_pairs", "text_quality_scores", "events_tumbling_hourly",
    "events_sessionized", "cdc_snapshot_diff", "text_bpe_train_merges",
)

#: The headline queries timed: seven of the 27, all with a DuckDB
#: oracle, chosen so the benchmark fits its time budget while covering
#: the reference's query path (``knn_topk``, ``rag_e2e_retrieval``), the
#: persisted IVF index (``ann_ivf_topk``), a text builder, and
#: aggregate, six-table join and as-of join plans. The
#: two 1M-row synthetic queries (``bench_knn_1m*``) read no table and
#: their one-time index build alone is longer than a whole run may take.
QUERIES = (
    "knn_topk", "ann_ivf_topk", "rag_e2e_retrieval", "chunk_sliding_window",
    "q1_pricing_summary", "q5_regional_revenue", "asof_purchase_to_click",
)
SF = {"full": 0.01, "tiny": 0.001}

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _tool(name: str):
    """Import ``tools/<name>.py`` from the checkout."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def own_stores(index_store: str, sf_dir: str) -> list[str]:
    """The persisted index stores built from the tables in ``sf_dir``:
    each store's ``meta.json`` names the table directory it came from."""
    out = []
    for name in os.listdir(index_store) if os.path.isdir(index_store) else ():
        try:
            with open(os.path.join(index_store, name, "meta.json")) as fh:
                if json.load(fh).get("sf_dir") == os.path.abspath(sf_dir):
                    out.append(os.path.join(index_store, name))
        except (OSError, ValueError):
            continue  # not a store, or one without a meta: not ours
    return out


def write_domain_reference(out_dir: str) -> None:
    """One parquet file per fixture table holding just its frozen
    categorical domains, in the layout ``check_domains`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with open(os.path.join(HERE, "fixture_domains.json")) as fh:
        domains = json.load(fh)
    os.makedirs(out_dir, exist_ok=True)
    for table, cols in domains.items():
        n = max(len(v) for v in cols.values())
        pq.write_table(pa.table({c: [v[i % len(v)] for i in range(n)] for c, v in cols.items()}),
                       os.path.join(out_dir, f"{table}.parquet"))


class Suite:
    """One op kind per query of ``QUERIES``, over tables generated from
    the run's seed."""

    name = "catalog_suite"
    kinds = QUERIES

    def __init__(self, ctx, tracer: harness.Tracer):
        import duckdb

        self.ctx, self.tracer = ctx, tracer
        self.check_oracle = _tool("check_oracle")
        gen_sf = _tool("gen_sf")
        self.sf = SF[ctx.size]
        self.sf_dir = os.path.join(ctx.dir, f"sf{self.sf}")
        spark = ctx.spark
        self.problems: list[str] = []
        with ctx.own_work():
            gen_sf.SEED = ctx.seed
            t0 = time.perf_counter()
            for name, df in gen_sf.gen_tables(spark, self.sf).items():
                df.write.mode("overwrite").parquet(os.path.join(self.sf_dir, f"{name}.parquet"))
            self.gen_s = time.perf_counter() - t0
            write_domain_reference(os.path.join(ctx.dir, "domains"))
            self.problems += gen_sf.check_domains(spark, self.sf_dir,
                                                  os.path.join(ctx.dir, "domains"))
            self.con = duckdb.connect()
            for t in TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet/*.parquet'")
        self.specs = load_all()
        self.cold_hash: dict[str, str] = {}
        self.bad_queries: set[str] = set()
        self.ran: dict[int, str] = {}  # timed op id -> query

    def cold(self) -> None:
        """The first pass over ``QUERIES``, and the one oracle comparison
        of the run."""
        ctx, con, check_oracle = self.ctx, self.con, self.check_oracle
        for name in QUERIES:
            spec = self.specs[name]
            df = spec.fn(ctx.spark, self.sf_dir)
            rows, cols = df.collect(), df.columns
            with ctx.own_work():
                msg = check_oracle.driver_canon_error(rows, cols)
                if spec.oracle and not msg:
                    cur = con.execute(spec.oracle)
                    dcols = [d[0] for d in cur.description]
                    drows = cur.fetchall()
                    dtypes = [r[1] for r in con.execute(f"DESCRIBE ({spec.oracle})").fetchall()]
                    msg = checks.oracle_mismatch(rows, cols, drows, dcols, dtypes,
                                                 check_oracle.value_hash)
                self.cold_hash[name] = check_oracle.value_hash(rows, cols)
            if msg:
                self.bad_queries.add(name)
                self.problems.append(f"{name}: {msg}")

    def op(self, op_id: int, kind: int) -> float:
        name = QUERIES[kind]
        spec, spark, span = self.specs[name], self.ctx.spark, self.tracer.span
        if op_id >= 0:
            self.ran[op_id] = name
        if not self.tracer.enabled:
            spec.fn(spark, self.sf_dir).write.mode("overwrite").format("noop").save()
            return 1
        with span("plans.query", op_id, query=name):
            with span("plans.build", op_id):
                df = spec.fn(spark, self.sf_dir)
            with span("plans.catalyst", op_id) as sp:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                sp.extra["catalyst_ms"] = sum(
                    phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning")
                    if phases.contains(p))
            with span("plans.exec", op_id):
                df.write.mode("overwrite").format("noop").save()
        return 1

    def check(self) -> tuple[set[int], list[str]]:
        """An oracle-less query must repeat its cold value hash; returns
        the timed ops of every query that failed a check."""
        self.con.close()
        for name in QUERIES:
            if not self.specs[name].oracle and name in self.cold_hash:
                df = self.specs[name].fn(self.ctx.spark, self.sf_dir)
                if self.check_oracle.value_hash(df.collect(), df.columns) != self.cold_hash[name]:
                    self.bad_queries.add(name)
                    self.problems.append(f"{name}: value hash changed between passes")
        return {i for i, q in self.ran.items() if q in self.bad_queries}, self.problems

    def traced_extras(self, op_id: int) -> None:
        """One direct call into the table layer per table (op ids
        ``op_id``, ``op_id - 1``, ...)."""
        for i, t in enumerate(TABLES):
            with self.tracer.span("sources.catalog.load_table", op_id - i, table=t):
                load_table(self.ctx.spark, self.sf_dir, t)
            self.tracer.collect_spark(op_id - i)

    def layers(self) -> dict:
        tracer = self.tracer
        return {
            **harness.span_medians(tracer, {
                "plans.build_ms": "plans.build",
                "plans.exec_ms": "plans.exec",
            }),
            **harness.span_medians(tracer, {"plans.build_jobs": "plans.build"}, jobs=True),
            "plans.catalyst_ms": harness.median(
                s.extra["catalyst_ms"] for s in tracer.spans if s.name == "plans.catalyst"),
        }

    def context(self) -> dict:
        return {
            "sizes": {
                "sf": self.sf, "queries": len(QUERIES),
                "rows": {t: checks.parquet_rows(os.path.join(self.sf_dir, f"{t}.parquet"))
                         for t in TABLES}},
            "generate_tables_s": self.gen_s,
        }

    def close(self) -> None:
        """Remove the index stores built from this run's tables."""
        for d in own_stores(self.ctx.index_store, self.sf_dir):
            shutil.rmtree(d, ignore_errors=True)
