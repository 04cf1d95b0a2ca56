"""Registry/driver-contract hygiene — no Spark session needed.

Two guards born from the round-1 postmortem:

1. The driver's correctness gate checks only the FIRST 50 registry
   entries, so the window ordering IS contract surface — pin it.
2. The only driver-red rows in round 1 were uncast integer SUMs whose
   DuckDB result type (HUGEINT) coerces to float64 through pandas while
   Spark emits int64. DESCRIBE-ing every oracle against DuckDB catches
   that whole bug class in milliseconds, before any driver run.
"""

from __future__ import annotations

import duckdb
import pytest

from rag_application_with_vectordb_spark.plans.registry import (
    DRIVER_WINDOW_PRIORITY,
    load_all,
)
from rag_application_with_vectordb_spark.sources.catalog import TABLES

SF_DIR = "/root/testdata/sf0.001"


def test_driver_window_is_exactly_the_priority_list():
    specs = load_all()
    assert len(DRIVER_WINDOW_PRIORITY) == 50
    assert len(set(DRIVER_WINDOW_PRIORITY)) == 50
    missing = [n for n in DRIVER_WINDOW_PRIORITY if n not in specs]
    assert not missing, f"priority names not registered: {missing}"
    assert list(specs)[:50] == list(DRIVER_WINDOW_PRIORITY)


def test_every_query_calls_tune():
    """Every registered builder must call ``tune(spark)`` at its head
    (VERDICT r12 item 7): ``scoped_no_wholestage_codegen`` is reset only
    by the NEXT query's ``tune()`` — a builder that skips it would
    execute with whole-stage codegen off whenever it runs right after a
    kernel-unrolled plan (measured 0.40 -> 0.74 s on knn_topk, r12).
    Static source check so the whole catalog is pinned without a Spark
    session; builders that delegate through a local helper satisfy it by
    calling tune themselves (all do, as of r13)."""
    import inspect

    specs = load_all()
    missing = [
        name
        for name, spec in specs.items()
        if "tune(" not in inspect.getsource(spec.fn)
    ]
    assert not missing, (
        "registered builders that never call tune(spark) — they inherit "
        f"the previous query's session conf (WSCG disable leak): {missing}"
    )


def test_only_pq_flips_codegen_among_operators():
    """``scoped_no_wholestage_codegen`` is a session-wide conf flip, not
    a per-operator optimization (ROADMAP aim 2). ``operators/pq.py`` is
    the one operator that still uses it (until its numpy port); no
    other operator may start again. Static AST check: any import,
    name or attribute reference counts as a call site."""
    import ast
    import pathlib

    import rag_application_with_vectordb_spark.operators as ops

    name = "scoped_no_wholestage_codegen"
    users = set()
    for path in pathlib.Path(ops.__file__).parent.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                (isinstance(node, ast.alias) and node.name == name)
                or (isinstance(node, ast.Name) and node.id == name)
                or (isinstance(node, ast.Attribute) and node.attr == name)
            ):
                users.add(path.name)
    assert users == {"pq.py"}, f"operators referencing {name}: {sorted(users)}"


def test_no_oracle_outputs_pandas_lossy_types():
    # HUGEINT/UHUGEINT/DECIMAL outputs become float64 through the
    # driver's pandas comparator while Spark emits exact types — any
    # such column is a latent value-hash mismatch. Every oracle must
    # cast its output columns (BIGINT / DOUBLE) explicitly.
    specs = load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    offenders: list[str] = []
    for name, spec in specs.items():
        if not spec.oracle:
            continue
        try:
            desc = con.execute(f"DESCRIBE ({spec.oracle})").fetchall()
        except Exception as exc:  # pragma: no cover - oracle must at least parse
            pytest.fail(f"{name}: DESCRIBE failed: {exc}")
        bad = [
            (r[0], r[1])
            for r in desc
            if r[1] in ("HUGEINT", "UHUGEINT") or r[1].startswith("DECIMAL")
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, "uncast lossy-typed oracle outputs:\n" + "\n".join(offenders)


def test_no_oracle_outputs_nested_types():
    # The driver's canonicalizer lexsorts every output column through
    # pandas sort_values; list/struct/map cells are unhashable there and
    # crash the comparison (the r07 text_tokenize_ids red row). Ban
    # nested types at the oracle output surface.
    specs = load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    offenders: list[str] = []
    for name, spec in specs.items():
        if not spec.oracle:
            continue
        desc = con.execute(f"DESCRIBE ({spec.oracle})").fetchall()
        bad = [
            (r[0], r[1])
            for r in desc
            if "[]" in r[1] or r[1].startswith(("STRUCT", "MAP", "LIST", "UNION"))
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, "nested-typed oracle outputs:\n" + "\n".join(offenders)


def test_no_spark_outputs_nested_types(spark, sf_dir):
    # The Spark twin of the lint above: build EVERY registered plan at
    # sf0.001 and assert its output schema carries no top-level
    # array/map/struct column. This catches the half the DuckDB DESCRIBE
    # can't see — a Spark array column whose oracle already projects a
    # scalar would pass the oracle lint yet still crash the driver.
    from pyspark.sql.types import ArrayType, MapType, StructType

    specs = load_all()
    offenders: list[str] = []
    for name, spec in specs.items():
        df = spec.fn(spark, sf_dir)
        bad = [
            (f.name, f.dataType.simpleString())
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, "nested-typed Spark outputs:\n" + "\n".join(offenders)


def test_driver_window_queries_nonempty(spark, sf_dir):
    # A green driver row with 0 rows on both sides is vacuous — it stays
    # green when the operator breaks (the r7 audit_duplicate_payments
    # finding; that query now plants its positives in-query). Every
    # window slot must PROVE something: nonempty output at the smallest
    # fixture. limit(1) keeps the probe cheap — existence, not counts.
    specs = load_all()
    empty = [
        n
        for n in DRIVER_WINDOW_PRIORITY
        if specs[n].fn(spark, sf_dir).limit(1).count() == 0
    ]
    assert not empty, f"vacuous window queries (0 rows at sf0.001): {empty}"


#: Max EFFECTIVE parquet scans of any single fact table per registered
#: plan (see plans/plan_introspect.py for "effective"). Rationale for 6:
#: a full pass costs 1 scan; legitimate multi-branch shapes cost small
#: multiples (train/test splits and dual-sided self-joins read a fact
#: twice per branch; step-funnels once per step), and the worst
#: justified shape in the catalog today is 6. The bug class this pins
#: (r8 sf10 audit: graph_triangles 70, curation_funnel 24,
#: eval_reco_hitrate 21 before their fixes) sits an order of magnitude
#: above. Tighten this as shapes improve; never allowlist past it.
MAX_FACT_SCANS = 6

#: SinglePartition shuffle exchanges fed by fact-derived rows that a
#: bounding node (limit / scalar aggregate) does NOT protect, per plan —
#: the third plan-shape class (after CartesianProduct and N-fold fact
#: re-scans): at 100 TB every row of an unbounded relation funneling
#: through ONE task IS the job. The detector
#: (plans/plan_introspect.single_partition_fact_exposures) cannot see
#: SEMANTIC bounds — a grouped aggregate whose key domain is small by
#: construction still reads as unbounded — so each allowlisted entry
#: states its bound; all 34 have a green sf10 row (60 M-row lineitem)
#: across the standing sweep logs, each <= 12.1 s at its latest green
#: (slowest: orders_backlog_daily 12.1 s, SF10_SWEEP_r11.log; take each
#: query's LATEST green row — earlier rows in a log can be superseded
#: dead-context noise). Re-judged r11: every bound class below is
#: volume-invariant (calendar/value-histogram/fixed-grid/vocabulary)
#: and no entity-scale candidates remain — the four entity-scale
#: ex-entries were moved onto operators/prefix.py in r9/r10. Any query
#: NOT listed here must have ZERO exposed single-partition exchanges;
#: never add an entry without a documented bound.
#:
#: Bound classes:
#: - calendar/time grain (rows = days/weeks in the data's time span,
#:   invariant to data volume): orders_backlog_daily,
#:   slo_burn_rate_daily, forecast_{holt_winters,theta,snaive_mase,
#:   seasonal_decompose,quantile_pinball}, events_{seasonal_anomaly,
#:   changepoint_binseg,max_drawdown,interarrival_expfit},
#:   survival_{km_signup_purchase,nelson_aalen,logrank_arms},
#:   stats_permutation_test (1-row d_obs lookup window).
#: - distinct-VALUE histogram grain (windows run over the value domain,
#:   not the rows; domains here are lengths/amounts/thresholds that
#:   grow far sublinearly): eval_auc_doclang, stats_ks_lang_length,
#:   length_buckets, length_buckets_approx, eval_pr_curve,
#:   stats_wilcoxon_signed_rank, stats_median_ci, stats_trimmed_mean,
#:   stats_hill_tail_index (top-tail order statistics).
#: - small fixed grids (deciles/thresholds/strata/classes):
#:   eval_lift_gains, eval_qini_uplift, eval_threshold_utility,
#:   tree_split_gini, sample_neyman_allocation.
#: - vocabulary grain (Heaps-law sublinear): text_zipf_fit,
#:   text_heaps_law_fit, text_vocab_coverage.
#: - (parts_pareto_abc, inventory_abc_xyz — r9 — and
#:   stats_spearman_activity_spend, feature_quantile_normalize — r10,
#:   their spend/length value domains are entity-scale at 100 TB —
#:   were rewritten on the distributed two-level prefix sum,
#:   operators/prefix.py, and now have ZERO exposures; the oracles
#:   keep the global-window form.)
#: - documented exact anchors with scalable twins beside them:
#:   chunk_global_ids (parity-mode global ids; composite-key mode is
#:   the scale path, operators/chunker.py), dedup_prefix_filter_pairs
#:   (global vocabulary ordinal; dedup_prefix_filter_pairs_keyed has
#:   zero SinglePartition exchanges — plan-asserted in test_plans.py).
SINGLE_PARTITION_ALLOW: dict[str, int] = {
    "survival_logrank_arms": 1,
    "survival_nelson_aalen": 1,
    "orders_backlog_daily": 1,
    "events_interarrival_expfit": 1,
    "forecast_quantile_pinball": 2,
    "forecast_holt_winters": 1,
    "eval_qini_uplift": 2,
    "slo_burn_rate_daily": 1,
    "events_changepoint_binseg": 1,
    "chunk_global_ids": 1,
    "dedup_prefix_filter_pairs": 2,
    "eval_auc_doclang": 1,
    "text_zipf_fit": 1,
    "eval_pr_curve": 1,
    "events_max_drawdown": 1,
    "stats_ks_lang_length": 3,
    "survival_km_signup_purchase": 1,
    "forecast_snaive_mase": 1,
    "length_buckets": 1,
    "length_buckets_approx": 1,
    "stats_permutation_test": 1,
    "forecast_seasonal_decompose": 1,
    "events_seasonal_anomaly": 4,
    "eval_lift_gains": 2,
    "eval_threshold_utility": 1,
    "tree_split_gini": 1,
    "stats_hill_tail_index": 4,
    "sample_neyman_allocation": 1,
    "stats_wilcoxon_signed_rank": 1,
    "text_vocab_coverage": 1,
    "forecast_theta": 1,
    "stats_median_ci": 1,
    "stats_trimmed_mean": 2,
    "text_heaps_law_fit": 1,
}


def test_catalog_plan_shapes(spark, sf_dir):
    # Two plan-shape bug classes no value gate can see (a query can be
    # hash-green at every tested SF and still melt at 100 TB):
    #
    # 1. CartesianProduct — the r8 geo_radius_pairs finding (a join
    #    reorder connected two point relations through the distance
    #    predicate: 2.25e12 pairs at sf10). Built here under
    #    autoBroadcastJoinThreshold=-1 (the ADVICE r8 hardening): at
    #    fixture scale EVERY relation is under the 2 MB auto-broadcast
    #    threshold, so a would-be cartesian planned as the allowed
    #    BroadcastNestedLoopJoin and the lint never saw the shape it
    #    was written for. With auto-broadcast off, a bounded side must
    #    be DECLARED bounded via an explicit broadcast() hint (which
    #    still applies at -1) — exactly the 100 TB contract, where
    #    "accidentally small at fixture scale" is not a plan. This
    #    caught knn_analogy's unhinted 1-row crossJoins.
    # 2. N-fold fact re-scans — the r8/r9 audit's other class
    #    (graph_triangles 70 lineitem scans, curation_funnel 24
    #    documents scans): linear, not quadratic, but a 20-70x tax on
    #    the dominant cost at 100 TB. Counted EFFECTIVELY (cached
    #    subplans once — plans/plan_introspect.py) on the same build;
    #    scan counts don't depend on the broadcast threshold.
    # 3. SinglePartition funnels — an unbounded fact-derived relation
    #    shuffled into ONE task (global Window.orderBy and friends).
    #    Counted on the same build; semantic bounds the detector cannot
    #    see are allowlisted with their documented bound above
    #    (SINGLE_PARTITION_ALLOW) — exact allowlist equality, so a fix
    #    that removes an exposure must also retire its entry.
    from rag_application_with_vectordb_spark.plans.plan_introspect import (
        effective_fact_scans,
        single_partition_fact_exposures,
    )

    specs = load_all()
    cartesian, rescans, funnels = [], [], {}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, spec in specs.items():
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            if "CartesianProduct" in plan:
                cartesian.append(name)
            worst = {
                t: c
                for t, c in effective_fact_scans(df).items()
                if c > MAX_FACT_SCANS
            }
            if worst:
                rescans.append(f"{name}: {worst}")
            sp = single_partition_fact_exposures(df)
            if sp:
                funnels[name] = sp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert not cartesian, f"cartesian-product plans (at no-broadcast): {cartesian}"
    assert not rescans, (
        f"plans re-scanning a fact table > {MAX_FACT_SCANS}x:\n" + "\n".join(rescans)
    )
    new = {
        n: c for n, c in funnels.items() if c > SINGLE_PARTITION_ALLOW.get(n, 0)
    }
    stale = {
        n: c
        for n, c in SINGLE_PARTITION_ALLOW.items()
        if funnels.get(n, 0) < c
    }
    assert not new, (
        "plans funneling unbounded fact rows through a SinglePartition "
        f"exchange beyond their allowlisted bound: {new} — either "
        "restructure (limit-to-k first / histogram rank-select / keyed "
        "windows) or document the semantic bound in SINGLE_PARTITION_ALLOW"
    )
    assert not stale, (
        f"stale SINGLE_PARTITION_ALLOW entries (plan improved — retire them): {stale}"
    )
