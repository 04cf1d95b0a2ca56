"""Local mirror of the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle at the given
sf dir, then compares row count, sorted-column-name schema, and an
order-insensitive value hash (values canonicalized: floats via repr,
timestamps via isoformat). Exit code 1 if anything mismatches.

Usage: python tools/check_oracle.py [sf_dir] [name_filter...]
       python tools/check_oracle.py <sf_dir> --window        # the 50 driver slots
       python tools/check_oracle.py <sf_dir> --backlog       # never-driver-checked, not in window
       python tools/check_oracle.py <sf_dir> --spark-only [...]  # skip DuckDB (scale-up smoke)

``--spark-only`` runs only the Spark side (no oracle) — the mode for
scale-up fixtures (sf1/sf10) where unrolled iterative oracles would
take hours in DuckDB. It forces full execution via ``count()`` and runs
the driver-canon check on a 1000-row sample instead of collecting the
whole result: a radius/similarity join's OUTPUT can grow quadratically
with density (geo_radius_pairs ≈ 350M pairs at sf10), which the engine
streams to a sink but a smoke harness must never pull to the driver.

``--resume-log <path>`` skips queries that already have a green
``rows``/``ok`` line in a previous run's log (failures re-run —
including TIMEOUT rows: a timed-out query's documented second chance
is a fresh-session re-run, so the resume done-set must NOT treat
TIMEOUT as settled; scale_sweep's own 2-strike accounting decides when
to stop retrying it).

``--exact`` makes positional name filters whole-name matches instead of
substrings — scale_sweep passes it so a pending name that is a prefix
of a settled query (``dedup_prefix_filter_pairs`` vs ``..._keyed``)
can't re-run the settled one and defeat the 2-strike OOM protection.

``--cache-drop-every N`` (default 25; 0 disables) controls how often a
``--spark-only`` sweep clears the persisted-relation cache (and the
tracked-persist registry) — the session-survival hygiene the r10 sweep
OOM motivated, exposed as a flag so an A/B sweep can prove no query's
green depends on a neighbor's cache entry.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rag_application_with_vectordb_spark.plans.registry import load_all  # noqa: E402
from rag_application_with_vectordb_spark.session import get_spark  # noqa: E402
from rag_application_with_vectordb_spark.sources.catalog import TABLES  # noqa: E402


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def driver_canon_error(rows, colnames) -> str | None:
    """Reproduce the DRIVER's canonicalization mechanics, which differ
    from ours: it loads each result into pandas and lexsorts ALL columns
    via ``DataFrame.sort_values`` before hashing. That factorizes every
    column, so any unhashable cell (list/dict — i.e. any top-level
    array/map/struct output column) raises TypeError driver-side even
    though our tuple-based canon handles it fine. text_tokenize_ids
    shipped locally-green and driver-red in r07 exactly this way (same
    genus as the r01 HUGEINT coercion above). Returns the error string
    if the driver would crash on this result, else None."""
    import pandas as pd

    try:
        df = pd.DataFrame([tuple(r) for r in rows], columns=list(colnames))
        df.sort_values(by=sorted(colnames))
    except Exception as exc:  # noqa: BLE001 — report whatever the driver would hit
        return f"{type(exc).__name__}: {exc}"
    return None


def parse_resume_done(path: str) -> set[str]:
    """Names settled GREEN in a previous run's log — and only green:
    FAIL and TIMEOUT rows must re-run on resume (a timed-out query's
    documented second chance IS the fresh-session re-run; marking it
    done stalled scale_sweep's 2-strike retry loop, ADVICE r10)."""
    done: set[str] = set()
    with open(path) as fh:
        for line in fh.read().replace("\r", "\n").splitlines():
            if line.startswith(("rows  ", "ok    ")):
                # the resume scenario IS the interrupted-mid-write
                # scenario — a truncated trailing line must not kill
                # the sweep it exists to resume
                parts = line.split()
                if len(parts) > 1:
                    done.add(parts[1].rstrip(":"))
    return done


def name_selected(name: str, name_filter: list[str], exact: bool) -> bool:
    """Positional-filter semantics: substring by default; whole-name
    with ``--exact`` (scale_sweep's mode — a pending name that prefixes
    a settled one must not re-run the settled one, ADVICE r10)."""
    if not name_filter:
        return True
    return name in name_filter if exact else any(f in name for f in name_filter)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2:]
    spark_only = False
    if "--spark-only" in name_filter:
        name_filter.remove("--spark-only")
        spark_only = True
    exact = False
    if "--exact" in name_filter:
        name_filter.remove("--exact")
        exact = True
    qtimeout: float | None = None
    if "--timeout-per-query" in name_filter:
        i = name_filter.index("--timeout-per-query")
        qtimeout = float(name_filter[i + 1])
        del name_filter[i : i + 2]
    cache_drop_every = 25
    if "--cache-drop-every" in name_filter:
        # 0 disables — the A/B lever for auditing whether any query's
        # green depends on a neighbor's cache entry (VERDICT r10 item 4).
        # NOTE: the periodic drop only fires under --spark-only (sweep
        # mode); oracle-compare runs ignore it.
        i = name_filter.index("--cache-drop-every")
        if i + 1 >= len(name_filter) or not name_filter[i + 1].lstrip("-").isdigit():
            print("usage: --cache-drop-every N  (integer; 0 disables)", file=sys.stderr)
            return 2
        cache_drop_every = int(name_filter[i + 1])
        del name_filter[i : i + 2]
    done: set[str] = set()
    if "--resume-log" in name_filter:
        i = name_filter.index("--resume-log")
        done = parse_resume_done(name_filter[i + 1])
        del name_filter[i : i + 2]
    specs = load_all()
    if name_filter == ["--window"]:
        # exactly the driver's 50-slot correctness window (exact names,
        # not substrings) — the pre-rotation preflight
        from rag_application_with_vectordb_spark.plans.registry import (
            DRIVER_WINDOW_PRIORITY,
        )

        specs = {n: specs[n] for n in DRIVER_WINDOW_PRIORITY}
        name_filter = []
    elif name_filter == ["--backlog"]:
        # every oracle-backed query that has never produced a green driver
        # CORRECTNESS row AND is not in the current window — the rotation
        # candidates; run these at scale-up SFs before they reach a window
        import glob
        import json

        from rag_application_with_vectordb_spark.plans.registry import (
            DRIVER_WINDOW_PRIORITY,
        )

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        green: set[str] = set()
        for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
            for qname, row in json.load(open(f)).items():
                if row.get("hash_match") or row.get("rows_match"):
                    green.add(qname)
        specs = {
            n: s
            for n, s in specs.items()
            if n not in green and n not in DRIVER_WINDOW_PRIORITY and s.oracle
        }
        name_filter = []
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; locally generated scale-up
        # sets (tools/gen_sf.py) are Spark-written DIRECTORIES of parts
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    failures = []
    n_run = 0
    for name, spec in sorted(specs.items()):
        if not name_selected(name, name_filter, exact):
            continue
        if name in done:
            continue
        t0 = time.time()
        if spark_only and cache_drop_every and n_run and n_run % cache_drop_every == 0:
            # Long scale-up sweeps accumulate persisted relations from
            # every query family (dedup signatures, graph edges, rank
            # histograms); the r10 sweep heap-OOMed on a memory-marginal
            # query ~95 entries in purely from that pressure. Dropping
            # the cache every 25 queries trades some cross-query reuse
            # for a session that survives the whole catalog.
            try:
                spark.catalog.clearCache()
                # also drop the Python-side references multi-pass
                # builders registered, so re-invocations re-track
                # cleanly instead of growing the registry (ADVICE r10)
                from rag_application_with_vectordb_spark.session import (
                    release_tracked_persists,
                )

                release_tracked_persists(spark)
            except Exception:  # noqa: BLE001 — hygiene must never kill a sweep
                pass
        n_run += 1

        def run_spark(out: dict) -> None:
            try:
                if qtimeout is not None:
                    spark.sparkContext.setJobGroup(name, name, True)
                sdf = spec.fn(spark, sf_dir)
                if spark_only:
                    # full execution without driver materialization —
                    # the result set itself can be huge at scale-up
                    # SFs. DISK_ONLY persist so count() and the
                    # 1000-row sample are ONE execution of the plan,
                    # without holding a giant result in executor memory.
                    from pyspark import StorageLevel

                    p = sdf.persist(StorageLevel.DISK_ONLY)
                    try:
                        out["n_rows"] = p.count()
                        out["srows"] = p.limit(1000).collect()
                    finally:
                        p.unpersist()
                else:
                    out["srows"] = sdf.collect()
                    out["n_rows"] = len(out["srows"])
                out["scols"] = sdf.columns
            except Exception as exc:  # noqa: BLE001
                out["err"] = exc

        out: dict = {}
        if qtimeout is None:
            run_spark(out)
        else:
            # Bounded execution: a wedged plan (the documented exact-
            # anchor scale regimes on degenerate corpora) must not stall
            # a 362-query sweep. Jobs are tagged with a per-query group
            # inside the worker thread (pinned-thread mode keeps the
            # tag thread-local) and cancelled on expiry; the TIMEOUT
            # row is resumable evidence, not silence.
            import threading

            th = threading.Thread(target=run_spark, args=(out,), daemon=True)
            th.start()
            th.join(qtimeout)
            if th.is_alive():
                try:
                    spark.sparkContext.cancelJobGroup(name)
                except Exception:  # noqa: BLE001
                    pass
                th.join(30)
                print(f"TIMEOUT  {name}: exceeded {qtimeout:.0f}s, jobs cancelled")
                failures.append(name)
                continue
        if "err" in out:
            print(f"FAIL  {name}: spark error: {out['err']}")
            failures.append(name)
            try:
                dead = spark.sparkContext._jsc.sc().isStopped()
            except Exception:  # noqa: BLE001 — a dead gateway IS dead
                dead = True
            if dead:
                # A heap-OOM in one query kills the whole JVM; burning
                # through the rest of the sweep against a stopped
                # context sprays misleading FAIL rows (160 of them in
                # the r10 sf10 sweep). Abort so a --resume-log rerun
                # restarts clean from the real failure point.
                print(
                    "ABORT: SparkContext stopped (executor OOM/fatal). "
                    "Re-run with --resume-log to continue from here."
                )
                break
            continue
        srows, n_rows, scols = out["srows"], out["n_rows"], out["scols"]
        if not spec.oracle or spark_only:
            dce = driver_canon_error(srows, scols)
            if dce:
                print(f"FAIL  {name}: driver-canon incompatible: {dce}")
                failures.append(name)
            else:
                print(
                    f"rows  {name}: {n_rows} rows"
                    f"{' (no oracle)' if not spec.oracle else ''}"
                    f" [{time.time()-t0:.1f}s]"
                )
            continue
        try:
            cur = con.execute(spec.oracle)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            # Reproduce the driver's pandas typing: DuckDB HUGEINT (the
            # result type of integer SUM) and DECIMAL become float64 through
            # pandas, while Spark emits int64 — fetchall() hides that by
            # returning Python ints, which is how the r01 HUGEINT bug
            # shipped locally-green but driver-red. Coerce those columns to
            # float here so the mismatch reproduces locally.
            dtypes = [
                r[1] for r in con.execute(f"DESCRIBE ({spec.oracle})").fetchall()
            ]
            floaty = [
                i
                for i, t in enumerate(dtypes)
                if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL")
            ]
            if floaty:
                drows = [
                    tuple(
                        float(v) if i in floaty and v is not None else v
                        for i, v in enumerate(r)
                    )
                    for r in drows
                ]
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        dce = driver_canon_error(srows, scols) or (
            driver_canon_error(drows, dcols) if drows else None
        )
        if dce:
            problems.append(f"driver-canon incompatible: {dce}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            sh, dh = value_hash(srows, scols), value_hash(drows, dcols)
            if sh != dh:
                problems.append("value-hash mismatch")
                srt = sorted(
                    "|".join(canon(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i]))
                    for r in srows
                )
                drt = sorted(
                    "|".join(canon(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i]))
                    for r in drows
                )
                diffs = [(a, b) for a, b in zip(srt, drt) if a != b][:3]
                for a, b in diffs:
                    print(f"        spark: {a}\n        duck : {b}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failures.append(name)
        else:
            print(f"ok    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
