"""Optimization-round measurement harness (guide §1).

For each named query (default: the bench HEADLINE set), time the noop
sink end-to-end — one cold pass, then N warm passes (median + spread) —
and write ``.explain('formatted')`` to ``plans/<round>/<name>_<tag>.txt``
(round defaults to r13; pass --round).
Jobs are labeled via setJobDescription so UI traces attribute cleanly.

Usage:
  python tools/opt_measure.py <tag> [--sf-dir DIR] [--warm N] [--no-plans] [--round rNN] [names...]

Prints one JSON line per query and a total, and appends to
``/tmp/opt_measure_<tag>.jsonl`` so interrupted runs lose nothing.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rag_application_with_vectordb_spark.plans.registry import load_all  # noqa: E402
from rag_application_with_vectordb_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    if not args:
        print("usage: opt_measure.py <tag> [--sf-dir DIR] [--warm N] [--no-plans] [names...]")
        sys.exit(2)
    tag = args.pop(0)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_n = 3
    write_plans = True
    round_dir = "r13"
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf-dir":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--warm":
            warm_n = int(args[i + 1])
            i += 2
        elif args[i] == "--round":
            round_dir = args[i + 1]
            i += 2
        elif args[i] == "--no-plans":
            write_plans = False
            i += 1
        else:
            names.append(args[i])
            i += 1
    specs = load_all()
    if not names:
        import bench

        names = list(bench.HEADLINE)
    out_dir = os.path.join(ROOT, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("opt_measure")
    log = open(f"/tmp/opt_measure_{tag}.jsonl", "a")
    totals = {}
    for name in names:
        spec = specs[name]
        sc = spark.sparkContext

        def run() -> float:
            t0 = time.time()
            df = spec.fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            return round(time.time() - t0, 3)

        sc.setJobDescription(f"opt_measure:{name}")
        try:
            if write_plans:
                df = spec.fn(spark, sf_dir)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
                    fh.write(buf.getvalue())
            cold = run()
            warms = sorted(run() for _ in range(warm_n))
            med = warms[len(warms) // 2]
            rec = {
                "name": name,
                "cold": cold,
                "warm_median": med,
                "warm_spread": round(warms[-1] - warms[0], 3),
                "warms": warms,
            }
            totals[name] = med
        except Exception as exc:  # noqa: BLE001 — isolation
            rec = {"name": name, "error": f"{type(exc).__name__}: {exc}"[:300]}
        finally:
            sc.setJobDescription(None)
        line = json.dumps(rec)
        print(line, flush=True)
        log.write(line + "\n")
        log.flush()
    print(json.dumps({"tag": tag, "sf_dir": sf_dir,
                      "warm_total": round(sum(totals.values()), 3),
                      "n": len(totals)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
