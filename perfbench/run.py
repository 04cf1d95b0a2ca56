"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Runs one workload (``query_mix``, ``index_build``, ``rag_chat``,
``catalog_suite``, or ``all`` for every one in turn) from the root of a
source checkout,
against the ``local[nproc]`` session that ``session.get_spark`` builds.
With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1``
it runs the same workload once untraced and once traced and prints the
per-layer metrics plus the tracing overhead. The last stdout line is
the result object; the line before it is the run context. The run
writes under ``.perfbench_work/`` in the checkout, apart from the IVF
index store that ``catalog_suite``'s ``ann_ivf_topk`` keeps in
``spark-warehouse/ivf_index/``, which the run removes again. Do not run
it alongside the repository's tests or another run. See
perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
#: workload -> the module that runs it
WORKLOADS = {"query_mix": "query_mix", "index_build": "index_build",
             "rag_chat": "query_mix", "catalog_suite": "query_mix"}


def confine_to_checkout() -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``WORK`` before anything starts, and let executor Python workers
    import this checkout (the stand-in embedding model lives here)."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # every JVM, the launcher's included: temp files here, and no
    # /tmp/hsperfdata_* monitoring files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"))
    import tempfile

    tempfile.tempdir = tmp


class RunContext:
    """One run: its arguments, its Spark session, and the clock that
    splits the benchmark's own work (input generation, checks) out of
    the set-up time."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 size: str, t_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = size
        self.t_start = t_start
        self.own_s = 0.0  # benchmark-own work before the first timed op
        self.t_first_op: float | None = None
        self.dir = os.path.join(WORK, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.spark = None
        self.session_start_s = 0.0
        from rag_application_with_vectordb_spark.plans.ann_queries import _IVF_STORE

        self.index_store = _IVF_STORE  # where registered queries persist their indexes
        self.index_stores_existed = os.path.isdir(_IVF_STORE) and bool(os.listdir(_IVF_STORE))

    @contextmanager
    def own_work(self):
        """Time benchmark-own work so set-up time can exclude it."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.t_first_op is None:
                self.own_s += time.perf_counter() - t0

    def start_spark(self):
        from rag_application_with_vectordb_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def mark_first_op(self) -> None:
        if self.t_first_op is None:
            self.t_first_op = time.perf_counter()

    @property
    def setup_s(self) -> float:
        return self.t_first_op - self.t_start - self.own_s

    def spark_context(self) -> dict:
        sc = self.spark.sparkContext
        return {"nproc": len(os.sched_getaffinity(0)), "master": sc.master,
                "spark_version": self.spark.version,
                "default_parallelism": sc.defaultParallelism}

    def close(self) -> None:
        """Stop Spark, wait for its JVM to end, and drop this run's files."""
        if self.spark is not None:
            from pyspark import SparkContext

            proc = SparkContext._gateway.proc
            self.spark.stop()
            # the gateway JVM outlives spark.stop() and exits on stdin EOF
            proc.stdin.close()
            proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)


def run_one(workload: str, args, t_start: float) -> int:
    import importlib

    from perfbench import harness

    ctx = RunContext(workload, args.seed, args.seconds, bool(args.trace), args.size, t_start)
    try:
        out = importlib.import_module(f"perfbench.{WORKLOADS[workload]}").run(ctx)
    finally:
        ctx.close()
    harness.emit(**out)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import rag_application_with_vectordb_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    confine_to_checkout()
    if args.workload != "all":
        return run_one(args.workload, args, T_PROCESS)
    for w in WORKLOADS:  # one process per workload: each starts cold
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                        "--seed", str(args.seed), "--seconds", str(args.seconds),
                        "--trace", str(args.trace), "--size", args.size], check=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
