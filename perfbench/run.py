"""sparkswift benchmark: one closed-loop client on local[4].

Usage, from the root of a sparkswift checkout:

    python3 perfbench/run.py --workload floor|apply \
        --seed N --seconds S --trace 0|1 [--queries a,b,c]

One run:

1. Set-up (``setup_s``): JVM start, ``get_spark``, bench.py's warm-up
   and the workload's fixtures.
2. Measured pass: every operation once, one call at a time; its
   query-building call plus the collection of its result (``toPandas``)
   is timed, then, outside the timed region, the collected result is
   checked (DuckDB oracle, pandas, or recall against the exact top-5).
   Metrics come from this one pass: each operation's first call after
   the warm-up. With ``--trace 1`` the same pass runs traced: the
   per-layer numbers come from it, and ``trace.overhead_frac`` is the
   tracer's own time inside the timed calls over their wall time.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end with ``--trace 0``, per-layer
with ``--trace 1``). Per-query detail goes to
``.bench_out/<workload>_s<seed>_t<trace>.json``. Everything the run
writes stays under the checkout: ``.bench_run/`` (wiped at start),
``.bench_out/`` and the engine's own ``.cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

CPUS = 4


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=("floor", "apply"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds",
        type=float,
        required=True,
        help="the common benchmark interface's run length; a run always measures"
        " exactly one pass of every operation (15-35 s), whatever this says",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--queries",
        help="comma-separated registry names to run instead of the workload's"
        " list (floor only; for one-off investigations)",
    )
    return ap.parse_args(argv)


def prepare_checkout(root: str) -> str:
    """Fresh work dir and the environment every process inherits.

    Scratch fixtures, Spark's local dirs, temp files and the catalog
    warehouse all land in ``<root>/.bench_run``, deleted first so no
    run sees an earlier run's leftovers. Python workers get the
    checkout on ``PYTHONPATH`` so they can import ``sparkswift``.
    """
    work = os.path.join(root, ".bench_run")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("scratch", "spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    cache = os.path.join(root, ".cache")  # engine's persisted indexes
    if os.path.isdir(cache):
        for d in os.listdir(cache):
            if "_sf0.001_" in d:
                shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file from either JVM
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # Enough for these inputs; a larger heap let the JVM's resident peak
    # swing with the operation order (1.1-1.6 GB at 2 GB)
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env.pop("SPARK_GRAFT_UI", None)  # status store only, no UI server
    return work


def redirect_warehouse(path: str) -> None:
    """``get_spark`` pins the catalog warehouse to /tmp; keep it in the
    checkout instead (catalog-backed stores write there)."""
    from pyspark.sql import SparkSession

    orig = SparkSession.Builder.getOrCreate

    def getOrCreate(self):
        self.config("spark.sql.warehouse.dir", path)
        return orig(self)

    SparkSession.Builder.getOrCreate = getOrCreate


def start_session():
    """``get_spark`` plus bench.py's warm-up: the first job's JIT, a
    parquet read and the Python worker pool, so none of them lands in
    the first timed operation."""
    from sparkswift.session import get_spark
    from perfbench.workloads import DATA

    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id * 2)").collect()
    spark.read.parquet(os.path.join(DATA, "region.parquet")).count()
    spark.range(10_000, numPartitions=CPUS).mapInPandas(_identity, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    return spark


def _identity(batches):
    yield from batches


def stop_session(spark) -> None:
    """Stop the context and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def drop_persisted(sc) -> None:
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def tag(sc, text: str | None) -> None:
    sc.setLocalProperty("spark.job.description", text)


class Run:
    def __init__(self, args, work: str) -> None:
        from perfbench import workloads

        self.args = args
        self.work = work
        self.wl = workloads.make(args.workload, args.seed, args.queries)
        self.setup_s = 0.0
        self.session_s = 0.0  # the part of set-up before the fixtures
        self.attempted = 0
        self.failed = 0
        self.outcomes: dict[str, dict] = {}
        self.recalls: list[float] = []
        self.measured: dict = {}  # the one pass, per-query rows
        self.rss = None  # sampler while the measured pass runs
        self.steal_frac = 0.0  # host CPU stolen while it ran
        self.spark = None
        self.reader = None
        self.tracer = None
        self.stream = None

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.spark = start_session()
        self.session_s = time.perf_counter() - t0
        self.wl.prepare(self.spark, self.work)
        self.setup_s = time.perf_counter() - t0

    def measure(self) -> None:
        from perfbench import sparkstats
        from pyspark import SparkContext

        ticks0 = sparkstats.cpu_ticks()
        self.reader = sparkstats.StatusReader(self.spark)
        if self.args.trace:
            from perfbench.tracer import Tracer

            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.prepare()
            self.stream = sparkstats.StreamCollector()
        with sparkstats.RssSampler(SparkContext._gateway.proc.pid) as rss:
            self.rss = rss
            self.measured = self.one_pass(traced=bool(self.args.trace))
        self.rss = None
        self.steal_frac = sparkstats.steal_share(ticks0)

    def one_pass(self, traced: bool) -> dict:
        spark = self.spark
        self.reader.mark()
        if traced:
            self.tracer.install()
            spark.streams.addListener(self.stream)
        rows = {}
        try:
            for name in self.wl.order:
                rows[name] = self.one_call(name, traced)
        finally:
            tag(spark.sparkContext, None)
            if traced:
                self.tracer.uninstall()
                spark.streams.removeListener(self.stream)
        return {
            "traced": traced,
            "wall_s": sum(r["wall_s"] for r in rows.values()),
            "queries": rows,
        }

    def one_call(self, name: str, traced: bool) -> dict:
        from perfbench import sparkstats
        from perfbench.tracer import summarize
        from perfbench.workloads import Outcome

        wl, spark, reader = self.wl, self.spark, self.reader
        sc = spark.sparkContext
        wl.reset(name)
        self.rss.window()
        q = f"{wl.name}:{name}"
        tag(sc, q)
        if traced:
            self.tracer.query = q
            self.tracer.take_own()
        res = out = None
        build_jobs, jobs_s = 0, 0.0
        t0 = time.time()
        t_build = t0
        try:
            df = wl.ops[name](spark)
            t_build = time.time()
            if traced:
                j0 = time.perf_counter()
                build_jobs = reader.jobs_since()
                jobs_s = time.perf_counter() - j0
            out = df.toPandas()
        except Exception as e:  # a failing operation is a result
            res = Outcome(False, f"{type(e).__name__}: {e}"[:300])
        t1 = time.time()
        row = {"wall_s": t1 - t0, "build_s": t_build - t0}
        row["rss_mb"] = [b / 2**20 for b in self.rss.window()]
        if traced:
            row["trace_own_s"] = self.tracer.take_own() + jobs_s
            # the check below runs the engine's own functions, untraced
            self.tracer.uninstall()
            st = sparkstats.QueryStats()
            reader.lineage(st)
            st.lineage_cuts = self.tracer.take_cuts()
            reader.read(st, t0, t1, full=True)
            row.update(stats_row(st), build_jobs=build_jobs, stream=vars(self.stream.take()))
            row["spans"] = summarize(self.tracer.take(), st.job_rows)
        if out is not None:
            tag(sc, f"{q}:check")
            c0 = time.perf_counter()
            try:
                res = wl.check(spark, name, out)
            except Exception as e:
                res = Outcome(False, f"{type(e).__name__}: {e}"[:300])
            row["check_s"] = time.perf_counter() - c0
            if res.recall is not None:
                self.recalls.append(res.recall)
            reader.mark()  # check jobs belong to no query
        if traced:
            self.tracer.install()
        self.attempted += 1
        self.failed += not res.ok
        self.outcomes[name] = {"ok": res.ok, "detail": res.detail}
        drop_persisted(sc)
        row["ok"] = res.ok
        return row

    def close(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None


def stats_row(st) -> dict:
    d = dict(vars(st))
    d.pop("job_rows")
    return d


# ---- metrics -----------------------------------------------------------
def peak_rss_mb(measured: dict) -> tuple[float, float]:
    """``(reported, plain)`` over the timed calls, checks excluded.

    ``plain`` is the largest sample of the JVM plus every process below
    it (the Python daemon and workers). ``reported`` is the JVM's peak
    plus the median over calls of each call's peak below the JVM: it
    keeps the Python worker pool's size but not the 0.7-1.4 GB of extra
    workers st10 starts in some runs and not in others, which makes the
    plain peak bimodal."""
    rows = [r["rss_mb"] for r in measured["queries"].values()]
    plain = max(jvm + below for jvm, below in rows)
    return max(jvm for jvm, _ in rows) + statistics.median(below for _, below in rows), plain


def e2e_metrics(run: Run) -> dict:
    walls = [r["wall_s"] for r in run.measured["queries"].values()]
    return {
        "wall_s": (sum(walls), "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        "setup_s": (run.setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb(run.measured)[0], "MB"),
        "ok_frac": (1.0 - run.failed / run.attempted, "frac"),
        "recall_at_5": (statistics.mean(run.recalls) if run.recalls else 0.0, "frac"),
    }


def layer_metrics(run: Run) -> dict:
    from perfbench.layers import one_pass

    traced = run.measured
    rows = traced["queries"].values()
    m = one_pass(traced, CPUS)
    m["session.start_s"] = (run.session_s, "s")
    m["check.s"] = (sum(r.get("check_s", 0.0) for r in rows), "s")
    m["trace.overhead_frac"] = (sum(r["trace_own_s"] for r in rows) / traced["wall_s"], "frac")
    return m


def main(argv: list[str]) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkswift", "__init__.py")):
        print("perfbench: run from the root of a sparkswift checkout", file=sys.stderr)
        return 2
    work = prepare_checkout(root)
    sys.path.insert(0, root)
    redirect_warehouse(os.path.join(work, "warehouse"))
    # import the engine before timing set-up: set-up measures the JVM,
    # the session and the fixtures, not Python imports
    import sparkswift.suite  # noqa: F401
    import sparkswift.streaming.ops  # noqa: F401

    run = Run(args, work)
    phases = {}
    try:
        for phase in ("setup", "measure"):
            t0 = time.perf_counter()
            getattr(run, phase)()
            phases[phase] = time.perf_counter() - t0
    finally:
        run.close()
    metrics = layer_metrics(run) if args.trace else e2e_metrics(run)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "order": run.wl.order,
        "setup_s": run.setup_s,
        "session_s": run.session_s,
        "phase_s": phases,
        "checks": run.outcomes,
        "steal_frac": run.steal_frac,
        "peak_rss_plain_mb": peak_rss_mb(run.measured)[1],
        "pass": run.measured,
        "metrics": {k: v for k, (v, _u) in metrics.items()},
    }
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}_s{args.seed}_t{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for name, o in run.outcomes.items():
        if not o["ok"]:
            print(f"check failed: {name}: {o['detail']}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
