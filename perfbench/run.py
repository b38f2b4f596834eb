#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the GA engine.

    python3 perfbench/run.py --workload daily_job --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds its inputs from ``--seed``
under ``.perfbench_work/`` in that directory, starts Spark on
``local[N]`` (N = usable cores) through the package's own
``get_spark``, and passes only deployment settings: master, shuffle
partitions sized to N, driver memory, UI off, local and temp dirs, and
status-store retention. It removes that work directory before it
exits, and stops the Spark JVM it started.

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``daily_job``: the paper's nightly job, the real CLI entry point
  (``google_analytics_to_s3_spark.__main__.main``) run in-process on one
  seeded enriched GA day, appending to a fresh copy of a prior-day
  session history that set-up builds with the same CLI.
- ``query_mix``: a fixed list of short registered queries (GA
  analytics, TPC-H-style, stats, text, codec decoders) plus one
  iterative query, each forced with the noop sink
  over seeded analytics tables.

With ``--trace 0`` the last line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics, read from Spark's status
tracker and status store and from spans the benchmark records around
its calls into each layer. The line before it is the full run record.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "google_analytics_to_s3_spark"
N_CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
SETUP_REPS = 3

DAY = "2024-05-14"
PRIOR_DAY = "2024-05-13"
DAY_HITS = 3000
TABLES_SF = 0.01

MART_NAMES = ("sessions", "pageviews", "events", "products",
              "transactions", "items")

# Iterative query with a fixed round count (two ALS rounds), so its work
# does not depend on the seed; ``plans.build_s`` and the per-query
# counters watch its driver-side rounds. The graph loops (part_pagerank,
# community_modularity) cost several times more to oracle-check per run.
ITERATIVE_QUERIES = ["als_rank1"]
CODEC_QUERIES = ["webdataset_zst", "bzip2_extract"]
# Each family once, preferring queries whose time varies least between
# runs.
QUERY_MIX = [
    "sessionize_full", "ua_parse",  # GA analytics
    "pricing_summary",  # TPC-H-style
    "ols_regression",  # stats
    "tfidf_top_terms",  # text
] + CODEC_QUERIES + ITERATIVE_QUERIES

# Pipeline layers the traced daily run times.
PIPELINE_LAYERS = ("sources.read_s", "functions.self_s",
                   "operators.sessionize.self_s", "operators.attribution.self_s",
                   "operators.unpivot.self_s", "operators.exports.self_s",
                   "sources.write_s")


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.samples: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.record: dict = {}

    # -- session -------------------------------------------------------
    def start_session(self):
        from google_analytics_to_s3_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{N_CORES}]",
            shuffle_partitions=N_CORES,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": f"{self.work}/local",
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self):
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            proc = gateway.proc
            with contextlib.suppress(Exception):
                gateway.shutdown()
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        from counters import vm_hwm_mb

        py, jvm = vm_hwm_mb(), vm_hwm_mb(SparkContext._gateway.proc.pid)
        self.record.update(python_hwm_mb=py, jvm_hwm_mb=jvm)
        return py + jvm

    def fail(self, what: str):
        self.failures.append(what)

    # -- timed loop ----------------------------------------------------
    def timed_passes(self, one_pass, seconds: float) -> list[float]:
        """Repeat ``one_pass`` until ``seconds`` have passed (at least once)."""
        walls = []
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < seconds:
            walls.append(one_pass())
        return walls


# ---------------------------------------------------------------------------
# daily_job
# ---------------------------------------------------------------------------


def _mart_digest(path: str) -> tuple[int, str]:
    """Row count and order-free content hash of one written mart."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet").to_table()
    cols = sorted(table.column_names)
    rows = sorted(
        json.dumps([r[c] for c in cols], default=str)
        for r in table.to_pylist()
    )
    h = hashlib.sha256("\n".join([",".join(cols)] + rows).encode())
    return table.num_rows, h.hexdigest()[:16]


class DailyJob(Bench):
    def prepare(self):
        import gaday

        seed = self.args.seed
        pool = gaday.visitor_pool(seed, DAY_HITS // 4)
        today = gaday.make_day(seed, DAY, pool, DAY_HITS)
        prior = gaday.make_day(seed, PRIOR_DAY, pool, DAY_HITS // 2)
        self.day_dir = f"{self.work}/input/{DAY}"
        self.prior_dir = f"{self.work}/input/{PRIOR_DAY}"
        gaday.write_day(today, self.day_dir)
        gaday.write_day(prior, self.prior_dir)
        self.truth = gaday.ground_truth(today)
        self.prior_truth = gaday.ground_truth(prior)
        self.record.update(day=DAY, day_hits=len(today),
                           prior_day_hits=len(prior), truth=self.truth)
        self.n_op = 0

    def cli_day(self, input_dir, date, history, truth) -> tuple[float, dict]:
        """One CLI day, timed; then its marts checked against ``truth``."""
        from google_analytics_to_s3_spark.__main__ import main

        self.n_op += 1
        out = f"{self.work}/marts/{self.n_op}"
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                main(["--input", input_dir, "--output", out,
                      "--history", history, "--date", date])
        except Exception:
            self.fail(f"{date} CLI day: " + traceback.format_exc(limit=3)[-300:])
            return time.perf_counter() - t0, {"ok": False, "hashes": {}}
        wall = time.perf_counter() - t0
        return wall, self.check_marts(out, date, truth)

    def check_marts(self, out: str, date: str, truth: dict) -> dict:
        """Row counts against ``truth`` and content hashes of the six
        marts written under ``out``, which is then removed."""
        y, m, d = date.split("-")
        digests = {name: _mart_digest(
            f"{out}/type={name}/year={y}/month={m}/day={d}")
            for name in MART_NAMES}
        shutil.rmtree(out)
        counts = {n: c for n, (c, _) in digests.items()}
        ok = counts == truth["marts"]
        if not ok:
            self.fail(f"{date} mart rows {counts} != truth {truth['marts']}")
        return {"ok": ok, "hashes": {n: h for n, (_, h) in digests.items()}}

    def check_same(self, results: list[dict], what: str) -> None:
        ref = results[0]["hashes"]
        for r in results[1:]:
            if r["hashes"] != ref:
                r["ok"] = False
                self.fail(f"{what} mart contents differ between runs")

    def setup(self) -> list[float]:
        """Session start plus a forced scan of the day's hits, several
        times; then, untimed, the prior-day CLI run that builds the
        session history and warms the pipeline."""
        from google_analytics_to_s3_spark.sources.ga import read_enriched_hits

        times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.start_session()
            read_enriched_hits(self.spark, self.day_dir).write.format(
                "noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        self.base_history = f"{self.work}/history/base"
        wall, res = self.cli_day(self.prior_dir, PRIOR_DAY, self.base_history,
                                 self.prior_truth)
        self.count([res])
        self.record.update(history_build_s=wall,
                           prior_day_hashes=res["hashes"])
        return times

    def count(self, results):
        self.attempted += len(results)
        self.failed += sum(not r["ok"] for r in results)

    def fresh_history(self) -> str:
        dst = f"{self.work}/history/op{self.n_op + 1}"
        shutil.copytree(self.base_history, dst)
        return dst

    def run(self, seconds: float, trace: bool) -> dict:
        from counters import Counters

        counters = self.counters = Counters(self.spark) if trace else None
        results, op_counts = [], []

        def one_pass():
            history = self.fresh_history()
            group = counters.start("daily") if counters else None
            wall, res = self.cli_day(self.day_dir, DAY, history, self.truth)
            if counters:
                op_counts.append(counters.read(group))
            shutil.rmtree(history)
            results.append(res)
            self.samples.append({"op": "cli_day", "wall_s": wall})
            return wall

        walls = self.timed_passes(one_pass, seconds)
        self.check_same(results, DAY)
        self.count(results)
        self.reference = results[0]
        self.record["day_hashes"] = self.reference["hashes"]
        out = {"walls": walls, "op_walls": walls}
        if trace:
            spans = []
            traced = self.timed_passes(lambda: self.traced_day(spans), seconds)
            out.update(counts=op_counts, count_walls=walls, spans=spans,
                       traced_walls=traced)
        return out

    def traced_day(self, spans: list) -> float:
        """The CLI's calls, made one layer at a time with each boundary
        forced by the noop sink; returns the traced op's wall time.

        A layer's self time is the difference of the cumulative times
        of the forced boundaries on either side of it.
        """
        from pyspark.sql import functions as F

        from google_analytics_to_s3_spark.operators import exports as X
        from google_analytics_to_s3_spark.operators.attribution import (
            recompute_touchpoints,
        )
        from google_analytics_to_s3_spark.plans import pipeline as P
        from google_analytics_to_s3_spark.sources.ga import (
            append_session_history,
            load_own_session_history,
            read_enriched_hits,
            save_daily_marts,
        )

        def forced(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        history_path = self.fresh_history()
        self.counters.start("traced")
        t_start = time.perf_counter()
        self.n_op += 1
        out = f"{self.work}/marts/{self.n_op}"
        c = {}
        hits = read_enriched_hits(self.spark, self.day_dir)
        c["read"] = forced(hits)
        t0 = time.perf_counter()
        history = load_own_session_history(self.spark, history_path)
        c["history"] = time.perf_counter() - t0 + forced(history)
        prepared = P.prepare_hits(hits)
        c["prepare"] = forced(prepared)
        sessionized = P.sessionized_hits(prepared)
        c["sessionize"] = forced(sessionized)
        attributed = P.attributed_hits(sessionized)
        c["attribute"] = forced(attributed)
        products = P.product_hits(attributed)
        c["unpivot"] = forced(products)
        export = X.export_table(products)
        c["export"] = forced(export)
        today = X.export_sessions(export)
        c["export_sessions"] = forced(today)
        hit_marts = {
            "pageviews": X.export_pageviews(export),
            "events": X.export_events(export),
            "products": X.export_products(export),
            "transactions": X.export_transactions(export),
            "items": X.export_items(export),
        }
        c["hit_marts"] = [forced(df) for df in hit_marts.values()]
        sessions = recompute_touchpoints(history, today)
        c["touchpoints"] = forced(sessions)
        day = F.lit(DAY).cast("date")
        marts = {name: df.filter(F.to_date("timestamp") == day)
                 for name, df in {"sessions": sessions, **hit_marts}.items()}
        t0 = time.perf_counter()
        append_session_history(marts["sessions"], history_path)
        save_daily_marts(marts, out, DAY)
        c["write"] = time.perf_counter() - t0
        wall = time.perf_counter() - t_start
        shutil.rmtree(history_path)
        res = self.check_marts(out, DAY, self.truth)
        self.check_same([self.reference, res], DAY + " traced")
        self.count([res])

        spans.append({
            "cumulative_s": c,
            "sources.read_s": c["read"] + c["history"],
            "functions.self_s": (c["prepare"] - c["read"])
            + (c["attribute"] - c["sessionize"]),
            "operators.sessionize.self_s": c["sessionize"] - c["prepare"],
            "operators.unpivot.self_s": c["unpivot"] - c["attribute"],
            # export_table only: each export_* mart prunes columns out
            # of the whole chain, so it is no later boundary of it
            "operators.exports.self_s": c["export"] - c["unpivot"],
            "operators.attribution.self_s": c["touchpoints"]
            - c["export_sessions"] - c["history"],
            # the writes re-run every mart's plan (sessions twice: the
            # history append and its mart); their exec time is removed
            "sources.write_s": c["write"] - 2 * c["touchpoints"]
            - sum(c["hit_marts"]),
        })
        return wall


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


class QueryMix(Bench):

    def prepare(self):
        import tables

        self.sf_dir = f"{self.work}/tables"
        self.record.update(
            sf=TABLES_SF,
            table_rows=tables.write_tables(self.sf_dir, self.args.seed,
                                           TABLES_SF),
            queries=QUERY_MIX,
        )
        self.bad_queries: set[str] = set()

    def setup(self) -> list[float]:
        """Session start plus the first query of the mix."""
        times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.start_session()
            self.query_op(QUERY_MIX[0])
            times.append(time.perf_counter() - t0)
        self.check_pass()
        return times

    def check_pass(self):
        """Untimed warm-up pass that checks every query against its
        registered DuckDB oracle."""
        from google_analytics_to_s3_spark.plans import driver_queries as dq
        from tests.oracle import compare

        t0 = time.perf_counter()
        for name in QUERY_MIX:
            try:
                compare(dq.QUERIES[name](self.spark, self.sf_dir),
                        dq.ORACLES[name], self.sf_dir)
            except Exception as e:  # any failure marks the query wrong
                self.bad_queries.add(name)
                self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            finally:
                self.spark.catalog.clearCache()
        self.record["check_pass_s"] = time.perf_counter() - t0

    def query_op(self, name: str, counters=None) -> tuple[float, dict | None]:
        """One query forced with the noop sink; returns its wall time and,
        with ``counters``, its build and exec timed and counted apart."""
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        self.attempted += 1
        split = None
        t0 = time.perf_counter()
        try:
            g_build = counters.start(name + "-build") if counters else None
            df = dq.QUERIES[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            g_exec = counters.start(name + "-exec") if counters else None
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            if counters:
                split = {"query": name, "build_s": t1 - t0,
                         "exec_s": t0 + wall - t1,
                         "build": counters.read(g_build),
                         "exec": counters.read(g_exec)}
        except Exception:
            wall = time.perf_counter() - t0
            self.failed += 1
            self.fail(f"{name}: " + traceback.format_exc(limit=3)[-300:])
        else:
            self.failed += name in self.bad_queries
        finally:
            self.spark.catalog.clearCache()
        return wall, split

    def run(self, seconds: float, trace: bool) -> dict:
        from counters import FIELDS, Counters

        op_walls = []

        def untraced_pass():
            walls = [self.query_op(name)[0] for name in QUERY_MIX]
            op_walls.extend(walls)
            self.samples.extend({"op": n, "wall_s": w}
                                for n, w in zip(QUERY_MIX, walls))
            return sum(walls)

        out = {"walls": self.timed_passes(untraced_pass, seconds),
               "op_walls": op_walls}
        if trace:
            counters = Counters(self.spark)
            splits = []

            def traced_pass():
                t_pass = 0.0
                for name in QUERY_MIX:
                    wall, split = self.query_op(name, counters)
                    t_pass += wall
                    if split:
                        splits.append(split)
                return t_pass

            out["traced_walls"] = self.timed_passes(traced_pass, seconds)
            out.update(
                splits=splits,
                counts=[{k: s["build"][k] + s["exec"][k] for k in FIELDS}
                        for s in splits],
                count_walls=[s["build_s"] + s["exec_s"] for s in splits],
            )
        return out


WORKLOADS = {"daily_job": DailyJob, "query_mix": QueryMix}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def exec_metrics(counts: list[dict], op_walls: list[float]) -> dict:
    """Per-op means of the status-store counters, plus core busy share."""
    n = max(1, len(counts))

    def per_op(key, scale=1.0):
        return sum(c[key] for c in counts) / n / scale

    busy = sum(c["run_ms"] for c in counts) / 1000.0
    return {
        "exec.jobs": per_op("jobs"),
        "exec.stages": per_op("stages"),
        "exec.tasks": per_op("tasks"),
        "exec.single_task_stages": per_op("single_task_stages"),
        "exec.shuffle_write_mb": per_op("shuffle_write_bytes", 1e6),
        "exec.spill_mb": per_op("spill_bytes", 1e6),
        "exec.core_busy_share": busy / max(1e-9, sum(op_walls) * N_CORES),
    }


def layer_metrics(workload: str, bench: Bench, res: dict,
                  names: list[str]) -> dict:
    """Per-layer values; a layer the workload never calls reads 0."""
    m = dict.fromkeys(names, 0.0)
    m.update(exec_metrics(res["counts"], res["count_walls"]))
    m["trace.overhead_s"] = median(res["traced_walls"]) - median(res["walls"])
    if workload == "daily_job":
        counts, hits = res["counts"], bench.record["day_hits"]
        n = len(counts)
        m["sources.scan_records_per_hit"] = (
            sum(c["input_records"] for c in counts) / n / hits)
        m["sources.input_mb"] = sum(c["input_bytes"] for c in counts) / n / 1e6
        m["sources.output_mb"] = (
            sum(c["output_bytes"] for c in counts) / n / 1e6)
        for name in PIPELINE_LAYERS:
            m[name] = median([s[name] for s in res["spans"]])
        return m
    splits = res["splits"]
    by_query: dict[str, list] = {}
    for s in splits:
        by_query.setdefault(s["query"], []).append(s)
    n_pass = len(res["traced_walls"])
    build = sum(s["build_s"] for s in splits) / n_pass
    execd = sum(s["exec_s"] for s in splits) / n_pass
    m["plans.build_s"] = build
    m["plans.exec_s"] = execd
    m["plans.build_share"] = build / (build + execd)
    m["plans.build_jobs"] = sum(s["build"]["jobs"] for s in splits) / n_pass
    # A query that raised has no split; its failure is already counted.
    m["codecs.exec_s"] = sum(
        median([s["exec_s"] for s in by_query[q]])
        for q in CODEC_QUERIES if q in by_query)
    for q in ITERATIVE_QUERIES:
        ss = by_query.get(q)
        if not ss:
            continue
        m[f"{q}.build_s"] = median([s["build_s"] for s in ss])
        m[f"{q}.exec_s"] = median([s["exec_s"] for s in ss])
        m[f"{q}.jobs"] = median([s["build"]["jobs"] + s["exec"]["jobs"]
                                 for s in ss])
        m[f"{q}.single_task_stages"] = median(
            [s["build"]["single_task_stages"] + s["exec"]["single_task_stages"]
             for s in ss])
    return m


def run_record(bench: Bench, args) -> dict:
    import pyspark

    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True).stdout.strip()
    jvm = bench.spark.sparkContext._jvm
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": N_CORES, "master": f"local[{N_CORES}]",
        "driver_memory": DRIVER_MEMORY, "git_sha": sha,
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        **bench.record,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__main__.py")):
        print(f"perfbench: run from the repository root; no {PACKAGE}/ "
              f"in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # Spark's Python workers import the package; temp files stay in work.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [d for d in os.environ.get("PYTHONPATH", "").split(os.pathsep) if d])
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # spark-submit's launcher JVM would write its perf data under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [HERE, ROOT]

    # On SIGTERM, unwind through the clean-up below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = WORKLOADS[args.workload](args, work)
    try:
        bench.prepare()
        setup = bench.setup()
        res = bench.run(args.seconds, bool(args.trace))
        rss = bench.peak_rss_mb()
        record = run_record(bench, args)
    finally:
        try:
            bench.stop_session()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(work))

    if args.trace:
        specs = spec["per_layer"]
        values = layer_metrics(args.workload, bench, res,
                               [m["name"] for m in specs])
        values["mem.peak_rss_mb"] = rss
    else:
        values = {
            "setup_s": median(setup),
            "wall_s": median(res["walls"]),
            "op_p50_s": median(res["op_walls"]),
        }
        specs = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in specs}
    record.update(setup_s=setup, pass_walls=res["walls"],
                  samples=bench.samples, failures=bench.failures,
                  failed_share=bench.failed / max(1, bench.attempted),
                  metrics=values)
    if args.trace:
        record.update(traced_walls=res["traced_walls"],
                      spans=res.get("spans"), splits=res.get("splits"),
                      counts=res["counts"])
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": bench.failed == 0 and not bench.failures,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
