"""The benchmark's workloads, their output checks and per-layer figures.

Every workload has the same life cycle, driven by ``run.py``:

- ``prepare()`` writes the seeded inputs;
- ``check()`` runs every operation once, untimed, and checks its output
  (this cold pass is the only warm-up);
- ``run_pass()`` is the timed section: it returns its outputs and the
  wall seconds of each operation in it; ``verify()`` checks the outputs,
  outside the timed section;
- ``layers()`` turns traced spans and event-log job groups into the
  per-layer metrics.
"""

from __future__ import annotations

import math
import os
import random
import re
import statistics
import time

from perfbench import corpus_gen, ratings_gen

# The registry workload runs two kinds of query. Heavy builders fire
# several eager jobs (checkpoints, reuse) before the timed action and run
# long serial stage chains: dedup, reuse, item-kNN.
HEAVY = [
    "dedup_ppjoin",
    "cf_ndcg_itemknn_sub",
]
# Light builders fire one job (the parquet schema read), so fixed
# per-query cost dominates: scan+agg, star join, window, text.
LIGHT = [
    "g1_pricing_summary",
    "j6_multiway_revenue",
    "w1_topk_per_user",
    "text_quality",
]
HEAVY_QUERY_METRICS = ("builder_s", "builder_jobs", "action_s", "stages", "task_cpu_s", "shuffle_write_mb")
LIGHT_QUERY_METRICS = ("builder_s", "action_s")

MB = 1024 * 1024

# name -> unit, for every per-layer metric; each traced run prints all of
# them, with 0 where the metric belongs to another workload
PER_LAYER_UNITS: dict[str, str] = {
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "setup.check_s": "s",
    "tracing_overhead_s": "s",
    "peak_rss_mb": "MB",
    "plans.queries.builder_s": "s",
    "plans.queries.builder_jobs": "count",
    "action_s": "s",
    "jobs": "count",
    "stages": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "slot_util": "ratio",
    "etl.populate_tables_s": "s",
    "etl.populate_tables_jobs": "count",
    "sources.tables.bytes_written_mb": "MB",
    "etl.kept_ratio": "ratio",
    "ml.collabfilter.train_s": "s",
    "ml.collabfilter.train_jobs": "count",
    "ml.collabfilter.train_stages": "count",
    "ml.collabfilter.predict_s": "s",
    "ml.collabfilter.validate_s": "s",
    "ml.collabfilter.scored_ratio": "ratio",
    "report.results_report_s": "s",
}
for _names, _metrics in ((HEAVY, HEAVY_QUERY_METRICS), (LIGHT, LIGHT_QUERY_METRICS)):
    for _q in _names:
        for _m in _metrics:
            PER_LAYER_UNITS[f"q.{_q}.{_m}"] = PER_LAYER_UNITS[_m.replace("builder_", "plans.queries.builder_")]


def check_report(rmse: float, report: str, expected: ratings_gen.Expected) -> list[str]:
    """The reference contract plus the planted counts: 0 <= RMSE < 0.5,
    and one report line per scorable validation pair, no more, no less."""
    problems = []
    if not (0.0 <= rmse < 0.5):
        problems.append(f"rmse {rmse} outside [0, 0.5)")
    lines = report.split("\n")
    if lines[0] != "User\tProduct\tPredicted\tActual\tError?":
        problems.append(f"report header {lines[0]!r}")
    if lines[-1] != f"RMSE = {'NaN' if math.isnan(rmse) else round(rmse * 100) / 100}":
        problems.append(f"report trailer {lines[-1]!r} for rmse {rmse}")
    try:
        pairs = [tuple(int(x) for x in line.split("\t")[:2]) for line in lines[1:-1] if line]
    except ValueError as exc:
        return problems + [f"report body does not parse: {exc}"]
    if len(pairs) != len(expected.scored_pairs) or set(pairs) != expected.scored_pairs:
        problems.append(
            f"report has {len(pairs)} rows ({len(set(pairs) ^ expected.scored_pairs)} pairs differ); "
            f"expected {len(expected.scored_pairs)} scored pairs"
        )
    return problems


def check_rows(name: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{name}: {got} rows, expected {want}"]


class _Layers:
    """Median over traced passes of per-pass span seconds and job-group
    figures; a span named ``x`` ran its jobs under group ``x#<pass>``."""

    def __init__(self, spans, groups, passes):
        self.spans, self.groups, self.passes = spans, groups, passes

    def seconds(self, pattern: str) -> float:
        rx = re.compile(pattern)
        return statistics.median(
            sum(s.seconds for s in self.spans if s.pass_idx == p and rx.fullmatch(s.name))
            for p in self.passes
        )

    def group(self, pattern: str, attr: str, scale: float = 1.0) -> float:
        rx = re.compile(rf"(?:{pattern})#(\d+)")

        def one(p):
            total = 0
            for g, stats in self.groups.items():
                m = rx.fullmatch(g)
                if m and int(m.group(1)) == p:
                    total += getattr(stats, attr)
            return total / scale

        return statistics.median(one(p) for p in self.passes)

    def workload(self, pass_s: float, cores: int) -> dict[str, float]:
        run_s = self.group(".*", "task_run_s")
        return {
            "jobs": self.group(".*", "jobs"),
            "stages": self.group(".*", "stages"),
            "task_run_s": run_s,
            "task_cpu_s": self.group(".*", "task_cpu_s"),
            "shuffle_write_mb": self.group(".*", "shuffle_write_bytes", MB),
            "slot_util": run_s / (pass_s * cores),
            "plans.queries.builder_s": self.seconds(r"q\..*\.builder"),
            "plans.queries.builder_jobs": self.group(r"q\..*\.builder", "jobs"),
            "action_s": self.seconds(r"q\..*\.action"),
        }


class CfPipeline:
    """The paper's path: CSV ETL -> stored tables -> ALS -> RMSE -> report."""

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark, self.tracer, self.work_dir, self.seed = spark, tracer, work_dir, seed
        self.csv = os.path.join(work_dir, "ratings.csv")
        self.expected: ratings_gen.Expected | None = None
        self.scored: list[int] = []

    def prepare(self) -> None:
        rows, self.expected = ratings_gen.generate(self.seed)
        ratings_gen.write_csv(self.csv, rows)

    def run_pass(self):
        from spark_cassandra_collabfiltering_spark.pipeline import CollabFilterPipeline
        from spark_cassandra_collabfiltering_spark.sources import ParquetStorage

        t0 = time.perf_counter()
        pipeline = CollabFilterPipeline(self.spark, ParquetStorage(os.path.join(self.work_dir, "store")))
        try:
            result = pipeline.run(self.csv)
            out = result.rmse, result.report
        except Exception as exc:  # counted as a failed operation
            out = exc
        finally:
            pipeline.close()
        return out, {"pipeline": time.perf_counter() - t0}

    def verify(self, out) -> tuple[int, list[str]]:
        if isinstance(out, Exception):
            return 1, [f"pipeline: {type(out).__name__}: {str(out)[:200]}"]
        rmse, report = out
        self.scored.append(report.count("\n") - 1)
        problems = check_report(rmse, report, self.expected)
        return 1, ["; ".join(problems)] if problems else []

    def check(self) -> tuple[int, list[str]]:
        return self.verify(self.run_pass()[0])

    def trace(self) -> None:
        from spark_cassandra_collabfiltering_spark import etl, pipeline
        from spark_cassandra_collabfiltering_spark.ml import collabfilter

        self.tracer.wrap(etl, "populate_tables", "etl.populate_tables")
        for fn in ("train", "predict", "validate"):
            self.tracer.wrap(collabfilter, fn, f"ml.collabfilter.{fn}")
        self.tracer.wrap(pipeline, "results_report", "report.results_report")

    def layers(self, spans, groups, passes, pass_s, cores) -> dict[str, float]:
        lay = _Layers(spans, groups, passes)
        etl = r"etl\.populate_tables"
        out = lay.workload(pass_s, cores)
        out.update({
            "etl.populate_tables_s": lay.seconds(etl),
            "etl.populate_tables_jobs": lay.group(etl, "jobs"),
            "sources.tables.bytes_written_mb": lay.group(etl, "output_bytes", MB),
            "etl.kept_ratio": lay.group(etl, "output_records") / self.expected.tagged_rows,
            "ml.collabfilter.train_s": lay.seconds(r"ml\.collabfilter\.train"),
            "ml.collabfilter.train_jobs": lay.group(r"ml\.collabfilter\.train", "jobs"),
            "ml.collabfilter.train_stages": lay.group(r"ml\.collabfilter\.train", "stages"),
            "ml.collabfilter.predict_s": lay.seconds(r"ml\.collabfilter\.predict"),
            "ml.collabfilter.validate_s": lay.seconds(r"ml\.collabfilter\.validate"),
            "ml.collabfilter.scored_ratio": statistics.median(self.scored) / self.expected.validation_rows,
            "report.results_report_s": lay.seconds(r"report\.results_report"),
        })
        return out


class Registry:
    """Registry queries on a seeded corpus, each built and then drained
    through the noop sink; query order is a seeded shuffle per pass."""

    queries = HEAVY + LIGHT

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.corpus = os.path.join(work_dir, "corpus")
        self.rows: dict[str, int] = {}
        self.pass_idx = 0

    def prepare(self) -> None:
        corpus_gen.generate(self.corpus, self.seed)

    def check(self) -> tuple[int, list[str]]:
        """Exact DuckDB-oracle comparison where the registry has an
        oracle; otherwise record the row count every timed run must repeat."""
        from spark_cassandra_collabfiltering_spark.plans.oracle import duckdb_conn, run_compare
        from spark_cassandra_collabfiltering_spark.plans.queries import QUERIES

        problems = []
        conn = duckdb_conn(self.corpus)
        try:
            for name in self.queries:
                oracle = QUERIES[name].oracle
                try:
                    if oracle is None:
                        self.rows[name] = QUERIES[name].builder(self.spark, self.corpus).count()
                        if self.rows[name] == 0:
                            problems.append(f"{name}: no rows")
                        continue
                    res = run_compare(self.spark, self.corpus, name, conn)
                    if not res.ok:
                        problems.append(f"{name}: {res.detail}")
                    self.rows[name] = conn.sql(f"SELECT count(*) FROM ({oracle})").fetchone()[0]
                except Exception as exc:  # counted as a failed operation
                    problems.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
        finally:
            conn.close()
        return len(self.queries), problems

    def run_pass(self):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from spark_cassandra_collabfiltering_spark.plans.queries import QUERIES

        order = list(self.queries)
        random.Random(f"{self.seed}:{self.pass_idx}").shuffle(order)
        self.pass_idx += 1
        out, seconds = {}, {}
        for name in order:
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"q.{name}.builder"):
                    df = QUERIES[name].builder(self.spark, self.corpus)
                obs = Observation()
                with self.tracer.span(f"q.{name}.action"):
                    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
                out[name] = obs.get["rows"]
            except Exception as exc:  # counted as a failed operation
                out[name] = exc
            seconds[name] = time.perf_counter() - t0
        return out, seconds

    def verify(self, out) -> tuple[int, list[str]]:
        problems = []
        for name, got in out.items():
            if isinstance(got, Exception):
                problems.append(f"{name}: {type(got).__name__}: {str(got)[:200]}")
            else:
                problems += check_rows(name, got, self.rows.get(name))
        return len(out), problems

    def trace(self) -> None:
        pass

    def layers(self, spans, groups, passes, pass_s, cores) -> dict[str, float]:
        lay = _Layers(spans, groups, passes)
        out = lay.workload(pass_s, cores)
        for name in self.queries:
            q = re.escape(f"q.{name}")
            both = rf"{q}\.(?:builder|action)"
            values = {
                "builder_s": lambda: lay.seconds(rf"{q}\.builder"),
                "builder_jobs": lambda: lay.group(rf"{q}\.builder", "jobs"),
                "action_s": lambda: lay.seconds(rf"{q}\.action"),
                "stages": lambda: lay.group(both, "stages"),
                "task_cpu_s": lambda: lay.group(both, "task_cpu_s"),
                "shuffle_write_mb": lambda: lay.group(both, "shuffle_write_bytes", MB),
            }
            for metric in HEAVY_QUERY_METRICS if name in HEAVY else LIGHT_QUERY_METRICS:
                out[f"q.{name}.{metric}"] = values[metric]()
        return out


WORKLOADS = {"cf_pipeline": CfPipeline, "registry": Registry}
