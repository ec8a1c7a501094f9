"""``etl_nightly``: one seeded day of IMDb dumps through the whole DAG.

One op = ingest (md5 change detection) -> TSV read -> ETL with
dynamic-overwrite lake writes -> catalog -> expectation gate ->
SQL models + model tests -> run retention. Each op ingests the next
day's slice (a seeded share of rows changed), so no op can be served
by state a previous op left behind.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

from perfbench.common import dir_stats, load_script, median
from perfbench.imdbgen import Dump

N_TITLES = 10_000
KEEP_RUNS = 2  # retention keeps the newest K run dates
LAKE_TABLES = (
    "analytics_movie_facts", "analytics_episode_facts",
    "series_season_summary", "analytics_quality",
)

MOVIE_FACT_ROWS_SQL = r"""
SELECT COALESCE(SUM(len(string_split(genres, ','))), 0)
FROM read_csv('{path}', delim='\t', header=true, all_varchar=true,
              nullstr='\N', quote='', escape='')
WHERE titleType = 'movie'
  AND startYear IS NOT NULL AND length(trim(startYear)) > 0
  AND genres IS NOT NULL AND length(trim(genres)) > 0
  AND primaryTitle IS NOT NULL AND length(trim(primaryTitle)) > 0
"""


class EtlNightly:
    uses_artifacts = False

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.raw_root = os.path.join(work, "raw")
        self.lake = os.path.join(work, "lake")
        example = load_script("examples/run_imdb_pipeline.py")
        self.ge_validate, self.dbt_test = example.ge_validate, example.dbt_test
        self.day = 0

    def prepare(self) -> None:
        self.dump = Dump(self.seed, N_TITLES)

    def warm(self) -> None:
        """No warm-up op: a nightly job starts in a fresh session, so the
        JVM warm-up is part of what each nightly run pays. The raw zone
        gets the previous KEEP_RUNS days, so the first night's retention
        has slices to expire."""
        from aws_imdb_data_pipeline_spark.lifecycle.ingest import ingest_datasets

        for _ in range(KEEP_RUNS):
            run_date, payload = self._next_day()
            ingest_datasets(list(payload), self._fetcher(run_date, payload),
                            self.raw_root, run_date)

    def _next_day(self) -> tuple[str, dict[str, bytes]]:
        d = self.day
        self.day += 1
        payload = {n: Dump.encode(df) for n, df in self.dump.day(d).items()}
        return (date(2024, 1, 1) + timedelta(days=d)).strftime("%Y%m%d"), payload

    @staticmethod
    def _fetcher(run_date: str, payload: dict[str, bytes]):
        def fetch(name: str):
            data = payload[name]
            meta = {"etag": f"{name}-{run_date}", "content_length": len(data)}
            return meta, lambda: iter([data])
        return fetch

    def next_op(self):
        """Encode the next day's dump (benchmark work, untimed) and
        return the op that ingests and processes it."""
        run_date, payload = self._next_day()
        return "nightly", lambda: self._nightly(run_date, payload)

    def _nightly(self, run_date: str, payload: dict[str, bytes]) -> None:
        from pyspark.sql import functions as F

        from aws_imdb_data_pipeline_spark.lifecycle import register_lake_table
        from aws_imdb_data_pipeline_spark.lifecycle.ingest import (
            ingest_datasets, latest_slice,
        )
        from aws_imdb_data_pipeline_spark.lifecycle.retention import expire_runs
        from aws_imdb_data_pipeline_spark.pipelines import ImdbRaw, run_etl
        from aws_imdb_data_pipeline_spark.pipelines.imdb import RAW_TABLES
        from aws_imdb_data_pipeline_spark.pipelines.sql_models import run_models
        from aws_imdb_data_pipeline_spark.sources.tsv import read_imdb_tsv

        span, spark = self.tr.span, self.spark
        with span("lifecycle.ingest_datasets"):
            res = ingest_datasets(list(RAW_TABLES), self._fetcher(run_date, payload),
                                  self.raw_root, run_date)
        if set(res.statuses.values()) != {"downloaded"}:
            raise RuntimeError(f"ingest skipped changed tables: {res.statuses}")
        with span("sources.read_imdb_tsv"):
            raw = ImdbRaw(**{
                n: read_imdb_tsv(spark, latest_slice(self.raw_root, n))
                for n in RAW_TABLES
            })
        with span("pipelines.run_etl"):
            outputs = run_etl(raw, run_date, out_root=self.lake)
        with span("lifecycle.register_lake_table"):
            tables = {
                n: register_lake_table(spark, n, os.path.join(self.lake, n))
                for n in LAKE_TABLES[:3]
            }
        today = F.col("run_date") == int(run_date)
        with span("quality.validate", gate="ge_validate"):
            self.ge_validate(
                tables["analytics_movie_facts"].filter(today),
                tables["analytics_episode_facts"].filter(today),
            )
        with span("pipelines.run_models"):
            models = run_models(spark)
            for df in models.values():
                df.count()
        with span("quality.validate", gate="dbt_test"):
            self.dbt_test(models)
        with span("lifecycle.expire_runs"):
            for n in LAKE_TABLES[:3]:
                expire_runs(os.path.join(self.lake, n), KEEP_RUNS)
            qroot = os.path.join(self.lake, "analytics_quality")
            for ds in os.listdir(qroot):
                if ds.startswith("dataset="):
                    expire_runs(os.path.join(qroot, ds), KEEP_RUNS)
            for n in RAW_TABLES:
                expire_runs(os.path.join(self.raw_root, n), KEEP_RUNS)
        for df in outputs.values():
            df.unpersist()
        self.last = (run_date, sum(len(b) for b in payload.values()))

    def at_boundary(self) -> bool:
        return True

    def check(self, ops: list[dict]) -> None:
        """Outputs are checked per op in ``after_op``."""

    def report(self, ops, p50, tail):
        ratios = [op["lake_ratio"] for op in ops if "lake_ratio" in op]
        return [
            ("etl_run_s", p50.get("nightly", float("nan")), "s"),
            ("lake_bytes_per_raw_byte", median(ratios) if ratios else float("nan"), "ratio"),
        ]

    def layer_metrics(self, sp, ops) -> dict:
        return {}

    def after_op(self, op: dict) -> None:
        """Untimed per-op bookkeeping: lake bytes and files written for
        this run date, and the movie-fact row count checked against
        DuckDB over the same raw TSV (before retention can expire it)."""
        import duckdb

        if not op["ok"]:
            return
        run_date, raw_bytes = self.last
        lake_bytes = files = parts = 0
        for n in LAKE_TABLES:
            for dirpath, dirs, _names in os.walk(os.path.join(self.lake, n)):
                if dirs or f"run_date={run_date}" not in dirpath:
                    continue
                b, f = dir_stats(dirpath)
                lake_bytes, files, parts = lake_bytes + b, files + f, parts + 1
        op["lake_ratio"] = lake_bytes / raw_bytes
        op["files"], op["partitions"] = files, parts
        tsv = os.path.join(self.raw_root, "title_basics",
                           f"run_date={run_date}", "title_basics.tsv.gz")
        want = duckdb.sql(MOVIE_FACT_ROWS_SQL.format(path=tsv)).fetchone()[0]
        got = self.spark.read.parquet(os.path.join(
            self.lake, "analytics_movie_facts", f"run_date={run_date}")).count()
        if got != want:
            op["ok"] = False
            op["problems"].append(
                f"{run_date}: movie facts {got} rows, DuckDB over raw TSV {want}")
