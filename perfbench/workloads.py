"""The workloads. Each is a closed loop with one client: the next op
starts only after the previous one has returned and been checked.

A workload exposes ``generate`` and ``oracle`` (set-up, timed into
``setup_s`` together with ``warmup_ops`` ops), ``prepare(i)`` (untimed
staging before op ``i``), ``op(i)`` (the timed call into the pipeline's public functions),
``check(i, answer)`` (untimed answer check), ``cleanup(i)`` (untimed
output deletion) and ``final_check()`` (untimed, at run end). Spans go
around every call into a layer; see trace.py.

Why each workload exists is recorded in README.md next to the metrics.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sqlite3

from . import gen


def _files(path: str, suffix: str) -> list[str]:
    """Data files under ``path``, skipping hidden and metadata entries."""
    out = []
    for dirpath, dirnames, names in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        out += [os.path.join(dirpath, n) for n in names
                if n.endswith(suffix) and not n.startswith(("_", "."))]
    return sorted(out)


def parquet_rows(paths: list[str]) -> int:
    """Row count from parquet footers, without a Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def close(a: float | None, b: float | None, tol: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=tol)


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class Workload:
    name = ""
    #: input rows one op consumes (for rows_per_s)
    rows_per_op = 0
    warmup_ops = 0

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.inputs: dict = {}
        #: op index → per-layer figures the op's check measured
        self.op_layer: dict[int, dict[str, float]] = {}

    def generate(self) -> None:
        pass

    def oracle(self) -> bool:
        return True

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, answer) -> bool:
        raise NotImplementedError

    def cleanup(self, i: int) -> None:
        pass

    def final_check(self) -> bool:
        return True

    def state_health(self) -> dict[str, float]:
        return {}

    def span(self, name: str, i: int):
        return self.tracer.span(name, i)

    def drain(self) -> int:
        """Release the caches the op's operators pinned; returns how many
        owned entries are still registered afterwards (always 0 unless the
        cache registry is broken)."""
        from skylogix_real_time_weather_data_pipeline_spark.cache import (
            owned_cache_count,
            release_owned_caches,
        )

        release_owned_caches(self.spark)
        return owned_cache_count(self.spark)


# ---------------------------------------------------------------------------
# etl_full — the CLI's batch run (__main__.py) over a fixed raw history
# ---------------------------------------------------------------------------

#: the six analyze outputs of __main__.py: (result key, gold function, first row only)
ANALYZE = [
    ("basic_stats", "basic_stats", True),
    ("city_comparison", "city_comparison", False),
    ("warmest_coldest", "warmest_coldest", False),
    ("temperature_trends", "temperature_trends", False),
    ("condition_distribution", "condition_histogram", False),
    ("condition_mode_by_city", "condition_mode_by_city", False),
]

CITY_SQL = """
SELECT city,
       round(avg(temperature), 2) AS temp_mean,
       round(min(temperature), 2) AS temp_min,
       round(max(temperature), 2) AS temp_max,
       round(avg(humidity), 2)    AS humidity_mean,
       round(avg(wind_speed), 2)  AS wind_mean,
       count(*)                   AS n_obs
FROM read_parquet(?, hive_partitioning = true)
GROUP BY city
"""


def city_comparison_matches(spark_rows: list[dict], duck_rows: list[tuple]) -> bool:
    """The engine's city comparison against a DuckDB group-by: same
    cities and counts, and every rounded measure within one unit of its
    last place (the engine folds exact fixed-point means, DuckDB averages
    doubles, so a value on a rounding boundary may differ by 0.01)."""
    got = {r["city"]: r for r in spark_rows}
    if len(got) != len(spark_rows) or set(got) != {r[0] for r in duck_rows}:
        return False
    fields = ["temp_mean", "temp_min", "temp_max", "humidity_mean", "wind_mean"]
    for city, *vals, n_obs in duck_rows:
        r = got[city]
        if r["n_obs"] != n_obs:
            return False
        if not all(close(r[f], v, 0.0100001) for f, v in zip(fields, vals)):
            return False
    return True


class EtlFull(Workload):
    name = "etl_full"
    traffic = gen.Traffic(cities=50, days=30, obs_per_day=8)
    #: the op settles from about its 5th run in a fresh JVM
    warmup_ops = 4

    def generate(self) -> None:
        self.raw = os.path.join(self.work, "raw")
        docs, self.valid = gen.write_raw_history(self.raw, self.seed, self.traffic)
        self.rows_per_op = docs
        self.inputs = {"docs": docs, "valid_docs": self.valid,
                       "raw_bytes": tree_bytes(self.raw)[0], **vars(self.traffic)}

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"op{i}")

    def op(self, i: int):
        from pyspark.sql import SparkSession

        from skylogix_real_time_weather_data_pipeline_spark.operators import gold
        from skylogix_real_time_weather_data_pipeline_spark.operators.silver import (
            silver_pipeline,
        )
        from skylogix_real_time_weather_data_pipeline_spark.sinks import (
            write_csv_report,
            write_json_records,
            write_parquet,
            write_sqlite,
        )
        from skylogix_real_time_weather_data_pipeline_spark.sources import read_raw_json

        spark: SparkSession = self.spark
        out = self._out(i)
        silver_dir = f"{out}/silver"
        with self.span("op", i):
            with self.span("sources.read_raw_json", i):
                raw = read_raw_json(spark, self.raw)
            with self.span("silver.pipeline", i):
                silver = silver_pipeline(raw)
            with self.span("sinks.write_parquet", i):
                write_parquet(silver, silver_dir, partition_by=["date"])
            with self.span("sources.read_parquet", i):
                silver = spark.read.parquet(silver_dir)
            with self.span("silver.count", i):
                n_records = silver.count()
            results = {}
            for key, func, first in ANALYZE:
                with self.span("gold.build", i):
                    df = getattr(gold, func)(silver)
                    if first:
                        df = df.limit(1)  # what DataFrame.first() collects
                if self.tracer.enabled:
                    # planning apart from execution; collect() reuses this plan
                    with self.span("gold.plan", i):
                        df._jdf.queryExecution().executedPlan()
                with self.span("gold.exec", i):
                    rows = [r.asDict() for r in df.collect()]
                results[key] = rows[0] if first else rows
            with self.span("sinks.write_analysis_json", i):
                os.makedirs(f"{out}/results", exist_ok=True)
                with open(f"{out}/results/analysis_results.json", "w") as f:
                    json.dump(results, f, indent=2, default=str)
            with self.span("sinks.write_csv_report", i):
                write_csv_report(silver, f"{out}/report_csv")
            with self.span("sinks.write_json_records", i):
                write_json_records(silver, f"{out}/report_json")
            with self.span("sinks.write_sqlite", i):
                n_sql = write_sqlite(silver, f"{out}/weather.db")
        return n_records, results, n_sql

    def check(self, i: int, answer) -> bool:
        import duckdb

        n_records, results, n_sql = answer
        out = self._out(i)
        silver_files = _files(f"{out}/silver", ".parquet")
        csv_rows = 0
        for p in _files(f"{out}/report_csv", ".csv"):
            with open(p, "rb") as f:
                csv_rows += max(0, sum(1 for _ in f) - 1)  # minus the header
        json_rows = 0
        for p in _files(f"{out}/report_json", ".json"):
            with open(p, "rb") as f:
                json_rows += sum(1 for _ in f)
        con = sqlite3.connect(f"{out}/weather.db")
        try:
            sqlite_rows = con.execute("SELECT COUNT(*) FROM weather_data").fetchone()[0]
        finally:
            con.close()
        counts = {n_records, parquet_rows(silver_files), csv_rows, json_rows, n_sql, sqlite_rows}
        duck = duckdb.connect()
        try:
            city = duck.execute(CITY_SQL, [silver_files]).fetchall()
        finally:
            duck.close()
        size, files = tree_bytes(out)
        self.op_layer[i] = {"sinks.output_bytes": size, "sinks.files": files}
        return counts == {self.valid} and city_comparison_matches(
            results["city_comparison"], city)

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._out(i), ignore_errors=True)


# ---------------------------------------------------------------------------
# ingest_microbatch — cron-equivalent availableNow ingest feeding a view
# ---------------------------------------------------------------------------

VIEW_SQL = """
WITH flat AS (
  SELECT city_name AS city,
         COALESCE(dt, CAST(epoch(CAST(extraction_timestamp AS TIMESTAMP)) AS BIGINT)) AS epoch_s,
         main.temp AS t
  FROM read_json(?, format = 'newline_delimited', columns = {
      city_name: 'VARCHAR', country_code: 'VARCHAR', extraction_timestamp: 'VARCHAR',
      dt: 'BIGINT', main: 'STRUCT(temp DOUBLE)', wind: 'STRUCT(speed DOUBLE)',
      weather: 'STRUCT(main VARCHAR)[]'})
  WHERE main IS NOT NULL AND wind IS NOT NULL AND weather IS NOT NULL
    AND len(weather) > 0 AND city_name IS NOT NULL AND country_code IS NOT NULL
)
SELECT CAST(DATE '1970-01-01' + CAST(floor(epoch_s / 86400) AS INTEGER) AS VARCHAR) AS day,
       city,
       count(*) AS n,
       sum(CASE WHEN t IS NULL OR t < ? OR t > ? THEN ? ELSE t END) AS sum_value
FROM flat GROUP BY ALL
"""


def view_matches(view_rows: list[tuple], duck_rows: list[tuple]) -> bool:
    """The maintained daily-counts view against a DuckDB rebuild over every
    landed raw batch: same (day, city) groups, exact counts, sums equal up to
    floating-point summation order."""
    got = {(str(d), c): (n, s) for d, c, n, s in view_rows}
    want = {(d, c): (n, s) for d, c, n, s in duck_rows}
    if len(got) != len(view_rows) or got.keys() != want.keys():
        return False
    return all(got[k][0] == n and math.isclose(got[k][1], s, rel_tol=1e-9, abs_tol=1e-6)
               for k, (n, s) in want.items())


class IngestMicrobatch(Workload):
    name = "ingest_microbatch"
    history = gen.Traffic(cities=24, days=10, obs_per_day=8)
    traffic = gen.Traffic(cities=24, days=0, obs_per_day=8, batch_size=400)
    #: batch ids 0–10; the view compacts after id 15, the 5th timed cycle
    warmup_ops = 11
    #: cycles between full (untimed) view-vs-rebuild checks
    check_every = 25

    def generate(self) -> None:
        self.hist_dir = os.path.join(self.work, "history")
        self.staging = os.path.join(self.work, "staging")
        self.landing = os.path.join(self.work, "landing")
        self.silver_dir = os.path.join(self.work, "silver")
        self.ckpt = os.path.join(self.work, "ckpt")
        self.state = os.path.join(self.work, "view")
        for d in (self.staging, self.landing):
            os.makedirs(d)
        docs, _ = gen.write_raw_history(self.hist_dir, self.seed, self.history)
        self.stream = gen.raw_doc_stream(self.seed, self.traffic, first_day=self.history.days)
        self.rows_per_op = self.traffic.batch_size
        self.landed_valid = 0
        self.batch_valid: dict[int, int] = {}
        self.seen: set[str] = set()
        self.view_rows: list[tuple] = []
        self.compactions = 0
        self.inputs = {"history_docs": docs, **vars(self.traffic)}

    def oracle(self) -> bool:
        """The cleaning bounds the stream applies, from a batch pass over
        the bronze history (taken once, as a deployment would)."""
        from skylogix_real_time_weather_data_pipeline_spark.operators.silver import (
            filter_required_keys,
            flatten_raw,
        )
        from skylogix_real_time_weather_data_pipeline_spark.sources import read_raw_json
        from skylogix_real_time_weather_data_pipeline_spark.streaming.pipeline import (
            compute_stream_bounds,
        )

        hist = flatten_raw(filter_required_keys(read_raw_json(self.spark, self.hist_dir)))
        self.bounds, self.medians = compute_stream_bounds(hist)
        return "temperature" in self.bounds and "temperature" in self.medians

    def _batch_name(self, i: int) -> str:
        return f"batch_{i + self.warmup_ops:06d}.jsonl"

    def prepare(self, i: int) -> None:
        docs = [next(self.stream) for _ in range(self.traffic.batch_size)]
        data, valid = gen.dump_lines(docs)
        self.batch_valid[i] = valid
        with open(os.path.join(self.staging, self._batch_name(i)), "wb") as f:
            f.write(data)

    def op(self, i: int):
        from pyspark.sql import functions as F

        from skylogix_real_time_weather_data_pipeline_spark.streaming import matview
        from skylogix_real_time_weather_data_pipeline_spark.streaming.pipeline import (
            run_bronze_to_silver_available_now,
        )

        name = self._batch_name(i)
        with self.span("op", i):
            with self.span("sources.land", i):
                os.rename(os.path.join(self.staging, name), os.path.join(self.landing, name))
            with self.span("stream.query", i) as sid:
                q = run_bronze_to_silver_available_now(
                    self.spark, self.landing, self.silver_dir, self.ckpt,
                    self.bounds, self.medians)
                finished = q.awaitTermination(120)
            self.tracer.alias(str(q.runId), sid)
            if not finished:
                q.stop()
                raise TimeoutError("availableNow query did not finish in 120 s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            progress = q.lastProgress
            with self.span("sources.read_silver_batch", i):
                new = [p for p in _files(self.silver_dir, ".parquet") if p not in self.seen]
                batch = self.spark.read.parquet(*new).select(
                    F.col("timestamp").alias("ts"), F.col("city").alias("event_type"),
                    F.col("temperature").alias("value"))
            with self.span("matview.apply", i):
                matview.apply_daily_counts_delta(batch, i + self.warmup_ops, self.state)
            with self.span("matview.read", i):
                rows = matview.read_daily_counts_retractable_segments(
                    self.spark, self.state).collect()
        return new, progress, [tuple(r) for r in rows]

    def check(self, i: int, answer) -> bool:
        new, progress, rows = answer
        self.seen.update(new)
        self.landed_valid += self.batch_valid.pop(i)
        self.view_rows = rows
        segs = os.listdir(os.path.join(self.state, "segments"))
        if i >= 0 and len(segs) == 1 and segs[0].startswith("compact_"):
            self.compactions += 1
        self.op_layer[i] = dict((progress or {}).get("durationMs", {}))
        ok = (progress is not None
              and progress["numInputRows"] == self.traffic.batch_size
              and parquet_rows(_files(self.silver_dir, ".parquet")) == self.landed_valid)
        if i % self.check_every == 0:
            ok = self.final_check() and ok
        return ok

    def final_check(self) -> bool:
        import duckdb

        lo, hi = self.bounds["temperature"]
        duck = duckdb.connect()
        try:
            want = duck.execute(VIEW_SQL, [f"{self.landing}/*.jsonl", lo, hi,
                                           self.medians["temperature"]]).fetchall()
        finally:
            duck.close()
        return view_matches(self.view_rows, want)

    def state_health(self) -> dict[str, float]:
        segs = os.listdir(os.path.join(self.state, "segments"))
        return {"matview.segments": len([s for s in segs if not s.startswith(".")]),
                "matview.compactions": self.compactions,
                "matview.state_bytes": tree_bytes(self.state)[0]}


WORKLOADS = {w.name: w for w in (EtlFull, IngestMicrobatch)}
