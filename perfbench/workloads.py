"""The three benchmark workloads, driven through the library's public calls.

Each workload stages its inputs under the run's own directory, performs a
fixed number of timed operations, checks the outputs outside the timed
window, and in a traced run also reports per-layer numbers. Operation
counts are fixed by :func:`op_counts` from the nominal window length alone,
never from how fast the host runs, so two commits always do identical work
and sit at the same point of the JVM warm-up curve.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

import datagen
from tracing import NO_TRACE, Tracer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from user_behavior_spark_pipeline_spark import analytics, catalog
from user_behavior_spark_pipeline_spark.materialize import (
    release_keyed,
    release_shared,
)
from user_behavior_spark_pipeline_spark.sources.generator import kafka_records
from user_behavior_spark_pipeline_spark.sources.tables import load_table
from user_behavior_spark_pipeline_spark.streaming.jobs import (
    file_stream_source,
    write_validated_stream,
)

# ---- sizing (see perfbench/NOTES.md for the probes behind these numbers) ----

# stream_ingest: every backlog file holds ROWS_PER_FILE records and every
# trigger takes FILES_PER_TRIGGER files, so all triggers do equal work
ROWS_PER_FILE = 1250
FILES_PER_TRIGGER = 4
STREAM_WARMUP_TRIGGERS = 20
STREAM_TRIGGERS_PER_S = 2.8
# seeded share (per mille) of records whose payload is malformed or invalid
BAD_PER_MILLE = 20

# query_landed: the landed table is a drained backlog of LANDED_FILES files
LANDED_FILES = 64
LANDED_FILES_PER_TRIGGER = 16
LANDED_TABLE = "perfbench_landed"
REFRESH_WARMUP = 10
REFRESHES_PER_S = 4 / 3

# catalog_joins: star tables at CATALOG_SCALE, the mix run in fixed rounds
CATALOG_SCALE = 0.02
MIX = (
    "x_join_tpch_q2",
    "x_join_tpch_q5",
    "x_join_tpch_q9",
    "x_join_tpch_q11",
    "x_join_tpch_q18",
    "x_join_tpch_q21",
    "x_window_topk",
    "x_event_session",
)
MIX_WARMUP_ROUNDS = 2
MIX_ROUNDS_PER_S = 1 / 8


@dataclass(frozen=True)
class OpCounts:
    warmup: int  # operations discarded before the steady window
    steady: int  # operations in the steady window

    @property
    def total(self) -> int:
        return self.warmup + self.steady


def op_counts(workload: str, seconds: float) -> OpCounts:
    """Fixed operation counts for a nominal window of ``seconds``."""
    if workload == "stream_ingest":
        return OpCounts(
            STREAM_WARMUP_TRIGGERS, max(10, round(STREAM_TRIGGERS_PER_S * seconds))
        )
    if workload == "query_landed":
        return OpCounts(REFRESH_WARMUP, max(2, round(REFRESHES_PER_S * seconds)))
    if workload == "catalog_joins":
        rounds = max(1, math.ceil(MIX_ROUNDS_PER_S * seconds))
        return OpCounts(MIX_WARMUP_ROUNDS * len(MIX), rounds * len(MIX))
    raise KeyError(workload)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def _corrupt(value, offset, seed: int):
    """Replace a seeded share of payloads with malformed or invalid ones:
    truncated JSON, non-JSON text, an empty string, an unknown event type,
    a missing event type and an old-shape event."""
    share = F.pmod(F.xxhash64(offset, F.lit(seed)), F.lit(1000))
    kind = F.pmod(F.xxhash64(offset, F.lit(seed + 1)), F.lit(6))
    bad = (
        F.when(kind == 0, F.substring(value, 1, 25))
        .when(kind == 1, F.lit("not a json event"))
        .when(kind == 2, F.lit(""))
        .when(
            kind == 3,
            F.regexp_replace(value, '"event_type":"[a-z_]+"', '"event_type":"cheat_event"'),
        )
        .when(kind == 4, F.regexp_replace(value, '"event_type":"[a-z_]+",', ""))
        .otherwise(F.lit('{"event_type":"purchase_sword","sword_type":"iron"}'))
    )
    return F.when(share < BAD_PER_MILLE, bad).otherwise(value)


def stage_backlog(
    spark: SparkSession, root: str, seed: int, files: int
) -> tuple[str, int]:
    """Write ``files`` Kafka-double JSON files of ROWS_PER_FILE records each
    under ``root``; returns (backlog dir, record count). The records come
    from the library's ``kafka_records`` over seeded events; the files are
    written in offset order, one after another, so that a trigger taking
    the oldest files takes consecutive offsets."""
    rows = files * ROWS_PER_FILE
    events_dir = os.path.join(root, "events")
    datagen.write_tables(events_dir, seed, rows / 1_000_000, star=False)
    records = kafka_records(load_table(spark, events_dir, "events"))
    records = (
        records.withColumn("value", _corrupt(F.col("value"), F.col("offset"), seed))
        .toPandas()
        .sort_values("offset", ignore_index=True)
    )
    backlog = os.path.join(root, "backlog")
    os.makedirs(backlog)
    for k in range(files):
        records.iloc[k * ROWS_PER_FILE:(k + 1) * ROWS_PER_FILE].to_json(
            os.path.join(backlog, f"part-{k:05d}.json"),
            orient="records",
            lines=True,
            date_format="iso",
            date_unit="us",
        )
    return backlog, rows


@dataclass
class Drain:
    progress: list[dict]
    out_dir: str
    start_s: float
    wall_s: float


def drain(
    spark: SparkSession, backlog: str, root: str, tag: str, files_per_trigger: int,
    tracer: Tracer = NO_TRACE,
) -> Drain:
    """Drain ``backlog`` through the validated-stream sink to completion."""
    out_dir = os.path.join(root, f"landed-{tag}")
    checkpoint = os.path.join(root, f"checkpoint-{tag}")
    t0 = time.perf_counter()
    with tracer.span("streaming.start", op=tag):
        source = file_stream_source(spark, backlog, files_per_trigger)
        query = write_validated_stream(source, out_dir, checkpoint)
    t1 = time.perf_counter()
    with tracer.span("streaming.await", op=tag):
        query.awaitTermination()
    wall = time.perf_counter() - t1
    if query.exception() is not None:
        raise RuntimeError(f"stream {tag} died: {query.exception()}")
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    return Drain(progress, out_dir, t1 - t0, wall)


def landed_rows_per_batch(out_dir: str) -> dict[int, int]:
    """Rows each micro-batch committed, from the sink's metadata log and the
    parquet footers of the files it lists. A compacted log entry lists every
    file up to its batch, so only the files not seen before are its own."""
    import pyarrow.parquet as pq

    logs = {}
    for log in glob.glob(os.path.join(out_dir, "_spark_metadata", "*")):
        name = os.path.basename(log).removesuffix(".compact")
        if name.isdigit():
            logs[int(name)] = log
    rows: dict[int, int] = {}
    seen: set[str] = set()
    for batch in sorted(logs):
        with open(logs[batch]) as f:
            paths = {json.loads(line)["path"] for line in f.read().splitlines()[1:]}
        rows[batch] = sum(
            pq.read_metadata(unquote(urlparse(p).path)).num_rows for p in paths - seen
        )
        seen |= paths
    return rows


def parquet_files(out_dir: str) -> list[str]:
    return glob.glob(os.path.join(out_dir, "*", "*.parquet"))


@dataclass
class Result:
    """What a workload's run produced: per-op latencies of the steady window
    and the unit of work behind the throughput figure."""

    latencies: list[float] = field(default_factory=list)
    # finer latencies the tail percentile is drawn from, when an operation
    # is made of several queries (a refresh)
    tail_latencies: list[float] = field(default_factory=list)
    work: float = 0.0  # events (stream) or operations (queries) in the window
    attempted: int = 0
    failed: int = 0
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    traced_latencies: list[float] = field(default_factory=list)


class Workload:
    """One workload: ``setup`` stages inputs under ``root``, ``run`` performs
    the fixed operation counts, ``check`` is the correctness gate and
    ``teardown`` drops what the run registered in the session."""

    name: str

    def __init__(self, spark, root, seed, counts: OpCounts, tracer=NO_TRACE):
        self.spark, self.root, self.seed = spark, root, seed
        self.counts, self.tracer = counts, tracer

    def teardown(self) -> None:
        pass


def _timed(res: Result, op) -> float | None:
    """Run one operation; a failure is counted and reported, not raised."""
    res.attempted += 1
    try:
        return op()
    except Exception:
        traceback.print_exc()
        res.failed += 1
        return None


class StreamIngest(Workload):
    name = "stream_ingest"

    def setup(self) -> None:
        self.files = self.counts.total * FILES_PER_TRIGGER
        self.backlog, self.rows = stage_backlog(
            self.spark, self.root, self.seed, self.files
        )

    def run(self) -> Result:
        spark = self.spark
        spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", str(self.counts.total + 10)
        )
        d = drain(spark, self.backlog, self.root, "main", FILES_PER_TRIGGER, self.tracer)
        self.drained = d
        res = Result(attempted=len(d.progress))
        if len(d.progress) != self.counts.total:
            raise RuntimeError(
                f"expected {self.counts.total} triggers, got {len(d.progress)}"
            )
        steady = d.progress[self.counts.warmup:]
        res.latencies = [p["durationMs"]["triggerExecution"] / 1000 for p in steady]
        landed = landed_rows_per_batch(d.out_dir)
        res.work = sum(landed[p["batchId"]] for p in steady)
        self.landed_total = sum(landed.values())
        if self.tracer.enabled:
            res.layers.update(stream_layers(d, self.counts.warmup))
            read = sum(p["numInputRows"] for p in d.progress)
            files = parquet_files(d.out_dir)
            res.layers["ingest.valid_ratio"] = (self.landed_total / read, "ratio")
            res.layers["sinks.files_written"] = (len(files), "count")
            res.layers["sinks.bytes_per_event"] = (
                sum(os.path.getsize(f) for f in files) / self.landed_total,
                "bytes/event",
            )
        return res

    def check(self) -> None:
        from checks import check_stream

        d = self.drained
        read = sum(p["numInputRows"] for p in d.progress)
        if read != self.rows:
            raise AssertionError(f"stream read {read} of {self.rows} records")
        check_stream(self.spark, self.backlog, d.out_dir, self.landed_total)


def stream_layers(d: Drain, warmup: int) -> dict:
    steady = d.progress[warmup:] or d.progress
    layers = {"streaming.start_s": (d.start_s, "s")}
    for phase in ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset"):
        layers[f"streaming.trigger.{phase}_s"] = (
            statistics.median(p["durationMs"].get(phase, 0) for p in steady) / 1000,
            "s",
        )
    layers["streaming.triggers"] = (len(d.progress), "count")
    layers["streaming.rows_per_trigger"] = (
        statistics.median(p["numInputRows"] for p in steady),
        "count",
    )
    return layers


# ---------------------------------------------------------------------------
# query_landed
# ---------------------------------------------------------------------------


# the five reference queries of one refresh
ANALYTICS_CALLS = {
    "count_events": analytics.count_events,
    "events_by": lambda df: analytics.events_by(df, "direction"),
    "events_by_host_and_type": analytics.events_by_host_and_type,
    "distinct_host_type_detail": analytics.distinct_host_type_detail,
    "first_events": lambda df: analytics.first_events(df, "timestamp", 10),
}


class QueryLanded(Workload):
    name = "query_landed"

    def setup(self) -> None:
        backlog, _ = stage_backlog(self.spark, self.root, self.seed, LANDED_FILES)
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        self.drained = drain(
            self.spark, backlog, self.root, "land", LANDED_FILES_PER_TRIGGER, self.tracer
        )
        self.out_dir = self.drained.out_dir
        with self.tracer.span("catalog.register"):
            catalog.create_external_parquet_table(
                self.spark, LANDED_TABLE, self.out_dir, repair=True
            )

    def refresh(self, i: int, tracer: Tracer) -> tuple[float, list[float]]:
        """One refresh; returns its latency and that of each query in it."""
        spark = self.spark
        group = f"refresh-{i}"
        queries = []
        t0 = time.perf_counter()
        with tracer.job_group(spark, group):
            with tracer.span("sources.tables.read", op=group):
                df = spark.table(LANDED_TABLE)
            for fn, call in ANALYTICS_CALLS.items():
                q0 = time.perf_counter()
                with tracer.span(f"analytics.{fn}.build", op=group):
                    out = call(df)
                with tracer.span(f"analytics.{fn}.exec", op=group):
                    noop(out)
                queries.append(time.perf_counter() - q0)
        return time.perf_counter() - t0, queries

    def run(self) -> Result:
        res = Result()
        # the first warm-up refresh collects its results for the check
        df = self.spark.table(LANDED_TABLE)
        res.attempted += 1
        self.results = {fn: call(df).toPandas() for fn, call in ANALYTICS_CALLS.items()}
        for i in range(1, self.counts.warmup):
            _timed(res, lambda: self.refresh(i, NO_TRACE))
        totals = []
        for j in range(self.counts.steady):
            i = self.counts.warmup + j
            # traced, untraced, untraced, traced, ...: a refresh still getting
            # faster with warm-up then biases neither side
            traced = self.tracer.enabled and j % 4 in (0, 3)
            tracer = self.tracer if traced else NO_TRACE
            timed = _timed(res, lambda: self.refresh(i, tracer))
            if timed is None:
                continue
            if traced:
                res.traced_latencies.append(timed[0])
                totals.append(self.tracer.stage_totals(self.spark, f"refresh-{i}"))
            else:
                res.latencies.append(timed[0])
                res.tail_latencies.extend(timed[1])
        res.work = len(res.latencies)
        if self.tracer.enabled:
            res.layers.update(landed_layers(self.tracer, totals))
        return res

    def check(self) -> None:
        from checks import check_landed

        check_landed(self.out_dir, self.results)

    def teardown(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {LANDED_TABLE}")


def landed_layers(tracer: Tracer, totals) -> dict:
    med = statistics.median
    layers = {
        "catalog.register_s": (med(tracer.durations("catalog.register")), "s"),
        "sources.tables.read_s": (med(tracer.durations("sources.tables.read")), "s"),
    }
    for fn in ANALYTICS_CALLS:
        for part in ("build", "exec"):
            layers[f"analytics.{fn}.{part}_s"] = (
                med(tracer.durations(f"analytics.{fn}.{part}")),
                "s",
            )
    layers["spark.jobs_per_refresh"] = (med(t.jobs for t in totals), "count")
    layers["spark.tasks_per_refresh"] = (med(t.tasks for t in totals), "count")
    layers["spark.shuffle_bytes_per_refresh"] = (
        med(t.shuffle_read_bytes for t in totals),
        "bytes",
    )
    return layers


# ---------------------------------------------------------------------------
# catalog_joins
# ---------------------------------------------------------------------------


class CatalogJoins(Workload):
    name = "catalog_joins"

    def setup(self) -> None:
        self.data = os.path.join(self.root, "star")
        datagen.write_tables(self.data, self.seed, CATALOG_SCALE)

    def query(self, i: int, name: str, tracer: Tracer) -> float:
        from user_behavior_spark_pipeline_spark.registry import QUERIES

        spark = self.spark
        t0 = time.perf_counter()
        with tracer.job_group(spark, f"build-{i}"):
            with tracer.span(f"registry.{name}.build", op=str(i)):
                df = QUERIES[name](spark, self.data)
        with tracer.job_group(spark, f"exec-{i}"):
            with tracer.span(f"registry.{name}.exec", op=str(i)):
                noop(df)
        with tracer.span("materialize.release", op=str(i)):
            release_shared()
            release_keyed()
        return time.perf_counter() - t0

    def run(self) -> Result:
        from user_behavior_spark_pipeline_spark.registry import QUERIES

        res = Result()
        # the first warm-up round collects its results for the check
        self.results = {}
        for name in MIX:
            res.attempted += 1
            self.results[name] = QUERIES[name](self.spark, self.data).toPandas()
            release_shared()
            release_keyed()
        for i in range(len(MIX), self.counts.warmup):
            _timed(res, lambda: self.query(i, MIX[i % len(MIX)], NO_TRACE))
        per_query: dict[str, list] = {name: [] for name in MIX}
        for j in range(self.counts.steady):
            i = self.counts.warmup + j
            name = MIX[i % len(MIX)]
            # whole rounds alternate, so the first steady round traces every query
            traced = self.tracer.enabled and (j // len(MIX)) % 2 == 0
            tracer = self.tracer if traced else NO_TRACE
            dt = _timed(res, lambda: self.query(i, name, tracer))
            if dt is None:
                continue
            (res.traced_latencies if traced else res.latencies).append(dt)
            if traced:
                per_query[name].append(
                    (
                        self.tracer.stage_totals(self.spark, f"build-{i}"),
                        self.tracer.stage_totals(self.spark, f"exec-{i}"),
                    )
                )
        res.work = len(res.latencies)
        if self.tracer.enabled:
            res.layers.update(catalog_layers(self.tracer, per_query))
        return res

    def check(self) -> None:
        from checks import check_catalog

        check_catalog(self.data, self.results)


def catalog_layers(tracer: Tracer, per_query: dict) -> dict:
    med = statistics.median
    layers = {}
    for name, samples in per_query.items():
        if not samples:
            continue
        for part in ("build", "exec"):
            layers[f"registry.{name}.{part}_s"] = (
                med(tracer.durations(f"registry.{name}.{part}")),
                "s",
            )
        layers[f"materialize.{name}.blocking_jobs"] = (
            med(b.jobs for b, _ in samples),
            "count",
        )
        layers[f"spark.{name}.tasks"] = (med(b.tasks + e.tasks for b, e in samples), "count")
        layers[f"spark.{name}.shuffle_read_bytes"] = (
            med(b.shuffle_read_bytes + e.shuffle_read_bytes for b, e in samples),
            "bytes",
        )
        layers[f"spark.{name}.spill_bytes"] = (
            med(b.spill_bytes + e.spill_bytes for b, e in samples),
            "bytes",
        )
    layers["materialize.release_s"] = (med(tracer.durations("materialize.release")), "s")
    return layers


WORKLOADS = {w.name: w for w in (StreamIngest, QueryLanded, CatalogJoins)}
