"""Streaming source: replay the events table as a chronological file stream.

Flink equivalent: FileSource with continuous monitoring
(flink-connectors/flink-connector-files/.../FileSource.java) feeding event-time
operators. Here the driver's events.parquet is split once per (sf_dir,
n_files) into range-partitioned files; readStream + maxFilesPerTrigger=1
yields one micro-batch per time slice, in order (FileStreamSource processes
by modification time then path; ranges are written in ascending part order).

Delivery-order robustness: mtime ordering is best-effort — filesystem or
listing variance in a foreign environment can reorder micro-batches (the
round-3 driver red on the emission-trace queries). Every slice therefore also
carries a literal ``stage`` column (its chronological slice index) so
order-sensitive operators can derive their epoch from the DATA instead of
the trigger index; see ``run_changelog_count`` and the changelog joins.

Staging is crash-safe: the ``_STAGED`` marker is written only after the
mtime ordering is applied, so an interrupted staging run is re-done from
scratch instead of leaving a permanently scrambled cache.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_1_12_0_src_spark.catalog import table

# v5: staged-cache format version — bumping forces re-staging so files always
# carry the current format (v4 added the per-slice ``stage`` column and the
# write-marker-last crash-safety protocol; v5 switches the week staging to
# calendar-free epoch-day filters, so caches staged under a non-UTC session
# TZ — where string-literal timestamp casts shift the week boundaries — are
# invalidated). Stale caches written under different parquet-timestamp
# configs would otherwise surface TIMESTAMP_NTZ columns that withWatermark
# rejects, or lack the stage column.
_CACHE_ROOT = os.path.join(tempfile.gettempdir(), "flink_1_12_0_src_spark_streams_v5")

# Our own completion marker, written AFTER mtime ordering (Spark's _SUCCESS
# lands before it, mid-staging). Underscore prefix keeps it out of file
# listings.
_MARKER = "_STAGED"


def _split_dir(sf_dir: str, n_files: int) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(_CACHE_ROOT, f"{tag}_events_{n_files}")


def _stage_scrambled(base_dir: str, order: tuple) -> str:
    """Copy of the staged ``part-*`` files of ``base_dir`` whose mtimes
    deliver file ``order[0]`` first, then ``order[1]``, ... (once per
    order; the copy's path names the order). Returns the copy's path."""
    assert sorted(order) == list(range(len(order)))
    path = base_dir + "_scram_" + "".join(str(i) for i in order)
    marker = os.path.join(path, _MARKER)
    if not os.path.exists(marker):
        os.makedirs(path, exist_ok=True)
        parts = sorted(f for f in os.listdir(base_dir) if f.startswith("part-"))
        for f in parts:
            shutil.copy2(os.path.join(base_dir, f), os.path.join(path, f))
        base = os.path.getmtime(os.path.join(path, parts[-1]))
        for rank, idx in enumerate(order):
            os.utime(os.path.join(path, parts[idx]), (base + rank, base + rank))
        open(marker, "w").close()
    return path


def events_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 4, max_files_per_trigger: int = 1
) -> DataFrame:
    """Return a streaming DataFrame replaying events in ~n_files micro-batches."""
    path = _split_dir(sf_dir, n_files)
    marker = os.path.join(path, _MARKER)
    if not os.path.exists(marker):
        ev = table(spark, sf_dir, "events")
        (
            ev.repartitionByRange(n_files, "ts")
            .sortWithinPartitions("ts", "event_id")
            .write.mode("overwrite")
            .parquet(path)
        )
        # FileStreamSource orders new files by modification time; make that
        # order the ts-range order explicitly (part-00000 = lowest range).
        parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        base = os.path.getmtime(os.path.join(path, parts[-1]))
        for i, f in enumerate(parts):
            os.utime(os.path.join(path, f), (base + i, base + i))
        open(marker, "w").close()
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def events_stream_scrambled(
    spark: SparkSession, sf_dir: str, n_files: int = 4, order: tuple = (3, 1, 0, 2)
) -> DataFrame:
    """The SAME ts-range slices as :func:`events_stream`, delivered in a
    SCRAMBLED trigger order: slice ``order[0]`` arrives first, then
    ``order[1]``, ... (mtime permutation; FileStreamSource processes by
    mtime then path). The out-of-order-delivery fixture for the analytics
    twins: their snapshots are pure functions of the data, so ANY delivery
    permutation must yield the identical report — including the funnel's
    late-stage-qualification path, where a stage-(N-1) slice arrives AFTER
    the stage-N slice it retroactively qualifies (the default order ships
    the chronologically LAST slice first)."""
    assert len(order) == n_files
    events_stream(spark, sf_dir, n_files)  # ensure the base staging exists
    path = _stage_scrambled(_split_dir(sf_dir, n_files), order)
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def events_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay with REAL late data: calendar-week slices delivered out of
    order — week1, week3, week2, week4 (of the 2024-01 events range). After
    the week3 batch the watermark (0s delay = running max event time) sits at
    max(week3), so every week2 row arrives late — the fixture for the
    allowed-lateness / side-output mapping (WindowedStream.sideOutputLateData,
    …/datastream/WindowedStream.java:128).

    Fixed date boundaries (not quantiles) keep the late set SQL-expressible:
    late rows == rows with ts in [Jan 8, Jan 15).
    """
    path = os.path.join(_CACHE_ROOT, f"{sf_dir.strip('/').replace('/', '_')}_events_late")
    marker = os.path.join(path, _MARKER)
    weeks = [
        ("1", "2024-01-01", "2024-01-08"),
        ("3", "2024-01-15", "2024-01-22"),
        ("2", "2024-01-08", "2024-01-15"),
        ("4", "2024-01-22", "2024-02-01"),
    ]
    if not os.path.exists(marker):
        ev = table(spark, sf_dir, "events")
        os.makedirs(path, exist_ok=True)
        for w, lo, hi in weeks:
            (
                ev.filter((ev.ts >= lo) & (ev.ts < hi))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, f"week{w}"))
            )
        base = os.path.getmtime(os.path.join(path, "week1"))
        for i, (w, _, _) in enumerate(weeks):
            d = os.path.join(path, f"week{w}")
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (base + i, base + i))
        open(marker, "w").close()
    schema = spark.read.parquet(os.path.join(path, "week1")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/week*")
    )


def events_stream_weeks(
    spark: SparkSession,
    sf_dir: str,
    order: tuple[str, ...] = ("1", "2", "3", "4"),
    with_stage: bool = False,
) -> DataFrame:
    """Replay staged by CALENDAR WEEK of the 2024-01 events range, one week
    per micro-batch, delivered in ``order``. Fixed date boundaries make the
    per-batch contents SQL-expressible — the fixture for changelog-emission
    oracles (batch k ≡ week order[k]).

    Each staged row carries ``stage`` = its chronological week index (week1=0
    … week4=3) so emission oracles can label refinements with the data-borne
    epoch rather than the (delivery-order-fragile) trigger index;
    ``with_stage=False`` drops the column for consumers that don't need it.
    """
    # Week boundaries as UTC epoch DAYS (2024-01-01 = day 19723). Integer
    # arithmetic on unix_micros is calendar- and session-TZ-free, unlike the
    # previous string-literal timestamp casts, which a non-UTC session TZ
    # shifted by hours while keeping per-week row counts plausible (the
    # r03/r05 driver-red signature on the emission-trace queries).
    bounds = {
        "1": (19723, 19730),
        "2": (19730, 19737),
        "3": (19737, 19744),
        "4": (19744, 19754),
    }
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(_CACHE_ROOT, f"{tag}_events_weeks_{'_'.join(order)}")
    marker = os.path.join(path, _MARKER)
    if not os.path.exists(marker):
        ev = table(spark, sf_dir, "events").withColumn(
            "_day", F.expr("unix_micros(ts) DIV 86400000000")
        )
        os.makedirs(path, exist_ok=True)
        for w in order:
            lo, hi = bounds[w]
            (
                ev.filter((F.col("_day") >= lo) & (F.col("_day") < hi))
                .drop("_day")
                .withColumn("stage", F.lit(int(w) - 1).cast("int"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, f"week{w}"))
            )
        base = os.path.getmtime(os.path.join(path, f"week{order[0]}"))
        for i, w in enumerate(order):
            d = os.path.join(path, f"week{w}")
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (base + i, base + i))
        open(marker, "w").close()
    schema = spark.read.parquet(os.path.join(path, f"week{order[0]}")).schema
    out = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/week*")
    )
    return out if with_stage else out.drop("stage")


def events_stream_mod(
    spark: SparkSession,
    sf_dir: str,
    parts: int = 4,
    with_stage: bool = False,
    order: tuple[int, ...] | None = None,
) -> DataFrame:
    """Replay staged by ``event_id % parts``, one residue class per
    micro-batch, in residue order. Every time window receives rows in EVERY
    batch, so an update-mode windowed aggregate re-emits each window's
    refined result per trigger — the deterministic fixture for early-fire
    emission oracles (batch k ≡ rows with event_id % parts == k, so the
    cumulative count after batch k is SQL-expressible).

    Each staged row carries ``stage`` = its residue class, the data-borne
    epoch for delivery-order-invariant emission oracles (see module doc);
    ``with_stage=False`` drops it. ``order`` overrides the DELIVERY order of
    the residue classes (default ascending) — stage stays the residue, so
    tests can scramble delivery and assert emission invariance.
    """
    order = tuple(range(parts)) if order is None else order
    tag = sf_dir.strip("/").replace("/", "_")
    otag = "" if order == tuple(range(parts)) else "_o" + "".join(str(r) for r in order)
    path = os.path.join(_CACHE_ROOT, f"{tag}_events_mod{parts}{otag}")
    marker = os.path.join(path, _MARKER)
    if not os.path.exists(marker):
        ev = table(spark, sf_dir, "events")
        os.makedirs(path, exist_ok=True)
        for r in range(parts):
            (
                ev.filter(ev.event_id % parts == r)
                .withColumn("stage", F.lit(r).cast("int"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, f"mod{r}"))
            )
        base = os.path.getmtime(os.path.join(path, "mod0"))
        for i, r in enumerate(order):
            d = os.path.join(path, f"mod{r}")
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (base + i, base + i))
        open(marker, "w").close()
    schema = spark.read.parquet(os.path.join(path, "mod0")).schema
    out = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/mod*")
    )
    return out if with_stage else out.drop("stage")


def documents_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 4, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming replay of the documents table in ~n_files micro-batches —
    the text-pipeline-on-a-stream source (stateless per-row transforms need
    no delivery ordering, so no mtime protocol: any file order yields the
    same append-mode result set)."""
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(_CACHE_ROOT, f"{tag}_documents_{n_files}")
    marker = os.path.join(path, _MARKER)
    if not os.path.exists(marker):
        table(spark, sf_dir, "documents").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(path)
        open(marker, "w").close()
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def documents_stream_scrambled(
    spark: SparkSession, sf_dir: str, n_files: int = 4, order: tuple = (3, 1, 0, 2)
) -> DataFrame:
    """The SAME document files as :func:`documents_stream`, delivered in a
    SCRAMBLED trigger order (mtime permutation, one file per trigger) — the
    out-of-order fixture for the dedup twins: their bucket-state snapshots
    (occupancy count + MIN id) are pure functions of the corpus, so ANY
    delivery permutation must yield the identical admission set."""
    assert len(order) == n_files
    documents_stream(spark, sf_dir, n_files)  # ensure the base staging exists
    tag = sf_dir.strip("/").replace("/", "_")
    path = _stage_scrambled(os.path.join(_CACHE_ROOT, f"{tag}_documents_{n_files}"), order)
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
