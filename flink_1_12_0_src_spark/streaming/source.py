"""Streaming source: replay a driver table as a chronological file stream.

Flink equivalent: FileSource with continuous monitoring
(flink-connectors/flink-connector-files/.../FileSource.java) feeding event-time
operators. Every replay here is a list of SLICES staged once as one parquet
file each; readStream + maxFilesPerTrigger=1 yields one micro-batch per
slice, in DELIVERY order (FileStreamSource processes by modification time
then path, and :func:`replay` sets the mtimes). A replay states only its
slices and, optionally, ``order``: a permutation of the slice indices that
delivers slice ``order[0]`` first, then ``order[1]``, ... — the
out-of-order-delivery fixture the watermark and invariance tests rely on.

Delivery-order robustness: mtime ordering is best-effort — filesystem or
listing variance in a foreign environment can reorder micro-batches (the
round-3 driver red on the emission-trace queries). The week and residue
replays therefore also carry a literal ``stage`` column (the slice's
chronological index) so order-sensitive operators can derive their epoch
from the DATA instead of the trigger index; see ``run_changelog_count``
(streaming/upsert.py), ``run_early_fire_trace`` and the changelog joins
(streaming/run.py).

Staging is crash-safe: the ``_STAGED`` marker is written only after the
mtime ordering is applied, so an interrupted staging run is re-done from
scratch instead of leaving a permanently scrambled cache.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import tempfile
import time
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_1_12_0_src_spark.catalog import table

# v6: staged-cache format version — bumping forces re-staging so files always
# carry the current format (v4 added the per-slice ``stage`` column and the
# write-marker-last crash-safety protocol; v5 switched the week staging to
# calendar-free epoch-day filters, so caches staged under a non-UTC session
# TZ are invalidated; v6 stages every replay as one flat directory of
# ``part-<slice>.parquet`` files). Stale caches written under different
# parquet-timestamp configs would otherwise surface TIMESTAMP_NTZ columns
# that withWatermark rejects, or lack the stage column. The first stage in a
# process removes the older roots (:func:`_prune_stale_caches`).
_CACHE_ROOT = os.path.join(tempfile.gettempdir(), "flink_1_12_0_src_spark_streams_v6")

# Our own completion marker, written AFTER mtime ordering. Underscore prefix
# keeps it out of file listings.
_MARKER = "_STAGED"


def _tag(sf_dir: str) -> str:
    return sf_dir.strip("/").replace("/", "_")


@functools.cache
def _prune_stale_caches() -> None:
    """Remove, once per process, the staged caches a version bump left
    behind: every older ``..._streams_v<N>`` root, and the pre-v6 CDC
    replay dirs under ``flink_1_12_0_src_spark_files`` (queries/dialectq.py
    owns the rest of that directory)."""
    parent, name = os.path.split(_CACHE_ROOT)
    stem, version = name.rsplit("_v", 1)
    files = os.path.join(parent, "flink_1_12_0_src_spark_files")
    stale = glob.glob(os.path.join(files, "*_cdc_retract_changelog"))
    stale += glob.glob(os.path.join(files, "*_cdc_upsert_stream"))
    for d in glob.glob(os.path.join(parent, f"{stem}_v*")):
        v = d.rsplit("_v", 1)[1]
        if v.isdigit() and int(v) < int(version):
            stale.append(d)
    for d in stale:
        shutil.rmtree(d, ignore_errors=True)


def _stage(key: str, slices: Callable[[], list[DataFrame]], order: Sequence[int] | None) -> str:
    """The one staging protocol; returns the staged directory.

    ``slices()`` builds DataFrames whose partitions, in list then partition
    order, are the slices; each slice lands as one ``part-<i>.parquet``
    file. ``key`` names the directory: relative under the staged-cache
    root, absolute as is; a non-identity ``order`` gets its own directory.
    A directory without the marker is re-staged from scratch."""
    _prune_stale_caches()
    path = os.path.join(_CACHE_ROOT, key)
    if order is not None and list(order) != sorted(order):
        path += "_o" + "-".join(str(i) for i in order)
    if os.path.exists(os.path.join(path, _MARKER)):
        return path
    shutil.rmtree(path, ignore_errors=True)
    outs = []
    for k, df in enumerate(slices()):
        outs.append(os.path.join(path, f"_w{k}"))
        df.write.parquet(outs[-1])
    files = [
        os.path.join(o, f) for o in outs for f in sorted(os.listdir(o)) if f.startswith("part-")
    ]
    if order is None:
        order = range(len(files))
    elif sorted(order) != list(range(len(files))):
        raise ValueError(f"order {tuple(order)} is not a permutation of {len(files)} slices")
    parts = [os.path.join(path, f"part-{i:05d}.parquet") for i in range(len(files))]
    for f, p in zip(files, parts):
        os.replace(f, p)
    for o in outs:
        shutil.rmtree(o)
    base = time.time()
    for rank, i in enumerate(order):
        os.utime(parts[i], (base + rank, base + rank))
    open(os.path.join(path, _MARKER), "w").close()
    return path


def _read(spark: SparkSession, path: str, max_files_per_trigger: int) -> DataFrame:
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def replay(
    spark: SparkSession,
    key: str,
    slices: Callable[[], list[DataFrame]],
    order: Sequence[int] | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """A file stream over ``slices`` staged under ``key`` (see
    :func:`_stage`), delivered in ``order`` (default: slice order)."""
    return _read(spark, _stage(key, slices, order), max_files_per_trigger)


def events_dir(
    spark: SparkSession, sf_dir: str, n_files: int = 4, order: Sequence[int] | None = None
) -> str:
    """Stage (once) the ``n_files`` ts-range slices of the events table that
    :func:`events_stream` replays, and return their directory — for readers
    that take a path, such as a filesystem-connector DDL table."""
    return _stage(
        f"{_tag(sf_dir)}_events_{n_files}",
        lambda: [
            table(spark, sf_dir, "events")
            .repartitionByRange(n_files, "ts")
            .sortWithinPartitions("ts", "event_id")
        ],
        order,
    )


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    max_files_per_trigger: int = 1,
    order: Sequence[int] | None = None,
) -> DataFrame:
    """Replay events in ~n_files micro-batches of ascending ts ranges.

    ``order`` scrambles the delivery (mtime permutation): the
    out-of-order-delivery fixture for the analytics twins, whose snapshots
    are pure functions of the data, so ANY delivery permutation must yield
    the identical report — including the funnel's late-stage-qualification
    path, where a stage-(N-1) slice arrives AFTER the stage-N slice it
    retroactively qualifies."""
    return _read(spark, events_dir(spark, sf_dir, n_files, order), max_files_per_trigger)


# Calendar weeks of the 2024-01 events range as UTC epoch DAYS (2024-01-01 =
# day 19723). Integer arithmetic on unix_micros is calendar- and
# session-TZ-free, unlike string-literal timestamp casts, which a non-UTC
# session TZ shifts by hours while keeping per-week row counts plausible
# (the r03/r05 driver-red signature on the emission-trace queries).
_WEEK_DAYS = ((19723, 19730), (19730, 19737), (19737, 19744), (19744, 19754))


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

    ``order=("1", "3", "2", "4")`` is the REAL late-data replay: after the
    week3 batch the watermark (0s delay = running max event time) sits at
    max(week3), so every week2 row (ts in [Jan 8, Jan 15)) arrives late —
    the fixture for the allowed-lateness / side-output mapping
    (WindowedStream.sideOutputLateData, …/datastream/WindowedStream.java:128).

    Each staged row carries ``stage`` = its chronological week index (week1=0
    … week4=3) so emission oracles can label refinements with the data-borne
    epoch rather than the (delivery-order-fragile) trigger index;
    ``with_stage=False`` drops the column for consumers that don't need it.
    """

    def slices() -> list[DataFrame]:
        ev = table(spark, sf_dir, "events").withColumn(
            "_day", F.expr("unix_micros(ts) DIV 86400000000")
        )
        return [
            ev.filter((F.col("_day") >= lo) & (F.col("_day") < hi))
            .drop("_day")
            .withColumn("stage", F.lit(w).cast("int"))
            .coalesce(1)
            for w, (lo, hi) in enumerate(_WEEK_DAYS)
        ]

    out = replay(
        spark, f"{_tag(sf_dir)}_events_weeks", slices, tuple(int(w) - 1 for w in order)
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

    def slices() -> list[DataFrame]:
        ev = table(spark, sf_dir, "events")
        return [
            ev.filter(ev.event_id % parts == r)
            .withColumn("stage", F.lit(r).cast("int"))
            .coalesce(1)
            for r in range(parts)
        ]

    out = replay(spark, f"{_tag(sf_dir)}_events_mod{parts}", slices, order)
    return out if with_stage else out.drop("stage")


def documents_stream(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    max_files_per_trigger: int = 1,
    order: Sequence[int] | None = None,
) -> DataFrame:
    """Streaming replay of the documents table in ~n_files micro-batches —
    the text-pipeline-on-a-stream source. ``order`` scrambles the delivery:
    the out-of-order fixture for the dedup twins, whose bucket-state
    snapshots (occupancy count + MIN id) are pure functions of the corpus,
    so ANY delivery permutation must yield the identical admission set."""
    return replay(
        spark,
        f"{_tag(sf_dir)}_documents_{n_files}",
        lambda: [table(spark, sf_dir, "documents").repartition(n_files)],
        order,
        max_files_per_trigger,
    )
