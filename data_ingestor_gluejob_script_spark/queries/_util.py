"""Shared helpers for the declared queries.

The testdata ``events`` table has shipped with two physical encodings
for its ``ts`` column across driver regenerations: parquet
TIMESTAMP(NANOS) (which Spark surfaces as ``bigint`` under the
``nanosAsLong`` legacy conf, or rejects without it) and plain
``timestamp[us]`` (which Spark reads natively, as TIMESTAMP_NTZ when
the footer says isAdjustedToUTC=false). ``read_events`` sniffs the
footer ONCE per read and normalizes both to a session-UTC
TimestampType column, so a testdata regeneration can never silently
flip the events family again:

- already ``timestamp``      → use as-is
- ``timestamp_ntz``          → cast to ``timestamp`` (value-preserving:
  the session timezone is pinned UTC in session.py, and ``withWatermark``
  rejects NTZ event-time columns outright)
- ``bigint`` (NANOS-as-long) → rebuild via ``timestamp_micros(ts div
  1000)`` — integer division, not float, to match DuckDB's truncation
  semantics for TIMESTAMP_NS → TIMESTAMP
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed watermark literals (FIXTURES.md §A) — deterministic stand-ins for
# the reference's runtime watermark dict (gluejob.py:89-118).
WM = "1997-01-01 00:00:00"
WM_UPSERT = "1997-07-01 00:00:00"


# Files at or under this size cannot hold a second row group (the
# parquet writer's default block size), so for them the FILE count —
# not the planner's split count — bounds real scan parallelism.
# Module-level so tests can pin the phantom-split heuristic with
# small fixture files.
_SINGLE_ROWGROUP_MAX_BYTES = 128 * 1024 * 1024

# Stat every file when the listing is at most this long; above it,
# stat a spread sample (first/last/stride) instead. Listing is
# metadata-cheap, but a 100k-file corpus shouldn't pay 100k RPCs for
# a heuristic.
_SPREAD_STAT_ALL_MAX = 64
_SPREAD_SAMPLE = 8


def _sample_indices(n: int) -> list[int]:
    """Indices to stat when the listing is too long to stat fully:
    first, last, and an even stride between — a mixed corpus whose
    multi-row-group files sit ANYWHERE in the listing hits the sample
    (the r15 cut statted only the first 8 paths, so large files past
    the head were invisible and a healthy scan could be repartitioned
    for nothing — advice r15)."""
    if n <= _SPREAD_SAMPLE:
        return list(range(n))
    step = (n - 1) / (_SPREAD_SAMPLE - 1)
    return sorted({round(i * step) for i in range(_SPREAD_SAMPLE)})


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """See _spread_impl. r16: the decision (and the returned frame) is
    memoized ON the input DataFrame object — ``load`` returns one
    analyzed frame per (session, path), so repeated query construction
    over the same table re-uses the split inspection instead of
    re-paying ``df.rdd.getNumPartitions()`` (~85 ms of driver/py4j
    work), ``inputFiles`` (~50 ms) and the per-file status RPCs on
    every call. Metadata memoization only: no rows are cached, every
    action still scans parquet. A frame not produced by ``load`` (no
    prior memo) just computes the decision fresh each time."""
    cached = df.__dict__.get("_sg_spread")
    if cached is not None:
        return cached
    out = _spread_impl(spark, df)
    df.__dict__["_sg_spread"] = out
    return out


def _spread_impl(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a small-file scan across the cluster before
    CPU-heavy per-row work (hashing, shingling, vector math) — but
    ONLY when the scan is actually under-split.

    The documents/embeddings testdata tables are single small parquet
    files → Spark gives them ONE input partition, serializing every
    downstream map on one core; there the tiny shuffle buys full
    parallelism. At 100 TB inputs arrive in many splits already, and
    an unconditional repartition would be a full shuffle of the corpus
    for nothing — so this is a no-op whenever the input supplies at
    least half the cluster's parallelism (getNumPartitions is a
    metadata call: it plans the scan's splits, moves no rows).

    PHANTOM SPLITS (r15): the planner slices files into byte ranges of
    totalSize/defaultParallelism, but a parquet byte range yields rows
    ONLY if a row-group START falls inside it — a corpus of a few
    sub-128MB files (one row group each) planned as 28 "splits" runs
    on as many cores as there are FILES, with the other tasks reading
    nothing. Measured: a 4-file 107 MB corpus read as 28 splits ran
    the MinHash signature pass at 24.9 s; balanced, 5.5 s (4.5×).
    Files smaller than the parquet block size (128 MB) cannot hold a
    second row group, so for them the file COUNT is the true
    parallelism bound — the split count is ignored in that regime.
    Larger files may hold many row groups; there the planner's count
    stands (repartitioning a healthy 100 TB scan would be a full
    shuffle for nothing).

    Sampling (r16, advice r15): small listings (≤64 files) are
    statted in FULL; longer listings stat a first/last/stride sample
    instead of the first 8 paths, so a mixed corpus whose large
    multi-row-group files fall late in the (arbitrary-order) listing
    still disarms the file-count cap. One large sampled file is
    enough to trust the planner: the heuristic only fires when every
    sampled file is single-row-group sized, and a false NEGATIVE
    (trusting a listing whose unsampled tail is all-small) merely
    keeps the planner's split count — the pre-r15 behavior — never
    adds a shuffle.
    """
    parallelism = spark.sparkContext.defaultParallelism
    planned = df.rdd.getNumPartitions()
    effective = planned
    files = df.inputFiles()
    if files:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(files[0])
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if len(files) <= _SPREAD_STAT_ALL_MAX:
            picked = files
        else:
            picked = [files[i] for i in _sample_indices(len(files))]
        sizes = [
            fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
            for f in picked
        ]
        if max(sizes) <= _SINGLE_ROWGROUP_MAX_BYTES:
            effective = min(planned, len(files))
    if effective * 2 >= parallelism:
        return df
    return df.repartition(parallelism)


# Pinned fallback schema for the TIMESTAMP(NANOS) encoding: ts declared
# LongType so the vectorized reader accepts the NANOS column under ANY
# session conf — works identically with or without the legacy
# ``nanosAsLong`` flag, so the driver's vanilla session needs no
# conf mutation. Catalyst still prunes unused columns from the scan.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read the events table with ``ts`` normalized to TimestampType,
    whichever physical encoding the parquet footer declares (see module
    docstring). The sniff is one footer-only read — no row data moves
    until the returned frame is consumed, so this costs nothing at any
    scale and keeps predicate pushdown / column pruning intact.
    """
    try:
        raw = spark.read.parquet(path)
        ts_type = dict(raw.dtypes).get("ts")
    except Exception as ex:
        # Schema inference throws PARQUET_TYPE_ILLEGAL on
        # TIMESTAMP(NANOS) when the nanosAsLong legacy conf is off;
        # the explicit-schema fallback below handles that encoding.
        # Anything else (missing path, permissions, corrupt footer)
        # must surface HERE, not as a confusing schema mismatch
        # downstream of the fallback read.
        if "PARQUET_TYPE_ILLEGAL" not in str(ex) and (
            "Illegal Parquet type" not in str(ex)
        ):
            raise
        ts_type = None
    if ts_type == "timestamp":
        return raw
    if ts_type == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    df = spark.read.schema(EVENTS_SCHEMA).parquet(path)
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


# Analyzed-frame memo: session -> {(kind, path) -> (listing
# fingerprint, lazy DataFrame or row count)}. METADATA caching only —
# a DataFrame is an immutable logical plan; every action over it still
# scans the parquet inputs, so results are recomputed on every
# bench/oracle invocation (the no-result-caching rule). What this
# removes is the per-construction driver cost of
# ``spark.read.parquet`` — footer schema inference + py4j analysis,
# measured 121 ms per call on a warm quiet session — which otherwise
# recurs for every query construction over the same
# immutable table (q_revenue_by_nation alone reads six tables: ~0.7 s
# of its ~0.95 s bench time was plan construction, not computation).
# The same move a catalog table gives you for free (resolved
# relations are cached per session).
#
# r17 key hardening (advice r16): the outer key is the SESSION OBJECT
# itself (a WeakKeyDictionary keyed by the session — two sessions
# sharing an applicationId via ``newSession()`` no longer share frames,
# and a collected session's frames drop with it), and the inner key
# carries a cheap file-listing fingerprint (sorted name/mtime/size, one
# local scandir ~0.1 ms) so a path REWRITTEN within the process gets a
# fresh read — plus fresh on-object guard marks — instead of a stale
# plan. One entry per (kind, path): a rewrite replaces the superseded
# entry rather than accumulating beside it. A path os.stat cannot see
# (a URI such as file:// or s3a://, or an absent path) has no
# fingerprint and is never memoized — every call reads fresh. Writers
# in pipeline/streaming use their own readers, never this helper.
_LOAD_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _listing_fingerprint(path: str) -> tuple | None:
    """(name, mtime_ns, size) per entry of ``path`` (or of the file
    itself), sorted — detects an in-process rewrite of a memoized
    table. None where ``os.stat`` cannot list the path."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
        with os.scandir(path) as it:
            return tuple(
                sorted(
                    (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                    for e in it
                )
            )
    except OSError:
        return None


def _session_memo(spark: SparkSession) -> dict:
    """Per-session memo table {(kind, path): (fingerprint, value)}.
    The weak outer key means a replaced/garbage-collected session
    drops its frames with it — an id()-keyed registry could alias a
    recycled address to a new session's reads."""
    memo = _LOAD_MEMO.get(spark)
    if memo is None:
        memo = {}
        _LOAD_MEMO[spark] = memo
    return memo


def _memoized(spark: SparkSession, kind: str, path: str, build):
    """``build()`` memoized per (session, kind, path) while the path's
    listing fingerprint is unchanged; unlistable paths are never
    memoized (see _LOAD_MEMO)."""
    fp = _listing_fingerprint(path)
    if fp is None:
        return build()
    memo = _session_memo(spark)
    hit = memo.get((kind, path))
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    memo[(kind, path)] = (fp, value)
    return value


# Table row counts used as PLAN STATISTICS (adaptive LSH signature
# width, IVF cell count): one count job per (session, path), then
# memoized — the same role as the catalog's cached table statistics.
# Not result caching: the statistic picks a plan parameter; the query
# itself still computes from the parquet inputs on every action.
# Same hardened key as _LOAD_MEMO (the ("count", ...) rows of the
# same per-session table).


def table_rowcount(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Row count of one immutable testdata table, memoized per
    (session, path, listing)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    return _memoized(
        spark, "count", path, lambda: load(spark, sf_dir, table).count()
    )


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one testdata table, normalizing events.ts to TimestampType.
    Analyzed frame memoized per (session, path, listing) — see
    _LOAD_MEMO."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if table == "events":
        return _memoized(
            spark, "frame", path, lambda: read_events(spark, path)
        )
    return _memoized(spark, "frame", path, lambda: spark.read.parquet(path))
