"""spread() phantom-split detection (r15): a corpus of a few
sub-128MB single-row-group parquet files gets PLANNED as many
byte-range splits, but only ranges containing a row-group start yield
rows — real parallelism equals the file count. Measured 4.5× on the
MinHash signature pass (SCALE.md r15). spread() must repartition in
that regime and stay a no-op for well-split inputs."""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_ingestor_gluejob_script_spark.queries import _util  # noqa: E402
from data_ingestor_gluejob_script_spark.queries._util import (  # noqa: E402
    _sample_indices,
    spread,
)


def _fat_rows(spark, n=120_000):
    # ~500 bytes/row -> ~60 MB raw, tens of MB as parquet
    pad = F.concat(*[F.md5(F.concat(F.col("id").cast("string"),
                                    F.lit(str(i)))) for i in range(16)])
    return spark.range(n).select("id", pad.alias("pad"))


def test_spread_repartitions_phantom_split_files(spark, tmp_path):
    path = str(tmp_path / "two_files")
    _fat_rows(spark).repartition(2).write.parquet(path)
    df = spark.read.parquet(path)
    planned = df.rdd.getNumPartitions()
    par = spark.sparkContext.defaultParallelism
    # setup premise: the planner slices the 2 files into enough
    # byte ranges that the OLD split-count rule would call this
    # "well-split" — only 2 of them can actually yield rows
    assert planned * 2 >= par, planned
    assert len(df.inputFiles()) == 2
    out = spread(spark, df)
    assert out.rdd.getNumPartitions() == par


def test_spread_noop_for_well_split_input(spark, tmp_path):
    path = str(tmp_path / "many_files")
    n_files = spark.sparkContext.defaultParallelism
    _fat_rows(spark).repartition(n_files).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == n_files
    assert spread(spark, df) is df


def test_spread_noop_for_mixed_sizes_any_listing_order(
    spark, tmp_path, monkeypatch
):
    """Advice r15: the old heuristic statted only the FIRST 8 paths of
    the arbitrary-order listing, so a mixed corpus whose large
    multi-row-group file fell past the head looked all-small, took the
    file-count cap, and got a full repartition shuffle it didn't need.
    Listings ≤64 files are now statted in full — ONE over-threshold
    file anywhere in the listing disarms the cap. The threshold is
    scaled down so the fixture's "big" file counts as multi-row-group
    without writing 128 MB in a test."""
    path = str(tmp_path / "mixed")
    # 16 small files (~1.5 MB parquet each) + one ~8x larger file, all
    # in one dataset directory; listing order is filesystem-arbitrary.
    _fat_rows(spark, n=50_000).repartition(16).write.mode("append").parquet(
        path
    )
    _fat_rows(spark, n=25_000).coalesce(1).write.mode("append").parquet(path)
    df = spark.read.parquet(path)
    files = df.inputFiles()
    assert len(files) == 17
    sizes = sorted(
        (tmp_path / "mixed").glob("*.parquet"), key=lambda p: p.stat().st_size
    )
    big = sizes[-1].stat().st_size
    small_max = sizes[-2].stat().st_size
    assert big > 2 * small_max  # fixture premise: one genuinely-large file
    monkeypatch.setattr(
        _util, "_SINGLE_ROWGROUP_MAX_BYTES", (big + small_max) // 2
    )
    planned = df.rdd.getNumPartitions()
    if planned * 2 < spark.sparkContext.defaultParallelism:
        import pytest

        pytest.skip("planner under-split the fixture; premise not met")
    # the big file is over-threshold wherever it sits in the listing,
    # so the file-count cap must NOT apply and the scan is a no-op
    assert spread(spark, df) is df


def test_sample_indices_cover_first_last_and_spread():
    for n in (1, 2, 7, 8, 9, 64, 65, 1000, 100_000):
        idx = _sample_indices(n)
        assert idx[0] == 0
        assert idx[-1] == n - 1 or n <= 1
        assert idx == sorted(set(idx))
        assert all(0 <= i < n for i in idx)
        assert len(idx) <= 8
        if n > 8:
            # stride sampling: consecutive samples at most ~n/7 apart,
            # so a large-file run anywhere in the listing is hit
            gaps = [b - a for a, b in zip(idx, idx[1:])]
            assert max(gaps) <= (n - 1) // 7 + 1


def test_load_memoizes_analyzed_frame_per_session(spark, tmp_path):
    """r16: load() returns ONE analyzed frame per (session, path) —
    plan-metadata caching only. Same object on repeat calls, distinct
    objects for distinct paths, and the frame still recomputes from
    the files on every action (no row caching)."""
    from data_ingestor_gluejob_script_spark.queries._util import load

    d1 = tmp_path / "sfx"
    d1.mkdir()
    spark.range(5).select(
        F.col("id").alias("l_orderkey")
    ).write.parquet(str(d1 / "lineitem.parquet"))
    a = load(spark, str(d1), "lineitem")
    b = load(spark, str(d1), "lineitem")
    assert a is b
    assert a.count() == 5
    # a second table path gets its own entry
    spark.range(3).select(F.col("id").alias("o_orderkey")).write.parquet(
        str(d1 / "orders.parquet")
    )
    c = load(spark, str(d1), "orders")
    assert c is not a and c.count() == 3


def test_load_memo_detects_in_process_rewrite(spark, tmp_path):
    """r17 (advice r16): the memo key carries a file-listing
    fingerprint, so a table REWRITTEN within the process gets a fresh
    read — not a stale plan served from the memo — and the superseded
    entry is dropped. A URI os.stat cannot list (file://, s3a://) is
    never memoized, so it reads fresh too."""
    from data_ingestor_gluejob_script_spark.queries._util import (
        _session_memo,
        load,
    )

    d1 = tmp_path / "sfy"
    d1.mkdir()
    path = str(d1 / "lineitem.parquet")

    def rewrite(n):
        spark.range(n).select(F.col("id").alias("l_orderkey")).write.mode(
            "overwrite"
        ).parquet(path)

    rewrite(5)
    a = load(spark, str(d1), "lineitem")
    assert a.count() == 5
    rewrite(9)
    b = load(spark, str(d1), "lineitem")
    assert b is not a
    assert b.count() == 9
    assert len([k for k in _session_memo(spark) if path in k]) == 1

    uri = f"file://{d1}"
    assert load(spark, uri, "lineitem").count() == 9
    rewrite(4)
    assert load(spark, uri, "lineitem").count() == 4


def test_spread_memoizes_decision_on_the_frame(spark, tmp_path):
    """r16: spread()'s split inspection runs once per input frame
    object — the memoized result is the SAME frame, with the same
    repartition decision the uncached path computes."""
    path = str(tmp_path / "one.parquet")
    _fat_rows(spark, n=5_000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    s1 = spread(spark, df)
    s2 = spread(spark, df)
    assert s1 is s2
    # The memoized frame carries the same repartition decision a fresh
    # inspection computes (a re-read is a new object, so identity can
    # never hold — assert the decision itself; advice r16).
    assert (
        s1.rdd.getNumPartitions()
        == _util._spread_impl(
            spark, spark.read.parquet(path)
        ).rdd.getNumPartitions()
    )
