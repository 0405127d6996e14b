"""Differentials for the edit-distance fuzzy join
(queries/fuzzyjoin.py, round-11 fourth wave): exact recall AND
precision against a brute-force all-pairs python Levenshtein oracle —
the deletion-neighborhood candidate generation is only correct if
NO within-distance pair ever escapes it, so every test asserts full
set equality, not containment."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from data_ingestor_gluejob_script_spark.queries.fuzzyjoin import (
    fuzzy_join,
    fuzzy_self_join,
)


def lev(a: str, b: str) -> int:
    """Independent DP Levenshtein (unit costs, per code point)."""
    if len(a) < len(b):
        a, b = b, a
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
            prev = cur
    return dp[-1]


def brute_self(rows, d):
    return sorted(
        (ia, ib, lev(sa, sb))
        for (ia, sa), (ib, sb) in itertools.combinations(
            [r for r in rows if r[1] is not None], 2
        )
        if lev(sa, sb) <= d
    )


def brute_link(left, right, d):
    return sorted(
        (ia, ib, lev(sa, sb))
        for ia, sa in left
        for ib, sb in right
        if sa is not None and sb is not None and lev(sa, sb) <= d
    )


EDGE_ROWS = [
    (1, "kitten"),
    (2, "sitten"),
    (3, "sitting"),
    (4, "a"),
    (5, "b"),
    (6, "ab"),
    (7, ""),
    (8, None),
    (9, "kitten"),  # exact duplicate value, distinct id
    (10, "banana"),  # repeated chars: duplicate deletions hit array_distinct
    (11, "bananas"),
    (12, "bandana"),
    (13, "café"),  # multibyte: JVM and python must both count
    (14, "cafe"),  # code points, not bytes (dist 1, not 2)
    (15, "x" * 40),
    (16, "x" * 39 + "y"),
]


@pytest.mark.parametrize("d", [1, 2])
def test_self_join_matches_brute_force_edges(spark, d):
    df = spark.createDataFrame(EDGE_ROWS, "id int, name string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_self_join(df, "id", "name", max_dist=d).collect()
    )
    assert got == brute_self(EDGE_ROWS, d)


def _random_corpus(n, seed, alphabet="abcde", maxlen=9):
    """Small alphabet + short strings = dense near-collisions, the
    adversarial regime for the count filter; planted single-edit
    twins guarantee true positives exist at every distance."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        s = "".join(
            rng.choice(alphabet)
            for _ in range(rng.randrange(0, maxlen + 1))
        )
        rows.append((i, s))
    # plant edited twins of the first n//4 strings
    for i in range(n // 4):
        s = list(rows[i][1])
        for _ in range(rng.randrange(1, 3)):
            op = rng.choice("sid")
            p = rng.randrange(0, len(s) + 1)
            if op == "i" or not s:
                s.insert(p, rng.choice(alphabet))
            elif op == "s":
                s[min(p, len(s) - 1)] = rng.choice(alphabet)
            else:
                del s[min(p, len(s) - 1)]
        rows.append((n + i, "".join(s)))
    return rows


@pytest.mark.parametrize("d,seed", [(1, 3), (2, 4), (3, 5)])
def test_self_join_matches_brute_force_random(spark, d, seed):
    rows = _random_corpus(120, seed)
    df = spark.createDataFrame(rows, "id int, name string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_self_join(df, "id", "name", max_dist=d).collect()
    )
    assert got == brute_self(rows, d)


def test_linkage_matches_brute_force(spark):
    rng = random.Random(17)
    clean = _random_corpus(80, 8, alphabet="abcdef", maxlen=12)
    dirty = [
        (i, (s[:-1] + rng.choice("abcdef")) if s else "q")
        for i, s in clean[:40]
    ] + [(90 + i, None) for i in range(3)]
    lt = spark.createDataFrame(clean, "id int, name string")
    rt = spark.createDataFrame(dirty, "id int, name string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_join(lt, rt, "id", "name", max_dist=2).collect()
    )
    assert got == brute_link(clean, dirty, 2)
    # verify columns carry the right strings for a sample
    row = (
        fuzzy_join(lt, rt, "id", "name", max_dist=2)
        .orderBy("id_a", "id_b")
        .first()
    )
    assert lev(row.s_a, row.s_b) == row.dist


def test_no_cartesian_product_in_plan(spark):
    """The whole operator is equi-joins on hashed deletion
    variants — the package-wide forbidden CartesianProduct must never
    appear anywhere in its plan."""
    import contextlib
    import io

    df = spark.createDataFrame(EDGE_ROWS, "id int, name string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fuzzy_self_join(df, "id", "name", max_dist=2).explain("formatted")
    assert "CartesianProduct" not in buf.getvalue()


@pytest.mark.parametrize("d", [1, 2])
def test_clone_heavy_corpus(spark, d):
    """Repeated values exercise the clone fan-out arms: candidate
    generation and verify run over the DISTINCT value dictionary,
    so every id-level pair (including same-value dist-0 pairs and
    cross pairs where both members repeat) must come back from the
    fan-out equi-joins, each exactly once."""
    vocab = ["ship", "shop", "chip", "shi", "drop", ""]
    rows = [(i, vocab[i % len(vocab)]) for i in range(30)]
    df = spark.createDataFrame(rows, "id int, name string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_self_join(df, "id", "name", max_dist=d).collect()
    )
    assert got == brute_self(rows, d)


def test_clone_heavy_linkage(spark):
    """Linkage twin of the clone test: values repeating on BOTH
    sides fan out to the full cross product per matching value pair
    — the output contract — with no duplicates and no drops."""
    lvals = ["lamp", "lump", "lamb", "x"]
    rvals = ["lamp", "damp", "y", "lump"]
    left = [(i, lvals[i % len(lvals)]) for i in range(20)]
    right = [(i, rvals[i % len(rvals)]) for i in range(20)]
    lt = spark.createDataFrame(left, "id int, name string")
    rt = spark.createDataFrame(right, "id int, name string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_join(lt, rt, "id", "name", max_dist=1).collect()
    )
    assert got == brute_link(left, right, 1)


def test_vid_collisions_recovered(spark, monkeypatch):
    """Round-12 review finding: two distinct values sharing an
    xxhash64 share a vid, and the strict vid_a < vid_b self-join can
    never emit their pair — a silent drop. The within-vid recovery
    arm must make results exact under ANY collision rate: force
    pathological collisions (vid = string length, so every same-length
    pair collides) and assert full brute-force equality."""
    from data_ingestor_gluejob_script_spark.queries import fuzzyjoin

    monkeypatch.setattr(
        fuzzyjoin, "_vid_col", lambda s: F.length(s).cast("long")
    )
    rows = _random_corpus(60, seed=5)
    df = spark.createDataFrame(rows, "id int, name string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_self_join(df, "id", "name", max_dist=2).collect()
    )
    assert got == brute_self(rows, 2)
