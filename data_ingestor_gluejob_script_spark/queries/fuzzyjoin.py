"""Edit-distance fuzzy join (record linkage) via hashed deletion
neighborhoods (Mor & Fraenkel, CACM 1982; Bocek et al., "Fast
Similarity Search in Large Dictionaries" / FastSS, 2007), expressed
as one Catalyst equi-join so candidate generation never goes near an
all-pairs product.

Reference parity note: the reference job (gluejob.py) joins only on
exact keys; this module extends the engine's curation surface with
the approximate-match twin — matching dirty source records (typos,
OCR noise, vendor feeds) against a clean dimension is the classic
ingest-side linkage step the exact joins cannot express.

Why deletion neighborhoods (third design; the round-11 sf10 scale
smoke killed the first two):

* q-gram prefix filtering (Gravano et al. VLDB 2001 + Xiao et al.
  VLDB 2008): a fixed-q gram vocabulary is BOUNDED (10^4 digit
  4-grams), so once the corpus outgrows it even the rarest gram's
  document frequency grows linearly with corpus size and the gram
  equi-join grows QUADRATICALLY. Measured: 70 s at sf1 -> 1500 s at
  sf10 (21.4x for 10x data, over the 13x flag bar).
* PassJoin segments (Li, Deng & Feng, PVLDB 2011): segments are
  ~len/(d+1) chars, but a segment only carries the entropy of ITS
  SLICE of the string. Keys that share a long low-entropy half
  (names, cities, company prefixes — and this bench's
  "<name>-<key>" corpus, where each name repeats across thousands
  of keys) make one segment slot's buckets grow linearly with the
  corpus, and that slot's join quadratically. Measured: 35 s at
  sf0.1, 495 s at sf1 (14.2x) — executor stacks all in the
  levenshtein verify of same-name-half candidate pairs.
* Deletion neighborhood: index every DISTINCT value under
  xxhash64(v') for every v' reachable by deleting UP TO d
  characters (C(len, <=d) variants, including v itself). If
  ed(a, b) <= d, an optimal edit script yields a common string c by
  deleting the substituted/deleted positions from a (<= d
  deletions) and the substituted/inserted positions from b (<= d
  deletions) — so a and b share the variant c and the self-join on
  the hash finds the pair. Each variant carries len-d of the
  string's len characters — nearly ALL its entropy — so a shared
  low-entropy half cannot saturate buckets: two values collide only
  if they agree on everything but d deletions' worth of characters.
  A hash bucket of size m means m values pairwise within edit
  distance 2d (each pair linked through the shared variant by <= d
  deletions + <= d insertions) — candidate volume is bounded by the
  corpus's true near-clone density, which is what any EXACT edit
  join must pay.

Cost contract: C(len, <=d) variants per distinct value, hashed to 8
bytes each — len+1 at d=1, ~len^2/2 at d=2, ~len^3/6 at d=3. This
operator is for JOIN KEYS (tens of chars), not document bodies; at
corpus scale keep d <= 2 (a 36-char key costs 37 hashes at d=1, ~670
at d=2). The hash join trades exactness of CANDIDATES, not of the
answer: a cross-variant collision (expected n_variants^2 / 2^65)
just adds one candidate for the levenshtein verify to reject.

Exact-clone collapse first (the package-wide dedup convention — see
queries/textops.py): candidate generation, verify, and the match
distinct all run over the DISTINCT VALUE dictionary, never the id
rows. Repeated key values (every real linkage corpus) therefore cost
one dictionary entry each; each surviving VALUE pair is verified
exactly once per shared variant; and the id-level result needs no
distinct at all — the fan-out equi-joins at the end are
output-bound, which is inherent (a value appearing n times on each
side genuinely matches n^2 row pairs).

No short-string arm: the deletion theorem holds at every length —
"a" vs "" share the variant "" at d=1; the <=d-deletion set of ""
is {""}. (Both prior designs needed a separate alphabet-bounded
all-pairs arm below their signature floor.)

Scale shape: one shuffle builds the value dictionary (distinct over
short join keys), variant generation is a per-row projection (no
shuffle; each level of <=d deletions is materialized in its own
projection, per the package HOF contract), the candidate self-join
shuffles COMPACT (vid, len, hash) rows — 16 bytes each, linear in
the dictionary; the strings themselves never ride the variant
shuffle (shipping ~40-char keys there is ~4x the bytes and is what
filled the disk on the sf100 smoke). Candidate vid pairs are
DISTINCT'd while still 16-byte rows (a true pair shares up to
C(len,<=d) variants), the strings join back at candidate-pair size,
the levenshtein verify is a map (banded O(d*len) via the threshold
form), and the only corpus-sized shuffles left are the final
fan-out equi-joins whose output is the answer itself.

NULL handling (package convention): NULL strings cannot match
anything (unknown, not empty) — they are dropped from both sides and
never appear in the output; the empty string is a real value and
matches anything within distance max_dist of it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _one_deletions(v: Column) -> Column:
    """Array of every string reachable from ``v`` by deleting exactly
    one character (empty array for the empty string — F.sequence(1, 0)
    would count DOWN, not produce an empty range)."""
    return F.when(
        F.length(v) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(v)),
            lambda p: F.concat(
                v.substr(F.lit(1), p - 1),
                v.substr(p + 1, F.length(v) - p),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _variant_index(keyed: DataFrame, max_dist: int) -> DataFrame:
    """(vid, len, h): every dictionary value — pre-keyed as
    (vid, s) — under the xxhash64 of each member of its
    <=``max_dist``-deletion neighborhood. The variant rows carry the
    COMPACT id and length, never the string: at corpus scale this
    shuffle is the operator's bulk (C(len, <=d) rows per value), and
    shipping ~40-char keys through it is ~4x the bytes of
    (vid, len, h) — the sf100 decade-3 smoke filled the host's disk
    with exactly that spill. Level t is materialized in its own
    projection before the next level's HOF runs over it (the package
    HOF contract — interpreted HOF evaluation would otherwise
    recompute the inline expression per element). Levels cannot
    collide across each other (level t holds only length len-t
    strings), so the union is a plain concat; within a level
    array_distinct collapses duplicate deletions (repeated
    characters)."""
    df = keyed.select(
        "vid",
        F.length("s").alias("len"),
        F.array("s").alias("_lvl"),
        F.array("s").alias("_all"),
    )
    for _ in range(max_dist):
        df = df.select(
            "vid",
            "len",
            F.array_distinct(
                F.flatten(F.transform(F.col("_lvl"), _one_deletions))
            ).alias("_lvl"),
            "_all",
        )
        df = df.select(
            "vid", "len", "_lvl", F.concat("_all", "_lvl").alias("_all")
        )
    return df.select(
        "vid",
        "len",
        F.explode(
            F.transform(F.col("_all"), lambda v: F.xxhash64(v))
        ).alias("h"),
    )


def _vid_col(s: Column) -> Column:
    """Compact value id: xxhash64 of the dictionary string. A seam so
    tests can force pathological collisions and pin that the
    within-vid recovery arm keeps results exact regardless."""
    return F.xxhash64(s)


def _candidate_vid_pairs(var: DataFrame, max_dist: int) -> DataFrame:
    """Distinct unordered candidate (vid_a, vid_b) pairs from the
    (vid, len, h) variant index: self-join on the variant hash (vid
    order dedups the unordered pair and keeps equal values out),
    length gap as a cheap cross-collision cut, DISTINCT while the rows
    are still 16 bytes."""
    return (
        var.alias("a")
        .join(var.alias("b"), "h")
        .filter(F.col("a.vid") < F.col("b.vid"))
        .filter(F.abs(F.col("a.len") - F.col("b.len")) <= max_dist)
        .select(
            F.col("a.vid").alias("vid_a"), F.col("b.vid").alias("vid_b")
        )
        .distinct()
    )


def _value_pairs(dv: DataFrame, max_dist: int) -> DataFrame:
    """Distinct verified (s_lo, s_hi, dist) pairs of DIFFERENT
    dictionary values within ``max_dist``, normalized so
    s_lo < s_hi. Shape: key the dictionary with a compact vid
    (xxhash64 of the value; vid collisions are recovered exactly by
    the within-vid arm below, so correctness does not lean on
    collision odds); self-join the (vid, len, h) variant
    index on the hash (vid order dedups the unordered pair and keeps
    equal values out — clones are handled by the fan-out arms, so
    dist >= 1 here); DISTINCT the candidate vid pairs (a true pair
    shares up to C(len,<=d) variants — dedup BEFORE the strings come
    back, on 16-byte rows); join the strings back (candidate-pair
    sized, dictionary-keyed); verify with banded levenshtein (the
    threshold form). The length filter inside the join is a cheap
    cut for cross-variant hash collisions (genuine shared variants
    imply the length gap already)."""
    keyed = dv.select(_vid_col(F.col("s")).alias("vid"), "s")
    # vid-collision arm (round-12 review finding): two DISTINCT
    # values sharing an xxhash64 get one vid, and the self-join's
    # strict vid_a < vid_b can then never emit their pair — the only
    # silent loss a collision causes (cross-wired join-back fan-out
    # is caught by the per-pair levenshtein verify). Recover them
    # with a within-vid string self-join: n-row equi-join on vid,
    # ~zero output rows in practice (expected collisions n^2/2^65),
    # negligible beside the variant index — and exactness no longer
    # leans on "collision-free in practice". Disjoint from the main
    # arm by construction (same-vid vs different-vid), so a plain
    # union suffices.
    collided = (
        keyed.alias("ca")
        .join(keyed.alias("cb"), "vid")
        .filter(F.col("ca.s") < F.col("cb.s"))
        .select(F.col("ca.s").alias("sa"), F.col("cb.s").alias("sb"))
    )
    collision_arm = _verify_string_pairs(collided, max_dist)
    var = _variant_index(keyed, max_dist)
    return _verified_value_pairs(
        _candidate_vid_pairs(var, max_dist), keyed, max_dist
    ).union(collision_arm)


def _verify_string_pairs(pairs: DataFrame, max_dist: int) -> DataFrame:
    """(sa, sb) -> verified (s_lo, s_hi, dist) with banded
    levenshtein (the threshold form — O(d·len) per pair)."""
    return (
        pairs.filter(F.levenshtein("sa", "sb", max_dist) >= 0)
        .select(
            F.least("sa", "sb").alias("s_lo"),
            F.greatest("sa", "sb").alias("s_hi"),
            F.levenshtein("sa", "sb").alias("dist"),
        )
    )


def _verified_value_pairs(
    cand: DataFrame, keyed: DataFrame, max_dist: int
) -> DataFrame:
    """(s_lo, s_hi, dist): join the dictionary strings back at
    candidate-pair size and verify."""
    pairs = cand.join(
        keyed.select(
            F.col("vid").alias("vid_a"), F.col("s").alias("sa")
        ),
        "vid_a",
    ).join(
        keyed.select(
            F.col("vid").alias("vid_b"), F.col("s").alias("sb")
        ),
        "vid_b",
    )
    return _verify_string_pairs(pairs, max_dist)


def _fuzzy_matches(
    tagged: DataFrame, max_dist: int, self_mode: bool
) -> DataFrame:
    """Verified (id_a, id_b, s_a, s_b, dist) from the value-pair
    dictionary plus the clone arms. ``tagged`` is (id, side, s)
    with NULLs already dropped. No id-level distinct is needed:
    each id carries exactly one value, so every output row descends
    from exactly one value pair (or the disjoint dist-0 clone
    arm)."""
    vp = _value_pairs(tagged.select("s").distinct(), max_dist)
    # Directed copies: the left/smaller-id member may hold either
    # value of the unordered pair. One explode over a single vp
    # reference, NOT a union of two selects — a union duplicates the
    # whole candidate-generation subtree, and Spark only reuses the
    # leaf exchange, so the hash self-join + levenshtein verify +
    # pair distinct would all execute twice.
    vpd = vp.select(
        "dist",
        F.explode(
            F.array(
                F.struct(
                    F.col("s_lo").alias("s_l"),
                    F.col("s_hi").alias("s_r"),
                ),
                F.struct(
                    F.col("s_hi").alias("s_l"),
                    F.col("s_lo").alias("s_r"),
                ),
            )
        ).alias("_p"),
    ).select("_p.s_l", "_p.s_r", "dist")
    if self_mode:
        ids = tagged.select("id", "s")
        cross = (
            vpd.join(
                ids.select(
                    F.col("id").alias("id_a"), F.col("s").alias("s_l")
                ),
                "s_l",
            )
            .join(
                ids.select(
                    F.col("id").alias("id_b"), F.col("s").alias("s_r")
                ),
                "s_r",
            )
            .filter(F.col("id_a") < F.col("id_b"))
        )
        clones = (
            ids.alias("a")
            .join(ids.alias("b"), "s")
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("s").alias("s_l"),
                F.col("s").alias("s_r"),
                F.lit(0).alias("dist"),
            )
        )
    else:
        lhs = tagged.filter(F.col("side") == 0).select("id", "s")
        rhs = tagged.filter(F.col("side") == 1).select("id", "s")
        cross = vpd.join(
            lhs.select(
                F.col("id").alias("id_a"), F.col("s").alias("s_l")
            ),
            "s_l",
        ).join(
            rhs.select(
                F.col("id").alias("id_b"), F.col("s").alias("s_r")
            ),
            "s_r",
        )
        clones = (
            lhs.alias("a")
            .join(rhs.alias("b"), "s")
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("s").alias("s_l"),
                F.col("s").alias("s_r"),
                F.lit(0).alias("dist"),
            )
        )
    return cross.select(
        "id_a",
        "id_b",
        F.col("s_l").alias("s_a"),
        F.col("s_r").alias("s_b"),
        "dist",
    ).union(
        clones.select(
            "id_a",
            "id_b",
            F.col("s_l").alias("s_a"),
            F.col("s_r").alias("s_b"),
            "dist",
        )
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Record linkage: every (left, right) row pair whose ``str_col``
    values are within Levenshtein distance ``max_dist``.

    Returns (id_a, id_b, s_a, s_b, dist) where a is the left side —
    payload-free (join the ids back for more columns). ids must be
    unique per side: the fan-out joins emit one row per id pair
    only because each id carries one value row — duplicated (id, s)
    input rows would multiply output pairs, not dedup them."""
    lt = left.select(
        F.col(id_col).alias("id"), F.lit(0).alias("side"),
        F.col(str_col).alias("s"),
    ).filter(F.col("s").isNotNull())
    rt = right.select(
        F.col(id_col).alias("id"), F.lit(1).alias("side"),
        F.col(str_col).alias("s"),
    ).filter(F.col("s").isNotNull())
    return _fuzzy_matches(lt.union(rt), max_dist, self_mode=False)


def fuzzy_self_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Near-duplicate value pairs within one table: (id_a, id_b, s_a,
    s_b, dist) with id_a < id_b and levenshtein(s_a, s_b) <=
    max_dist. The dedup-by-name / conform-the-dimension shape.
    ids must be unique (see fuzzy_join)."""
    t = df.select(
        F.col(id_col).alias("id"), F.lit(0).alias("side"),
        F.col(str_col).alias("s"),
    ).filter(F.col("s").isNotNull())
    return _fuzzy_matches(t, max_dist, self_mode=True)
