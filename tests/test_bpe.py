"""Differential tests for queries/bpe.py against an independent
pure-python BPE reference (naive recount-per-iteration trainer + naive
rank-loop encoder — deliberately shares no code with the engine's
incremental trainer or memoized Arrow encoder)."""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_ingestor_gluejob_script_spark.queries._util import load  # noqa: E402
from data_ingestor_gluejob_script_spark.queries.bpe import (  # noqa: E402
    bpe_encode_flat,
    bpe_pack_from_flat,
    bpe_pack_token_stream,
    bpe_token_counts,
    bpe_train,
    load_merges,
    save_merges,
    word_freq_frame,
)

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------- pure-python reference


def ref_words(text):
    if not isinstance(text, str):
        return []
    return [w for w in text.split(" ") if w]


def ref_train(word_freqs, n_merges, min_pair_count=2):
    """Naive trainer: recount every pair from scratch each iteration."""
    vocab = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts = Counter()
        for w, sym in vocab.items():
            f = word_freqs[w]
            for i in range(len(sym) - 1):
                counts[(sym[i], sym[i + 1])] += f
        if not counts:
            break
        best_n = max(counts.values())
        if best_n < max(min_pair_count, 1):
            break
        best = min(p for p, c in counts.items() if c == best_n)
        merges.append(best)
        a, b = best
        for w, sym in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            vocab[w] = out
    return merges


def ref_encode(word, merges):
    """Naive encoder: scan all pairs, merge the lowest-rank present."""
    ranks = {p: i for i, p in enumerate(merges)}
    sym = list(word)
    while len(sym) >= 2:
        cands = [
            (ranks[(sym[i], sym[i + 1])], i)
            for i in range(len(sym) - 1)
            if (sym[i], sym[i + 1]) in ranks
        ]
        if not cands:
            break
        r, _ = min(cands)
        a, b = merges[r]
        out, i = [], 0
        while i < len(sym):
            if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def ref_corpus_freqs(texts):
    c = Counter()
    for t in texts:
        c.update(ref_words(t))
    return dict(c)


# ------------------------------------------------------------- fixtures


def _merges_list(merges_df):
    rows = sorted(merges_df.collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(len(rows)))
    return [(r["left"], r["right"]) for r in rows]


def test_bpe_train_matches_reference_on_crafted_corpus(spark):
    texts = [
        "low low low low low lower lower lowest",
        "new new new newer newer newest widest wide wide",
        "aaaa aaa aa a banana bandana",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = _merges_list(bpe_train(df, n_merges=30, min_pair_count=2))
    want = ref_train(ref_corpus_freqs(texts), 30, 2)
    assert got == want
    assert len(got) > 5  # the corpus actually yields merges


def test_bpe_encode_matches_reference_including_overlaps(spark):
    texts = ["aaaa abab low lowest banana unseen zzz"]
    df = spark.createDataFrame([(0, texts[0])], "doc_id long, text string")
    merges_df = bpe_train(df, n_merges=10, min_pair_count=1)
    merges = _merges_list(merges_df)
    flat = bpe_encode_flat(df, merges_df).collect()
    got: dict[int, list] = {}
    for r in sorted(flat, key=lambda r: (r["doc_id"], r["pos"])):
        got.setdefault(r["doc_id"], []).append(r["token"])
    want = [t for w in ref_words(texts[0]) for t in ref_encode(w, merges)]
    assert got[0] == want
    # positions are a contiguous 0-based run
    assert [r["pos"] for r in sorted(flat, key=lambda r: r["pos"])] == list(
        range(len(flat))
    )


def test_bpe_on_sf0001_documents_differential(spark):
    docs = load(spark, SF_DIR, "documents")
    rows = docs.select("doc_id", "text").collect()
    texts = [r["text"] for r in rows]
    merges_df = bpe_train(docs, n_merges=50)
    merges = _merges_list(merges_df)
    assert merges == ref_train(ref_corpus_freqs(texts), 50, 2)

    # word-frequency frame is exact
    wf = {r["word"]: r["count"] for r in word_freq_frame(docs).collect()}
    assert wf == ref_corpus_freqs(texts)

    # token counts == reference, and == the flat frame's group sizes
    counts = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(docs, merges_df).collect()
    }
    enc_memo = {}
    for r in rows:
        n = 0
        for w in ref_words(r["text"]):
            if w not in enc_memo:
                enc_memo[w] = len(ref_encode(w, merges))
            n += enc_memo[w]
        assert counts[r["doc_id"]] == n
    flat_sizes = Counter(
        r["doc_id"] for r in bpe_encode_flat(docs, merges_df).collect()
    )
    for did, n in counts.items():
        assert flat_sizes.get(did, 0) == n

    # subword stream reconstructs the text (tokens concatenate back to
    # the space-stripped document)
    flat = bpe_encode_flat(docs.limit(20), merges_df).collect()
    per_doc: dict = {}
    for r in sorted(flat, key=lambda r: (r["doc_id"], r["pos"])):
        per_doc.setdefault(r["doc_id"], []).append(r["token"])
    by_id = {r["doc_id"]: r["text"] for r in rows}
    for did, toks in per_doc.items():
        assert "".join(toks) == "".join(ref_words(by_id[did]))


def test_bpe_null_and_empty_text_yield_zero_tokens(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "ok")],
        "doc_id long, text string",
    )
    merges_df = bpe_train(df, n_merges=5, min_pair_count=1)
    counts = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(df, merges_df).collect()
    }
    assert counts[1] == 0 and counts[2] == 0 and counts[3] == 0
    assert counts[4] >= 1
    flat = bpe_encode_flat(df, merges_df).collect()
    assert {r["doc_id"] for r in flat} == {4}


def test_merges_parquet_round_trip_is_the_model_seam(spark, tmp_path):
    """A merge table written to disk loads back and encodes
    identically — the swap seam for an externally-trained tokenizer."""
    df = spark.createDataFrame(
        [(0, "low lower lowest low low")], "doc_id long, text string"
    )
    trained = bpe_train(df, n_merges=8, min_pair_count=1)
    path = str(tmp_path / "merges")
    save_merges(trained, path)
    loaded = load_merges(spark, path)
    assert _merges_list(loaded) == _merges_list(trained)
    a = sorted(
        (r["doc_id"], r["pos"], r["token"])
        for r in bpe_encode_flat(df, trained).collect()
    )
    b = sorted(
        (r["doc_id"], r["pos"], r["token"])
        for r in bpe_encode_flat(df, loaded).collect()
    )
    assert a == b and a


def test_bpe_pack_token_stream_chunks_the_global_stream(spark):
    docs = load(spark, SF_DIR, "documents").limit(40)
    merges_df = bpe_train(docs, n_merges=30)
    merges = _merges_list(merges_df)
    pack = 64
    got = bpe_pack_token_stream(docs, merges_df, pack_tokens=pack).collect()
    # reference stream: docs in doc_id order, concatenated
    rows = sorted(
        docs.select("doc_id", "text").collect(), key=lambda r: r["doc_id"]
    )
    stream = []
    for r in rows:
        for w in ref_words(r["text"]):
            stream.extend(
                (r["doc_id"], t) for t in ref_encode(w, merges)
            )
    want = [
        (i // pack, i % pack, did, tok)
        for i, (did, tok) in enumerate(stream)
    ]
    assert sorted(
        (r["pack_id"], r["pack_pos"], r["doc_id"], r["token"])
        for r in got
    ) == want
    # every pack full except possibly the last
    sizes = Counter(r["pack_id"] for r in got)
    last = max(sizes)
    assert all(sizes[p] == pack for p in sizes if p != last)


@given(
    st.lists(
        st.text(alphabet="abc d", min_size=0, max_size=24),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=0, max_value=12),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_bpe_fuzz_differential(spark, texts, n_merges):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges_df = bpe_train(df, n_merges=n_merges, min_pair_count=1)
    merges = _merges_list(merges_df)
    assert merges == ref_train(ref_corpus_freqs(texts), n_merges, 1)
    flat = bpe_encode_flat(df, merges_df).collect()
    got: dict[int, list] = {}
    for r in sorted(flat, key=lambda r: (r["doc_id"], r["pos"])):
        got.setdefault(r["doc_id"], []).append(r["token"])
    for i, t in enumerate(texts):
        want = [tok for w in ref_words(t) for tok in ref_encode(w, merges)]
        assert got.get(i, []) == want


def test_bpe_vocab_ids_and_id_encoding(spark):
    """Subword vocabulary ids: dense 1-based by (n_occurrences desc,
    token), doc frequencies exact, and the id encoding reproduces the
    token encoding through the id map with OOV -> 0 under v_max
    truncation. All cross-checked against the pure-python reference."""
    from data_ingestor_gluejob_script_spark.queries.bpe import (
        bpe_encode_ids,
        bpe_vocab_with_ids,
    )

    docs = load(spark, SF_DIR, "documents").limit(60)
    rows = docs.select("doc_id", "text").collect()
    merges_df = bpe_train(docs, n_merges=40)
    merges = _merges_list(merges_df)

    # reference: per-doc token streams -> vocab stats
    streams = {
        r["doc_id"]: [
            t for w in ref_words(r["text"]) for t in ref_encode(w, merges)
        ]
        for r in rows
    }
    occ = Counter(t for s in streams.values() for t in s)
    ndocs = Counter(t for s in streams.values() for t in set(s))
    ranked = sorted(occ, key=lambda t: (-occ[t], t))
    want_ids = {t: i + 1 for i, t in enumerate(ranked)}

    v = bpe_vocab_with_ids(docs, merges_df)
    got = {r["token"]: r for r in v.collect()}
    assert {t: r["token_id"] for t, r in got.items()} == want_ids
    for t, r in got.items():
        assert r["n_occurrences"] == occ[t]
        assert r["n_docs"] == ndocs[t]

    # id encoding under a truncated vocab: OOV -> 0, others exact
    v_max = max(3, len(ranked) // 2)
    vocab_cut = bpe_vocab_with_ids(docs, merges_df, v_max=v_max)
    enc = bpe_encode_ids(docs, merges_df, vocab_cut)
    got_ids: dict[int, list] = {}
    for r in sorted(enc.collect(), key=lambda r: (r["doc_id"], r["pos"])):
        got_ids.setdefault(r["doc_id"], []).append(r["token_id"])
    for did, s in streams.items():
        want = [want_ids[t] if want_ids[t] <= v_max else 0 for t in s]
        assert got_ids.get(did, []) == want


def test_bpe_pack_token_stream_excludes_null_id_docs(spark):
    """Review finding (live-repro'd): a NULL-id document's tokens were
    counted into later documents' offsets but dropped from the stream
    by the id join, leaving phantom gaps and underfull packs. NULL-id
    docs are now excluded from offsets AND stream — packs stay exactly
    full."""
    df = spark.createDataFrame(
        [(None, "aa aa ab"), (2, "aa ab ab"), (3, "ab aa")],
        "doc_id bigint, text string",
    )
    merges_df = bpe_train(df, n_merges=2, min_pair_count=1)
    got = bpe_pack_token_stream(df, merges_df, pack_tokens=2).collect()
    assert all(r["doc_id"] is not None for r in got)
    sizes = Counter(r["pack_id"] for r in got)
    last = max(sizes)
    assert all(sizes[p] == 2 for p in sizes if p != last)
    # the stream is gapless: positions 0..n-1 across (pack_id, pack_pos)
    stream = sorted((r["pack_id"], r["pack_pos"]) for r in got)
    assert stream == [(i // 2, i % 2) for i in range(len(got))]


def test_bpe_pack_token_stream_is_single_encode_pass(spark, monkeypatch):
    """The pack stream encodes the corpus EXACTLY once (round-10
    verdict item): (a) the composition calls bpe_encode_flat once —
    the round-10 shape called it twice (counts + flat) — and (b) the
    packed plan contains NO Python map stage, because the flat stream
    is eagerly checkpointed before both consumers; with the encoder
    absent from the plan, no action on the result can re-run it."""
    import data_ingestor_gluejob_script_spark.queries.bpe as bpe_mod

    docs = load(spark, SF_DIR, "documents").limit(20)
    merges_df = bpe_train(docs, n_merges=10)
    calls = []
    real = bpe_mod.bpe_encode_flat

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(bpe_mod, "bpe_encode_flat", counting)
    pack = bpe_mod.bpe_pack_token_stream(docs, merges_df, pack_tokens=32)
    assert calls == [1]
    plan = pack._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed flat stream
    # and the result is still the real pack stream (non-empty, full
    # packs except the last)
    rows = pack.collect()
    assert rows
    sizes = Counter(r["pack_id"] for r in rows)
    last = max(sizes)
    assert all(sizes[p] == 32 for p in sizes if p != last)


def test_bpe_pack_from_flat_token_lake_round_trip(spark, tmp_path):
    """The production single-encode shape: write the flat encode to a
    token lake ONCE, then pack from the lake read — output identical
    to bpe_pack_token_stream on the same corpus, including a NULL-id
    document (excluded from the stream by both paths)."""
    docs = (
        load(spark, SF_DIR, "documents")
        .limit(30)
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [(None, "aa aa ab")], "doc_id bigint, text string"
            )
        )
    )
    merges_df = bpe_train(docs, n_merges=20)
    lake = str(tmp_path / "token_lake")
    bpe_encode_flat(docs, merges_df).write.parquet(lake)
    from_lake = bpe_pack_from_flat(
        spark.read.parquet(lake), pack_tokens=48
    ).collect()
    direct = bpe_pack_token_stream(docs, merges_df, pack_tokens=48).collect()
    key = lambda r: (r["pack_id"], r["pack_pos"], r["doc_id"], r["token"])  # noqa: E731
    assert sorted(map(key, from_lake)) == sorted(map(key, direct))


def test_external_trained_merges_drop_in_through_load_merges(spark, tmp_path):
    """Round-10 verdict item: a tokenizer trained OUTSIDE the engine
    drops in through the merge-table artifact unchanged. The naive
    pure-python trainer (this file's independent reference — shares no
    code with the engine's trainers) learns merges on the sf0.001
    corpus; the merge table is exported by PYARROW directly (not
    save_merges — simulating an external tool writing the documented
    (rank, left, right) parquet format); load_merges ingests it and
    bpe_encode_flat must reproduce the naive encoder token-for-token
    on every document."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = load(spark, SF_DIR, "documents").limit(60)
    texts = [r["text"] for r in docs.select("text").collect()]
    merges = ref_train(ref_corpus_freqs(texts), n_merges=80, min_pair_count=2)
    assert len(merges) > 20  # the corpus actually trains a vocabulary

    path = str(tmp_path / "external_merges.parquet")
    pq.write_table(
        pa.table(
            {
                "rank": pa.array(range(len(merges)), pa.int64()),
                "left": pa.array([a for a, _ in merges], pa.string()),
                "right": pa.array([b for _, b in merges], pa.string()),
            }
        ),
        path,
    )
    loaded = load_merges(spark, path)
    assert _merges_list(loaded) == merges

    flat = bpe_encode_flat(docs, loaded).collect()
    got: dict = {}
    for r in sorted(flat, key=lambda r: (r["doc_id"], r["pos"])):
        got.setdefault(r["doc_id"], []).append(r["token"])
    for r in docs.select("doc_id", "text").collect():
        want = [
            tok for w in ref_words(r["text"]) for tok in ref_encode(w, merges)
        ]
        assert got.get(r["doc_id"], []) == want
