"""Dedup / similarity / text / multimodal operator tests (small, hermetic)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from pagerank_cuda_dynamic_spark.operators.dedup import (
    exact_duplicates,
    dedup_exact,
    fingerprint_duplicates,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from pagerank_cuda_dynamic_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    pairwise_cosine_sql,
)
from pagerank_cuda_dynamic_spark.operators.text import (
    language_id,
    quality_score,
    token_stats,
)
from pagerank_cuda_dynamic_spark.operators.multimodal import (
    extract_features,
    resize_images,
    sample_frames,
    synthesize_media,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),                                   # exact dup of 0
        (2, base + " extra"),                        # near dup of 0
        (3, "completely different text about spark engines and shuffles"),
        (4, "Fox quick the brown: dog lazy the over jumps today away far runs and"),  # fingerprint dup-ish
        (5, "der hund und die katze ist nicht mit dem ball zu spielen"),
        (6, base.upper()),                           # case variant
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_duplicates(spark, docs):
    got = {r["keeper_id"]: r["n_copies"] for r in exact_duplicates(docs).collect()}
    assert got == {0: 2}
    assert dedup_exact(docs).count() == 6


def test_fingerprint_duplicates(spark, docs):
    got = {r["keeper_id"]: r["n_copies"] for r in fingerprint_duplicates(docs).collect()}
    # 0,1,4,6 share the same sorted-token fingerprint
    assert got == {0: 4}


def test_ngram_jaccard(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs        # identical
    assert (0, 2) in pairs        # near dup
    assert (0, 3) not in pairs    # unrelated


def test_minhash_lsh_finds_near_dups(spark, docs):
    cands = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs).collect()}
    assert (0, 1) in cands
    verified = {(r["id_a"], r["id_b"]) for r in minhash_dedup_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in verified
    assert all(a < b for a, b in verified)


def test_simhash_near_duplicates(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_duplicates(docs, max_hamming=8).collect()}
    assert pairs.get((0, 1)) == 0  # identical text → identical simhash
    assert (0, 6) in pairs          # case variant → same tokens after lower()


def _embeddings_df(spark, n=40, dim=8, seed=5):
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m[1] = m[0] + 0.01 * rng.standard_normal(dim).astype(np.float32)  # near dup pair
    pdf = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(m)})
    return spark.createDataFrame(pdf), m


def test_brute_force_topk_matches_numpy(spark):
    df, m = _embeddings_df(spark)
    got = brute_force_topk(df, k=3).toPandas()
    mm = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mm @ mm.T
    np.fill_diagonal(sims, -np.inf)
    for q in range(len(m)):
        want = set(np.argsort(-sims[q])[:3])
        have = set(got[got.query_id == q].neighbor_id)
        assert have == want, q
    # the engineered near-dup is each other's top-1
    top1 = got[(got.query_id == 0)].sort_values("cosine", ascending=False).iloc[0]
    assert top1.neighbor_id == 1


def test_lsh_topk_recovers_near_dup(spark):
    df, _ = _embeddings_df(spark)
    got = lsh_topk(df, k=3, bits=4).toPandas()
    n0 = got[got.query_id == 0]
    assert 1 in set(n0.neighbor_id)  # near-identical vectors collide in LSH


def test_pairwise_cosine_sql(spark):
    df, m = _embeddings_df(spark)
    got = pairwise_cosine_sql(df, min_cosine=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(0, 1)}


def test_language_id(spark, docs):
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert got[0] == "en" and got[3] == "en"
    assert got[5] == "de"


def test_token_stats_and_quality(spark, docs):
    ts = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert ts[0]["n_ws_tokens"] == 14
    assert ts[0]["n_bpe_tokens"] == 14
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    assert all(0.0 <= v <= 1.0 for v in q.values())
    assert q[0] > q[5]  # English stopword-rich beats German text on en-quality


def test_text_scrub_redacts_and_counts(spark):
    from pagerank_cuda_dynamic_spark.operators.text import text_scrub

    rows = [
        (0, "reach me at jane.doe+x@corp.example.org  or   +1 555 0100 999"),
        (1, "server at 192.168.1.17 holds ssn 123-45-6789"),
        (2, "nothing sensitive   here\tjust   whitespace"),
    ]
    got = {
        r["doc_id"]: r
        for r in text_scrub(
            spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        ).collect()
    }
    assert got[0]["clean_text"] == "reach me at <EMAIL> or <PHONE>"
    assert got[0]["n_redactions"] == 2
    assert got[1]["clean_text"] == "server at <IP> holds ssn <SSN>"
    assert got[1]["n_redactions"] == 2
    assert got[2]["clean_text"] == "nothing sensitive here just whitespace"
    assert got[2]["n_redactions"] == 0


def test_chunk_documents_windows(spark):
    from pagerank_cuda_dynamic_spark.operators.text import chunk_documents

    words = [f"w{i}" for i in range(10)]
    rows = [(0, " ".join(words)), (1, "single")]
    out = chunk_documents(
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])),
        chunk_size=4,
        overlap=1,
    ).toPandas()
    d0 = out[out.doc_id == 0].sort_values("chunk_id")
    # starts 1,4,7,10 (stride 3 over 10 tokens)
    assert list(d0.chunk_text) == [
        "w0 w1 w2 w3",
        "w3 w4 w5 w6",
        "w6 w7 w8 w9",
        "w9",
    ]
    assert list(d0.n_tokens) == [4, 4, 4, 1]
    d1 = out[out.doc_id == 1]
    assert len(d1) == 1 and d1.iloc[0].chunk_text == "single"
    # overlap invariant: consecutive chunks share exactly `overlap` tokens
    for a, b in zip(list(d0.chunk_text), list(d0.chunk_text)[1:]):
        assert a.split()[-1:] == b.split()[:1]


def test_multimodal_plumbing(spark):
    media = synthesize_media(spark, n=30)
    feats = extract_features(media).toPandas()
    assert len(feats) == 30 and all(len(f) == 64 for f in feats.features)
    # deterministic: same content → same features
    feats2 = extract_features(media).toPandas()
    assert np.allclose(
        np.stack(feats.sort_values("media_id").features.to_numpy()),
        np.stack(feats2.sort_values("media_id").features.to_numpy()),
    )
    resized = resize_images(media, 32, 32).toPandas()
    assert (resized.width == 32).all() and len(resized) == 10
    frames = sample_frames(media, every_ms=250).toPandas()
    assert len(frames) == 10 * 4  # 1000ms / 250ms per video


def test_ivf_topk_recall(spark):
    from pagerank_cuda_dynamic_spark.operators.similarity import ivf_topk

    df, m = _embeddings_df(spark, n=120, dim=8, seed=5)
    got = ivf_topk(df, k=5, n_cells=4, n_probe=2).toPandas()
    # engineered near-identical pair must find each other (same cell)
    n0 = set(got[got.query_id == 0].neighbor_id)
    assert 1 in n0
    # recall vs brute force: at least half the true top-5 on average
    mm = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mm @ mm.T
    np.fill_diagonal(sims, -np.inf)
    hits = total = 0
    for q in range(len(m)):
        true_top = set(np.argsort(-sims[q])[:5])
        approx = set(got[got.query_id == q].neighbor_id)
        hits += len(true_top & approx)
        total += 5
    assert hits / total > 0.5


def test_ivf_lloyd_refinement(spark):
    """Lloyd-refined IVF is deterministic and does not lose recall vs the
    hash-pick baseline on the same cell/probe budget."""
    from pagerank_cuda_dynamic_spark.operators.similarity import ivf_topk

    df, m = _embeddings_df(spark, n=120, dim=8, seed=5)
    mm = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mm @ mm.T
    np.fill_diagonal(sims, -np.inf)

    def recall(got):
        hits = total = 0
        for q in range(len(m)):
            true_top = set(np.argsort(-sims[q])[:5])
            hits += len(true_top & set(got[got.query_id == q].neighbor_id))
            total += 5
        return hits / total

    base = ivf_topk(df, k=5, n_cells=4, n_probe=2, lloyd_iters=0).toPandas()
    ref = ivf_topk(df, k=5, n_cells=4, n_probe=2, lloyd_iters=2).toPandas()
    ref2 = ivf_topk(df, k=5, n_cells=4, n_probe=2, lloyd_iters=2).toPandas()
    key = ["query_id", "neighbor_id"]
    assert sorted(map(tuple, ref[key].to_numpy())) == sorted(
        map(tuple, ref2[key].to_numpy())
    )
    assert recall(ref) > 0.5
    assert recall(ref) >= recall(base) - 0.05


def test_tfidf_keywords_hand_computed(spark):
    """Terms unique to a doc outscore corpus-wide terms; idf = ln(N/df)."""
    import math

    from pagerank_cuda_dynamic_spark.operators.text import tfidf_keywords

    rows = [
        (0, "alpha alpha alpha shared"),
        (1, "beta shared"),
        (2, "gamma shared"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = tfidf_keywords(docs, top_k=2).toPandas()
    d0 = out[out.doc_id == 0].sort_values("score", ascending=False)
    assert list(d0.term) == ["alpha", "shared"]
    assert abs(d0.iloc[0].score - 3 * math.log(3 / 1)) < 1e-6
    assert d0.iloc[1].score == 0.0  # df = N → idf 0
    assert list(out[out.doc_id == 1].sort_values("score", ascending=False).term) == [
        "beta",
        "shared",
    ]


def test_pack_sequences_invariants(spark):
    """Pack ids are contiguous per shard, start at 0, every pack except
    the last holds ≥ budget tokens counting the straddling doc, and
    assignment is layout-independent."""
    from pagerank_cuda_dynamic_spark.operators.text import pack_sequences

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "doc_id": range(300),
            "text": [" ".join(["w"] * int(rng.integers(5, 60))) for _ in range(300)],
        }
    )
    docs = spark.createDataFrame(pdf)
    out = pack_sequences(docs, token_budget=100, n_shards=4).toPandas()
    out2 = pack_sequences(docs.repartition(11), token_budget=100, n_shards=4).toPandas()
    key = ["doc_id", "shard", "pack_id"]
    assert sorted(map(tuple, out[key].to_numpy())) == sorted(
        map(tuple, out2[key].to_numpy())
    )
    for shard, g in out.groupby("shard"):
        g = g.sort_values("doc_id")
        packs = g.pack_id.to_numpy()
        assert packs[0] == 0
        assert (np.diff(packs) >= 0).all()
        # cumsum-before of the first doc of pack p is >= p*budget
        csum = g.n_tokens.cumsum() - g.n_tokens
        assert (np.floor(csum / 100) == packs).all()


def test_repetition_filter_gates_spam(spark):
    """The injected spam doc (one bigram covering the text) is gated; a
    normal doc passes; metrics match hand computation."""
    from pagerank_cuda_dynamic_spark.operators.text import (
        repetition_filter,
        repetition_stats,
    )

    rows = [
        (0, "the quick brown fox jumps over a lazy dog near the bank today"),
        (1, "buy now buy now buy now buy now"),          # top bigram dominates
        (2, "line one\nline one\nline two"),              # duplicate line
        (3, "word"),                                       # single token edge
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    stats = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # doc 1: 8 tokens, "buy now" appears 4x -> 4*2/8 = 1.0
    assert stats[1]["top_bigram_frac"] == 1.0
    assert stats[1]["dup_token_frac"] == 0.75  # 2 distinct of 8
    # doc 2: 3 lines, 2 distinct -> 1/3 dup
    assert abs(stats[2]["dup_line_frac"] - 1 / 3) < 1e-6
    assert stats[3]["top_bigram_frac"] == 0.0  # no bigram, no crash
    kept = set(
        r["doc_id"]
        for r in repetition_filter(
            docs, max_dup_line_frac=0.3, max_top_bigram_frac=0.5
        ).collect()
    )
    assert 0 in kept and 3 in kept
    assert 1 not in kept and 2 not in kept


def test_contamination_containment_not_jaccard(spark):
    """A long training doc embedding a short eval doc verbatim must be
    flagged (containment 1.0) even though its Jaccard similarity is low;
    unrelated docs survive decontamination."""
    from pagerank_cuda_dynamic_spark.operators.dedup import (
        contamination_flags,
        decontaminate,
    )

    eval_text = "the capital of france is paris"
    padding = " ".join(f"filler{i} token{i} words{i}" for i in range(30))
    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101],
                "text": [
                    padding + " " + eval_text + " " + padding,  # embeds eval doc
                    "completely unrelated text about spark shuffle plans today",
                ],
            }
        )
    )
    heldout = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [eval_text]})
    )
    flags = contamination_flags(train, heldout, threshold=0.5).toPandas()
    assert set(flags.train_id) == {100}
    assert flags.iloc[0].containment == 1.0
    clean = decontaminate(train, heldout, threshold=0.5).toPandas()
    assert set(clean.doc_id) == {101}


def test_sampling_deterministic_under_repartition(spark):
    from pagerank_cuda_dynamic_spark.operators.sampling import (
        split_corpus,
        stratified_sample,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(2000),
            "lang": ["en", "de", "fr", "zh"] * 500,
            "text": ["x"] * 2000,
        }
    )
    docs = spark.createDataFrame(pdf)
    frac = {"en": 1.0, "de": 0.5}
    a = set(stratified_sample(docs, frac).toPandas().doc_id)
    b = set(stratified_sample(docs.repartition(7, "lang"), frac).toPandas().doc_id)
    assert a == b  # pure function of doc_id — layout-independent
    kept = stratified_sample(docs, frac).groupBy("lang").count().toPandas()
    by_lang = dict(zip(kept.lang, kept["count"]))
    assert by_lang["en"] == 500            # fraction 1.0 keeps everything
    assert 150 < by_lang.get("de", 0) < 350  # ~250 expected
    assert "fr" not in by_lang and "zh" not in by_lang

    s = split_corpus(docs, 0.1, 0.1).toPandas()
    assert set(s.split) == {"train", "val", "test"}
    assert len(s) == 2000  # partition of the corpus, nothing dropped
    s2 = split_corpus(docs.repartition(13), 0.1, 0.1).toPandas()
    assert dict(zip(s.doc_id, s.split)) == dict(zip(s2.doc_id, s2.split))
    counts = s.split.value_counts()
    assert 120 < counts["val"] < 280 and 120 < counts["test"] < 280


def test_dedup_clusters_transitive(spark):
    """Chains A~B~C collapse to one keeper even though A and C never
    paired; disjoint clusters keep separate keepers."""
    import pandas as pd
    from pagerank_cuda_dynamic_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]})
    )
    got = dedup_clusters(pairs).toPandas()
    assert dict(zip(got.doc_id, got.keeper_id)) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_brute_force_topk_chunked_blocks(spark):
    """Block-streamed queries (driver holds one block at a time) must give
    the same result as a single block, including float64 oracle mode."""
    df, m = _embeddings_df(spark)
    one = brute_force_topk(df, k=3, dtype=np.float64).toPandas()
    blocked = brute_force_topk(df, k=3, query_block=3, dtype=np.float64).toPandas()
    key = lambda p: sorted(map(tuple, p[["query_id", "neighbor_id", "cosine"]].to_numpy()))
    assert key(one) == key(blocked)


def test_extract_features_rejects_narrow_dim(spark):
    import pytest as _pytest

    from pagerank_cuda_dynamic_spark.operators.multimodal import extract_features

    media = spark.createDataFrame(
        [(1, "image", "image/bmp", b"x")],
        "media_id long, kind string, mime string, content binary",
    )
    with _pytest.raises(ValueError, match="feat_dim"):
        extract_features(media, feat_dim=16)


def test_simhash_chunk_boundaries_do_not_change_hashes(spark, docs, monkeypatch):
    """The memory-bounded chunked vote kernel must yield byte-identical
    hashes when documents are forced to split across many tiny chunks."""
    import pagerank_cuda_dynamic_spark.operators.dedup as dd

    base = dd.simhash_64(docs).toPandas().set_index("id")["simhash"].to_dict()
    monkeypatch.setattr(dd, "SIMHASH_CHUNK_TOKENS", 3)
    tiny = dd.simhash_64(docs).toPandas().set_index("id")["simhash"].to_dict()
    assert base == tiny and len(base) == 7


def test_band_exprs_pigeonhole_holds_past_hamming_3(spark):
    """Two hashes differing in 5 bits spread one-per-16-bit-chunk defeat the
    old fixed 4x16 banding (every chunk differs -> pair silently dropped);
    the derived max_hamming+1 banding must still produce a candidate."""
    import pandas as pd
    import pyspark.sql.functions as F
    from pagerank_cuda_dynamic_spark.operators.dedup import _band_exprs

    h_b = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48) | (1 << 63)
    h_b -= 1 << 64  # two's complement into a Spark long
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.array([0, 1]), "h": np.array([0, h_b], dtype=np.int64)})
    )

    def n_matching_bands(nbands):
        ch = df.select("id", _band_exprs("h", nbands).alias("cc")).select(
            "id", "cc.chunk", "cc.ckey"
        )
        a = ch.select(F.col("id").alias("ia"), "chunk", "ckey")
        b = ch.select(F.col("id").alias("ib"), "chunk", "ckey")
        return a.join(b, ["chunk", "ckey"]).where("ia < ib").count()

    assert n_matching_bands(4) == 0   # the old layout's blind spot
    assert n_matching_bands(6) >= 1   # hamming 5 <= nbands-1 -> guaranteed


def test_brute_force_topk_single_partition_fast_path(spark):
    """The one-partition self top-k shortcut (single job, no merge window)
    must agree exactly with the general multi-partition path, including
    when the in-task GEMM is query-chunked."""
    df, _ = _embeddings_df(spark, n=30)
    one = df.coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    many = df.repartition(4)
    a = brute_force_topk(one, k=3, dtype=np.float64).toPandas()
    b = brute_force_topk(many, k=3, dtype=np.float64).toPandas()
    c = brute_force_topk(one, k=3, dtype=np.float64, query_block=7).toPandas()
    key = ["query_id", "cosine", "neighbor_id"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    c = c.sort_values(key).reset_index(drop=True)
    assert a.equals(b) and a.equals(c) and len(a) == 90


# ---------------------------------------------------------------------------
# temporal: sessionize / session_stats / asof_join
# ---------------------------------------------------------------------------


def _events_df(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: two sessions split by a 3600s gap (gap=1800)
        (1, 1, base, "view", 1.0),
        (2, 1, base + dt.timedelta(seconds=100), "click", 2.0),
        (3, 1, base + dt.timedelta(seconds=100 + 3601), "click", 3.0),
        # user 2: single session, boundary-exact gap (1800s is NOT > gap)
        (4, 2, base, "view", 1.0),
        (5, 2, base + dt.timedelta(seconds=1800), "purchase", 9.5),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "event_type", "value"])
    )


def test_sessionize_gap_boundaries(spark):
    from pagerank_cuda_dynamic_spark.operators.temporal import sessionize

    s = sessionize(_events_df(spark), gap_seconds=1800).toPandas()
    seq = dict(zip(s.event_id, s.session_seq))
    assert seq[1] == 1 and seq[2] == 1 and seq[3] == 2  # 3601s > gap splits
    assert seq[4] == 1 and seq[5] == 1  # exactly-gap does NOT split


def test_session_stats_aggregates(spark):
    from pagerank_cuda_dynamic_spark.operators.temporal import session_stats

    st = session_stats(_events_df(spark), gap_seconds=1800).toPandas()
    st = st.set_index(["user_id", "session_seq"])
    assert st.loc[(1, 1), "n_events"] == 2
    assert st.loc[(1, 1), "duration_sec"] == 100.0
    assert st.loc[(1, 2), "n_events"] == 1
    assert st.loc[(2, 1), "duration_sec"] == 1800.0
    assert st.loc[(2, 1), "n_event_types"] == 2


def test_asof_join_backward_semantics(spark):
    """Equal-ts right rows match (<=); rows before any right row get null;
    the LATEST right row at or before each left ts wins."""
    import datetime as dt

    from pagerank_cuda_dynamic_spark.operators.temporal import asof_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": [1, 2, 3, 4],
                "user_id": [1, 1, 1, 2],
                "ts": [
                    base,                                 # before any right -> null
                    base + dt.timedelta(seconds=50),      # == right ts -> 10.0
                    base + dt.timedelta(seconds=500),     # after both -> 20.0
                    base + dt.timedelta(seconds=500),     # other key -> null
                ],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1, 1],
                "ts": [base + dt.timedelta(seconds=50), base + dt.timedelta(seconds=100)],
                "value": [10.0, 20.0],
            }
        )
    )
    out = asof_join(left, right).toPandas().set_index("event_id")
    assert pd.isna(out.loc[1, "value_asof"])
    assert out.loc[2, "value_asof"] == 10.0
    assert out.loc[3, "value_asof"] == 20.0
    assert pd.isna(out.loc[4, "value_asof"])
    assert len(out) == 4  # left rows preserved exactly


# ---------------------------------------------------------------------------
# line_dedup / token_vocabulary
# ---------------------------------------------------------------------------


def test_line_dedup_strips_cross_corpus_boilerplate(spark):
    from pagerank_cuda_dynamic_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "unique first line\nshared footer line\nunique last line",
                    "another doc body\nshared footer line",
                    "shared footer line\nSHARED FOOTER LINE",  # only boilerplate (case-insens)
                ],
            }
        )
    )
    out = line_dedup(docs, max_doc_occurrences=1).toPandas().set_index("doc_id")
    assert out.loc[1, "text"] == "unique first line\nunique last line"  # order kept
    assert out.loc[2, "text"] == "another doc body"
    assert out.loc[3, "text"] == ""  # fully-boilerplate doc survives as empty
    assert len(out) == 3


def test_line_dedup_short_lines_pass_through(spark):
    """Blank/short lines are unkeyed: they never count as boilerplate even
    when every doc contains them (they'd all collide on a handful of keys)."""
    from pagerank_cuda_dynamic_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["alpha body text\n\n- x", "beta body text\n\n- x"],
            }
        )
    )
    out = line_dedup(docs, max_doc_occurrences=1).toPandas().set_index("doc_id")
    assert out.loc[1, "text"] == "alpha body text\n\n- x"
    assert out.loc[2, "text"] == "beta body text\n\n- x"


def test_token_vocabulary_deterministic_boundary(spark):
    from pagerank_cuda_dynamic_spark.operators.text import token_vocabulary

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["aa bb cc aa", "bb dd cc"],
            }
        )
    )
    out = token_vocabulary(docs, top_n=3).toPandas()
    # tf: aa=2 bb=2 cc=2 dd=1; top-3 tie broken by token asc -> aa, bb, cc
    assert list(out.token) == ["aa", "bb", "cc"]
    assert list(out.tf) == [2, 2, 2]
    assert dict(zip(out.token, out.df))["aa"] == 1
    assert dict(zip(out.token, out.df))["bb"] == 2


def test_dsir_importance_prefers_targetlike_docs(spark):
    from pagerank_cuda_dynamic_spark.operators.sampling import dsir_importance

    rows = [
        (1, "alpha beta gamma alpha beta", "t"),
        (2, "alpha gamma beta gamma", "t"),
        (3, "alpha beta gamma", "p"),  # target-like pool doc
        (4, "xray yankee zulu xray", "p"),  # pool-common doc
        (5, "xray zulu yankee", "p"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    s = dsir_importance(docs, F.col("grp") == "t")
    d = {r.doc_id: r.dsir_score for r in s.collect()}
    # only pool docs are scored
    assert set(d) == {3, 4, 5}
    # per-token importance: the target-like doc dominates the pool-common one
    assert d[3] / 3 > d[4] / 4
    # exact integers => bit-identical under any layout
    s2 = dsir_importance(docs.repartition(7), F.col("grp") == "t")
    assert {r.doc_id: r.dsir_score for r in s2.collect()} == d


def test_dsir_resample_deterministic_topn(spark):
    from pagerank_cuda_dynamic_spark.operators.sampling import (
        dsir_importance,
        dsir_resample,
    )

    rows = [(i, "alpha beta" if i % 3 == 0 else "zulu yankee", "p") for i in range(30)]
    rows += [(100, "alpha beta alpha", "t"), (101, "beta alpha beta", "t")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    top = dsir_resample(docs, F.col("grp") == "t", n=5)
    got = [(r.doc_id, r.dsir_score) for r in top.collect()]
    assert len(got) == 5
    # top-n must equal the head of the full scored list under the same order
    full = sorted(
        ((r.doc_id, r.dsir_score) for r in dsir_importance(docs, F.col("grp") == "t").collect()),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == full[:5]
    # every selected doc is target-like (alpha/beta multiples of 3)
    assert all(i % 3 == 0 for i, _ in got)


def test_kmv_distinct_accuracy_and_exactness(spark):
    from pagerank_cuda_dynamic_spark.operators.sketches import kmv_distinct

    # exact regime: fewer distinct values than k
    small = spark.range(50).selectExpr("CAST(id AS STRING) AS s")
    r = kmv_distinct(small, "s", k=256).collect()[0]
    assert r.n_sketch == 50 and r.estimate == 50
    # estimate regime: 20k distincts, k=256 -> ~6% rel. std. error
    big = spark.range(20000).selectExpr("CAST(id * 7 AS STRING) AS s")
    est = kmv_distinct(big, "s", k=256).collect()[0].estimate
    assert abs(est - 20000) / 20000 < 0.2
    # layout independence
    est2 = kmv_distinct(big.repartition(13), "s", k=256).collect()[0].estimate
    assert est2 == est


def test_kmv_merge_property(spark):
    from pagerank_cuda_dynamic_spark.operators.sketches import kmv_distinct

    a = spark.range(0, 6000).selectExpr("CAST(id AS STRING) AS s")
    b = spark.range(3000, 9000).selectExpr("CAST(id AS STRING) AS s")
    # sketch of the union == sketch computed on concatenated inputs
    u1 = kmv_distinct(a.union(b), "s", k=128).collect()[0]
    u2 = kmv_distinct(b.union(a), "s", k=128).collect()[0]
    assert (u1.kth_hash, u1.estimate) == (u2.kth_hash, u2.estimate)
    assert abs(u1.estimate - 9000) / 9000 < 0.25


def test_kmv_distinct_by_groups(spark):
    from pagerank_cuda_dynamic_spark.operators.sketches import kmv_distinct_by

    df = spark.range(5000).selectExpr(
        "CAST(id % 3 AS STRING) AS g", "CAST(id AS STRING) AS s"
    )
    rows = {r.g: r for r in kmv_distinct_by(df, "g", "s", k=64).collect()}
    assert set(rows) == {"0", "1", "2"}
    for g, r in rows.items():
        true = len([i for i in range(5000) if i % 3 == int(g)])
        assert abs(r.estimate - true) / true < 0.35


def test_duplicate_window_stats_flags_shared_spans(spark):
    from pagerank_cuda_dynamic_spark.operators.dedup import duplicate_window_stats

    span = " ".join(f"tok{i}" for i in range(12))
    rows = [
        (1, "intro words here " + span + " tail one"),
        (2, "other beginning " + span + " different ending entirely"),
        (3, "completely unrelated text with plenty of words to form windows "
            "and then some more filler words continuing on"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_windows, r.n_dup_windows)
           for r in duplicate_window_stats(docs, window=8).collect()}
    # docs 1+2 share the 12-token span -> 12-8+1 = 5 shared 8-windows
    assert out[1][1] >= 5 and out[2][1] >= 5
    assert out[3][1] == 0
    # every window of doc 3 counted
    n3 = len(rows[2][1].split()) - 8 + 1
    assert out[3][0] == n3
    # short doc (< window tokens) contributes no rows
    short = spark.createDataFrame([(9, "too short")], "doc_id long, text string")
    assert duplicate_window_stats(docs.union(short), window=8).where(
        "doc_id = 9"
    ).count() == 0


def test_dedup_representatives_keeps_best_quality(spark):
    """Per cluster the survivor is the highest-quality member (NOT the min
    id); ties break to the smaller id; unpaired docs survive as singleton
    clusters."""
    from pagerank_cuda_dynamic_spark.operators.dedup import dedup_representatives

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 10, 11, 99],
                # cluster {1,2,3}: best is 3; cluster {10,11}: tie -> 10
                "quality": [0.2, 0.5, 0.9, 0.7, 0.7, 0.4],
            }
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]})
    )
    got = {
        r.cluster_id: (r.rep_id, r.rep_q_key, r.n_members)
        for r in dedup_representatives(docs, pairs).collect()
    }
    assert got == {
        1: (3, 900000, 3),
        10: (10, 700000, 2),
        99: (99, 400000, 1),
    }


def test_dedup_representatives_integer_key_rounding(spark):
    """The ranking key is round(quality*1e6) — quality differences below
    5e-7 collapse to a tie and the id breaks it."""
    from pagerank_cuda_dynamic_spark.operators.dedup import dedup_representatives

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [5, 6], "quality": [0.5000001, 0.5000002]})
    )
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [5], "id_b": [6]}))
    got = dedup_representatives(docs, pairs).collect()
    assert len(got) == 1 and got[0].rep_id == 5 and got[0].rep_q_key == 500000


def test_lm_score_hand_computed(spark):
    """Tiny corpus checked against hand-computed Laplace bigram logprobs:
    uni a=3 b=2, V=2, c('a b')=2, c('b a')=1."""
    import math

    from pagerank_cuda_dynamic_spark.operators.text import lm_score

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b a", "a b", "x"]})
    )
    got = {r.doc_id: (r.n_bigrams, r.avg_logprob) for r in lm_score(docs).collect()}
    lp_ab = math.log((2 + 1.0) / (3 + 3))  # V=3 (a, b, x)
    lp_ba = math.log((1 + 1.0) / (2 + 3))
    assert got[1] == (2, round((lp_ab + lp_ba) / 2, 6))
    assert got[2] == (1, round(lp_ab, 6))
    assert got[3] == (0, None)  # single token: no bigrams, nothing to judge


def test_lm_score_python_oracle_random(spark):
    """Random word soup vs a pure-Python replica of the smoothed bigram LM."""
    import math
    from collections import Counter

    from pagerank_cuda_dynamic_spark.operators.text import lm_score

    rng = np.random.default_rng(3)
    words = ["alpha", "beta", "gamma", "delta", "x1"]
    texts = [
        " ".join(rng.choice(words, size=rng.integers(1, 12)))
        for _ in range(40)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(40), "text": texts})
    )
    toks = [t.split() for t in texts]
    uni = Counter(w for tk in toks for w in tk)
    bg = Counter((tk[i], tk[i + 1]) for tk in toks for i in range(len(tk) - 1))
    V = len(uni)
    want = {}
    for i, tk in enumerate(toks):
        lps = [
            math.log((bg[(tk[j], tk[j + 1])] + 1.0) / (uni[tk[j]] + V))
            for j in range(len(tk) - 1)
        ]
        want[i] = (len(lps), round(sum(lps) / len(lps), 6) if lps else None)
    got = {r.doc_id: (r.n_bigrams, r.avg_logprob) for r in lm_score(docs).collect()}
    assert got == want


def test_lm_score_common_bigrams_score_higher(spark):
    """A doc made of the corpus's dominant bigram outscores a doc of
    one-off bigrams — the filter's point."""
    from pagerank_cuda_dynamic_spark.operators.text import lm_score

    common = "the cat " * 20
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [common, "zq wv kj ml pn br"],
            }
        )
    )
    got = {r.doc_id: r.avg_logprob for r in lm_score(docs).collect()}
    assert got[1] > got[2]


def test_dedup_representatives_null_quality_ranks_last(spark):
    """A NULL-quality member must never beat a scored one (NULLS LAST,
    matching the SQL oracle's ORDER BY q_key DESC); an all-NULL cluster
    falls back to the smallest id with NULL rep_q_key."""
    from pagerank_cuda_dynamic_spark.operators.dedup import dedup_representatives

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 7, 8], "quality": [0.9, None, None, None]}
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 7], "id_b": [2, 8]})
    )
    got = {
        r.cluster_id: (r.rep_id, r.rep_q_key, r.n_members)
        for r in dedup_representatives(docs, pairs).collect()
    }
    assert got == {1: (1, 900000, 2), 7: (7, None, 2)}


def test_source_overlap_hand_computed(spark):
    """Three sources: A and B share one trigram doc; C is disjoint — the
    matrix reports the shared-shingle count and exact Jaccard."""
    from pagerank_cuda_dynamic_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "source": ["A", "B", "A", "C"],
                "text": [
                    "the quick brown fox",   # A: shingles {the quick brown, quick brown fox}
                    "the quick brown fox",   # B: same two
                    "jumps over lazy dogs",  # A extra: {jumps over lazy, over lazy dogs}
                    "totally different words here",  # C
                ],
            }
        )
    )
    got = {
        (r.source_a, r.source_b): (r.n_shared, r.jaccard)
        for r in source_overlap(docs).collect()
    }
    # A has 4 distinct shingles, B has 2, shared = 2 → j = 2/(4+2-2) = 0.5
    assert got[("A", "B")] == (2, 0.5)
    assert ("A", "C") not in got and ("B", "C") not in got  # zero overlap


def test_source_overlap_cap_excludes_ubiquitous_shingle(spark):
    """A shingle present in EVERY source is dropped by max_source_df
    before the pair join (sizes stay exact, jaccard becomes the
    documented lower bound)."""
    from pagerank_cuda_dynamic_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "source": ["A", "B", "C"],
                "text": ["common boiler plate"] * 3,
            }
        )
    )
    full = {
        (r.source_a, r.source_b): r.n_shared
        for r in source_overlap(docs).collect()
    }
    capped = source_overlap(docs, max_source_df=2).collect()
    assert full == {("A", "B"): 1, ("A", "C"): 1, ("B", "C"): 1}
    assert capped == []  # the only shingle has source-df 3 > 2


def test_bftopk_partials_scratch_reaped_at_interpreter_exit():
    """The blocked brute_force_topk path writes partial parquet to a temp
    dir the returned DataFrame reads LAZILY — so cleanup can only happen at
    interpreter exit.  _partials_scratch must register that reaper.
    Sparkless subprocess drive (mirrors the pagerank_bsp scratch test)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    probe = (
        "import sys; sys.path.insert(0, %r)\n"
        "import os\n"
        "from pagerank_cuda_dynamic_spark.operators.similarity import _partials_scratch\n"
        "d = _partials_scratch()\n"
        "open(os.path.join(d, 'part-0.parquet'), 'wb').write(b'x')\n"
        "print(d)\n" % str(repo)
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True
    )
    d = out.stdout.strip().splitlines()[-1]
    assert not os.path.exists(d), "bftopk partials dir survived interpreter exit"


def test_bftopk_partials_scratch_one_exit_hook():
    """_partials_scratch adds its dirs to pagerank_bsp's scratch registry
    instead of one atexit callback per call: 100 calls leave the exit list
    flat, and every dir is still reaped at interpreter exit."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    probe = (
        "import sys, atexit, json; sys.path.insert(0, %r)\n"
        "from pagerank_cuda_dynamic_spark.operators.similarity import _partials_scratch\n"
        "dirs = [_partials_scratch()]\n"
        "hooks = atexit._ncallbacks()\n"
        "dirs += [_partials_scratch() for _ in range(99)]\n"
        "print(json.dumps([hooks, atexit._ncallbacks(), dirs]))\n" % str(repo)
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True
    )
    before, after, dirs = json.loads(out.stdout.strip().splitlines()[-1])
    assert after == before
    assert len(set(dirs)) == 100
    assert not any(os.path.exists(d) for d in dirs), "a partials dir survived exit"


def test_interleave_sources_exact_stride_order(spark):
    from pagerank_cuda_dynamic_spark.operators.sampling import (
        interleave_sources,
    )

    docs = spark.createDataFrame(
        [(i, "A") for i in range(4)] + [(10 + i, "B") for i in range(2)],
        "doc_id long, source string",
    )
    weights = spark.createDataFrame([("A", 2), ("B", 1)], "source string, w int")
    out = interleave_sources(docs, weights)
    rows = out.orderBy("vt", "source", "k").collect()
    # A emits at vt 500000,1000000,1500000,2000000; B at 1000000,2000000;
    # ties break by source name then k — evenly spread, not front-loaded
    assert [(r.doc_id, r.source) for r in rows] == [
        (0, "A"), (1, "A"), (10, "B"), (2, "A"), (3, "A"), (11, "B"),
    ]
    assert [r.vt for r in rows] == [
        500000, 1000000, 1000000, 1500000, 2000000, 2000000,
    ]
    # layout invariance
    rows2 = interleave_sources(docs.repartition(5), weights).orderBy(
        "vt", "source", "k"
    ).collect()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows]


def test_interleave_sources_rejects_bad_inputs(spark):
    from pagerank_cuda_dynamic_spark.operators.sampling import (
        interleave_sources,
    )

    docs = spark.createDataFrame(
        [(0, "A"), (1, "B")], "doc_id long, source string"
    )
    only_a = spark.createDataFrame([("A", 1)], "source string, w int")
    with pytest.raises(ValueError, match="no weight row"):
        interleave_sources(docs, only_a)
    zero_w = spark.createDataFrame(
        [("A", 1), ("B", 0)], "source string, w int"
    )
    with pytest.raises(ValueError, match="not positive"):
        interleave_sources(docs, zero_w)


def test_embedding_centroids_exact(spark):
    from pagerank_cuda_dynamic_spark.operators.similarity import (
        embedding_centroids,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0], "a"), (1, [3.0, 4.0], "a"), (2, [10.0, 0.0], "b")],
        "vec_id long, embedding array<float>, label string",
    )
    rows = {
        (r.label, r.dim): (r.centroid, r.n)
        for r in embedding_centroids(emb).collect()
    }
    assert rows == {
        ("a", 0): (2.0, 2), ("a", 1): (3.0, 2),
        ("b", 0): (10.0, 1), ("b", 1): (0.0, 1),
    }


def test_gram_covariance_matches_numpy(spark):
    from pagerank_cuda_dynamic_spark.operators.similarity import (
        gram_covariance,
    )

    rng = np.random.default_rng(5)
    X = rng.normal(size=(40, 6)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    got = {(r.i, r.j): r.cov for r in gram_covariance(emb).collect()}
    C = np.cov(X.astype(np.float64).T, bias=True)  # population covariance
    for (i, j), v in got.items():
        assert j >= i
        assert abs(v - C[i, j]) < 1e-9, (i, j)
    assert len(got) == 6 * 7 // 2
    # raw Gram mode and layout invariance
    raw = {(r.i, r.j): r.cov for r in
           gram_covariance(emb.repartition(7), center=False).collect()}
    G = (X.astype(np.float64).T @ X.astype(np.float64)) / 40
    for (i, j), v in raw.items():
        assert abs(v - G[i, j]) < 1e-9


def test_pca_project_matches_numpy(spark):
    from pagerank_cuda_dynamic_spark.operators.similarity import pca_project

    rng = np.random.default_rng(7)
    # anisotropic cloud: variance concentrated on a known direction
    base = rng.normal(size=(60, 4))
    base[:, 0] *= 10.0
    X = base.astype(np.float32)
    emb = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    got = pca_project(emb, k=2).toPandas()
    P = got.pivot(index="vec_id", columns="comp", values="value").to_numpy()

    Xd = X.astype(np.float64)
    C = np.cov(Xd.T, bias=True)
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:2]
    W = vecs[:, order]
    for c in range(2):
        m = np.argmax(np.abs(W[:, c]))
        if W[m, c] < 0:
            W[:, c] = -W[:, c]
    want = Xd @ W
    assert np.allclose(P, want, atol=1e-6)
    # component 0 carries the dominant (scaled) axis' variance
    assert P[:, 0].var() > 5 * P[:, 1].var()


def test_remove_duplicate_spans_all_but_first(spark):
    from pagerank_cuda_dynamic_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    boiler = "alpha beta gamma delta"  # 4 tokens = one window at w=4
    docs = spark.createDataFrame(
        [
            (0, f"unique zero text {boiler}"),
            (1, f"{boiler} plus own words here"),
            (2, "totally unrelated content words"),
            (3, boiler),
        ],
        "doc_id long, text string",
    )
    res = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(docs, window=4).collect()
    }
    # doc 0 holds the (id,pos)-minimal occurrence — keeps the span
    assert res[0] == ("unique zero text alpha beta gamma delta", 7, 0)
    # later occurrences lose exactly the boilerplate tokens
    assert res[1] == ("plus own words here", 8, 4)
    assert res[2] == ("totally unrelated content words", 4, 0)
    assert res[3] == ("", 4, 4)


def test_remove_duplicate_spans_overlap_and_layout(spark):
    from pagerank_cuda_dynamic_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    # two overlapping duplicated windows cover a 5-token span; coverage is
    # the UNION of windows, not double-counted
    docs = spark.createDataFrame(
        [
            (0, "a b c d e tail0"),
            (1, "head1 a b c d e"),
        ],
        "doc_id long, text string",
    )
    res = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in remove_duplicate_spans(docs, window=4).collect()
    }
    assert res[0] == ("a b c d e tail0", 0)
    assert res[1] == ("head1", 5)
    # deterministic under relayout
    res2 = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in remove_duplicate_spans(
            docs.repartition(5), window=4
        ).collect()
    }
    assert res2 == res


def test_funnel_steps_strict_order(spark):
    from datetime import datetime as DT

    from pagerank_cuda_dynamic_spark.operators.temporal import funnel_steps

    t = lambda m: DT(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: view BEFORE signup must not count; first view after does
        (1, "view", t(1)), (1, "signup", t(5)), (1, "view", t(9)),
        (1, "click", t(7)),  # click before the qualifying view: ignored
        (1, "click", t(12)),
        # user 2: signup only
        (2, "signup", t(3)),
        # user 3: full funnel in order, duplicates keep the earliest
        (3, "signup", t(1)), (3, "view", t(2)), (3, "view", t(4)),
        (3, "click", t(6)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        (r.user_id, r.step_idx): (r.step, r.step_ts)
        for r in funnel_steps(ev, ["signup", "view", "click"]).collect()
    }
    assert got == {
        (1, 0): ("signup", t(5)), (1, 1): ("view", t(9)), (1, 2): ("click", t(12)),
        (2, 0): ("signup", t(3)),
        (3, 0): ("signup", t(1)), (3, 1): ("view", t(2)), (3, 2): ("click", t(6)),
    }


def test_retention_cohorts_counts(spark):
    from datetime import datetime as DT

    from pagerank_cuda_dynamic_spark.operators.temporal import (
        retention_cohorts,
    )

    d = lambda day, h=12: DT(2024, 1, day, h)  # noqa: E731
    rows = [
        (1, d(1)), (1, d(1, 23)), (1, d(2)), (1, d(4)),
        (2, d(1)), (2, d(3)),
        (3, d(2)), (3, d(3)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r.cohort_day), r.day_offset): r.n_users
        for r in retention_cohorts(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,  # users 1, 2 (same-day repeats dedup)
        ("2024-01-01", 1): 1,  # user 1
        ("2024-01-01", 2): 1,  # user 2
        ("2024-01-01", 3): 1,  # user 1
        ("2024-01-02", 0): 1,  # user 3
        ("2024-01-02", 1): 1,  # user 3
    }


def test_bloom_prefilter_output_identical_to_broadcast(spark):
    """contamination_flags(prefilter='bloom') must return row-identical
    flags to the broadcast prefilter — bloom false positives die in the
    exact string join.  Run once at the default fpp and once at an
    absurdly lossy fpp=0.5 (forcing many false positives through the
    stage-1 prune) to prove the exact-rescan contract, not luck."""
    from pagerank_cuda_dynamic_spark.operators.dedup import contamination_flags

    eval_text = "the capital of france is paris and the seine flows there"
    docs = {
        100: "padding words " + eval_text + " trailing tokens here",
        101: "completely unrelated text about spark shuffle plans today",
        102: " ".join(f"tok{i} word{i}" for i in range(40)),
        103: eval_text,
    }
    train = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    heldout = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [eval_text]})
    )
    want = sorted(
        map(tuple, contamination_flags(train, heldout, threshold=0.5).collect())
    )
    for fpp in (0.01, 0.5):
        got = sorted(
            map(
                tuple,
                contamination_flags(
                    train, heldout, threshold=0.5, prefilter="bloom", bloom_fpp=fpp
                ).collect(),
            )
        )
        assert got == want
    assert {t[0] for t in want} == {100, 103}


def test_bloom_prefilter_unknown_mode_raises(spark):
    from pagerank_cuda_dynamic_spark.operators.dedup import contamination_flags

    train = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b c d"]}))
    with pytest.raises(ValueError, match="prefilter"):
        contamination_flags(train, train, prefilter="nope").collect()


def test_temperature_sample_limits_and_balance(spark):
    """alpha=1 keeps the natural distribution (everything); alpha=0
    equalizes expected stratum masses to ~n_min each; NULL strata drop
    and do not poison n_min; alpha outside [0,1] raises."""
    from pagerank_cuda_dynamic_spark.operators.sampling import temperature_sample

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(1300, dtype=np.int64),
            "lang": ["en"] * 1000 + ["de"] * 250 + ["fr"] * 40 + [None] * 10,
        }
    )
    docs = spark.createDataFrame(pdf)
    full = temperature_sample(docs, alpha=1.0).toPandas()
    # every non-null row survives at alpha=1 (rate exactly 1.0 each)
    assert len(full) == 1290 and full["lang"].notna().all()

    bal = temperature_sample(docs, alpha=0.0).toPandas()
    got = bal.groupby("lang").size()
    # expected kept mass = n_min = 40 per stratum; the id-mix predicate
    # is uniform-ish, allow a wide deterministic band
    assert got["fr"] == 40
    assert 15 <= got["en"] <= 70 and 15 <= got["de"] <= 70

    # deterministic under relayout
    again = temperature_sample(
        docs.repartition(7), alpha=0.0
    ).toPandas()
    assert sorted(again["doc_id"]) == sorted(bal["doc_id"])

    with pytest.raises(ValueError, match="alpha"):
        temperature_sample(docs, alpha=1.5)


def test_quantize_embeddings_roundtrip_and_edge_cases(spark):
    """Dequantization error bounded by scale/2 per element; constant
    vectors quantize to all-zero codes with scale 0; codes stay in
    0..255; deterministic under relayout."""
    from pagerank_cuda_dynamic_spark.operators.similarity import (
        quantize_embeddings,
    )

    rng = np.random.default_rng(11)
    vecs = [rng.normal(size=16).astype(np.float32).tolist() for _ in range(20)]
    vecs.append([0.25] * 16)  # constant vector: scale 0
    pdf = pd.DataFrame({"vec_id": np.arange(21, dtype=np.int64), "embedding": vecs})
    emb = spark.createDataFrame(pdf)
    out = quantize_embeddings(emb).toPandas()
    assert len(out) == 21 * 16
    assert out["q"].between(0, 255).all()
    const = out[out["id"] == 20]
    assert (const["q"] == 0).all() and (const["scale"] == 0.0).all()
    # roundtrip: |x - (zero + q*scale)| <= scale/2 (+ rounding slack on
    # the 6-dp zero/scale columns)
    x = np.array([vecs[r.id][r.dim] for r in out.itertuples()], dtype=np.float64)
    xhat = out["zero"].to_numpy() + out["q"].to_numpy() * out["scale"].to_numpy()
    err = np.abs(x - xhat)
    # slack: zero rounded to 6 dp (5e-7) plus q·Δscale with q ≤ 255
    bound = out["scale"].to_numpy() / 2 + 5e-7 + 255 * 5e-7
    assert (err <= bound).all()
    again = quantize_embeddings(emb.repartition(5)).toPandas()
    a = out.sort_values(["id", "dim"]).reset_index(drop=True)
    b = again.sort_values(["id", "dim"]).reset_index(drop=True)
    assert a.equals(b)


def test_quality_filter_per_stratum_and_ties(spark):
    from pagerank_cuda_dynamic_spark.operators.text import quality_filter

    # two strata with controlled quality ordering: longer docs score
    # higher; duplicate texts guarantee exact 6-dp quality ties
    texts_a = ["w " * n for n in (5, 5, 50, 200)]          # tie at n=5
    texts_b = ["x " * n for n in (10, 300)]
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(6, dtype=np.int64),
            "lang": ["a"] * 4 + ["b"] * 2,
            "text": texts_a + texts_b,
        }
    )
    docs = spark.createDataFrame(pdf)
    kept = quality_filter(docs, keep_fraction=0.5, strata_col="lang").toPandas()
    # stratum a: cume of the two tied low docs = 0.5 (not > 0.5) → only
    # the two high docs survive; stratum b: low doc cume 0.5 → top only
    assert sorted(kept[kept.lang == "a"].doc_id) == [2, 3]
    assert sorted(kept[kept.lang == "b"].doc_id) == [5]

    all_kept = quality_filter(docs, keep_fraction=1.0, strata_col="lang")
    assert all_kept.count() == 6
    none_kept = quality_filter(docs, keep_fraction=0.0, strata_col="lang")
    assert none_kept.count() == 0

    # unstratified: one global distribution, deterministic under relayout
    g1 = sorted(quality_filter(docs, 0.5).toPandas().doc_id)
    g2 = sorted(quality_filter(docs.repartition(5), 0.5).toPandas().doc_id)
    assert g1 == g2

    with pytest.raises(ValueError, match="keep_fraction"):
        quality_filter(docs, keep_fraction=1.5)
