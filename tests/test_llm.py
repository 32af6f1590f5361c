"""LLM pack tests: dedup recall vs exact baseline, LSH candidate
quality, simhash properties, ANN recall, text stats, multimodal
plumbing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pixelspark.ops import llm as L
from pixelspark.ops import multimodal as MM
from pixelspark.schemas import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_exact_dedup_counts(spark, docs):
    out = L.exact_dedup(docs, "text")
    total = docs.count()
    assert out.agg(F.sum("copies")).collect()[0][0] == total
    assert out.count() == docs.select("text").distinct().count()


_FAMILIES = pytest.mark.parametrize(
    "pairs_fn, sigs_fn",
    [
        (L.near_dup_pairs, L.minhash_signatures),
        (L.portable_near_dup_pairs, L.portable_minhash_signatures),
    ],
    ids=["xxhash", "portable"],
)


@_FAMILIES
def test_minhash_recall_vs_exact(spark, docs, pairs_fn, sigs_fn):
    """Banded MinHash-LSH must recover the near-duplicate pairs the
    exact shingle-Jaccard baseline finds (same k-shingle space; with
    8 bands x 4 rows, P[candidate | s=0.5] ~= 0.4, s=0.8 ~= 0.99),
    on either hash family."""
    exact = L.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_id=10_000).collect()
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact}
    found = pairs_fn(docs, threshold=0.5, shingle_k=3).collect()
    found_pairs = {(r["id_a"], r["id_b"]) for r in found}
    # precision: the verify step makes every reported pair exact-correct
    assert found_pairs <= exact_pairs
    for r in found:
        assert r["jaccard"] >= 0.5
    # recall on strong dups (>=0.8) where the banding probability ~0.99
    strong = {(r["id_a"], r["id_b"]) for r in exact if r["jaccard"] >= 0.8}
    if strong:
        recall = len(found_pairs & strong) / len(strong)
        assert recall >= 0.9, (recall, len(strong), len(found_pairs))


@_FAMILIES
def test_lsh_candidates_are_what_near_dup_pairs_verifies(spark, docs, pairs_fn, sigs_fn):
    """lsh_candidate_pairs over a family's signatures yields exactly
    the candidates that family's near-dup pipeline verifies: at
    threshold 0 every candidate passes verification (empty documents
    have no signature, so no candidate has an undefined Jaccard)."""
    cands = {
        (r["id_a"], r["id_b"])
        for r in L.lsh_candidate_pairs(sigs_fn(docs), bands=8, rows_per_band=4).collect()
    }
    verified = {(r["id_a"], r["id_b"]) for r in pairs_fn(docs, threshold=0.0).collect()}
    assert cands == verified and cands


def test_simhash_properties(spark, docs):
    sims = L.simhash64(docs.limit(50))
    rows = sims.collect()
    assert len(rows) == 50
    # deterministic: recompute -> identical fingerprints
    again = {r["doc_id"]: r["simhash"] for r in L.simhash64(docs.limit(50)).collect()}
    for r in rows:
        assert again[r["doc_id"]] == r["simhash"]


def test_simhash_near_pairs_hamming(spark, docs):
    sims = L.simhash64(docs)
    pairs = L.simhash_near_pairs(sims, max_hamming=10).collect()
    for r in pairs:
        assert r["hamming"] <= 10


def test_ann_lsh_recall(spark, emb):
    """Bucketed ANN should recover a reasonable fraction of the exact
    top-k (2 planes -> ~1/4 corpus per bucket, high recall for near
    neighbors which concentrate in the query's bucket)."""
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in L.cosine_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in L.ann_lsh_topk(emb, qids, k=5, n_planes=2, n_tables=4).collect()
    }
    recall = len(approx & exact) / len(exact)
    # deterministic on this fixed dataset/config: measured 0.84 — the
    # floor is pinned just under it so a real regression (hash family,
    # bucketing, re-rank) trips, not ambient noise.  The driver-config
    # recall@5 >= 0.9 gate lives in test_ann_recall_floor_driver_configs.
    assert recall >= 0.8, recall


def test_cosine_self_similarity(spark, emb):
    a = emb.limit(1).select(F.col("embedding").alias("v"))
    row = a.select(F.round(L.cosine(F.col("v"), F.col("v")), 6).alias("c")).collect()[0]
    assert abs(row["c"] - 1.0) < 1e-6


def test_text_stats_sane(spark, docs):
    stats = L.text_stats(docs.limit(100)).collect()
    for r in stats:
        assert r["n_tokens"] >= 1
        assert r["n_distinct_tokens"] <= r["n_tokens"]
        assert 0.0 < r["distinct_ratio"] <= 1.0


def test_lang_id_schema(spark, docs):
    out = L.lang_id(docs.limit(20)).collect()
    for r in out:
        assert r["pred_lang"] in {"de", "en", "es", "fr", "und"}


def test_multimodal_features_and_stub(spark, docs):
    media = MM.attach_fake_media(docs.limit(20))
    feats = MM.extract_features(media, fake=True).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["n_bytes"] > 0
        assert 0 <= r["byte_mean"] <= 255
    # the real-codec path is explicitly not implemented in this container
    with pytest.raises(NotImplementedError):
        MM.decode_kernel(b"xx", "png", fake=False)


def test_frame_sample_plan(spark, docs):
    media = MM.attach_fake_media(docs.limit(30))
    plan = MM.frame_sample_plan(media, every_ms=1000)
    rows = plan.groupBy("media_id").count().collect()
    by_id = {r["media_id"]: r["count"] for r in rows}
    src = {r["media_id"]: r["duration_ms"] for r in media.where(F.col("format") == "mp4").collect()}
    assert set(by_id) == set(src)
    for mid, n in by_id.items():
        assert n == src[mid] // 1000 + 1


def test_dedup_clusters_known_components(spark):
    # chain 1-2-3, pair 10-11, singleton edges only
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 0.8)],
        "id_a long, id_b long, jaccard double",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in L.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_clusters_raises_on_round_budget(spark):
    """Non-convergence must raise, not return silently-split components
    (the labels feed an exact-components oracle downstream)."""
    chain = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(12)], "id_a long, id_b long, jaccard double"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        L.dedup_clusters(chain, max_iter=2)


def test_dedup_clusters_star_known_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 0.8)],
        "id_a long, id_b long, jaccard double",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in L.dedup_clusters_star(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_clusters_star_long_chain_round_advantage(spark):
    """A length-40 chain has diameter 40: min-label propagation needs
    ~40 rounds; the alternating star algorithm must finish in O(log n)
    — the round count IS the 100-TB claim, so assert it."""
    n = 40
    chain = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(n)], "id_a long, id_b long, jaccard double"
    )
    stats: dict = {}
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in L.dedup_clusters_star(chain, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}
    assert stats["rounds"] <= 8, f"expected O(log n) rounds, took {stats['rounds']}"


def test_dedup_clusters_star_matches_label_propagation(spark):
    """Both CC algorithms must land on identical components on a messy
    graph (multiple components, cycles, out-of-order ids)."""
    edges = [
        (5, 3), (3, 9), (9, 5),          # cycle
        (20, 21), (21, 22), (22, 23),    # path
        (40, 41),                        # pair
        (7, 100), (100, 8),              # star-ish
    ]
    pairs = spark.createDataFrame(
        [(a, b, 0.9) for a, b in edges], "id_a long, id_b long, jaccard double"
    )
    lp = {r["doc_id"]: r["cluster_id"] for r in L.dedup_clusters(pairs).collect()}
    star = {r["doc_id"]: r["cluster_id"] for r in L.dedup_clusters_star(pairs).collect()}
    assert lp == star


def test_ngram_jaccard_pairs_guard_raises(spark, docs):
    """The quadratic exact baseline must refuse, mechanically, to plan
    an all-pairs join over an unbounded corpus."""
    with pytest.raises(ValueError, match="quadratic"):
        L.ngram_jaccard_pairs(docs, max_id=None, max_rows=10)


def test_quality_score_bounds(spark, docs):
    rows = L.quality_score(docs.limit(100)).collect()
    for r in rows:
        assert 0.0 <= r["quality"] <= 1.0


def test_ivf_ann_recall(spark, emb):
    """IVF probes 2/8 clusters yet should recover most exact neighbors
    (near vectors co-cluster)."""
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in L.cosine_topk(emb, qids, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in L.ann_ivf_topk(emb, qids, k=5, n_clusters=8, n_probe=2).collect()
    }
    recall = len(ivf & exact) / len(exact)
    # deterministic here: measured 0.80 at probe=2/8 — pinned tight
    # (driver-config 0.9 gate is in test_ann_recall_floor_driver_configs)
    assert recall >= 0.75, recall


def test_kmeans_deterministic(spark, emb):
    c1 = L.kmeans_centroids(emb.limit(100), k=4, n_iter=2)
    c2 = L.kmeans_centroids(emb.limit(100), k=4, n_iter=2)
    assert c1 == c2


def test_trend_slope_pandas_equals_builtin(spark, sf_dir):
    from pixelspark.queries import QUERIES

    builtin = {
        r["shop"]: (r["slope"], r["n"])
        for r in QUERIES["q_trend_slope"](spark, sf_dir).collect()
    }
    pandas_v = {
        r["shop"]: (r["slope"], r["n"])
        for r in QUERIES["q_trend_slope_pandas"](spark, sf_dir).collect()
    }
    assert set(builtin) == set(pandas_v)
    for shop, (s, n) in builtin.items():
        s2, n2 = pandas_v[shop]
        assert n == n2
        if s is None:
            assert s2 is None
        else:
            assert abs(s - s2) < 1e-6, (shop, s, s2)


def test_multimodal_resize_and_resample(spark, docs):
    media = MM.attach_fake_media(docs.limit(60))
    resized = MM.resize_images(media, 128, 128).collect()
    assert resized, "some docs map to png format"
    for r in resized:
        assert (r["width"], r["height"]) == (128, 128)
        assert r["orig_width"] is not None
        assert r["payload"] is not None and len(r["payload"]) >= 1
    audio = MM.resample_audio(media, 16_000).collect()
    assert audio
    for r in audio:
        assert r["sample_rate_hz"] == 16_000
    import pytest as _pytest

    with _pytest.raises(Exception):
        MM.resize_images(media, 64, 64, fake=False).collect()


def test_doc_chunks_cover_text(spark):
    """Chunks tile the document: strides cover every char, the last
    chunk is truncated to the text end, and fingerprints match the
    actual substrings."""
    df = spark.createDataFrame(
        [(1, "a" * 450), (2, "xy"), (3, "")], ["doc_id", "text"]
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in L.doc_chunks(df, size=200, stride=150).collect()
    }
    # doc 1: starts 1,151,301 -> lens 200,200,150
    assert [rows[(1, i)]["chunk_len"] for i in range(3)] == [200, 200, 150]
    assert rows[(1, 0)]["chunk_start"] == 1 and rows[(1, 2)]["chunk_start"] == 301
    # short and empty docs still emit exactly one chunk
    assert rows[(2, 0)]["chunk_len"] == 2
    assert rows[(3, 0)]["chunk_len"] == 0
    assert len(rows) == 5


def test_pii_redact_scrubs(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@example.co.uk and call +1-415-555-0134 now")],
        ["doc_id", "text"],
    )
    out = df.select(L.pii_redact("text").alias("red")).collect()[0]["red"]
    assert out == "mail <EMAIL> and call <PHONE> now"


def test_ngram_repetition_values(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "w x y z"), (3, "solo")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in L.ngram_repetition(df, n=2).collect()}
    # doc 1 bigrams: [a b, b a, a b, b a] -> 2 distinct of 4 -> 0.5 dup
    assert got[1]["n_grams"] == 4 and got[1]["dup_frac"] == 0.5
    assert got[2]["n_grams"] == 3 and got[2]["dup_frac"] == 0.0
    # below n tokens -> zero grams, defined dup_frac
    assert got[3]["n_grams"] == 0 and got[3]["dup_frac"] == 0.0


def test_contamination_fraction(spark):
    train = spark.createDataFrame(
        [(1, "q w e r t y u"), (2, "n o p q r s")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([(9, "q w e r t z")], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in L.contamination(train, bench, n=5).collect()}
    # doc 1 5-grams: "q w e r t"(hit) "w e r t y" "e r t y u" -> 1/3
    assert got[1]["n_grams"] == 3 and got[1]["n_contaminated"] == 1
    assert abs(got[1]["contam_frac"] - round(1 / 3, 6)) < 1e-9
    assert got[2]["n_contaminated"] == 0 and got[2]["contam_frac"] == 0.0


def test_arrow_features_equal_pandas_features(spark, sf_dir):
    """The zero-copy mapInArrow kernel and the row-loop mapInPandas
    kernel must produce identical feature rows."""
    from pixelspark.ops import multimodal as MM
    from pixelspark.schemas import load_table

    media = MM.attach_fake_media(load_table(spark, sf_dir, "documents"))
    via_pandas = MM.extract_features(media)
    via_arrow = MM.extract_features_arrow(media)
    assert via_arrow.schema == via_pandas.schema
    a = {r["media_id"]: r for r in via_arrow.collect()}
    p = {r["media_id"]: r for r in via_pandas.collect()}
    assert set(a) == set(p) and len(a) > 0
    for k in a:
        assert a[k]["n_bytes"] == p[k]["n_bytes"]
        assert a[k]["byte_entropy_bins"] == p[k]["byte_entropy_bins"]
        assert a[k]["format"] == p[k]["format"]
        if p[k]["byte_mean"] is None:
            assert a[k]["byte_mean"] is None
        else:
            assert abs(a[k]["byte_mean"] - p[k]["byte_mean"]) < 1e-9
    plan = via_arrow._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan


def test_sequence_pack_invariants(spark, sf_dir):
    """Packing must tile the token stream exactly: offsets contiguous
    in id order, sequence ids consistent with the 512 budget, and the
    total stream length equals the sum of token counts."""
    from pixelspark.ops.llm import sequence_pack
    from pixelspark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    packed = sequence_pack(docs, budget_tokens=512).orderBy("doc_id").collect()
    offset = 0
    for r in packed:
        assert r["start_offset"] == offset  # contiguous: no gaps, no overlap
        assert r["first_seq"] == r["start_offset"] // 512
        end = r["start_offset"] + max(r["n_tokens"] - 1, 0)
        assert r["last_seq"] == end // 512
        offset += r["n_tokens"]
    assert offset == sum(r["n_tokens"] for r in packed)
    # some doc must span a cut (docs are longer than 1 token)
    assert any(r["last_seq"] > r["first_seq"] for r in packed)


def test_ann_sq8_rerank_recall(spark, emb):
    """SQ8 coarse + exact re-rank: with shortlist >> k the re-ranked
    result should match the exact brute-force top-k almost everywhere
    (quantization error only costs recall when a true neighbor falls
    off the 10x shortlist)."""
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in L.cosine_topk(emb, qids, k=5).collect()
    }
    reranked = L.ann_sq8_rerank(emb, qids, k=5, shortlist=50).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in reranked}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, recall
    # the surviving pairs carry EXACT cosines (stage 2 is full precision)
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in L.cosine_topk(emb, qids, k=50).collect()
    }
    for r in reranked:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["cosine"] - exact_scores[key]) < 1e-9


def test_ann_recall_floor_driver_configs(spark):
    """recall@5 floor for EVERY approximate ANN variant at the exact
    configs the driver-contract queries run (q_ann_lsh, q_ann_ivf,
    q_ann_sq8), measured at sf0.01 against the exact q_ann_topk
    baseline.  These queries pass only the driver's rows-only check,
    so without this floor a bucketing bug that silently destroyed
    recall would still 'pass' — this test is the recall gate.
    Measured: lsh 0.96, ivf 0.92, sq8 1.00 (deterministic: hashes and
    k-means seeds are fixed)."""
    from pixelspark import queries as Q

    sf = "/root/testdata/sf0.01"
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in Q.QUERIES["q_ann_topk"](spark, sf).collect()
    }
    for name in ("q_ann_lsh", "q_ann_ivf", "q_ann_sq8"):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in Q.QUERIES[name](spark, sf).collect()
        }
        recall = len(got & exact) / len(exact)
        assert recall >= 0.9, (name, recall)


def test_scalar_pandas_udf_cosine_matches_jvm(spark, emb):
    """The vectorized numpy pandas UDF must agree with the JVM-side
    F.aggregate cosine fold to 1e-9 (numpy's SIMD accumulation order
    differs, so bit-equality is NOT expected — near-equality is)."""
    q = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    udf = L.cosine_vs_query_pandas([float(x) for x in q])
    got = (
        emb.where(F.col("vec_id") < 100)
        .select("vec_id", udf(F.col("embedding")).alias("c_udf"))
        .collect()
    )
    qcol = F.array(*[F.lit(float(x)) for x in q])
    want = {
        r["vec_id"]: r["c_jvm"]
        for r in emb.where(F.col("vec_id") < 100)
        .select("vec_id", L.cosine(qcol, F.col("embedding")).alias("c_jvm"))
        .collect()
    }
    assert len(got) == 100
    for r in got:
        assert abs(r["c_udf"] - want[r["vec_id"]]) < 1e-9, r["vec_id"]


def test_cross_corpus_near_dup_matches_full_restriction(spark, docs):
    """Incremental dedup invariants: (a) every returned pair crosses
    the corpus split, (b) the result equals the full within-corpus
    pair set restricted to cross pairs (same family, same threshold) —
    so batching the ingest loses nothing vs a monolithic dedup."""
    split = 250
    existing = docs.where(F.col("doc_id") < split)
    new = docs.where(F.col("doc_id") >= split)
    cross = {
        (r["id_a"], r["id_b"])
        for r in L.cross_corpus_near_dup(existing, new, threshold=0.5).collect()
    }
    assert all(a < split <= b for a, b in cross)
    full = {
        (r["id_a"], r["id_b"])
        for r in L.portable_near_dup_pairs(docs, threshold=0.5).collect()
    }
    want = {(a, b) for a, b in full if a < split <= b}
    assert cross == want and len(cross) > 0


def test_lsh_hot_bucket_cap_bounds_blowup(spark):
    """100-TB skew guard: 60 identical boilerplate docs put ~1,770
    pairs in one bucket (quadratic in bucket size); with
    max_bucket_size set, those buckets are dropped while a genuine
    near-dup pair in small buckets is still found.  (Exact duplicates
    are exact_dedup's job BEFORE LSH — that is the documented
    pipeline order in curate_corpus.)"""
    boiler = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do") for i in range(60)]
    a = (1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
    b = (1001, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu")
    docs = spark.createDataFrame(boiler + [a, b], "doc_id long, text string")

    uncapped = L.near_dup_pairs(docs, threshold=0.5)
    capped = L.near_dup_pairs(docs, threshold=0.5, max_bucket_size=10)
    n_unc = uncapped.count()
    pairs_capped = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert n_unc >= 1770  # the quadratic bucket really was there
    assert (1000, 1001) in pairs_capped  # true near-dup survives the cap
    assert len(pairs_capped) < 100  # boilerplate blowup suppressed


def test_cross_dedup_hot_bucket_cap(spark):
    """Corpus-side hot-bucket cap on the incremental path: a
    boilerplate corpus cluster stops fanning out candidates per ingest
    row, while a genuine corpus/new near-dup still matches."""
    corpus = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do") for i in range(40)]
    corpus.append((500, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
    new = [(1000, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
           (1001, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu")]
    e = spark.createDataFrame(corpus, "doc_id long, text string")
    n = spark.createDataFrame(new, "doc_id long, text string")
    uncapped = L.cross_corpus_near_dup(e, n, threshold=0.5)
    capped = L.cross_corpus_near_dup(e, n, threshold=0.5, max_bucket_size=10)
    assert uncapped.where(F.col("id_b") == 1000).count() == 40  # full fan-out
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (500, 1001) in got       # true near-dup survives
    assert not any(b == 1000 for _, b in got)  # boilerplate fan-out suppressed


# -- SemDeDup (embedding-space dedup, arXiv:2303.09540) ----------------------


def _groups_df(spark, dim=64, per_group=6, n_groups=3, copies=2):
    """Well-separated groups: each group points along its own basis
    axis with small deterministic perturbations in a DIFFERENT axis, so
    in-group cosine ~= 1 and cross-group cosine ~= 0; `copies` rows per
    group are exact duplicates of the group's first vector."""
    rows = []
    # ids interleave round-robin across groups so the k-means seeds
    # (the k lowest ids) land one-per-group
    for i in range(per_group):
        for g in range(n_groups):
            v = [0.0] * dim
            v[g * 20] = 1.0
            if i >= copies:  # perturb non-copies slightly
                v[g * 20 + 1] = 0.01 * (i + 1)
            rows.append((i * n_groups + g, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_semantic_dedup_matches_exact_on_separable_data(spark):
    """When k-means blocks align with the true groups (separable
    data), the clustered SemDeDup must equal the global exact rule."""
    df = _groups_df(spark)
    exact = {
        r["vec_id"]: r["is_dup"]
        for r in L.semantic_dedup_exact(df, threshold=0.99).collect()
    }
    clus = {
        r["vec_id"]: r["is_dup"]
        for r in L.semantic_dedup(df, threshold=0.99, n_clusters=3,
                                  n_iter=4).collect()
    }
    assert clus == exact
    # and the rule itself: each group's first vector (ids 0,1,2) is
    # kept; its exact copy (ids 3,4,5) is dropped
    assert exact[0] is False and exact[3] is True


def test_semantic_dedup_dup_of_points_at_lower_id_neighbor(spark):
    df = _groups_df(spark)
    got = L.semantic_dedup(df, threshold=0.99, n_clusters=3, n_iter=4)
    for r in got.where("is_dup").collect():
        assert r["dup_of"] is not None and r["dup_of"] < r["vec_id"]
    for r in got.where("NOT is_dup").collect():
        assert r["dup_of"] is None


def test_semantic_dedup_never_false_positive_vs_global_rule(spark, sf_dir):
    """Clustered pruning can only MISS cross-cluster neighbors, never
    invent one: its dup set must be a subset of the global exact
    rule's (on the bounded real table)."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    exact = {
        r["vec_id"]
        for r in L.semantic_dedup_exact(emb, threshold=0.4,
                                        max_id=300).where("is_dup").collect()
    }
    clus = {
        r["vec_id"]
        for r in L.semantic_dedup(emb, threshold=0.4,
                                  n_clusters=8).where("is_dup").collect()
    }
    assert clus <= exact


def test_semantic_dedup_exact_quadratic_guard(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="quadratic"):
        L.semantic_dedup_exact(emb, max_rows=10)


def test_semantic_dedup_cluster_size_guard(spark):
    df = _groups_df(spark)
    with pytest.raises(Exception, match="max_cluster_rows"):
        L.semantic_dedup(df, n_clusters=1, max_cluster_rows=5).collect()


# -- distributed PCA ---------------------------------------------------------


def test_pca_matches_numpy_reference(spark, sf_dir):
    """One-pass map-reduce covariance PCA == numpy PCA on the same
    rows (components up to the shared sign convention, projections to
    1e-8)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 400)
    rows = emb.orderBy("vec_id").collect()
    X = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)
    mean, comps, explained = L.pca_fit(emb, k=5)
    # numpy reference with the same sign convention
    ref_cov = np.cov(X, rowvar=False)
    vals, vecs = np.linalg.eigh(ref_cov)
    order = np.argsort(vals)[::-1][:5]
    ref = vecs[:, order].T
    for i in range(5):
        j = np.argmax(np.abs(ref[i]))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
    assert np.allclose(comps, ref, atol=1e-8)
    assert (np.diff(explained) <= 1e-12).all()  # descending variance
    got = {r["vec_id"]: np.asarray(r["pc"])
           for r in L.pca_project(emb, k=5).collect()}
    want = (X - X.mean(axis=0)) @ ref.T
    for idx, r in enumerate(rows):
        assert np.allclose(got[r["vec_id"]], want[idx], atol=1e-8)


def test_pca_guards_tiny_input(spark):
    one = spark.createDataFrame([(1, [1.0] * 64)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="at least 2"):
        L.pca_fit(one)


# -- persistent incremental dedup index -------------------------------------


def _didx_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_dedup_index_incremental_equals_batch_cross_dedup(spark, tmp_path):
    """Three daily ingests through the persistent index must find
    exactly the pairs per-batch cross_corpus_near_dup finds against
    the union of all earlier batches — without ever re-hashing the
    corpus."""
    b1 = [(1, "the quick brown fox jumps over the lazy dog today"),
          (2, "completely unrelated text about spark manifests and tables")]
    b2 = [(10, "the quick brown fox jumps over the lazy dog tonight"),
          (11, "some fresh third topic with distinct vocabulary entirely")]
    b3 = [(20, "completely unrelated text about spark manifests and files"),
          (21, "the quick brown fox jumps over the lazy dog today")]
    idx = L.DedupIndex(spark, str(tmp_path / "didx"), threshold=0.4)
    got = set()
    for rows in (b1, b2, b3):
        pairs = idx.ingest(_didx_docs(spark, rows))
        got |= {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    want = set()
    seen: list = []
    for rows in (b1, b2, b3):
        if seen:
            ref = L.cross_corpus_near_dup(
                _didx_docs(spark, seen), _didx_docs(spark, rows), threshold=0.4)
            want |= {(r["id_a"], r["id_b"]) for r in ref.collect()}
        seen += rows
    assert got == want and got  # non-trivial pair set


def test_dedup_index_lazy_pairs_survive_the_append(spark, tmp_path):
    """The returned pairs are version-pinned: evaluating them AFTER
    the batch was appended must not let the batch match itself."""
    idx = L.DedupIndex(spark, str(tmp_path / "didx"), threshold=0.4)
    idx.ingest(_didx_docs(spark, [(1, "alpha beta gamma delta epsilon zeta")]))
    pairs = idx.ingest(
        _didx_docs(spark, [(2, "alpha beta gamma delta epsilon eta"),
                           (3, "alpha beta gamma delta epsilon eta")]))
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}  # evaluated late
    assert got == {(1, 2), (1, 3)}  # no within-batch (2,3), no self-matches


def test_dedup_index_exactly_once_replay(spark, tmp_path):
    idx = L.DedupIndex(spark, str(tmp_path / "didx"), threshold=0.4)
    idx.ingest(_didx_docs(spark, [(1, "alpha beta gamma delta epsilon zeta")]),
               app_id="job", batch_id=1)
    batch2 = [(2, "alpha beta gamma delta epsilon eta")]
    first = idx.ingest(_didx_docs(spark, batch2), app_id="job", batch_id=2)
    n_buckets = idx.buckets.read().count()
    # replay of batch 2 (sink crash before checkpoint): same pairs,
    # nothing re-added
    replay = idx.ingest(_didx_docs(spark, batch2), app_id="job", batch_id=2)
    assert ({(r["id_a"], r["id_b"]) for r in replay.collect()}
            == {(r["id_a"], r["id_b"]) for r in first.collect()} == {(1, 2)})
    assert idx.buckets.read().count() == n_buckets


def test_dedup_index_reopens_from_disk(spark, tmp_path):
    root = str(tmp_path / "didx")
    L.DedupIndex(spark, root, threshold=0.4).ingest(
        _didx_docs(spark, [(1, "alpha beta gamma delta epsilon zeta")]))
    reopened = L.DedupIndex(spark, root, threshold=0.4)
    pairs = reopened.ingest(
        _didx_docs(spark, [(5, "alpha beta gamma delta epsilon eta")]))
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 5)}


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_dedup_index_compact_preserves_results_and_shrinks_entries(
    spark, tmp_path
):
    """compact() folds the per-ingest entries into one dir per table
    and changes NOTHING observable: the next ingest returns the same
    pairs as an uncompacted twin, replay protection survives, and
    the hot-bucket re-cap drops only rows probes already ignored."""
    docs = [
        [(1, "the quick brown fox jumps over the lazy dog today")],
        [(2, "completely unrelated text about spark manifests and tables")],
        [(3, "a third batch with its own fresh distinct vocabulary")],
    ]
    probe = [(9, "the quick brown fox jumps over the lazy dog tonight")]
    a = L.DedupIndex(spark, str(tmp_path / "a"), threshold=0.4)
    b = L.DedupIndex(spark, str(tmp_path / "b"), threshold=0.4)
    for i, rows in enumerate(docs, start=1):
        a.ingest(_didx_docs(spark, rows), app_id="job", batch_id=i)
        b.ingest(_didx_docs(spark, rows), app_id="job", batch_id=i)
    assert len(a.buckets.manifest(a.buckets.latest_version())["entries"]) == 3
    stored = a.buckets.read().orderBy("doc_id", "band_idx").collect()
    a.compact()
    # one entry per table now; stored artifacts bit-identical
    assert len(a.buckets.manifest(a.buckets.latest_version())["entries"]) == 1
    assert len(a.shingles.manifest(a.shingles.latest_version())["entries"]) == 1
    assert a.buckets.read().orderBy("doc_id", "band_idx").collect() == stored
    # next ingest equal on compacted vs uncompacted twin
    pa = a.ingest(_didx_docs(spark, probe), app_id="job", batch_id=4)
    pb = b.ingest(_didx_docs(spark, probe), app_id="job", batch_id=4)
    key = lambda r: (r["id_a"], r["id_b"])
    assert sorted(map(key, pa.collect())) == sorted(map(key, pb.collect())) \
        == [(1, 9)]
    # replay protection survived the compaction commit
    n = a.buckets.read().count()
    a.ingest(_didx_docs(spark, probe), app_id="job", batch_id=4)
    assert a.buckets.read().count() == n


def test_dedup_index_recap_materializes_hot_bucket_cap(spark, tmp_path):
    """recap_hot_buckets drops stored rows of over-cap buckets; probe
    results match the uncapped query-time filter (which already
    ignored them), and the stored table actually shrank."""
    boiler = "common boilerplate header text repeated on every single page"
    rows = [(i, boiler) for i in range(1, 5)]  # 4 near-identical docs
    idx = L.DedupIndex(
        spark, str(tmp_path / "hot"), threshold=0.4, max_bucket_size=2
    )
    idx.ingest(_didx_docs(spark, rows))
    before = idx.buckets.read().count()
    idx.compact(recap_hot_buckets=True)
    after = idx.buckets.read().count()
    assert after < before  # boilerplate buckets gone from storage
    # a probe doc that matches ONLY via over-cap buckets finds nothing
    # — identical to the pre-compact query-time behavior
    pairs = idx.ingest(_didx_docs(spark, [(99, boiler)]))
    assert pairs.collect() == []


# ---------------------------------------------------------------------------
# exact duplicated-substring spans (ExactSubstr, arXiv:2107.06499)
# ---------------------------------------------------------------------------

def _span_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_duplicate_spans_finds_known_copied_region(spark):
    # docs 1 and 2 share the 6-token run "q r s t u v" embedded at
    # different offsets; with k=4, min_run=2 the maximal span is 6
    # tokens starting at token 3 in doc 1 and token 1 in doc 2.
    shared = "q r s t u v"
    rows = [
        (1, f"a b {shared} c d"),
        (2, f"{shared} x y z"),
        (3, "m n o p m n o p"),
    ]
    out = L.duplicate_spans(_span_docs(spark, rows), k=4, min_run=2).collect()
    assert [(r["id_a"], r["id_b"], r["start_a"], r["start_b"], r["span_tokens"])
            for r in out] == [(1, 2, 3, 1, 6)]


def test_duplicate_spans_reports_each_maximal_run_once(spark):
    # the shared text appears TWICE in doc 2 -> two spans, one per
    # occurrence (distinct offsets), each maximal (not fragmented
    # into per-gram rows).
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e x x a b c d e"),
    ]
    out = L.duplicate_spans(_span_docs(spark, rows), k=3, min_run=2)
    got = {(r["start_a"], r["start_b"], r["span_tokens"]) for r in out.collect()}
    assert got == {(1, 1, 5), (1, 8, 5)}


def test_duplicate_spans_below_min_run_excluded(spark):
    # exactly one shared k-gram (run length 1) must NOT be reported
    # when min_run=2
    rows = [(1, "a b c d z1 z2"), (2, "a b c d y1 y2")]
    assert L.duplicate_spans(_span_docs(spark, rows), k=4, min_run=2).count() == 0
    # ...but min_run=1 reports it
    one = L.duplicate_spans(_span_docs(spark, rows), k=4, min_run=1).collect()
    assert [(r["start_a"], r["start_b"], r["span_tokens"]) for r in one] == [(1, 1, 4)]


def test_duplicate_spans_hot_gram_cap_drops_boilerplate(spark):
    # the same boilerplate gram in 4 docs -> postings list of size 4;
    # cap at 3 removes it from candidate generation entirely
    rows = [(i, "common header line here tail%d" % i) for i in range(1, 5)]
    uncapped = L.duplicate_spans(_span_docs(spark, rows), k=4, min_run=1)
    assert uncapped.count() == 6  # all C(4,2) doc pairs share the gram
    capped = L.duplicate_spans(
        _span_docs(spark, rows), k=4, min_run=1, max_postings=3
    )
    assert capped.count() == 0


def test_duplicate_spans_groupby_reuses_window_partitioning(spark):
    # exactly 3 exchanges: the postings join's two sides on gram_fp +
    # the window's (id_a, id_b, off).  The islands groupBy must add
    # NONE — its keys are a superset of the window partition keys, so
    # the window's hash partitioning already satisfies its clustering.
    rows = [(1, "a b c d e f"), (2, "a b c d e g")]
    plan = L.duplicate_spans(
        _span_docs(spark, rows), k=4, min_run=2
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 3
    # and nothing between the final aggregate and the window but the
    # partial aggregate itself
    agg_to_window = plan.split("HashAggregate", 1)[1].split("Window", 1)[0]
    assert "Exchange" not in agg_to_window


def test_remove_duplicate_spans_strips_higher_id_copy(spark):
    shared = "q r s t u v"
    rows = [
        (1, f"a b {shared} c d"),
        (2, f"{shared} x y z"),
        (3, "m n o p"),
    ]
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in L.remove_duplicate_spans(
            _span_docs(spark, rows), k=4, min_run=2
        ).collect()
    }
    # doc 1 (lower id) keeps the canonical occurrence untouched
    assert out[1] == (f"a b {shared} c d", 0)
    # doc 2 loses exactly the 6 shared tokens, order of the rest kept
    assert out[2] == ("x y z", 6)
    # unaffected docs pass through
    assert out[3] == ("m n o p", 0)


def test_remove_duplicate_spans_fully_duplicated_doc_empties(spark):
    rows = [(1, "a b c d e f"), (2, "a b c d e f")]
    out = {r["doc_id"]: r for r in L.remove_duplicate_spans(
        _span_docs(spark, rows), k=4, min_run=2).collect()}
    assert out[1]["clean_text"] == "a b c d e f"
    assert out[2]["clean_text"] == "" and out[2]["n_removed"] == 6


def test_remove_duplicate_spans_overlapping_intervals_union(spark):
    # doc 3 shares overlapping regions with docs 1 AND 2; covered
    # positions must union, not double-remove
    rows = [
        (1, "a b c d e x1 x2"),
        (2, "c d e f g y1 y2"),
        (3, "a b c d e f g z"),
    ]
    out = {r["doc_id"]: r for r in L.remove_duplicate_spans(
        _span_docs(spark, rows), k=3, min_run=2).collect()}
    assert out[3]["clean_text"] == "z" and out[3]["n_removed"] == 7


# ---------------------------------------------------------------------------
# MMR re-ranking (Carbonell & Goldstein SIGIR'98)
# ---------------------------------------------------------------------------

def test_mmr_lambda_one_equals_relevance_order(spark, emb):
    out = L.mmr_rerank(emb, query_vec_id=0, k=5, shortlist=20, lam=1.0)
    plain = L.cosine_topk(emb, [0], k=5).orderBy("rank").collect()
    assert list(out["neighbor_id"]) == [r["neighbor_id"] for r in plain]


def test_mmr_matches_pure_python_reference(spark, emb):
    import numpy as np

    lam, k, short = 0.5, 6, 15
    out = L.mmr_rerank(emb, query_vec_id=1, k=k, shortlist=short, lam=lam)
    # reference: same greedy, written independently
    cands = L.cosine_topk(emb, [1], k=short).collect()
    ids = [r["neighbor_id"] for r in cands]
    rel = {r["neighbor_id"]: r["cosine"] for r in cands}
    rows = emb.where(F.col("vec_id").isin(ids)).collect()
    v = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    nv = {i: x / (np.linalg.norm(x) or 1) for i, x in v.items()}
    sel: list = []
    remaining = list(ids)
    while remaining and len(sel) < k:
        scored = []
        for c in remaining:
            red = max((float(nv[c] @ nv[s]) for s in sel), default=0.0)
            scored.append((-(lam * rel[c] - (1 - lam) * red), c))
        scored.sort()
        sel.append(scored[0][1])
        remaining.remove(scored[0][1])
    assert list(out["neighbor_id"]) == sel


def test_mmr_penalizes_redundancy(spark):
    # three candidates: two near-identical highly-relevant vectors and
    # one orthogonal moderately-relevant one — MMR at lam=0.5 must
    # interleave the orthogonal one ahead of the duplicate
    rows = [
        (0, [1.0, 0.0, 0.0]),        # query
        (1, [0.99, 0.1, 0.0]),       # relevant
        (2, [0.98, 0.11, 0.0]),      # near-duplicate of 1
        (3, [0.5, 0.0, 0.8]),        # diverse, less relevant
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = L.mmr_rerank(emb, query_vec_id=0, k=3, shortlist=3, lam=0.5)
    assert list(out["neighbor_id"]) == [1, 3, 2]


# ---------------------------------------------------------------------------
# winnowing fingerprints (SIGMOD'03 MOSS)
# ---------------------------------------------------------------------------

def test_winnow_guarantee_shared_substring_shares_fingerprint(spark):
    """The winnowing guarantee: docs sharing a substring of
    >= w + k - 1 tokens MUST share at least one selected fingerprint,
    at any alignment — fixed-stride chunking has no such property."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"  # 8 tokens = w + k - 1 (w=4, k=5)
    for prefix in ["", "p1 ", "p1 p2 p3 ", "p1 p2 p3 p4 p5 p6 p7 "]:
        rows = [(1, f"a1 a2 {shared} a3 a4"), (2, f"{prefix}{shared}")]
        sel = L.winnow_fingerprints(_span_docs(spark, rows), k=5, w=4)
        fps = {doc: {r["fp"] for r in grp}
               for doc, grp in __import__("itertools").groupby(
                   sorted(sel.collect(), key=lambda r: r["doc_id"]),
                   key=lambda r: r["doc_id"])}
        assert fps[1] & fps[2], f"no shared fingerprint at prefix {prefix!r}"


def test_winnow_density_reduction(spark, docs):
    """Selection must thin the index substantially: expected density
    2/(w+1) = 0.4 at w=4; allow slack for short docs (first window
    boundary effects)."""
    d = docs.limit(100).select("doc_id", "text")
    n_grams = L.positioned_grams(d, 5, "doc_id", "text").count()
    n_sel = L.winnow_fingerprints(d, k=5, w=4).count()
    assert 0.2 <= n_sel / n_grams <= 0.55, (n_sel, n_grams)


def test_winnow_deterministic_under_repartition(spark, docs):
    d = docs.limit(50).select("doc_id", "text")
    a = set(map(tuple, L.winnow_fingerprints(d, k=5, w=4).collect()))
    b = set(map(tuple, L.winnow_fingerprints(d.repartition(7), k=5, w=4).collect()))
    assert a == b


def test_bigram_lm_score_backoff_and_ordering(spark):
    """Stupid-backoff bigram scoring: a held-out doc made of seen
    bigrams scores better (lower neg-logprob) than one with the same
    unigrams scrambled into unseen bigrams; unseen words hit the
    add-one backoff floor and score worst; seen-bigram probability is
    exactly c(w1w2)/c(w1)."""
    import math

    from pixelspark.ops.llm import bigram_lm_score

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [
            (100, "the cat sat"),        # all bigrams seen
            (101, "cat the on sat"),     # same unigrams, unseen bigrams
            (102, "zz qq ww"),           # unseen words entirely
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in bigram_lm_score(train, score).collect()
    }
    assert got[100]["n_bigrams"] == 2
    # 'the cat': c=5, c('the')=10 -> p=0.5 ; 'cat sat': 5/5 -> p=1
    expect = -(math.log(0.5) + math.log(1.0)) / 2
    assert abs(got[100]["avg_neg_logprob"] - expect) < 1e-9
    assert got[100]["avg_neg_logprob"] < got[101]["avg_neg_logprob"]
    assert got[101]["avg_neg_logprob"] < got[102]["avg_neg_logprob"]


def test_bigram_logprob_registry_matches_manual(spark, sf_dir):
    from pixelspark.queries import QUERIES

    out = QUERIES["q_bigram_logprob"](spark, sf_dir)
    assert out.columns == ["doc_id", "n_bigrams", "avg_neg_logprob"]
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["avg_neg_logprob"] >= 0 for r in rows)


def test_jl_projection_preserves_distance_structure(spark, sf_dir):
    """JL with a 16-dim ±1 sign matrix: exact linearity (projection of
    a vector equals the hand-computed signed sums) and the distance-
    structure guarantee — per-pair squared-distance ratios
    projected/original concentrate near 1 (the (1±eps) property; a
    correlation metric would wash out here because the clustered
    embeddings make most original distances similar)."""
    import numpy as np

    from pixelspark.ops.llm import jl_project, jl_sign
    from pixelspark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings").where("vec_id < 40")
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    S = np.array([[jl_sign(i, j, 7) for j in range(16)] for i in range(64)])
    proj = {}
    for r in jl_project(emb, out_dim=16, seed=7, dim=64).collect():
        proj.setdefault(r["vec_id"], {})[r["j"]] = r["val"]
    for vid, vals in proj.items():
        got = np.array([vals[j] for j in range(16)])
        want = rows[vid] @ S / 4.0  # 1/sqrt(16)
        assert np.allclose(got, want, atol=1e-9), vid
    ids = sorted(rows)
    ratios = []
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            o = float(np.sum((rows[ids[a]] - rows[ids[b]]) ** 2))
            if o == 0:
                continue
            pa = np.array([proj[ids[a]][j] for j in range(16)])
            pb = np.array([proj[ids[b]][j] for j in range(16)])
            ratios.append(float(np.sum((pa - pb) ** 2)) / o)
    r = np.array(ratios)
    assert 0.6 < float(np.median(r)) < 1.4, np.median(r)
    assert float(np.mean((r > 0.3) & (r < 2.2))) >= 0.95


def test_compression_ratio_orders_text_kinds(spark):
    """zlib ratio must order repetitive < natural < random, match a
    hand computation exactly, and null-propagate."""
    import zlib

    from pixelspark.ops.llm import compression_ratio

    rep = "spam " * 200
    nat = "the quick brown fox jumps over the lazy dog and then naps " * 10
    import random as _r
    rng = _r.Random(7)
    rnd = "".join(chr(rng.randint(33, 126)) for _ in range(1000))
    df = spark.createDataFrame(
        [(1, rep), (2, nat), (3, rnd), (4, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    assert got[1]["zlib_ratio"] < got[2]["zlib_ratio"] < got[3]["zlib_ratio"]
    want = round(len(zlib.compress(rep.encode(), 6)) / len(rep.encode()), 6)
    assert got[1]["zlib_ratio"] == want
    assert got[4]["zlib_ratio"] is None


def test_sequence_pack_string_ids_need_shard_col(spark):
    """Non-numeric ids cannot range-shard on quantiles: a clear error
    names the contract, and a caller-provided monotone shard column
    restores the distributed path with identical offsets."""
    import pytest as _pytest

    from pixelspark.ops.llm import sequence_pack

    docs = spark.createDataFrame(
        [(f"doc-{i:03d}", f"2024-01-{1 + i // 3:02d}", "w " * (i + 1))
         for i in range(9)],
        "doc_id string, day string, text string",
    )
    with _pytest.raises(ValueError, match="shard_col"):
        sequence_pack(docs, budget_tokens=8)
    got = {
        r["doc_id"]: (r["n_tokens"], r["start_offset"])
        for r in sequence_pack(docs, budget_tokens=8, shard_col="day").collect()
    }
    # offsets are the exclusive prefix sums of 1..9 in id order
    acc = 0
    for i in range(9):
        assert got[f"doc-{i:03d}"] == (i + 1, acc)
        acc += i + 1


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_dedup_index_forget_erases_docs_but_not_replay_history(spark, tmp_path):
    """forget() masks a doc's buckets+shingles so future ingests can't
    pair against it, while a replayed batch (version-pinned pre-batch)
    still reproduces its ORIGINAL pairs from before the forget."""
    idx = L.DedupIndex(spark, str(tmp_path / "didx_f"), threshold=0.4)
    idx.ingest(_didx_docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "totally different text about snapshot manifests here"),
    ]), app_id="job", batch_id=1)
    first = idx.ingest(
        _didx_docs(spark, [(10, "alpha beta gamma delta epsilon eta")]),
        app_id="job", batch_id=2)
    assert {(r["id_a"], r["id_b"]) for r in first.collect()} == {(1, 10)}

    idx.forget([1, 10])
    # future ingest: the near-dup family is gone from the index
    fresh = idx.ingest(
        _didx_docs(spark, [(20, "alpha beta gamma delta epsilon theta")]),
        app_id="job", batch_id=3)
    assert fresh.collect() == []
    # an unrelated doc still pairs normally
    other = idx.ingest(
        _didx_docs(spark, [(21, "totally different text about snapshot manifests too")]),
        app_id="job", batch_id=4)
    assert {(r["id_a"], r["id_b"]) for r in other.collect()} == {(2, 21)}

    # replay of batch 2 reads its pinned pre-batch version: original answer
    replay = idx.ingest(
        _didx_docs(spark, [(10, "alpha beta gamma delta epsilon eta")]),
        app_id="job", batch_id=2)
    assert {(r["id_a"], r["id_b"]) for r in replay.collect()} == {(1, 10)}

    # compact materializes the erasure
    idx.compact()
    assert idx.shingles.read().where("doc_id in (1, 10)").count() == 0
    assert idx.buckets.read().where("doc_id in (1, 10)").count() == 0


def test_repetition_signals_shared_tokenize_plan(spark):
    """r13: repetition_signals keeps ONE independent explode branch
    per n over the SHARED checkpointed token arrays.  A single
    gram-size-tagged stream (one Generate, one join) was A/B'd and
    lost ~20% at sf0.1 / ~45% at 10x SF — the (doc, gram) occurrence
    shuffle is byte-identical in both shapes, so the fold saved
    nothing and cost struct-tagging and branch concurrency.  Pin:
    one Generate per n, token arrays read from the checkpoint (Scan
    ExistingRDD), never a re-tokenize of the corpus (no second
    relation scan)."""
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z"), (3, "q")],
        "doc_id long, text string",
    )
    out = L.repetition_signals(docs, ns=(2, 3))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 2, plan[:2000]
    assert "Scan ExistingRDD" in plan, plan[:2000]
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 1: 5 bigrams, top 'a b' x3 -> 0.6; 4 trigrams, top x2 -> 0.5
    assert rows[1]["n_2grams"] == 5 and rows[1]["top2_frac"] == 0.6
    assert rows[1]["n_3grams"] == 4 and rows[1]["top3_frac"] == 0.5
    assert rows[1]["dup2_frac"] == round(3 / 5, 6)
    # doc 3 is shorter than every n: NULL signals, passes by default
    assert rows[3]["n_2grams"] is None and rows[3]["passes_repetition"]
