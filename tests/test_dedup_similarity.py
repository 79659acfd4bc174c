"""Dedup (exact / Jaccard / MinHash-LSH) and similarity search on tiny
literal corpora with hand-checkable answers."""

from __future__ import annotations

import numpy as np
import pytest

from yfinance_etl_spark.operators.dedup import (
    exact_dedup_stats,
    jaccard_pairs,
    minhash_lsh_neardup,
)
from yfinance_etl_spark.operators.similarity import cosine, knn_topk, lsh_bucket

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "a"),
    (1, "the quick brown fox jumps over the lazy dog", "a"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat", "b"),  # near dup of 0
    (3, "completely different text about spark engines here", "b"),
    (4, "hi", "b"),  # short doc: < 3 tokens, must not crash
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, t, s) for i, t, s in DOCS], "doc_id bigint, text string, source string"
    )


def test_exact_dedup_counts_per_source(spark):
    out = {r.source: (r.n_docs, r.n_distinct, r.n_dupes) for r in exact_dedup_stats(_docs(spark)).collect()}
    assert out["a"] == (2, 1, 1)
    assert out["b"] == (3, 3, 0)


def test_jaccard_pairs_exact_and_near(spark):
    # max_df_frac=1.0: test pure Jaccard math (the df cutoff, which on a
    # 5-doc corpus would drop any shingle shared by 3+ docs, has its own tests)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(_docs(spark), threshold=0.5, max_df_frac=1.0).collect()
    }
    assert got[(0, 1)] == 1.0  # identical docs
    # doc0 vs doc2: 7 shingles each, 6 shared → J = 6/8 = 0.75
    assert got[(0, 2)] == pytest.approx(0.75)
    assert got[(1, 2)] == pytest.approx(0.75)
    assert not any(3 in pair or 4 in pair for pair in got)


def test_minhash_lsh_finds_exact_dup(spark):
    got = {(r.doc_a, r.doc_b): r.jaccard for r in minhash_lsh_neardup(_docs(spark), threshold=0.9).collect()}
    assert got[(0, 1)] == 1.0  # identical docs share every band → always a candidate
    assert all(j >= 0.9 for j in got.values())


@pytest.mark.parametrize("threshold", [0.0, -0.5])
def test_minhash_verify_rejects_non_positive_threshold(spark, threshold):
    # the join-count verify never sees jaccard-0 pairs, so a threshold
    # <= 0 cannot be honoured: both verify tails refuse it
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import minhash_delta_neardup_split

    with pytest.raises(ValueError, match="threshold"):
        minhash_lsh_neardup(_docs(spark), threshold=threshold)
    with pytest.raises(ValueError, match="threshold"):
        minhash_delta_neardup_split(
            _docs(spark), F.col("doc_id") < 2, threshold=threshold
        )


def test_cosine_matches_numpy(spark):
    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(cosine(df.a, df.b).alias("c")).collect()[0].c
    exp = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert got == pytest.approx(exp, rel=1e-12)


def _emb(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),   # closest to 0
        (5, [0.8, 0.3, 0.0, 0.0], 0),   # second closest
        (6, [0.0, 1.0, 0.0, 0.0], 1),
        (7, [0.0, 0.0, 1.0, 0.0], 1),
        (8, [-1.0, 0.0, 0.0, 0.0], 2),  # antipode
    ]
    return spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, v, lab in vecs],
        "vec_id bigint, embedding array<float>, label int",
    )


def test_knn_topk_order_and_k(spark):
    out = [
        (r.neighbor_id, r.knn_rank)
        for r in knn_topk(_emb(spark), query_ids=[0], k=3).orderBy("knn_rank").collect()
    ]
    assert out == [(1, 1), (5, 2), (6, 3)]


def test_lsh_bucket_groups_identical_vectors(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0]), (2, [-1.0, -2.0, -3.0, -4.0])],
        "vec_id bigint, embedding array<float>",
    )
    got = {r.vec_id: r.bucket for r in lsh_bucket(df).collect()}
    assert got[0] == got[1]  # identical vectors always share a bucket
    assert got[0] != got[2]  # antipodal vectors flip every plane's sign


def test_lsh_bucket_rejects_degenerate_mask_window(spark):
    # r6 advice: a Walsh mask >= dim degenerates that plane to a constant
    # sign — silently halving effective buckets. With dim passed, the
    # builder must fail fast instead.
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0])], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="mask window"):
        lsh_bucket(df, n_planes=4, first_mask=1, dim=4)  # masks 1..4, 4 >= dim
    # boundary config (masks 1..3 < dim=4) builds fine
    assert lsh_bucket(df, n_planes=3, first_mask=1, dim=4).collect()


def test_hot_shingle_df_cutoff_prevents_fanout(spark):
    # 8 docs share a stop-phrase shingle but are otherwise unrelated: with
    # the df cutoff the inverted-index self-join must produce NO pairs
    # (each pair's only shared shingle is the hot one). Two real dups stay.
    stop = "call now to subscribe"
    docs = [(i, f"{stop} unique{i} extra{i} token{i} filler{i}", "s") for i in range(8)]
    docs += [(100, "alpha beta gamma delta epsilon", "s"), (101, "alpha beta gamma delta epsilon", "s")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string, source string")
    pairs = jaccard_pairs(df, threshold=0.1, max_df_frac=0.5).collect()
    got = sorted((r.doc_a, r.doc_b) for r in pairs)
    assert got == [(100, 101)]


def test_df_cutoff_disabled_keeps_hot_pairs(spark):
    stop = "call now to subscribe"
    docs = [(i, f"{stop} unique{i}", "s") for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string, source string")
    # without the cutoff every pair shares the hot shingles -> 6 pairs appear
    pairs = jaccard_pairs(df, threshold=0.1, max_df_frac=1.0).collect()
    assert len(pairs) == 6


def test_simhash_identical_docs_hamming_zero(spark):
    from yfinance_etl_spark.operators.dedup import simhash_neardup, simhash_signatures

    docs = _docs(spark)
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]  # identical text -> identical signature
    assert 0 <= sigs[0] < (1 << 32)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_neardup(docs).collect()}
    assert pairs[(0, 1)] == 0


def test_embedding_cosine_neardup_finds_exact_dup(spark):
    from yfinance_etl_spark.plans.queries import REGISTRY

    out = REGISTRY["dedup_embedding_cosine"].fn(spark, "/root/testdata/sf0.001")
    pairs = {(r.doc_a, r.doc_b): r.cos_sim for r in out.collect()}
    assert all(c >= 0.95 for c in pairs.values())


def test_ivf_assign_and_probe(spark):
    from yfinance_etl_spark.operators.similarity import ivf_assign, ivf_topk

    emb = _emb(spark)
    assigned, cents = ivf_assign(emb, k_centroids=2)
    # hash-spread sample: the 2 smallest md5(vec_id) of {0,1,5,6,7,8}
    import hashlib

    expected = sorted(
        [0, 1, 5, 6, 7, 8],
        key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
    )[:2]
    assert sorted(r.cent_id for r in cents.collect()) == sorted(expected) == [6, 7]
    lists = {r.vec_id: r.list_id for r in assigned.collect()}
    # centroid 6 = [0,1,0,0], centroid 7 = [0,0,1,0]
    assert lists[1] == 6 and lists[5] == 6  # positive dim-1 component → 6
    assert lists[6] == 6 and lists[7] == 7
    assert lists[0] == 6 and lists[8] == 6  # cos 0 to both → tie → lowest id
    top = ivf_topk(emb, k=2, k_centroids=2, n_probe=2).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.q_id, []).append((r.knn_rank, r.neighbor_id))
    # with n_probe=2 (all lists) results equal exact brute force for q=0
    assert sorted(by_q[0]) == [(1, 1), (2, 5)]


def test_ivf_assign_rejects_non_finite_centroid_vectors(spark):
    # r9 ADVICE: repr(nan)/repr(inf) in the k×dim SQL literal would have
    # surfaced as an opaque Catalyst parse error — the guard must name the
    # offending vec_id instead
    import pytest

    from yfinance_etl_spark.operators.similarity import ivf_assign

    rows = [
        (0, [1.0, 0.0]), (1, [float("nan"), 1.0]),
        (2, [0.0, 1.0]), (3, [1.0, float("inf")]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="non-finite"):
        ivf_assign(emb, k_centroids=4)


def test_kmeans_rejects_non_finite_seed_vectors(spark):
    import pytest

    from yfinance_etl_spark.operators.clustering import kmeans

    rows = [(0, [0.0, 0.0]), (1, [float("nan"), 1.0]), (2, [2.0, 2.0])]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="non-finite"):
        kmeans(embs, k=2, iters=1)


def test_multiprobe_recall_at_least_single_probe(spark):
    from yfinance_etl_spark.operators.similarity import (
        ann_bucketed_topk,
        ann_multiprobe_topk,
        knn_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.q_id, r.neighbor_id) for r in knn_topk(emb, k=5).collect()}
    single = {(r.q_id, r.neighbor_id) for r in ann_bucketed_topk(emb, k=5).collect()}
    multi = {(r.q_id, r.neighbor_id) for r in ann_multiprobe_topk(emb, k=5).collect()}
    # probing strictly more buckets can only improve recall vs brute force
    assert len(multi & exact) >= len(single & exact)


def test_signature_udf_twins_equal_catalyst(spark):
    from yfinance_etl_spark.operators.dedup import (
        doc_hashes,
        minhash_sigs_catalyst,
        minhash_sigs_udf,
        simhash_sig_catalyst,
        simhash_sig_udf,
    )
    from pyspark.sql import functions as F

    hashed = doc_hashes(_docs(spark))
    mh_ref = {r.doc_id: r.mh for r in minhash_sigs_catalyst(hashed).collect()}
    mh_fast = {
        r.doc_id: r.mh
        for r in hashed.filter(F.size("hs") > 0)
        .select("doc_id", minhash_sigs_udf("hs").alias("mh"))
        .collect()
    }
    assert mh_ref == mh_fast and len(mh_ref) == 4  # doc 4 has no shingles
    sh_ref = {r.doc_id: r.simhash for r in simhash_sig_catalyst(hashed).collect()}
    sh_fast = {
        r.doc_id: r.simhash
        for r in hashed.filter(F.size("hs") > 0)
        .select("doc_id", simhash_sig_udf("hs").alias("simhash"))
        .collect()
    }
    assert sh_ref == sh_fast


def test_banded_neardup_is_superset_of_single_band(spark):
    # band 0 of the banded blocker uses exactly the single-band masks
    # (1-4), so every single-band pair must reappear in the banded result
    # with the same cos_sim — banding can only ADD recall, never lose it
    from yfinance_etl_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    single = {
        (r.doc_a, r.doc_b): r.cos_sim
        for r in REGISTRY["dedup_embedding_cosine"].fn(spark, sf).collect()
    }
    banded = {
        (r.doc_a, r.doc_b): r.cos_sim
        for r in REGISTRY["dedup_embedding_banded"].fn(spark, sf).collect()
    }
    assert set(single) <= set(banded)
    assert all(banded[k] == v for k, v in single.items())
    # and no pair below the threshold leaks through the extra bands
    assert all(c >= 0.95 for c in banded.values())


def test_exact_dedup_stats_null_text_is_not_a_duplicate(spark):
    # fingerprint(NULL) is NULL: countDistinct skips it but count(*)
    # doesn't, so the old minuend reported every null-text doc as a dupe
    from yfinance_etl_spark.operators.dedup import exact_dedup_stats

    docs = spark.createDataFrame(
        [(1, "s", None), (2, "s", "unique text"), (3, "s", "unique text")],
        "doc_id bigint, source string, text string",
    )
    row = exact_dedup_stats(docs).collect()[0]
    assert row.n_docs == 3
    assert row.n_dupes == 1  # only the genuine text duplicate


def test_cosine_zero_norm_vector_yields_null_not_abort(spark):
    # ANSI-on Spark aborts the job on /0; a single all-zero embedding in
    # the candidate set must score NULL (DuckDB parity), not kill top-k
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.similarity import cosine

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert got[0].c is None
    assert got[1].c == 1.0


def test_check_finite_vectors_names_offending_ids(spark):
    import pytest

    from yfinance_etl_spark.operators.clustering import kmeans

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)] + [(99, [float("nan"), 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    # the NaN row is NOT among the k seed rows the literal guard collects
    with pytest.raises(ValueError, match="99"):
        kmeans(emb, k=2, iters=1)
    # pre-cleaned corpora can skip the scan
    ok, _ = kmeans(emb.filter("vec_id < 20"), k=2, iters=1)
    assert ok.count() == 20


# ---------------------------------------------------------------------------
# Edit-distance near-dup (PassJoin: length band + pigeonhole blocks + verify)
# ---------------------------------------------------------------------------


def _brute_lev_pairs(rows, k):
    """All-pairs reference: plain DP levenshtein, no filters."""

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    out = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1 :]:
            d = lev(ta, tb)
            if d <= k:
                out[(ia, ib)] = d
    return out


@pytest.mark.parametrize("method", ["band", "passjoin"])
def test_editdistance_matches_bruteforce(spark, method):
    from yfinance_etl_spark.operators.dedup import editdistance_neardup

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # dist 3 from 0
        (2, "the quick brown fox jumps over the lazy dog!"),  # dist 1 from 0
        (3, "a completely different sentence about spark here"),
        (4, "the quick brown fox leaps over the lazy dog"),  # dist 3 from 0
        (5, "short one"),
        (6, "short two"),  # dist 3 from 5
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in editdistance_neardup(df, k=4, method=method).collect()
    }
    assert got == _brute_lev_pairs(rows, 4)


@pytest.mark.parametrize("method", ["band", "passjoin"])
def test_editdistance_band_boundary_both_directions(spark, method):
    """A qualifying pair whose two docs sit in ADJACENT length bands must be
    found regardless of which doc has the smaller doc_id — the r9 oracle
    prototype lost 9 of 24 pairs to exactly this (probe fanned up only)."""
    from yfinance_etl_spark.operators.dedup import editdistance_neardup

    base = "abcdefghijklmnopqrst"  # len 20 → band 4 (len div 5 at k=4)
    short = base[:-1]  # len 19 → band 3, dist 1 from base
    # pair (base, short): bands 4 vs 3, dist 1 <= 4 — test both id orders
    for rows in (
        [(0, base), (1, short)],
        [(0, short), (1, base)],
    ):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {
            (r.doc_a, r.doc_b): r.edit_dist
            for r in editdistance_neardup(df, k=4, method=method).collect()
        }
        assert got == {(0, 1): 1}, rows


def test_editdistance_threshold_cap_excludes_beyond_k(spark):
    from yfinance_etl_spark.operators.dedup import editdistance_neardup

    rows = [(0, "aaaaaaaaaa"), (1, "aaaaaaabbb")]  # dist 3
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert editdistance_neardup(df, k=2).count() == 0
    out = editdistance_neardup(df, k=3).collect()
    assert [(r.doc_a, r.doc_b, r.edit_dist) for r in out] == [(0, 1, 3)]


@pytest.mark.parametrize("method", ["band", "passjoin"])
def test_editdistance_short_doc_regime(spark, method):
    """Docs shorter than k+1 chars void the pigeonhole guarantee (some
    block would be empty) — the passjoin path must route them through the
    band fallback and still find every pair, including short×long ones
    near the regime boundary and identical docs (dist 0)."""
    from yfinance_etl_spark.operators.dedup import editdistance_neardup

    rows = [
        (0, "ab"),            # len 2 (short regime at k=4)
        (1, "abc"),           # dist 1 from 0
        (2, "abcdef"),        # len 6 (long regime), dist 4 from 0, 3 from 1
        (3, "ab"),            # identical to 0 → dist 0
        (4, "zzzzzzzzzzzz"),  # unrelated long doc
        (5, "abcdefg"),       # long×long: dist 1 from 2
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in editdistance_neardup(df, k=4, method=method).collect()
    }
    assert got == _brute_lev_pairs(rows, 4)


def test_editdistance_methods_agree_on_fixture_corpus(spark):
    """band vs passjoin on the real sf0.001 documents table: identical
    pair sets (the two complete-filter strategies must converge)."""
    from yfinance_etl_spark.operators.dedup import editdistance_neardup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {(r.doc_a, r.doc_b, r.edit_dist)
         for r in editdistance_neardup(docs, k=4, method="band").collect()}
    b = {(r.doc_a, r.doc_b, r.edit_dist)
         for r in editdistance_neardup(docs, k=4, method="passjoin").collect()}
    assert a == b


def test_semantic_dedup_hand_computed(spark):
    """Planted two-group fixture: seeds (the two smallest vec_ids) land in
    different groups, so k=2 separates them in one iteration; every
    within-group pair is a near-dup at tau=0.99 while cross-group cosine
    is 0 — counts and max_dup_sim are hand-derivable."""
    import math

    from yfinance_etl_spark.operators.clustering import semantic_dedup

    rows = [
        (0, [10.0, 0.0]),
        (1, [0.0, 10.0]),
        (2, [10.0, 0.1]),
        (3, [0.0, 9.9]),
        (4, [9.9, 0.0]),
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r.cluster_id: r
        for r in semantic_dedup(embs, k=2, iters=1, tau=0.99, probes=1).collect()
    }
    assert set(out) == {0, 1}
    a, b = out[0], out[1]
    # group A = {0, 2, 4}: 2 pruned by 0 (and by each other), 4 pruned by 0
    assert (a.n_vecs, a.n_pruned, a.n_kept) == (3, 2, 1)
    # group B = {1, 3}: 3 pruned by 1
    assert (b.n_vecs, b.n_pruned, b.n_kept) == (2, 1, 1)
    # max_dup_sim: colinear pairs (0,4) and (1,3) have exact cosine 1.0
    assert a.max_dup_sim == 1.0
    assert b.max_dup_sim == 1.0
    # and with tau above every within-group similarity, nothing prunes
    lone = semantic_dedup(embs, k=2, iters=1, tau=1.1, probes=1).collect()
    assert all(r.n_pruned == 0 and r.max_dup_sim is None for r in lone)
    assert sum(r.n_kept for r in lone) == len(rows)
    # cosine of the (0, 2) pair, for the record: hand value survives the
    # rounding policy (round BEFORE the tau comparison)
    cos_02 = 100.0 / (10.0 * math.sqrt(10.0**2 + 0.1**2))
    assert 0.99 <= round(cos_02, 6) < 1.0


def test_semantic_dedup_target_cluster_size_scales_k(spark):
    """auto-k (r10): target_cluster_size derives k = max(k, ceil(N/target))
    from one COUNT — the paper's fixed-E|cluster| operating point. With
    target far above N the fixed k wins (identical output); with a small
    target the cluster count grows accordingly."""
    from yfinance_etl_spark.operators.clustering import semantic_dedup
    from yfinance_etl_spark.operators.rag import doc_embeddings

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    embs = doc_embeddings(docs).withColumnRenamed("doc_id", "vec_id")
    n = embs.count()
    # huge target → k stays at the explicit 4: byte-identical output
    fixed = sorted(
        tuple(r) for r in semantic_dedup(embs, k=4, iters=1, probes=1).collect()
    )
    auto = sorted(
        tuple(r)
        for r in semantic_dedup(
            embs, k=4, iters=1, probes=1, target_cluster_size=10 * n
        ).collect()
    )
    assert fixed == auto
    # target N/16 → 16 clusters requested; every vec still accounted for
    out = semantic_dedup(
        embs, k=4, iters=1, probes=1, target_cluster_size=max(1, n // 16)
    ).collect()
    assert len(out) >= 16
    assert sum(r.n_vecs for r in out) == n


def test_semantic_dedup_multiprobe_monotone(spark):
    """More probes can only surface MORE qualifying pairs (OR-
    amplification), so total pruned count is monotone in `probes` and
    total n_vecs is probe-invariant (primary assignment only)."""
    from yfinance_etl_spark.operators.clustering import semantic_dedup
    from yfinance_etl_spark.operators.rag import doc_embeddings

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    embs = doc_embeddings(docs).withColumnRenamed("doc_id", "vec_id")
    totals = {}
    for probes in (1, 2):
        rows = semantic_dedup(embs, k=4, iters=1, probes=probes).collect()
        totals[probes] = (
            sum(r.n_vecs for r in rows), sum(r.n_pruned for r in rows)
        )
    assert totals[1][0] == totals[2][0] == docs.count()
    assert totals[2][1] >= totals[1][1]


def test_probe_assign_primary_matches_hard_assign(spark):
    from yfinance_etl_spark.operators.clustering import assign, probe_assign

    import pytest

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float((3 * i) % 5)]) for i in range(40)],
        "vec_id bigint, vec array<double>",
    )
    cents = [(0, [0.0, 0.0]), (1, [6.0, 0.0]), (2, [0.0, 4.0])]
    hard = {r.vec_id: r.cent_id for r in assign(vecs, cents).collect()}
    probed = probe_assign(vecs, cents, probes=2).collect()
    prim = {r.vec_id: r.cent_id for r in probed if r.probe_rank == 1}
    assert prim == hard
    # the carried primary_cent column agrees on EVERY probed row
    assert all(r.primary_cent == hard[r.vec_id] for r in probed)
    # each vector appears exactly `probes` times with distinct clusters
    from collections import Counter

    c = Counter(r.vec_id for r in probed)
    assert set(c.values()) == {2}
    with pytest.raises(ValueError, match="probes"):
        probe_assign(vecs, cents, probes=4)


def _brute_max_common_run(s1: str, s2: str) -> int:
    """O(n·m) longest-common-substring DP — the independent truth for
    substring_dup_spans.max_span."""
    best, prev = 0, [0] * (len(s2) + 1)
    for a in s1:
        cur = [0] * (len(s2) + 1)
        for j, b in enumerate(s2, 1):
            if a == b:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


def test_substring_dup_spans_hand_computed(spark):
    from yfinance_etl_spark.operators.dedup import substring_dup_spans

    shared = "The quick brown fox jumps over the lazy dog once more"  # 54 chars
    rows = [
        (0, "AAA " + shared + " tail-zero"),
        (1, "BBBBBB " + shared + " other-tail"),
        # two separate >= L runs against doc 0 (distinct diagonals)
        (2, "xx " + shared[:40] + " yyyyyyyy " + "AAA " + shared[:35]),
        (3, "completely unrelated text that is long enough to gram"),
        (4, "short"),          # < L: no grams
        (5, None),             # NULL text: dropped by the length filter
        (6, "AAA " + shared + " tail-zero"),  # identical to doc 0
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_a, r.doc_b): (r.max_span, r.n_spans)
        for r in substring_dup_spans(docs, min_len=32).collect()
    }
    # identical docs: one maximal run = the whole text
    assert got[(0, 6)] == (len(rows[0][1]), 1)
    # docs 0/1 share the sentence plus its flanking spaces (' '+shared+' ')
    assert got[(0, 1)] == (len(shared) + 2, 1)
    # doc 2 vs doc 0: exactly two maximal runs on different diagonals
    # (' ' + 40-char prefix, and 'AAA ' + 35-char prefix = 39 chars)
    assert got[(0, 2)] == (41, 2)
    assert (1, 2) in got  # via the shared prefix
    assert not any(3 in p or 4 in p or 5 in p for p in got)
    # every reported max_span equals the DP longest-common-substring
    texts = {i: t for i, t, in rows}
    for (a, b), (span, _) in got.items():
        assert span == _brute_max_common_run(texts[a], texts[b]), (a, b)


def test_substring_winnowed_guarantee_and_subset(spark):
    """Winnowing detection bound: every pair with a shared run of
    >= L + w - 1 chars MUST appear in the winnowed tier, and the winnowed
    output is a subset of the exact tier with identical span values."""
    from yfinance_etl_spark.operators.dedup import (
        SUBSTR_MIN_LEN,
        WINNOW_W,
        substring_dup_spans,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b): (r.max_span, r.n_spans)
        for r in substring_dup_spans(docs).collect()
    }
    win = {
        (r.doc_a, r.doc_b): (r.max_span, r.n_spans)
        for r in substring_dup_spans(docs, winnow_w=WINNOW_W).collect()
    }
    assert set(win) <= set(exact)
    for pair, v in win.items():
        assert exact[pair] == v, pair
    bound = SUBSTR_MIN_LEN + WINNOW_W - 1
    guaranteed = {p for p, (span, _) in exact.items() if span >= bound}
    assert guaranteed <= set(win), guaranteed - set(win)


def test_winnow_select_is_content_defined(spark):
    """Two docs whose texts share a long middle with different prefixes
    must select the same gram CONTENT inside the shared region — the
    property the candidate join rides on."""
    from yfinance_etl_spark.operators.dedup import char_grams, winnow_select

    mid = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" * 2
    docs = spark.createDataFrame(
        [(0, "PREFIX-ONE " + mid), (1, "A-DIFFERENT-LONGER-PREFIX " + mid)],
        "doc_id bigint, text string",
    )
    grams = char_grams(docs, 32)
    fp = winnow_select(grams, 8)  # carries gm via the struct-min
    sel = {d: set() for d in (0, 1)}
    for r in fp.collect():
        sel[r.doc_id].add(r.gm)
    shared_sel = sel[0] & sel[1]
    # grams fully inside the shared middle, selected in BOTH docs
    assert any(g in mid for g in shared_sel), (sel[0], sel[1])


def test_winnow_binary_min_key_matches_legacy_hex_concat_key(spark):
    """Pin the r16/r17 key equivalence (ADVICE r16): the struct-min over
    (unhex(md5(gm)), pos) must select the SAME gram per window as the
    legacy concat key  md5-hex || ':' || lpad(pos)  — i.e. unsigned
    BINARY ordering of the 16-byte digest is a monotone image of the
    lowercase-hex string collation the DuckDB oracle compares, with pos
    as the identical numeric tie-break. Repetitive text maximises digest
    near-ties (the same gram recurs at many positions inside one
    window, so selection repeatedly falls through to the pos
    tie-break)."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import char_grams, winnow_select

    rep = ("abcd" * 40) + "xyz" + ("abcd" * 40)  # heavy gram repetition
    docs = spark.createDataFrame(
        [(0, rep), (1, "zz" + rep[: len(rep) // 2])],
        "doc_id bigint, text string",
    )
    grams = char_grams(docs, 32)
    got = {
        (r.doc_id, r.pos, r.gm) for r in winnow_select(grams, 8).collect()
    }
    # legacy selection, computed directly over the same gram frame
    from pyspark.sql import Window

    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-7, Window.currentRow)
    )
    key = F.concat(
        F.md5("gm"), F.lit(":"), F.lpad(F.col("pos").cast("string"), 10, "0")
    )
    legacy = (
        grams.select(
            "doc_id",
            F.min(F.struct(key.alias("k"), F.col("pos"), F.col("gm")))
            .over(win)
            .alias("s"),
        )
        .distinct()
        .select(
            "doc_id",
            F.col("s.pos").cast("bigint").alias("pos"),
            F.col("s.gm").alias("gm"),
        )
    )
    want = {(r.doc_id, r.pos, r.gm) for r in legacy.collect()}
    assert got == want


def test_substring_contamination_hand_computed(spark):
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import substring_contamination

    leak = "this exact benchmark passage leaks into the training corpus verbatim"
    rows = [
        (0, "bench doc alpha >> " + leak + " << plus trailing prose"),   # bench
        (1, "candidate one copies: " + leak),                            # cand, hit
        (2, "clean candidate with its own long unrelated content here"), # cand
        (3, "another bench document " + leak),                           # bench
        (4, "candidate two also quotes " + leak + " at length"),         # cand, hit
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: (r.n_bench_docs, r.max_span)
        for r in substring_contamination(
            docs, F.col("doc_id").isin(0, 3), min_len=32
        ).collect()
    }
    # both leaking candidates flag against BOTH bench docs; the clean one
    # and the bench docs themselves never appear
    assert set(out) == {1, 4}
    assert out[1][0] == 2 and out[4][0] == 2
    # the evidence span covers at least the leaked passage (flanked chars
    # may extend it on matching boundaries)
    assert out[1][1] >= len(leak)
    assert out[4][1] >= len(leak)
    # raising the threshold beyond the leak length clears the drop-list
    assert (
        substring_contamination(
            docs, F.col("doc_id").isin(0, 3), min_len=len(leak) + 20
        ).count()
        == 0
    )


def test_semantic_dedup_excludes_null_embeddings(spark):
    """NULL text → NULL embedding: excluded by contract (r9 review — a
    NULL in the seed window used to die collecting; a NULL member
    silently fell out of Spark's centroid means while the oracle still
    counted it)."""
    from yfinance_etl_spark.operators.clustering import semantic_dedup
    from yfinance_etl_spark.operators.rag import hash_embed

    rows = [(0, None), (1, "alpha beta"), (2, "alpha beta"),
            (3, "gamma delta"), (4, None)]
    docs = spark.createDataFrame(rows, "vec_id bigint, text string")
    embs = docs.select("vec_id", hash_embed("text").alias("embedding"))
    out = semantic_dedup(embs, k=2, iters=1, tau=0.99, probes=1).collect()
    assert sum(r.n_vecs for r in out) == 3  # the two NULL docs excluded
    assert sum(r.n_pruned for r in out) == 1  # doc 2 pruned by doc 1


def test_probe_assign_rejects_non_finite_centroids(spark):
    # the shared literal builder must raise with ids, not a Catalyst
    # parse error (the guard assign() already had — r9 review found
    # probe_assign lost it in the copy)
    from yfinance_etl_spark.operators.clustering import probe_assign

    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id bigint, vec array<double>"
    )
    with pytest.raises(ValueError, match=r"non-finite.*cent_id=\[0\]"):
        probe_assign(vecs, [(0, [float("nan"), 0.0]), (1, [1.0, 2.0])], 1)


def test_check_finite_rejects_null_vectors(spark):
    from yfinance_etl_spark.operators.similarity import check_finite_vectors

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)], "vec_id bigint, vec array<double>"
    )
    with pytest.raises(ValueError, match="NULL or non-finite"):
        check_finite_vectors(df, "vec", "vec_id")


# ---------------------------------------------------------------------------
# Bloom-filter decontamination tier (r10)
# ---------------------------------------------------------------------------


def test_bloom_tier_matches_exact_tier_even_under_forced_false_positives(spark):
    """The Bloom prefilter + verify composition is EXACT: identical output
    to the broadcast-set tier at the default geometry AND at a filter
    squeezed to 64 bits / 2 hashes, where nearly every probe collides —
    the verify join is what carries correctness, the filter only prunes."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        bloom_contamination_overlap,
        contamination_overlap,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = F.col("doc_id") % 97 == 3
    exact = sorted(
        (r.doc_id, r.n_overlap) for r in contamination_overlap(docs, pred).collect()
    )
    assert exact  # fixture plants real leakage
    for bits, k in ((1 << 17, 5), (64, 2)):
        for membership in ("literal", "join"):
            got = sorted(
                (r.doc_id, r.n_overlap)
                for r in bloom_contamination_overlap(
                    docs, pred, bits=bits, n_hashes=k, membership=membership
                ).collect()
            )
            assert got == exact, (bits, k, membership)


def test_bloom_build_is_bounded_and_membership_is_complete(spark):
    """Build-side contract: the word table is bounded by bits/64 (driver
    traffic tracks FILTER size, never key count). Membership contract:
    zero false negatives over the build keys; false-positive rate on
    disjoint probes sits near the geometry's prediction, far under 100%."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        bloom_build_words,
        bloom_might_contain,
    )

    bits, k = 1 << 12, 5
    keys = spark.range(300).select(F.concat(F.lit("key"), F.col("id")).alias("s"))
    words = bloom_build_words(keys, "s", bits, k)
    assert len(words) == bits // 64
    assert any(words)  # bits actually set
    member = keys.filter(bloom_might_contain(words, "s", bits, k)).count()
    assert member == 300  # no false negatives, ever
    other = spark.range(300, 1300).select(
        F.concat(F.lit("key"), F.col("id")).alias("s")
    )
    fp = other.filter(bloom_might_contain(words, "s", bits, k)).count()
    # fpp ≈ (1 - e^{-kn/m})^k ≈ 0.0043 at n=300, m=4096, k=5 → expect ~4
    assert fp <= 50, fp


def test_bloom_prefilter_stays_jvm_side(spark):
    """The candidate-side membership test must be pure Catalyst — no
    Python evaluation anywhere in the plan (the whole point: the filter
    rides whole-stage codegen on the corpus scan)."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import bloom_contamination_overlap

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = bloom_contamination_overlap(
        docs, F.col("doc_id") % 97 == 3
    )._jdf.queryExecution().executedPlan().toString()
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan, py_op
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Cross-snapshot delta dedup + split leakage check (r10)
# ---------------------------------------------------------------------------


def test_delta_dedup_matches_cross_set_slice_of_full_join(spark):
    """The asymmetric band join must recover EXACTLY the cross-set pairs
    the full union self-join finds — no more (corpus-internal pairs must
    never form: that's the incremental saving) and no fewer."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        minhash_delta_neardup,
        minhash_lsh_neardup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.filter(F.col("doc_id") % 10 < 2)
    corpus = docs.filter(F.col("doc_id") % 10 >= 2)
    delta = minhash_delta_neardup(new, corpus).collect()
    assert all(r.new_doc_id % 10 < 2 and r.corpus_doc_id % 10 >= 2 for r in delta)
    full = minhash_lsh_neardup(docs).collect()
    cross = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b), r.jaccard)
        for r in full
        if (r.doc_a % 10 < 2) != (r.doc_b % 10 < 2)
    }
    got = {
        (min(r.new_doc_id, r.corpus_doc_id), max(r.new_doc_id, r.corpus_doc_id), r.jaccard)
        for r in delta
    }
    assert got == cross and len(cross) > 0


def test_delta_dedup_planted_cross_and_internal_dups(spark):
    """Planted corpus: a new doc duplicating a corpus doc IS flagged; two
    corpus docs duplicating each other are NOT (already-resolved history
    must not re-pair); an all-new dup pair is also not this operator's
    business (the delta self-join handles it)."""
    from yfinance_etl_spark.operators.dedup import minhash_delta_neardup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    new = spark.createDataFrame(
        [(100, base), (101, "totally unrelated fresh content about spark plans"),
         (102, "totally unrelated fresh content about spark plans")],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, base), (3, "other old corpus document text entirely")],
        "doc_id bigint, text string",
    )
    out = {(r.new_doc_id, r.corpus_doc_id) for r in minhash_delta_neardup(new, corpus).collect()}
    assert out == {(100, 1), (100, 2)}  # cross pairs only — never (1,2) or (101,102)


def test_split_leakage_check_flags_planted_cross_split_dup(spark):
    """Plant a near-dup across the train/val boundary (split membership
    derived from the same md5 rule the operator uses) and check it is
    counted in the val row."""
    import hashlib

    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import contamination_overlap
    from yfinance_etl_spark.operators.sampling import with_split

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100

    train_id = next(i for i in range(1000) if bucket(i) < 80)
    val_id = next(i for i in range(1000) if 80 <= bucket(i) < 90)
    test_id = next(i for i in range(1000) if bucket(i) >= 90)
    leak = "this exact passage leaks across the split boundary verbatim today"
    docs = spark.createDataFrame(
        [(train_id, leak), (val_id, leak + " with a tail"),
         (test_id, "completely different held-out evaluation content here")],
        "doc_id bigint, text string",
    )
    sp = with_split(docs, key="doc_id")
    flagged = {
        r.doc_id: r.n_overlap
        for r in contamination_overlap(sp, F.col("split") == "train").collect()
    }
    assert val_id in flagged and flagged[val_id] >= 3
    assert test_id not in flagged


def test_delta_dedup_split_form_equals_two_table_form(spark):
    """The one-table split form is an algebraic rewrite (signatures are
    per-doc, filter-after == filter-before): byte-identical output to
    the general two-table form on the same slicing."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        minhash_delta_neardup,
        minhash_delta_neardup_split,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = F.col("doc_id") % 10 < 2
    two = sorted(
        tuple(r)
        for r in minhash_delta_neardup(
            docs.filter(pred), docs.filter(~pred)
        ).collect()
    )
    one = sorted(
        tuple(r) for r in minhash_delta_neardup_split(docs, pred).collect()
    )
    assert one == two and len(one) > 0


def test_semantic_dedup_rejects_degenerate_target_cluster_size(spark):
    import pytest

    from yfinance_etl_spark.operators.clustering import semantic_dedup

    embs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    for bad in (0, -5):
        with pytest.raises(ValueError, match="target_cluster_size"):
            semantic_dedup(embs, k=2, iters=1, target_cluster_size=bad)


def test_short_dim_raises_in_knn_join_and_semantic_dedup(spark):
    """A ``dim`` shorter than the vectors fails loudly instead of scoring
    only a prefix of each vector, and the right ``dim`` returns the rows
    of the call without one, bit for bit."""
    import pytest

    from yfinance_etl_spark.operators.clustering import semantic_dedup
    from yfinance_etl_spark.operators.similarity import knn_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")  # 64-d
    with pytest.raises(Exception, match="dim=32"):
        knn_join(emb, k=3, n_planes=6, dim=32).collect()
    free = sorted(tuple(r) for r in knn_join(emb, k=3, n_planes=6).collect())
    checked = sorted(tuple(r) for r in knn_join(emb, k=3, n_planes=6, dim=64).collect())
    assert checked == free and len(free) > 0

    embs = spark.createDataFrame(
        [(0, [10.0, 0.0]), (1, [0.0, 10.0]), (2, [10.0, 0.1]), (3, [0.0, 9.9])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(Exception, match="dim=1"):
        semantic_dedup(embs, k=2, iters=1, tau=0.99, dim=1).collect()
    free = sorted(tuple(r) for r in semantic_dedup(embs, k=2, iters=1, tau=0.99).collect())
    unrolled = sorted(
        tuple(r) for r in semantic_dedup(embs, k=2, iters=1, tau=0.99, dim=2).collect()
    )
    assert unrolled == free and len(free) > 0


def test_predicate_split_operators_route_null_predicate_rows_to_candidate_side(spark):
    """NULL contract (ADVICE r10): a row whose split predicate evaluates
    NULL must land on the candidate/corpus side — never silently vanish
    from both filter(pred) and filter(~pred). Pinned on all three
    predicate-split operators by comparing against an explicit
    coalesced slicing."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        bloom_contamination_overlap,
        contamination_overlap,
        minhash_delta_neardup,
        minhash_delta_neardup_split,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # doc_id-derived (the operators' documented predicate domain), NULL
    # for doc_id % 10 in [2, 5) — a lang-like three-valued marker
    nullable_pred = F.when(F.col("doc_id") % 10 < 2, F.lit(True)).when(
        F.col("doc_id") % 10 >= 5, F.lit(False)
    )
    explicit_pred = F.coalesce(nullable_pred, F.lit(False))

    for op in (contamination_overlap, bloom_contamination_overlap):
        got = sorted(tuple(r) for r in op(docs, nullable_pred).collect())
        want = sorted(tuple(r) for r in op(docs, explicit_pred).collect())
        assert got == want and len(got) > 0, op.__name__

    got = sorted(
        tuple(r) for r in minhash_delta_neardup_split(docs, nullable_pred).collect()
    )
    want = sorted(
        tuple(r)
        for r in minhash_delta_neardup(
            docs.filter(explicit_pred), docs.filter(~explicit_pred)
        ).collect()
    )
    assert got == want and len(got) > 0


def test_bloom_join_tier_executes_beyond_the_plan_literal_bound(spark):
    """The join tier's reason to exist (r10 weak mark): a filter too
    large to inline as a plan literal. At bits=2^34 the dense word array
    would be 2 GiB — bloom_build_words refuses it — while the sparse
    word table is ~n_keys*k rows and the join tier runs to the same
    exact answer (verify carries exactness; near-zero fpp at this
    geometry prunes hardest)."""
    import pytest
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        BLOOM_LITERAL_MAX_BITS,
        bloom_build_words,
        bloom_contamination_overlap,
        contamination_overlap,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = F.col("doc_id") % 97 == 3
    big = 1 << 34
    assert big > BLOOM_LITERAL_MAX_BITS

    with pytest.raises(ValueError, match="plan-literal tier bound"):
        bloom_build_words(docs.limit(1), "text", bits=big)
    with pytest.raises(ValueError, match="membership"):
        bloom_contamination_overlap(docs, pred, membership="bogus")

    exact = sorted(
        (r.doc_id, r.n_overlap) for r in contamination_overlap(docs, pred).collect()
    )
    # auto at 2^34 bits must route to the join tier and still be exact
    got = sorted(
        (r.doc_id, r.n_overlap)
        for r in bloom_contamination_overlap(
            docs, pred, bits=big, membership="auto"
        ).collect()
    )
    assert got == exact and len(got) > 0


def test_bloom_join_tier_has_no_driver_round_trip(spark):
    """Plan pin for the join tier: constructing the query runs ZERO Spark
    jobs (the literal tier, by contrast, must collect the word table at
    plan-build time), the membership test stays JVM-side, and the word
    table enters through a broadcast join."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import bloom_contamination_overlap

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = spark.sparkContext
    group = "bloom-join-plan-build"
    sc.setJobGroup(group, "prove lazy construction")
    try:
        q = bloom_contamination_overlap(
            docs, F.col("doc_id") % 97 == 3, bits=1 << 30, membership="join"
        )
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert list(jobs) == [], f"join-tier plan build ran driver-side jobs: {jobs}"

    plan = q._jdf.queryExecution().executedPlan().toString()
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan, py_op
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_delta_dedup_persisted_signature_roundtrip(spark, tmp_path, monkeypatch):
    """The persisted-signature contract the delta-dedup docstring claims,
    executed: corpus signatures written once through the S10 sink, read
    back, and fed to the incremental run — results identical to the
    in-memory form, and signature computation (minhash_bands) runs for
    the DELTA side only."""
    from pyspark.sql import functions as F

    import yfinance_etl_spark.operators.dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = F.col("doc_id") % 10 < 2
    new_docs, corpus_docs = docs.filter(pred), docs.filter(~pred)

    sig_path = str(tmp_path / "corpus_sigs")
    D.write_minhash_signatures(corpus_docs, sig_path)
    corpus_bands = D.read_minhash_signatures(spark, sig_path)
    # persisted schema is the documented contract, band_id partition-typed back to int
    assert dict(corpus_bands.dtypes) == {
        "doc_id": "bigint", "band_id": "int", "band_val": "string"
    }

    want = sorted(
        tuple(r) for r in D.minhash_delta_neardup(new_docs, corpus_docs).collect()
    )

    calls = []
    real_bands = D.minhash_bands
    monkeypatch.setattr(D, "minhash_bands", lambda d: calls.append(d) or real_bands(d))
    got = sorted(
        tuple(r)
        for r in D.minhash_delta_neardup(
            new_docs, corpus_docs, corpus_bands=corpus_bands
        ).collect()
    )
    assert got == want and len(got) > 0
    assert len(calls) == 1  # the delta side — never the corpus


def test_int8_codes_hand_checked_and_zero_vector(spark):
    from yfinance_etl_spark.operators.similarity import int8_codes

    df = spark.createDataFrame(
        [(0, [1.0, -0.5, 0.25, 0.0], 0), (1, [0.0, 0.0, 0.0, 0.0], 1)],
        "vec_id bigint, embedding array<double>, label int",
    )
    got = {r.vec_id: list(r.codes) for r in int8_codes(df).collect()}
    # s=1.0: floor(x*127 + .5) → 127, floor(-63.5+.5)=-63, floor(31.75+.5)=32, 0
    assert got[0] == [127, -63, 32, 0]
    assert got[1] == [0, 0, 0, 0]  # zero vector: all-zero codes, no divide error


def test_int8_topk_matches_exact_knn_on_fixture(spark):
    """Recall pin at the default rerank_factor: the two-stage quantized
    path returns EXACTLY the brute-force float top-k on the fixture —
    and its published cos_sim is the float score, never the code score."""
    from yfinance_etl_spark.operators.similarity import int8_topk, knn_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(
        (r.q_id, r.knn_rank, r.neighbor_id, r.cos_sim)
        for r in int8_topk(emb, k=5).collect()
    )
    b = sorted(
        (r.q_id, r.knn_rank, r.neighbor_id, r.cos_sim)
        for r in knn_topk(emb, k=5).collect()
    )
    assert a == b and len(a) == 25


def test_int8_stage1_scans_codes_never_float_vectors(spark):
    """The scale claim, plan-pinned: stage 1's candidate cut must rank
    over the quantized codes with the float vectors entering only the
    candidate-sized rerank join — and no Python node anywhere."""
    from yfinance_etl_spark.operators.similarity import int8_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = int8_topk(emb, k=5)._jdf.queryExecution().executedPlan().toString()
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan, py_op


def test_counting_bloom_conservation_and_no_false_negatives(spark):
    """The counter invariant Σcnt = n_distinct_keys · n_hashes must hold
    through build and remove (set semantics: duplicates in the input
    count once), and membership must have NO false negatives for every
    still-present key after a removal — the hard guarantee the exact
    verify relies on."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        counting_bloom_build,
        counting_bloom_member_keys,
        counting_bloom_remove,
    )

    keys = spark.createDataFrame(
        [(f"k{i}",) for i in range(40)] + [("k0",), ("k1",)], "k string"
    )
    c = counting_bloom_build(keys, "k")
    assert c.agg(F.sum("cnt")).collect()[0][0] == 40 * 5

    retired = spark.createDataFrame([(f"k{i}",) for i in range(10)], "k string")
    c2 = counting_bloom_remove(c, retired, "k")
    assert c2.agg(F.sum("cnt")).collect()[0][0] == 30 * 5

    present = {f"k{i}" for i in range(10, 40)}
    members = {
        r.k for r in counting_bloom_member_keys(keys, "k", c2).collect()
    }
    assert present <= members  # no false negatives, ever


def test_contrastive_triplets_hard_and_permuted_negatives(spark):
    """Hand-checkable corpus: two exact dups (positives of each other)
    with a partial-overlap neighbor (their HARD negative), an unrelated
    doc, and a second isolated dup pair whose only candidate is its own
    positive — forcing the seeded-permutation FALLBACK negative, which
    must avoid the anchor's positive and every candidate. Deterministic
    across runs; floor >= threshold fails loudly."""
    import pytest as _pytest

    from yfinance_etl_spark.operators.pairs import contrastive_triplets

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),          # exact dup of 1
            (3, "a b c d x y z w"),          # partial overlap with 1,2
            (4, "p q r s t u v"),            # unrelated
            (5, "m n o m2 n2 o2 m3 n3"),     # isolated dup pair
            (6, "m n o m2 n2 o2 m3 n3"),
        ],
        "doc_id long, text string",
    )
    out = {r.anchor_id: r for r in contrastive_triplets(docs).collect()}
    # anchors: exactly the docs with a verified positive
    assert set(out) == {1, 2, 5, 6}
    assert out[1].positive_id == 2 and out[2].positive_id == 1
    assert out[1].pos_jaccard == 1.0
    # 3 shares "a b c"/"b c d" with 1 and 2: the mined hard negative
    assert out[1].negative_id == 3 and out[1].neg_kind == "hard"
    assert 0.0 < out[1].neg_jaccard < 0.8
    assert out[2].negative_id == 3
    # 5/6's only candidate is each other -> permuted fallback, which may
    # not be the positive (and has no shared indexed shingle: 0.0)
    for a, p in ((5, 6), (6, 5)):
        assert out[a].positive_id == p
        assert out[a].neg_kind == "permuted"
        assert out[a].negative_id in {1, 2, 3, 4}
        assert out[a].neg_jaccard == 0.0
    # deterministic: a second run is row-identical
    again = {r.anchor_id: r for r in contrastive_triplets(docs).collect()}
    assert again == out
    with _pytest.raises(ValueError, match="floor"):
        contrastive_triplets(docs, threshold=0.5, floor=0.6)


def test_counting_bloom_add_grows_the_standing_table_incrementally(spark):
    """counting_bloom_add (the crawl-cycle append step): base + added
    delta must equal a one-shot build over the union — bit-for-bit on
    the sparse (pos, cnt) table — and the incremental-counters form of
    frontier_to_fetch must return exactly the rebuild form's output on
    the grown frontier."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        counting_bloom_add,
        counting_bloom_build,
        frontier_to_fetch,
    )

    base = spark.createDataFrame([(f"k{i}",) for i in range(30)], "k string")
    delta = spark.createDataFrame([(f"n{i}",) for i in range(10)], "k string")
    grown = counting_bloom_add(counting_bloom_build(base, "k"), delta, "k")
    oneshot = counting_bloom_build(base.unionAll(delta), "k")
    assert sorted(map(tuple, grown.collect())) == sorted(
        map(tuple, oneshot.collect())
    )
    assert grown.agg(F.sum("cnt")).collect()[0][0] == 40 * 5

    probes = spark.createDataFrame(
        [(f"k{i}",) for i in range(5)]
        + [(f"n{i}",) for i in range(5)]
        + [(f"x{i}",) for i in range(5)],
        "k string",
    )
    seen = base.unionAll(delta)
    none_retired = base.limit(0)
    incr = sorted(
        (r.k, r.to_fetch)
        for r in frontier_to_fetch(
            probes, seen, none_retired, col="k", counters=grown
        ).collect()
    )
    rebuild = sorted(
        (r.k, r.to_fetch)
        for r in frontier_to_fetch(probes, seen, none_retired, col="k").collect()
    )
    assert incr == rebuild
    assert dict(incr) == {
        **{f"k{i}": False for i in range(5)},
        **{f"n{i}": False for i in range(5)},
        **{f"x{i}": True for i in range(5)},
    }


def test_frontier_to_fetch_exact_even_with_forced_false_positives(spark):
    """to_fetch is EXACT regardless of filter geometry: at bits=8 nearly
    every probe is a Bloom maybe, and the verify join must kill every
    false positive — tier-identical output at bits=8 and the default,
    both equal to the plain anti-join semantics, with the deletion path
    load-bearing (retired URLs come back as to_fetch)."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import frontier_to_fetch

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    u = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    mod = F.col("doc_id") % 10

    def run(**kw):
        return sorted(
            (r.doc_id, r.to_fetch)
            for r in frontier_to_fetch(
                probes=u, seen=u.filter(mod >= 2), retired=u.filter(mod >= 8),
                col="url", **kw,
            ).collect()
        )

    got = run()
    assert got == run(bits=8)  # forced-FP geometry, identical output
    status = dict(got)
    assert len(status) == docs.count()
    for doc_id, to_fetch in status.items():
        assert to_fetch == (doc_id % 10 < 2 or doc_id % 10 >= 8)


def test_int8_codes_persist_roundtrip_and_tier_parity(spark, tmp_path):
    """write_int8_codes → read_int8_codes must be value-invisible: the
    persisted-codes form of int8_topk returns EXACTLY the inline form's
    output, and the persisted schema is the documented tinyint contract
    (the honest int8 — the 4× size claim is the file's, not a
    comment's)."""
    from yfinance_etl_spark.operators.similarity import (
        int8_topk,
        read_int8_codes,
        write_int8_codes,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "codes")
    write_int8_codes(emb, path)
    codes = read_int8_codes(spark, path)
    assert dict(codes.dtypes)["codes"] == "array<tinyint>"

    a = sorted(
        tuple(r)
        for r in int8_topk(emb, k=5, rerank_factor=4, codes_df=codes).collect()
    )
    b = sorted(tuple(r) for r in int8_topk(emb, k=5, rerank_factor=4).collect())
    assert a == b and len(a) == 25


def test_int8_persisted_stage1_scans_codes_path_not_embeddings(spark, tmp_path):
    """The 100 TB reason the codes table exists, plan-pinned: with a
    persisted codes table, stage 1's candidate cut reads the codes
    parquet and NEVER touches embeddings.parquet — float vectors enter
    the full plan only at the candidate-sized rerank joins."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.similarity import (
        _int8_stage1,
        int8_topk,
        read_int8_codes,
        write_int8_codes,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "codes")
    write_int8_codes(emb, path)
    codes = read_int8_codes(spark, path)

    stage1 = _int8_stage1(codes, F.col("vec_id") < 5, k=5, rerank_factor=4)
    plan = stage1._jdf.queryExecution().executedPlan().toString()
    assert "codes" in plan and "embeddings.parquet" not in plan

    # and the composed query keeps the embeddings scan out of stage 1:
    # every scan in the full plan is either the codes path or a rerank-
    # side embeddings read joined on the candidate slice
    full = int8_topk(emb, k=5, rerank_factor=4, codes_df=codes)
    fplan = full._jdf.queryExecution().executedPlan().toString()
    assert "codes" in fplan  # stage 1 feeds from the persisted table


def test_persisted_signature_layout_prunes_on_band_id(spark, tmp_path):
    """The signature parquet is partitioned BY band_id so a band-sliced
    read is directory pruning, not a scan+filter: the plan must show
    the band predicate consumed as a PartitionFilter (zero data files of
    other bands touched), which is the layout's reason to exist."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import write_minhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "sigs")
    write_minhash_signatures(docs, path)

    import os

    dirs = sorted(d for d in os.listdir(path) if d.startswith("band_id="))
    assert len(dirs) >= 2  # hive layout, one directory per band

    sliced = spark.read.parquet(path).filter(F.col("band_id") == 0)
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the band predicate must be IN the partition filters, not a post-scan filter
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "band_id" in pf, pf


def test_pq_codes_are_codebook_ids_and_reconstruction_width(spark):
    from yfinance_etl_spark.operators.pq import pq_codes, pq_reconstruct, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train(emb)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    codes = pq_codes(emb, books)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for i, book in enumerate(books):
        ids = {cid for cid, _ in book}
        assert {r[f"code_{i}"] for r in rows} <= ids, i
    # reconstruction concatenates the m subspace centroids back to dim
    r0 = pq_reconstruct(codes, books).first()
    assert len(r0.rvec) == 64


def test_pq_recall_curve_and_exact_scores(spark):
    """The measured operating points, pinned: recall@5 vs the exact scan
    is >= 0.85 at the registered rerank_factor=16 and 1.0 at 32 on the
    fixture (near-random hashed-BoW vectors — quantization's worst case);
    published cos_sim is the EXACT float score at every factor."""
    from yfinance_etl_spark.operators.pq import pq_topk, pq_train
    from yfinance_etl_spark.operators.similarity import knn_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.q_id, r.neighbor_id): r.cos_sim for r in knn_topk(emb, k=5).collect()}
    books = pq_train(emb)
    got16 = {(r.q_id, r.neighbor_id): r.cos_sim
             for r in pq_topk(emb, k=5, rerank_factor=16, books=books).collect()}
    hit = set(got16) & set(exact)
    assert len(hit) / len(exact) >= 0.85
    for key in hit:  # scores on the overlap are the exact floats
        assert got16[key] == exact[key]
    got32 = {(r.q_id, r.neighbor_id) for r in
             pq_topk(emb, k=5, rerank_factor=32, books=books).collect()}
    assert got32 == set(exact)  # full recall at rf=32


def test_pq_encode_and_reconstruct_are_map_side(spark):
    """The scale claims plan-pinned: encoding is ONE projection (no
    Exchange, no join, no Python node — all m codebook literals ride the
    same select), and since r16 reconstruction is a single projection
    too (map-literal ``element_at`` decode — the pre-r16 form paid one
    BroadcastExchange + hash join per subspace for the same doubles):
    the corpus never shuffles OR joins to be decoded."""
    from yfinance_etl_spark.operators.pq import pq_codes, pq_reconstruct, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train(emb)
    codes = pq_codes(emb, books)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan
    for py_op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_op not in plan, py_op
    rplan = pq_reconstruct(codes, books)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in rplan and "Join" not in rplan, rplan


def test_signature_store_append_completes_the_crawl_cycle(spark, tmp_path):
    """Day N's kept delta appends into the standing signature store
    (mode='append', delta-sized write) and day N+1's read covers
    corpus ∪ kept-delta exactly — the signature table is a long-lived
    incremental structure, never snapshot-rewritten."""
    from pyspark.sql import functions as F

    import yfinance_etl_spark.operators.dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = F.col("doc_id") % 10 < 2
    bands = D.minhash_bands(docs).localCheckpoint(eager=True)
    path = str(tmp_path / "sigs")
    D.write_minhash_signatures(docs, path, bands=bands.filter(~pred))
    # pretend every delta doc survived verify: append its signatures
    D.write_minhash_signatures(
        docs, path, bands=bands.filter(pred), mode="append"
    )
    got = sorted(tuple(r) for r in D.read_minhash_signatures(spark, path).collect())
    want = sorted(
        tuple(r)
        for r in bands.select(
            "doc_id", F.col("band_id").cast("int"), "band_val"
        ).collect()
    )
    assert got == want and len(got) > 0


def test_pq_persisted_codes_tier_parity_and_stage1_scan(spark, tmp_path):
    """write_pq_codes -> read_pq_codes is value-invisible (persisted ==
    inline output), codes_df without its books is refused, and stage 1's
    reconstruction subplan scans the codes parquet, never
    embeddings.parquet — floats enter at the rerank join alone."""
    import pytest

    from yfinance_etl_spark.operators.pq import (
        pq_reconstruct,
        pq_topk,
        pq_train,
        read_pq_codes,
        write_pq_codes,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train(emb)
    path = str(tmp_path / "codes")
    write_pq_codes(emb, path, books)
    codes = read_pq_codes(spark, path)

    a = sorted(
        tuple(r)
        for r in pq_topk(emb, k=5, rerank_factor=16, books=books,
                         codes_df=codes).collect()
    )
    b = sorted(
        tuple(r)
        for r in pq_topk(emb, k=5, rerank_factor=16, books=books).collect()
    )
    assert a == b and len(a) == 25

    with pytest.raises(ValueError, match="books"):
        pq_topk(emb, codes_df=codes)

    plan = pq_reconstruct(codes, books)._jdf.queryExecution().executedPlan().toString()
    assert "codes" in plan and "embeddings.parquet" not in plan


def test_ivfpq_converges_to_ivf_at_exhaustive_rerank(spark):
    """With rerank_factor large enough that stage 1 keeps every member of
    the probed lists, IVFPQ must equal plain IVF EXACTLY (same lists,
    same exact-cosine rerank) — the PQ approximation can only act at the
    candidate cut, never on published scores. At the registered
    rerank_factor=16 it must recover most of the IVF ceiling."""
    from yfinance_etl_spark.operators.pq import ivfpq_topk
    from yfinance_etl_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf = sorted(tuple(r) for r in ivf_topk(emb, k=5).collect())
    exhaustive = sorted(
        tuple(r) for r in ivfpq_topk(emb, k=5, rerank_factor=400).collect()
    )
    assert exhaustive == ivf and len(ivf) == 25

    ivf_set = {(r[0], r[1]) for r in ivf}
    got16 = {
        (r.q_id, r.neighbor_id)
        for r in ivfpq_topk(emb, k=5, rerank_factor=16).collect()
    }
    assert len(got16 & ivf_set) / len(ivf_set) >= 0.7


def test_knn_join_structure_and_bucket_containment(spark):
    """Every emitted neighbor shares the query's LSH bucket (the
    approximation IS the bucketing, nothing more), ranks are contiguous
    from 1 per query with scores non-increasing, at most k rows per
    query, and every bucket with >= 2 members emits rows for each of its
    vectors."""
    from collections import defaultdict

    from yfinance_etl_spark.operators.similarity import knn_join, lsh_bucket

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bucket_of = {r.vec_id: r.bucket for r in lsh_bucket(emb).collect()}
    # n_planes pinned to lsh_bucket's default: the default geometry is
    # now corpus-scaled (scaled_plane_count), tested separately
    rows = knn_join(emb, k=3, n_planes=6).collect()
    per_q = defaultdict(list)
    for r in rows:
        assert bucket_of[r.q_id] == bucket_of[r.neighbor_id], (r.q_id, r.neighbor_id)
        per_q[r.q_id].append((r.knn_rank, r.cos_sim))
    sizes = defaultdict(int)
    for v, b in bucket_of.items():
        sizes[b] += 1
    for q, rk in per_q.items():
        rk.sort()
        assert [x[0] for x in rk] == list(range(1, len(rk) + 1)), q
        assert len(rk) <= 3
        sims = [x[1] for x in rk if x[1] is not None]
        assert sims == sorted(sims, reverse=True), q
    # every vector with at least one bucket-mate appears as a query
    expected_qs = {v for v, b in bucket_of.items() if sizes[b] >= 2}
    assert set(per_q) == expected_qs


def test_counting_bloom_null_keys_are_excluded_everywhere(spark):
    """NULL keys must be invisible to every counting-Bloom tier: Spark's
    xxhash64 SKIPS a NULL input (it returns the seed-derived hash), so an
    unfiltered NULL would get a real, shared position set — and a NULL
    probe would be guaranteed to pass the bit test whenever a NULL was
    also inserted, violating the never-a-member contract (r12 review).
    Pinned: NULLs don't count toward the Σcnt invariant, never come back
    as members, and frontier_to_fetch marks a NULL probe to_fetch."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        counting_bloom_build,
        counting_bloom_member_keys,
        frontier_to_fetch,
    )

    keys = spark.createDataFrame(
        [("a",), ("b",), (None,), (None,)], "k string"
    )
    c = counting_bloom_build(keys, "k")
    # set semantics over NON-NULL keys only: 2 keys x 5 hashes
    assert c.agg(F.sum("cnt")).collect()[0][0] == 2 * 5
    members = {
        r.k
        for r in counting_bloom_member_keys(
            spark.createDataFrame([("a",), (None,)], "k string"), "k", c
        ).collect()
    }
    assert members == {"a"}  # the NULL probe is never a member
    probes = spark.createDataFrame([("a",), ("x",), (None,)], "k string")
    seen = keys
    retired = spark.createDataFrame([], "k string")
    got = {
        (r.k, r.to_fetch) for r in frontier_to_fetch(probes, seen, retired, "k").collect()
    }
    assert got == {("a", False), ("x", True), (None, True)}


def test_pq_train_full_dim_finite_check_and_null_vector(spark):
    """pq_train's finite check must cover the FULL vector, not just
    subspace 0's slice: a NaN confined to a later slice has to raise the
    NAMED ValueError up front, and a NULL vector in the first sampled row
    must hit the same loud contract instead of TypeError: len(None)
    (r12 ADVICE lows)."""
    import pytest as _pytest

    from yfinance_etl_spark.operators.pq import pq_train

    good = [float(i % 7) + 1.0 for i in range(16)]
    late_nan = list(good)
    late_nan[12] = float("nan")  # slice 3 of m=4 — past the old slice-0 check
    emb = spark.createDataFrame(
        [(0, good), (1, late_nan)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="vec_id.*1|\\[1\\]"):
        pq_train(emb, m=4, k=1, iters=1)

    emb_null = spark.createDataFrame(
        [(0, None), (1, good)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="NULL or non-finite"):
        pq_train(emb_null, m=4, k=1, iters=1)


def test_pq_train_batched_rounds_match_per_subspace_kmeans(spark):
    """The r16 batched pq_train (one aggregate job per Lloyd round for
    all m subspaces) must return BIT-IDENTICAL codebooks to the previous
    form — m independent ``kmeans`` calls over the slices — because five
    registered ann_* query hashes flow through these books. Same seeds
    (k smallest vec_ids), same decimal cell means and rounding, same
    reseed rule, so exact float equality is the contract, not isclose."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.clustering import kmeans
    from yfinance_etl_spark.operators.pq import PQ_ITERS, PQ_K, PQ_M, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    batched = pq_train(emb)

    # the pre-r16 form, verbatim: slice, per-subspace kmeans, collect
    vec = F.col("embedding").cast("array<double>")
    first = emb.select(vec.alias("v")).first()
    w = len(first["v"]) // PQ_M
    reference = []
    for i in range(PQ_M):
        sliced = emb.select(
            "vec_id", F.slice(vec, i * w + 1, w).alias("embedding")
        )
        _, cent_df = kmeans(
            sliced, k=PQ_K, iters=PQ_ITERS, vec_col="embedding",
            check_finite=False,
        )
        reference.append(sorted(
            (int(r.cent_id), [float(x) for x in r.cent])
            for r in cent_df.collect()
        ))
    assert batched == reference


def test_scaled_plane_count_rule_and_bounds(spark):
    """The corpus-scaled geometry rule: ⌈log2(N/target)⌉ — reproduces the
    registry's 6-plane geometry at the sf0.1 fixture size (2000 vectors,
    target 32), tracks the sweep's validated 6+log2(blowup) series, and
    clamps to the Walsh mask window so a huge corpus can never request a
    degenerate plane."""
    from yfinance_etl_spark.operators.similarity import scaled_plane_count

    assert scaled_plane_count(2000) == 6
    assert scaled_plane_count(2000 * 16) == 10  # 6 + log2(16)
    assert scaled_plane_count(500) == 4
    assert scaled_plane_count(2, 32) == 1  # floor: never 0 planes
    assert scaled_plane_count(1 << 40, 32) == 35  # unclamped: log2(2^40/32)
    assert scaled_plane_count(1 << 80, 32, dim=64) == 63  # mask-window clamp
    import pytest as _pytest

    with _pytest.raises(ValueError, match="target_occupancy"):
        scaled_plane_count(100, 0)
    # degenerate mask window (r13 advice): a clamp would hand
    # lsh_bucket(n_planes=0) a single constant bucket — the quadratic
    # blow-up the rule exists to prevent. Must fail loudly instead.
    with _pytest.raises(ValueError, match="Walsh mask window"):
        scaled_plane_count(1 << 20, 32, dim=1)
    with _pytest.raises(ValueError, match="Walsh mask window"):
        scaled_plane_count(1 << 20, 32, dim=4, first_mask=4)


def test_knn_join_salt_and_auto_geometry_are_result_invisible(spark):
    """salt=S is a PHYSICAL skew treatment: the blocked sub-join must
    return bit-identical rows to the unsalted join (each pair meets
    exactly once — when the neighbor replica's salt equals the query's),
    and the n_planes=None default must equal the explicit
    scaled_plane_count geometry."""
    from yfinance_etl_spark.operators.similarity import knn_join, scaled_plane_count

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = sorted(tuple(r) for r in knn_join(emb, k=3, n_planes=6).collect())
    salted = sorted(
        tuple(r) for r in knn_join(emb, k=3, n_planes=6, salt=4).collect()
    )
    assert salted == base and len(base) > 0

    p = scaled_plane_count(emb.count(), dim=64)
    auto = sorted(tuple(r) for r in knn_join(emb, k=3, dim=64).collect())
    explicit = sorted(tuple(r) for r in knn_join(emb, k=3, n_planes=p).collect())
    assert auto == explicit

    # banded path: salt is result-invisible there too (the two knobs
    # compose), and bands=1 IS the single-bucket join on the same window
    b1 = sorted(
        tuple(r)
        for r in knn_join(emb, k=3, bands=1, rows_per_band=4, dim=64).collect()
    )
    b1_explicit = sorted(tuple(r) for r in knn_join(emb, k=3, n_planes=4).collect())
    assert b1 == b1_explicit
    b3 = sorted(
        tuple(r) for r in knn_join(emb, k=3, bands=3, dim=64).collect()
    )
    b3_salted = sorted(
        tuple(r) for r in knn_join(emb, k=3, bands=3, dim=64, salt=4).collect()
    )
    assert b3 == b3_salted
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        knn_join(emb, k=3, bands=3, n_planes=6)


def test_knn_join_banded_recall_is_monotone_in_bands(spark):
    """OR-amplification only ADDS candidates (band 0's window is shared),
    and top-k recall against the exact scan is monotone in the candidate
    set — a true top-k neighbor, once a candidate, can be displaced only
    by strictly-better true neighbors, of which there are < k. So
    recall(bands=3) >= recall(bands=1) must hold everywhere, not just on
    average."""
    from yfinance_etl_spark.operators.similarity import knn_join, knn_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = list(range(16))
    exact = {
        (r.q_id, r.neighbor_id)
        for r in knn_topk(emb, query_ids=qs, k=3).collect()
    }

    def got(df):
        return {
            (r.q_id, r.neighbor_id)
            for r in df.collect()
            if r.q_id in set(qs)
        }

    b1 = got(knn_join(emb, k=3, bands=1, rows_per_band=4, dim=64))
    b3 = got(knn_join(emb, k=3, bands=3, rows_per_band=4, dim=64))
    assert len(b3 & exact) >= len(b1 & exact)
    # and the banded candidate pairs for the sample are a superset
    assert (b1 & exact) <= (b3 & exact)


def test_ivfpq_persisted_index_parity_layout_and_plan(spark, tmp_path):
    """write_ivfpq_index -> read_ivfpq_index is value-invisible (the
    probe over the persisted index returns exactly the inline build's
    rows), the codes table is laid out one directory per inverted list
    (a probe's dominant scan is partition-pruned to its n_probe lists —
    the band_id argument), and the reconstruction subplan feeds from the
    index parquet alone: embeddings.parquet enters the probe only as
    query rows and the candidate-sized rerank join."""
    import os

    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.pq import (
        ivfpq_topk,
        pq_reconstruct,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "index")
    write_ivfpq_index(emb, path)

    dirs = sorted(d for d in os.listdir(f"{path}/codes") if d.startswith("list_id="))
    assert len(dirs) >= 2  # hive layout, one directory per inverted list

    idx = read_ivfpq_index(spark, path)
    assert len(idx.books) == 4 and all(len(b) == 8 for b in idx.books)
    persisted = sorted(tuple(r) for r in ivfpq_topk(emb, k=5, index=idx).collect())
    inline = sorted(tuple(r) for r in ivfpq_topk(emb, k=5).collect())
    assert persisted == inline and len(persisted) == 25

    recon = pq_reconstruct(idx.codes, idx.books, carry=("list_id",))
    files = recon.inputFiles()  # every file any scan in the plan reads
    assert files and all("/codes/" in f for f in files), files
    assert not any("embeddings.parquet" in f for f in files)

    # a list-sliced read is directory pruning, not scan+filter
    some_list = int(dirs[0].split("=")[1])
    sliced = spark.read.parquet(f"{path}/codes").filter(
        F.col("list_id") == some_list
    )
    splan = sliced._jdf.queryExecution().executedPlan().toString()
    pf = splan.split("PartitionFilters:")[1].split("]")[0]
    assert "list_id" in pf, pf


def test_ivfpq_auto_rerank_factor_rule_and_parity(spark):
    """rf="auto" resolves from measured occupancy by the documented rule
    — exhaustive below IVFPQ_EXHAUSTIVE_CAP (recall == the IVF ceiling
    by construction), the fixed budget above — and the resolved plan is
    EXACTLY the explicit-rf plan (auto is a sizing rule, not a different
    algorithm). Bad rf values fail loudly."""
    import pytest as _pytest

    from yfinance_etl_spark.operators.pq import _auto_rerank_factor, ivfpq_topk

    # 500 vecs / 8 lists, n_probe 2: probed ~126 <= 512 -> exhaustive
    assert _auto_rerank_factor(500, 8, 2, 5) == 26  # ceil(126/5)
    # 32000 vecs: probed 8000 > 512 -> budget 256 -> rf 52 (< fixed 64)
    assert _auto_rerank_factor(32000, 8, 2, 5) == 52
    assert _auto_rerank_factor(0, 8, 2, 5) >= 1  # floor

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    auto = sorted(
        tuple(r) for r in ivfpq_topk(emb, k=5, rerank_factor="auto").collect()
    )
    explicit = sorted(
        tuple(r) for r in ivfpq_topk(emb, k=5, rerank_factor=26).collect()
    )
    assert auto == explicit and len(auto) == 25

    with _pytest.raises(ValueError, match="rerank_factor"):
        ivfpq_topk(emb, k=5, rerank_factor="big")


def test_embedding_neardup_tier_contract(spark):
    """The recall tier is part of the API (r12 verdict item 6): the
    default is the recall-grade banded tier, the cheap screen tier must
    be asked for by name, and an unknown tier fails with the menu AND
    the measured recalls — nobody reaches the 0.3-recall path thinking
    it is the 0.89 one."""
    import pytest as _pytest

    from yfinance_etl_spark.operators.dedup import (
        EMBEDDING_NEARDUP_TIERS,
        embedding_neardup,
    )

    assert EMBEDDING_NEARDUP_TIERS == {"screen": 1, "banded": 3}
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    screen = {
        (r.doc_a, r.doc_b) for r in embedding_neardup(docs, tier="screen").collect()
    }
    banded = {
        (r.doc_a, r.doc_b) for r in embedding_neardup(docs).collect()
    }
    # OR-amplification only adds candidate pairs; verify is exact, so
    # the banded result is a superset — the recall ordering is structural
    assert screen <= banded
    with _pytest.raises(ValueError, match="0.29-0.34"):
        embedding_neardup(docs, tier="cheap")


def test_ivfpq_append_is_frozen_structure_encoding(spark, tmp_path):
    """append_ivfpq_index must be EXACTLY "encode the delta against the
    persisted structures": the appended index's probe results equal an
    inline twin that takes the base-trained books/centroids and encodes
    the WHOLE corpus against them — no hidden retraining, no missed
    rows. Completeness (codes cover base + delta) and the list_id
    layout surviving the append are pinned alongside."""
    import os

    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.pq import (
        IvfPqIndex,
        append_ivfpq_index,
        ivfpq_topk,
        pq_codes,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from yfinance_etl_spark.operators.similarity import ivf_assign_to

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base_pred = F.col("vec_id") % 5 != 0
    path = str(tmp_path / "idx")
    write_ivfpq_index(emb.filter(base_pred), path)
    append_ivfpq_index(emb.filter(~base_pred), path)

    idx = read_ivfpq_index(spark, path)
    assert idx.codes.count() == emb.count()  # completeness
    dirs = [d for d in os.listdir(f"{path}/codes") if d.startswith("list_id=")]
    assert dirs and all(
        e.startswith(("list_id=", "_", ".")) for e in os.listdir(f"{path}/codes")
    )

    # inline twin: base-trained structures, whole corpus encoded
    base_idx_path = str(tmp_path / "twin")
    write_ivfpq_index(emb.filter(base_pred), base_idx_path)
    bidx = read_ivfpq_index(spark, base_idx_path)
    cent_rows = sorted(
        (int(r["cent_id"]), [float(x) for x in r["cent_vec"]])
        for r in bidx.centroids.collect()
    )
    assigned = ivf_assign_to(emb, cent_rows)
    resid = assigned.join(
        bidx.centroids, assigned.list_id == bidx.centroids.cent_id
    ).select(
        "vec_id", "list_id",
        F.zip_with("vec", "cent_vec", lambda x, y: x - y).alias("residual"),
    )
    twin = IvfPqIndex(
        pq_codes(resid, bidx.books, vec_col="residual", carry=("list_id",)),
        bidx.centroids,
        bidx.books,
    )
    got = sorted(tuple(r) for r in ivfpq_topk(emb, k=5, index=idx).collect())
    want = sorted(tuple(r) for r in ivfpq_topk(emb, k=5, index=twin).collect())
    assert got == want and len(got) == 25


def test_ivfpq_append_assert_new_ids_detects_duplicates(spark, tmp_path):
    """The appended-ids-must-be-NEW contract is detectable on demand
    (r13 advice): assert_new_ids=True runs one count-vs-count-distinct
    aggregate over the codes table after the append — a legitimate delta
    passes, re-appending an id already in the index raises instead of
    silently double-counting it in probes and the quant-error monitor."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.pq import (
        append_ivfpq_index,
        write_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base_pred = F.col("vec_id") % 5 != 0
    path = str(tmp_path / "idx")
    write_ivfpq_index(emb.filter(base_pred), path)
    delta = emb.filter(~base_pred)
    append_ivfpq_index(delta, path, assert_new_ids=True)  # new ids: passes
    with _pytest.raises(ValueError, match="duplicate vec_id"):
        append_ivfpq_index(delta, path, assert_new_ids=True)  # re-append


def test_ivfpq_retrain_signal_flags_drifted_and_skewed_lists(spark):
    """The split-or-retrain rule on controlled inputs: a list whose live
    mean_sq_error grew past IVFPQ_ERROR_RATIO_RETRAIN x its train-time
    baseline flags needs_retrain; a list holding more than
    IVFPQ_OCCUPANCY_SPLIT_FACTOR x the mean occupancy flags needs_split;
    a list absent from the baseline compares against the baseline's
    weighted mean; healthy lists flag nothing."""
    from yfinance_etl_spark.operators.pq import ivfpq_retrain_signal

    baseline = spark.createDataFrame(
        [(i, 100, 0.10) for i in range(5)],
        "list_id long, n_vectors long, mean_sq_error double",
    )
    # list 0 healthy; list 1 error doubled (ratio 2.0 > 1.5); list 5 is
    # new (absent from baseline, compares vs weighted mean 0.10) and
    # holds 0.8 of the corpus — far past 4x the mean list share (1/6)
    current = spark.createDataFrame(
        [(0, 100, 0.11), (1, 100, 0.20), (2, 100, 0.10), (3, 100, 0.10),
         (4, 100, 0.10), (5, 2000, 0.12)],
        "list_id long, n_vectors long, mean_sq_error double",
    )
    occupancy = spark.createDataFrame(
        [(i, 100, 0.04) for i in range(5)] + [(5, 2000, 0.80)],
        "list_id long, n_vectors long, occupancy_frac double",
    )
    rows = {
        r.list_id: r
        for r in ivfpq_retrain_signal(current, baseline, occupancy=occupancy).collect()
    }
    assert len(rows) == 6
    assert not rows[0].needs_retrain and not rows[0].needs_split
    assert rows[1].needs_retrain and not rows[1].needs_split
    assert rows[1].error_ratio == 2.0
    assert not rows[2].needs_retrain
    assert rows[5].needs_split  # 0.80 > 4.0 * mean(1/6)
    assert rows[5].error_ratio == 1.2  # vs the baseline's weighted mean

    # without occupancy, the skew axis degrades to never-flagging
    no_occ = {
        r.list_id: r for r in ivfpq_retrain_signal(current, baseline).collect()
    }
    assert all(not r.needs_split for r in no_occ.values())


def test_ivfpq_occupancy_tracks_list_sizes(spark, tmp_path):
    """ivfpq_occupancy over a real persisted index: fractions sum to 1,
    n_vectors per list match a direct groupBy of the codes table."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.pq import (
        ivfpq_occupancy,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "idx")
    write_ivfpq_index(emb, path)
    idx = read_ivfpq_index(spark, path)
    occ = ivfpq_occupancy(idx).collect()
    want = {
        r.list_id: r["count"]
        for r in idx.codes.groupBy("list_id").count().collect()
    }
    assert {r.list_id: r.n_vectors for r in occ} == want
    assert abs(sum(r.occupancy_frac for r in occ) - 1.0) < 1e-4


def test_split_ivfpq_list_acts_on_the_needs_split_flag(spark, tmp_path):
    """The detect→act loop end to end on a shifted-regime append (the
    sweep's production-failure construction): the signal flags the hot
    list; split_ivfpq_list rewrites ONLY that list's slice; afterwards
    (a) the codes table still covers every vector exactly once, (b) the
    old partition directory is gone and exactly two new list dirs exist,
    (c) max occupancy drops, (d) the split lists' weighted mean squared
    reconstruction error is no worse than the hot list's pre-split error
    (frozen books decode SMALLER residuals), and (e) a probe over the
    split index still honors the output contract."""
    import os

    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.pq import (
        append_ivfpq_index,
        ivfpq_occupancy,
        ivfpq_quantization_error,
        ivfpq_topk,
        read_ivfpq_index,
        split_ivfpq_list,
        write_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    is_base = F.col("vec_id") % 2 == 0
    shifted = emb.withColumn(
        "embedding",
        F.when(is_base, F.col("embedding")).otherwise(
            F.transform("embedding", lambda x: (x + F.lit(0.5)).cast("float"))
        ),
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "idx")
    write_ivfpq_index(shifted.filter(is_base), path)
    append_ivfpq_index(shifted.filter(~is_base), path)

    idx = read_ivfpq_index(spark, path)
    n_total = idx.codes.count()
    occ = {r.list_id: r for r in ivfpq_occupancy(idx).collect()}
    hot = max(occ.values(), key=lambda r: r.occupancy_frac)
    pre_err = {
        r.list_id: r
        for r in ivfpq_quantization_error(shifted, index=idx).collect()
    }

    new_ids = split_ivfpq_list(spark, path, int(hot.list_id), shifted)
    assert len(new_ids) == 2

    idx2 = read_ivfpq_index(spark, path)
    assert idx2.codes.count() == n_total  # (a) nothing lost or duplicated
    assert idx2.codes.select("vec_id").distinct().count() == n_total
    dirs = {
        int(d.split("=")[1])
        for d in os.listdir(f"{path}/codes")
        if d.startswith("list_id=")
    }
    assert int(hot.list_id) not in dirs and set(new_ids) <= dirs  # (b)
    occ2 = {r.list_id: r for r in ivfpq_occupancy(idx2).collect()}
    assert max(r.occupancy_frac for r in occ2.values()) < hot.occupancy_frac  # (c)

    post_err = {
        r.list_id: r
        for r in ivfpq_quantization_error(shifted, index=idx2).collect()
    }
    pre = pre_err[hot.list_id]
    n0, n1 = (post_err[i].n_vectors for i in new_ids)
    split_mse = (
        post_err[new_ids[0]].mean_sq_error * n0
        + post_err[new_ids[1]].mean_sq_error * n1
    ) / (n0 + n1)
    assert n0 + n1 == pre.n_vectors
    assert split_mse <= pre.mean_sq_error + 1e-9  # (d)
    # untouched lists keep their error rows bit-identical
    for lid, row in post_err.items():
        if lid not in new_ids:
            assert row.mean_sq_error == pre_err[lid].mean_sq_error, lid

    out = ivfpq_topk(shifted, k=3, rerank_factor="auto", index=idx2)
    rows = out.collect()
    assert {r.knn_rank for r in rows} <= {1, 2, 3}  # (e)
    assert len({(r.q_id, r.neighbor_id) for r in rows}) == len(rows) > 0


def test_split_ivfpq_list_remap_survives_63bit_vec_ids(spark, tmp_path):
    """r14 advice: kmeans labels clusters with its seed vec_ids — LONGs.
    The old remap looked the cluster id up with cast('int'), so any
    vec_id >= 2^31 wrapped, missed the map, and the re-encode inner join
    silently DROPPED those vectors from the split partition. Shift the
    fixture ids by 2^40 and verify the split still covers every vector
    exactly once under the new long-typed remap."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.pq import (
        ivfpq_occupancy,
        read_ivfpq_index,
        split_ivfpq_list,
        write_ivfpq_index,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn("vec_id", F.col("vec_id") + F.lit(2**40))
        .localCheckpoint(eager=True)
    )
    path = str(tmp_path / "idx")
    write_ivfpq_index(emb, path)
    idx = read_ivfpq_index(spark, path)
    n_total = idx.codes.count()
    hot = max(ivfpq_occupancy(idx).collect(), key=lambda r: r.occupancy_frac)

    new_ids = split_ivfpq_list(spark, path, int(hot.list_id), emb)
    assert len(new_ids) == 2
    # the new centroid ids embed kmeans seed vec_ids nowhere — they are
    # dense ids above the old range — but the REMAP had to traverse the
    # 2^40-range cluster labels to get here without dropping a vector
    idx2 = read_ivfpq_index(spark, path)
    assert idx2.codes.count() == n_total
    assert idx2.codes.select("vec_id").distinct().count() == n_total
    assert idx2.codes.agg(F.min("vec_id")).first()[0] >= 2**40


def test_int8_codes_append_is_staleness_free(spark, tmp_path):
    """The int8 tier's delta append (write_int8_codes mode='append') has
    ZERO staleness by construction — the quantization scale is
    per-vector, so there is no trained structure to go stale: base +
    appended delta must equal a one-shot full write bit-for-bit, and the
    two-stage retrieval over the appended store equals the inline path
    exactly. (Contrast: IVFPQ append quantizes against frozen codebooks
    and its recall drift is swept — kind=annappend.)"""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.similarity import (
        int8_topk,
        read_int8_codes,
        write_int8_codes,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base_pred = F.col("vec_id") % 5 != 0

    appended = str(tmp_path / "appended")
    write_int8_codes(emb.filter(base_pred), appended)
    write_int8_codes(emb.filter(~base_pred), appended, mode="append")

    full = str(tmp_path / "full")
    write_int8_codes(emb, full)

    a = sorted(tuple(r) for r in read_int8_codes(spark, appended).collect())
    f = sorted(tuple(r) for r in read_int8_codes(spark, full).collect())
    assert a == f and len(a) == emb.count()

    got = sorted(
        tuple(r)
        for r in int8_topk(
            emb, k=5, codes_df=read_int8_codes(spark, appended)
        ).collect()
    )
    want = sorted(tuple(r) for r in int8_topk(emb, k=5).collect())
    assert got == want and len(got) == 25


def test_salted_paths_survive_negative_ids(spark):
    """The blocked-salt sub-joins must use pmod, not Spark's
    sign-preserving %: a negative id's % salt lands in [-(S-1), 0],
    which no replica carries — every pair involving that id would
    silently VANISH from the salted join while the unsalted twin keeps
    it (r13 self-review). Pinned on knn_join with negative vec_ids:
    salted == unsalted, and the negative-id vectors DO emit rows."""
    import numpy as np

    from yfinance_etl_spark.operators.similarity import knn_join

    rng = np.random.RandomState(7)
    rows = [
        (int(i), [float(x) for x in rng.randn(8)], "x")
        for i in range(-6, 6)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    base = sorted(tuple(r) for r in knn_join(emb, k=2, n_planes=2).collect())
    salted = sorted(
        tuple(r) for r in knn_join(emb, k=2, n_planes=2, salt=4).collect()
    )
    assert salted == base
    assert any(r[0] < 0 for r in base)  # negative-id queries are present


def test_ivfpq_quantization_error_detects_a_drifted_delta(spark, tmp_path):
    """The retraining signal works as a signal: appending an
    out-of-regime delta (the base vectors shifted by a constant — a new
    data distribution the frozen codebooks never saw) must RAISE the
    corpus-weighted mean reconstruction error well above the base
    index's own, while an in-regime append (the base itself re-labeled)
    moves it barely. Coverage and non-negativity pinned alongside."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.pq import (
        append_ivfpq_index,
        ivfpq_quantization_error,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()

    def weighted_error(err_df):
        r = err_df.agg(
            F.sum("n_vectors").alias("n"),
            F.sum(F.col("mean_sq_error") * F.col("n_vectors")).alias("s"),
        ).collect()[0]
        return r["n"], r["s"] / r["n"]

    base_path = str(tmp_path / "base")
    write_ivfpq_index(emb, base_path)
    idx0 = read_ivfpq_index(spark, base_path)
    n0, e0 = weighted_error(ivfpq_quantization_error(emb, index=idx0))
    assert n0 == n and e0 >= 0

    # out-of-regime delta: same vectors shifted far from the trained space
    shifted = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(5.0)).alias("embedding"),
        "label",
    )
    drift_path = str(tmp_path / "drift")
    write_ivfpq_index(emb, drift_path)
    append_ivfpq_index(shifted, drift_path)
    both = emb.unionByName(shifted)
    n1, e1 = weighted_error(
        ivfpq_quantization_error(
            both, index=read_ivfpq_index(spark, drift_path)
        )
    )
    assert n1 == 2 * n
    # the drifted half quantizes against codebooks that never saw its
    # regime: corpus-weighted error must jump well clear of the base's
    assert e1 > 2 * e0, (e0, e1)


def test_cut_dup_spans_rebuilds_text_without_duplicated_runs(spark):
    """Hand-checkable ExactSubstr ACT fixture (min_len=8): the lowest id
    keeps its copy; higher ids lose each shared run; two disjoint runs
    cut independently; a fully-shared doc collapses to the empty string;
    an unrelated doc passes through byte-identical."""
    from yfinance_etl_spark.operators.dedup import cut_dup_spans

    base = "0123456789abcdefghijklmnop"  # 26 distinct chars
    docs = spark.createDataFrame(
        [
            (1, f"PREFIX-{base}-SUFFIX"),
            (2, f"aa{base}bb"),
            (3, "qqqqq wwww eeee rr"),          # nothing shared >= 8
            (4, base[:10] + "XXXX" + base[10:20] + "YYYY"),
            (5, base),                           # fully shared
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cut_dup_spans(docs, min_len=8).collect()}
    assert out[1].text_clean == f"PREFIX-{base}-SUFFIX"  # canonical kept
    assert out[1].n_cut_spans == 0 and out[1].n_cut_chars == 0
    assert out[2].text_clean == "aabb"
    assert (out[2].n_cut_spans, out[2].n_cut_chars) == (1, 26)
    assert out[3].text_clean == "qqqqq wwww eeee rr"
    assert out[4].text_clean == "XXXXYYYY"
    assert (out[4].n_cut_spans, out[4].n_cut_chars) == (2, 20)
    assert out[5].text_clean == ""  # fully cut, not dropped
    assert (out[5].n_cut_spans, out[5].n_cut_chars) == (1, 26)


def test_dhash_neardup_pigeonhole_on_randomized_pairs(spark):
    """Randomized confirmation of the 8-band pigeonhole guarantee: 150
    seeded-random base signatures, each paired with a copy whose Hamming
    distance is a random 0..7 (random bit positions across both words).
    EVERY pair must surface with its exact distance — recall 1.0 at the
    threshold is structural, not statistical. One Spark action."""
    import random

    from yfinance_etl_spark.operators.dedup import dhash_neardup

    rng = random.Random(1519)
    rows, expected = [], {}
    for k in range(150):
        hi, lo = rng.getrandbits(32), rng.getrandbits(32)
        d = rng.randrange(0, 8)
        flips = rng.sample(range(64), d)
        fhi, flo = hi, lo
        for b in flips:
            if b < 32:
                fhi ^= 1 << b
            else:
                flo ^= 1 << (b - 32)
        a_id, b_id = 1000 * k + 1, 1000 * k + 2
        rows += [(a_id, hi, lo), (b_id, fhi, flo)]
        expected[(a_id, b_id)] = d
    sig = spark.createDataFrame(
        rows, "doc_id bigint, dhash_hi bigint, dhash_lo bigint"
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming for r in dhash_neardup(sig).collect()
    }
    for pair, d in expected.items():
        assert got.get(pair) == d, (pair, d, got.get(pair))


def test_dhash_delta_neardup_cross_pairs_only_and_pigeonhole(spark):
    """The multimodal delta tier (r16 late): only NEW×CORPUS pairs are
    emitted — corpus-internal near-dups (already resolved in previous
    snapshots) and new-internal near-dups (the self-join tier's job on
    the delta) never appear; recall at the Hamming-7 boundary is the
    self-join tier's pigeonhole guarantee unchanged; Hamming 8 with all
    eight bands dirtied is correctly missed (contract, not a bug)."""
    from yfinance_etl_spark.operators.dedup import dhash_delta_neardup

    base = 0x0123456789ABCDEF
    hi, lo = base >> 32, base & 0xFFFFFFFF

    def flip_low_bits(lo_word, n):  # dirty n bits inside ONE band
        return lo_word ^ ((1 << n) - 1)

    new_rows = [
        (1, hi, lo),                      # dup of corpus 10 (exact)
        (2, hi, flip_low_bits(lo, 7)),    # dup of corpus 10 at Hamming 7
        # Hamming 8 spread over all 8 bands vs corpus 10: every band dirty
        (3, hi ^ 0x01010101, lo ^ 0x01010101),
        (4, hi ^ 0xDEAD, lo),             # near-dup of NEW 1 only: no output
    ]
    corpus_rows = [
        (10, hi, lo),
        (11, hi, lo),                     # corpus-internal dup of 10: no output
        (12, ~hi & 0xFFFFFFFF, ~lo & 0xFFFFFFFF),
    ]
    schema = "doc_id bigint, dhash_hi bigint, dhash_lo bigint"
    got = {
        (r.new_doc_id, r.corpus_doc_id): r.hamming
        for r in dhash_delta_neardup(
            spark.createDataFrame(new_rows, schema),
            spark.createDataFrame(corpus_rows, schema),
        ).collect()
    }
    assert got[(1, 10)] == 0 and got[(1, 11)] == 0
    assert got[(2, 10)] == 7 and got[(2, 11)] == 7  # pigeonhole at the edge
    assert not any(a == 3 for a, _ in got)  # 8 dirty bands: no seed, missed
    assert not any(a == 4 for a, _ in got)  # new-internal pair: not this tier
    assert not any(a in (10, 11, 12) for a, _ in got)  # corpus never re-pairs
