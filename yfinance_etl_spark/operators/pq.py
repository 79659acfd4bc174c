"""Product-quantization ANN (Jégou, Douze, Schmid 2011, "Product
Quantization for Nearest Neighbor Search", TPAMI 33(1)) — the
compressed-vector path that complements the engine's other retrieval
tiers: bucketed/IVF prune CANDIDATES, int8 shrinks scan BANDWIDTH 4×,
and PQ shrinks the in-memory representation ~32× (m small codes per
vector instead of dim floats) while still scoring ALL candidates — the
regime where the corpus's float vectors cannot be resident at all.

Spark-first shape, every stage oracle-replayable:

* ``pq_train``  — m independent codebooks via the engine's deterministic
  Lloyd (``clustering.kmeans``: k-smallest-id seeding, 9dp grid, decimal
  means) on each subvector slice; driver traffic is the k·dim centroid
  grid, the kmeans budget class.
* ``pq_codes``  — map-only argmin per subspace against the codebook
  literals (the ``clustering.assign`` literal-matrix pattern): one
  projection, no join, no shuffle; a vector becomes m small ints.
* ``pq_topk``   — stage 1 ranks by cosine(q_float, reconstruction(x)),
  the ASYMMETRIC distance (ADC) score: the classic per-query lookup
  table computes exactly Σ_m <q_m, c_{m,code_m}> — the reconstruction
  form is the same algebra expressed as m tiny broadcast joins + one
  concat, which keeps the plan JVM-side and lets the one DuckDB cosine
  text replay it. Stage 2 reranks the candidate slice with exact float
  cosine (the int8 two-stage contract: published scores are exact; the
  approximation can only cost recall at the cut).

Reference analog: FAISS's IndexPQ/IVFPQ family behind as_retriever
(pdf_rag_chatbot.py:60-61) — re-expressed as DataFrame algebra.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yfinance_etl_spark.catalog import local_frame
from yfinance_etl_spark.operators.clustering import _sqdist
from yfinance_etl_spark.operators.similarity import _rank_topk, cosine

#: default geometry: 4 subspaces × 8 centroids over the 64-dim fixture —
#: 8 is the k the full-dim kmeans queries run without starvation (a
#: starved cluster would reseed Spark-side, which the fixed-round oracle
#: replay deliberately does not model)
PQ_M = 4
PQ_K = 8
PQ_ITERS = 2


def _book_candidates(sub, book: list[tuple[int, list[float]]]):
    """(d2, cent_id) candidate structs for a subvector expression against
    one codebook literal — ``clustering._centroid_candidates`` with the
    probed column as an expression instead of the fixed ``vec`` column
    (same literal construction, same struct tie-break, same non-finite
    guard)."""
    bad = [cid for cid, coords in book
           if not all(math.isfinite(float(x)) for x in coords)]
    if bad:
        raise ValueError(
            f"PQ codebook contains non-finite coordinates (cent_id={bad}); "
            "clean the embedding column before training"
        )
    mat = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in coords) + ")"
            for _, coords in book
        ) + ")"
    )
    ids = F.expr("array(" + ",".join(f"{int(cid)}L" for cid, _ in book) + ")")
    return F.transform(
        mat,
        lambda cent, i: F.struct(_sqdist(sub, cent).alias("d2"),
                                 ids[i].alias("cent_id")),
    )


def pq_train(
    embeddings: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    vec_col: str = "embedding",
    check_finite: bool = True,
    checkpointed: bool = False,
) -> list[list[tuple[int, list[float]]]]:
    """Train the m subspace codebooks: the engine's deterministic Lloyd on
    each contiguous dim/m slice. Returns m driver-side codebooks of
    (cent_id, coords) — total driver traffic m · k · (dim/m) = k·dim
    doubles, identical to one full-dim kmeans. The finite-vector check
    runs ONCE on the FULL-dim frame before slicing (a check on slice 0
    alone would let a NaN/inf confined to a later slice bypass the named
    guard and surface rounds later as an unnamed ANSI/centroid-literal
    error — r12 review); it also rejects NULL vectors, so the seed probe
    below can never see one. ``check_finite=False`` skips that scan when
    the input is PROVABLY finite already — the IVFPQ build passes it for
    residuals (finite vector − finite centroid cannot be NaN/inf at
    embedding magnitudes), saving one full-corpus pass per snapshot.

    The m trainings share ONE job chain (r16 optimization): one
    checkpoint of the full-dim frame (the m slices are views of it), one
    seed collect (the k smallest vec_ids seed every subspace — same rows,
    sliced driver-side), and per Lloyd round ONE single-scan aggregate
    job computing all m × k × (dim/m) centroid cells: the m argmin
    assignments ride one projection as an array of cent_ids, the full
    vector posexplodes once, and (sub, pos, cent_id) are recovered
    arithmetically — map-side partials, k·dim cells total. The previous
    form ran m independent ``kmeans`` calls (thread-pooled), each paying
    its own checkpoint, seed collect, and per-round collect: ~4× the job
    count and m scans per round for identical arithmetic — the
    per-subspace assign expressions, decimal cell means, 9 dp rounding,
    and starved-cluster farthest-point reseed (run per subspace only
    when a cluster actually starves) are unchanged, so the books are
    bit-identical (equivalence test: tests/test_dedup_similarity.py::
    test_pq_train_batched_rounds_match_per_subspace_kmeans)."""
    from yfinance_etl_spark.functions.scalar import STAT_SCALE, dsum
    from yfinance_etl_spark.operators.clustering import COORD_DECIMALS
    from yfinance_etl_spark.operators.partitioning import spread

    emb = embeddings.select(
        "vec_id", F.col(vec_col).cast("array<double>").alias("vec")
    )
    if check_finite:
        from yfinance_etl_spark.operators.similarity import check_finite_vectors

        check_finite_vectors(emb, "vec", "vec_id")
    # ``checkpointed=True``: the caller guarantees the input frame is
    # already an eagerly-materialized checkpoint (the IVFPQ build passes
    # its residual checkpoint) — re-checkpointing a checkpoint is a
    # redundant full-copy job (the r16 video.py lesson); the per-round
    # scans then read the caller's checkpoint through the cast
    # projection, which is map-only.
    vecs = emb if checkpointed else spread(emb).localCheckpoint(eager=True)
    # seed = the k SMALLEST vec_ids of the (shared) frame — identical to
    # seeding each slice independently, since slicing preserves vec_id
    seed_rows = vecs.orderBy("vec_id").limit(k).collect()
    dim = len(seed_rows[0]["vec"]) if seed_rows else 0
    if dim == 0 or dim % m:
        raise ValueError(f"PQ needs dim divisible by m; got dim={dim}, m={m}")
    w = dim // m
    books: list[list[tuple[int, list[float]]]] = [
        [
            (int(r["vec_id"]), [float(x) for x in r["vec"][i * w : (i + 1) * w]])
            for r in seed_rows
        ]
        for i in range(m)
    ]

    def sub_col(i: int):
        return F.slice(F.col("vec"), i * w + 1, w)

    def assigned_sub(i: int) -> DataFrame:
        """(vec_id, svec, cent_id, d2) for subspace i — the exact
        ``clustering.assign`` algebra over the slice expression."""
        best = F.array_min(_book_candidates(sub_col(i), books[i]))
        return vecs.select(
            "vec_id",
            sub_col(i).alias("svec"),
            best["cent_id"].alias("cent_id"),
            best["d2"].alias("d2"),
        )

    for _ in range(iters):
        # ONE aggregate job — and ONE SCAN — for all m subspaces: the m
        # argmin assignments ride a single projection as an array of
        # cent_ids, the FULL vector posexplodes once, and each exploded
        # cell recovers its (sub, pos) coordinates and centroid id
        # arithmetically (sub = p div w, pos = p mod w, cent_id =
        # cids[sub]). The earlier union-of-m-branches form scanned the
        # checkpoint m times per round and carried an m×-larger
        # expression tree through analysis/codegen — measured 2.8-3.0 s
        # vs 0.8-1.0 s per round at the sf0.1 fixture for identical
        # cells. Two-step select because Spark 4.1 drops HOF-lambda
        # struct field aliases when a generator shares the projection
        # (the argmin struct resolves as col1/col2 beside posexplode),
        # so the cent_id extraction must land before the explode.
        cids = F.array(
            *[
                F.array_min(_book_candidates(sub_col(i), books[i]))["cent_id"]
                for i in range(m)
            ]
        )
        sub = (F.col("p") / w).cast("int")
        cells = (
            vecs.select(cids.alias("cids"), "vec")
            .select("cids", F.posexplode("vec").alias("p", "val"))
            .select(
                sub.alias("sub"),
                F.element_at("cids", sub + 1).alias("cent_id"),
                F.pmod("p", F.lit(w)).cast("int").alias("pos"),
                "val",
            )
            .groupBy("sub", "cent_id", "pos")
            .agg(
                F.round(dsum("val", STAT_SCALE) / F.count("val"), COORD_DECIMALS)
                .cast("double")
                .alias("cval")
            )
            .collect()
        )
        grids: list[dict[int, list[tuple[int, float]]]] = [{} for _ in range(m)]
        for r in cells:
            grids[r["sub"]].setdefault(r["cent_id"], []).append(
                (r["pos"], r["cval"])
            )
        new_books = []
        for i in range(m):
            cents = sorted(
                (cid, [v for _, v in sorted(pv)]) for cid, pv in grids[i].items()
            )
            missing = sorted(
                {cid for cid, _ in books[i]} - {cid for cid, _ in cents}
            )
            if missing:
                # deterministic farthest-point reseed, per starving
                # subspace only (clustering._reseed_starved semantics:
                # max d2 under this round's assignment, ties → smallest
                # vec_id; at most k rows to the driver)
                far = (
                    assigned_sub(i)
                    .orderBy(F.col("d2").desc(), F.col("vec_id").asc())
                    .limit(len(missing))
                    .collect()
                )
                if len(far) < len(missing):
                    raise ValueError(
                        f"k-means cannot preserve k: {len(missing)} starved "
                        f"clusters but only {len(far)} points available to "
                        "reseed"
                    )
                cents = sorted(
                    cents
                    + [
                        (cid, [float(x) for x in r["svec"]])
                        for cid, r in zip(missing, far)
                    ]
                )
            new_books.append(cents)
        books = new_books
    return [sorted((int(c), [float(x) for x in v]) for c, v in b) for b in books]


def pq_codes(
    embeddings: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    carry: tuple[str, ...] = ("label",),
) -> DataFrame:
    """(vec_id, label, code_0..code_{m-1}): every subspace's argmin in ONE
    map-only projection — the m codebook literals ride the same select,
    so encoding a 100 TB corpus is a single scan with zero exchanges.
    Codes are centroid ids (seed vec_ids), small ints a store persists in
    place of the float vector — the ~32× compression that is PQ's reason
    to exist."""
    emb = embeddings.select(
        "vec_id", F.col(vec_col).cast("array<double>").alias("vec"), *carry
    )
    w = len(books[0][0][1])
    cols = [
        F.array_min(
            _book_candidates(F.slice(F.col("vec"), i * w + 1, w), book)
        )["cent_id"].alias(f"code_{i}")
        for i, book in enumerate(books)
    ]
    return emb.select("vec_id", *carry, *cols)


def write_pq_codes(
    embeddings: DataFrame,
    path: str,
    books: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
) -> None:
    """Persist the codes table through the S10 sink — the form a PQ
    store actually keeps resident: m small ints per vector instead of
    dim floats (~32× smaller), written once per embedding snapshot.
    The codebooks themselves are k·dim doubles — config-sized; a real
    deployment versions them beside the table (they are an argument
    here, exactly as they re-enter ``pq_topk``)."""
    from yfinance_etl_spark.sources.sink import write_partitioned

    write_partitioned(pq_codes(embeddings, books, vec_col), path)


def read_pq_codes(spark, path: str) -> DataFrame:
    """Read a persisted codes table back for ``pq_topk(codes_df=...)`` —
    stage 1 then scans only this parquet; float vectors enter at the
    candidate-sized rerank join alone (the int8 persisted-codes
    contract, at 8× its compression)."""
    return spark.read.parquet(path)


def _vec_map(rows: list[tuple[int, list[float]]]):
    """``map(id → array<double>)`` LITERAL from driver-side (id, coords)
    rows — the decode side of the ``_book_candidates`` literal-matrix
    discipline. One SQL-parsed expression instead of a createDataFrame +
    broadcast-hash-join pair per lookup table (r16: each removed join
    was a BroadcastExchange + build in the plan; the codebooks/centroids
    are config-sized driver values by construction, so a projection
    lookup is their natural form). Same non-finite literal guard as the
    candidate side: repr(nan)/repr(inf) would corrupt the SQL literal
    into a parse error naming nothing."""
    bad = [i for i, coords in rows
           if not all(math.isfinite(float(x)) for x in coords)]
    if bad:
        raise ValueError(
            f"lookup table contains non-finite coordinates (id={bad}); "
            "clean the embedding column before indexing"
        )
    entries = ",".join(
        f"{int(cid)}L,array(" + ",".join(f"{float(x)!r}D" for x in coords) + ")"
        for cid, coords in rows
    )
    return F.expr(f"map({entries})")


def pq_reconstruct(
    codes: DataFrame, books: list[list[tuple[int, list[float]]]],
    carry: tuple[str, ...] = ("label",),
) -> DataFrame:
    """(vec_id, label, rvec): decode codes back to the quantized vector —
    one map-literal lookup per subspace (``element_at`` against the
    k-entry codebook map) plus one concat, a SINGLE PROJECTION end to
    end. Every code is a codebook cent_id by construction (``pq_codes``
    emits only ids from ``books``), so the lookup is total — the
    pre-r16 form spelled the same decode as m broadcast hash joins,
    paying m BroadcastExchanges + builds per consumer for identical
    values. The corpus never shuffles to be decoded, which is what
    makes stage-1 scoring over reconstructions a pure scan."""
    rvec = F.concat(
        *[
            F.element_at(_vec_map(book), F.col(f"code_{i}").cast("long"))
            for i, book in enumerate(books)
        ]
    )
    return codes.select("vec_id", *carry, rvec.alias("rvec"))


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
    rerank_factor: int = 4,
    books: list[list[tuple[int, list[float]]]] | None = None,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """Two-stage PQ retrieval, same output contract as every search
    variant (q_id, neighbor_id, label, cos_sim, knn_rank): stage 1 scores
    cosine(q_vec, reconstruction) — the asymmetric PQ score, exactly what
    an ADC lookup table computes — and keeps k·rerank_factor per query;
    stage 2 fetches float vectors for the candidate slice alone and
    reranks by exact cosine, so quantization error can only cost recall
    at the cut, never corrupt a published score. Deterministic end to
    end (deterministic Lloyd codebooks, 9dp distance grid, 6dp rounds
    before both rankings, shared tiebreak), so the DuckDB oracle replays
    codebook training, encoding, reconstruction, and both stages.

    ``codes_df`` (with ``books``) is the production form: stage 1 scans
    only the persisted codes parquet (``read_pq_codes``) — encoding cost
    was paid once at snapshot time, and floats enter only the rerank."""
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"), "label"
    )
    if books is None:
        if codes_df is not None:
            raise ValueError("codes_df requires the matching books "
                             "(codes are meaningless without their codebooks)")
        books = pq_train(embeddings, m=m, k=kc, iters=iters)
    codes = codes_df if codes_df is not None else pq_codes(embeddings, books)
    recon = pq_reconstruct(codes, books)
    if query_ids is None:
        qpred = F.col("vec_id") < 5
    else:
        qpred = F.col("vec_id").isin(query_ids)
    q = F.broadcast(
        emb.filter(qpred).select(
            F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
        )
    )
    stage1 = (
        recon.crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            F.round(cosine(F.col("q_vec"), F.col("rvec")), 6).alias("cos_sim"),
        )
    )
    cand = _rank_topk(stage1, k * rerank_factor).select(
        "q_id", "neighbor_id", "label"
    )
    rerank = (
        cand.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "vec"),
            "neighbor_id",
        )
        .join(q, "q_id")
        .select(
            "q_id",
            "neighbor_id",
            "label",
            F.round(cosine(F.col("q_vec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    return _rank_topk(rerank, k)


#: rf="auto" geometry: a probed slice at/below the cap is reranked
#: EXHAUSTIVELY (recall == the IVF ceiling by construction — the best the
#: composition can do); above it, the rerank pool is the fixed budget.
#: Rerank recall is MONOTONE in the pool (a bigger cut is a superset
#: prefix of stage 1's ranking), so any budget at/above a measured
#: sufficiency point holds that measured recall — the kind=ivfpq sweep
#: pins the budget's level against fixed rf=64 at 16× corpus.
IVFPQ_EXHAUSTIVE_CAP = 512
IVFPQ_RERANK_BUDGET = 256


def _auto_rerank_factor(
    n_vectors: int, n_lists: int, n_probe: int, k: int
) -> int:
    """The rf="auto" rule, one count() upstream (the target_cluster_size
    pattern): estimate the probed slice as n_probe · ⌈N/lists⌉ (uniform
    occupancy — the hash-spread coarse quantizer's design target), then
    exhaustive below the cap, budget above it."""
    occupancy = math.ceil(n_vectors / max(n_lists, 1))
    probed = n_probe * occupancy
    pool = probed if probed <= IVFPQ_EXHAUSTIVE_CAP else IVFPQ_RERANK_BUDGET
    return max(1, math.ceil(pool / k))


class IvfPqIndex(NamedTuple):
    """The composed IVF+PQ index as data: the list-assigned codes table
    (corpus-sized — the ONLY big thing), the coarse centroid table
    (k_centroids rows, broadcastable), and the m residual codebooks
    (driver-side, config-sized — k·dim doubles total). ``build`` makes
    it inline; ``write_ivfpq_index``/``read_ivfpq_index`` are the
    once-per-snapshot persistence path, so a probe pays ZERO training."""

    codes: DataFrame
    centroids: DataFrame
    books: list


def build_ivfpq_index(
    embeddings: DataFrame,
    k_centroids: int = 8,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
) -> IvfPqIndex:
    """Train the composed index: IVF coarse quantizer (deterministic
    hash-spread centroids), residuals (x − coarse centroid, map-side
    broadcast join + zip_with — the corpus never shuffles), m residual
    codebooks via the deterministic Lloyd, map-only encode. The
    residual frame is eagerly checkpointed: it feeds m trainings plus
    the encode, each of which would otherwise re-run the assign argmin
    from the scan."""
    from yfinance_etl_spark.operators.similarity import ivf_assign

    assigned, cents = ivf_assign(embeddings, k_centroids)
    # the coarse centroids are driver rows by construction (ivf_assign
    # collected them to build its literal assign matrix) — attach them
    # as a map literal instead of re-entering via a broadcast join
    # (r16: one BroadcastExchange less in the build, same doubles)
    cvec = F.element_at(
        _vec_map(_cent_rows(cents)), F.col("list_id").cast("long")
    )
    from yfinance_etl_spark.operators.partitioning import spread

    # spread BEFORE the checkpoint (r17): this checkpoint now also serves
    # as pq_train's materialized input (checkpointed=True below skips its
    # redundant re-checkpoint), so it must carry the parallel layout the
    # per-round training scans need — an under-partitioned source would
    # otherwise pin every Lloyd round to the scan's own 1-2 partitions.
    resid = (
        spread(
            assigned.select(
                "vec_id",
                "list_id",
                F.zip_with("vec", cvec, lambda x, y: x - y).alias("residual"),
            )
        )
        .localCheckpoint(eager=True)
    )
    # residuals of ivf_assign-checked vectors minus finite centroids are
    # finite by construction — skip pq_train's corpus pass; the residual
    # frame is the eager checkpoint above — skip pq_train's re-checkpoint
    books = pq_train(
        resid, m=m, k=kc, iters=iters, vec_col="residual",
        check_finite=False, checkpointed=True,
    )
    codes = pq_codes(resid, books, vec_col="residual", carry=("list_id",))
    return IvfPqIndex(codes, cents, books)


def write_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    k_centroids: int = 8,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
) -> None:
    """Persist the composed index through the S10 sink — the production
    form: a snapshot build pays coarse-kmeans + m residual trainings
    ONCE, and every probe afterwards scans only the written parquet
    (the int8/MinHash persisted-artifact pattern, r11-r12).

    Layout: ``codes/`` is the corpus-sized table, PARTITIONED BY
    list_id — a probe touches n_probe of k_centroids lists, so the
    directory layout makes the dominant scan partition-pruned, the same
    argument as the MinHash store's band_id layout. ``centroids/`` and
    ``books/`` are config-sized."""
    from yfinance_etl_spark.sources.sink import write_partitioned

    idx = build_ivfpq_index(embeddings, k_centroids, m, kc, iters)
    write_partitioned(idx.codes, f"{path}/codes", partition_by=("list_id",))
    write_partitioned(idx.centroids, f"{path}/centroids")
    spark = embeddings.sparkSession
    book_rows = [
        (i, int(cid), [float(x) for x in coords])
        for i, book in enumerate(idx.books)
        for cid, coords in book
    ]
    write_partitioned(
        local_frame(
            spark, book_rows, "subspace int, cent_id long, coords array<double>"
        ),
        f"{path}/books",
    )


def append_ivfpq_index(
    new_embeddings: DataFrame, path: str, assert_new_ids: bool = False
) -> None:
    """Index maintenance under APPEND (r12 verdict stretch #8): encode a
    delta of NEW vectors against the EXISTING persisted coarse centroids
    and residual codebooks — zero retraining — and append their
    (vec_id, code_*, list_id) rows into the codes table's list_id
    partitions. The vector analog of the MinHash signature store's
    append step: the index is a long-lived incremental structure, not a
    rebuild-per-snapshot artifact.

    Cost shape: coarse assignment is the ``ivf_assign_to`` literal-matrix
    projection (map-only), residuals are a broadcast join + zip_with,
    encoding is the ``pq_codes`` map-only argmin — one scan of the DELTA
    end to end, no shuffle of the standing corpus.

    The honest trade, stated: frozen codebooks quantize the delta
    against the OLD corpus's geometry, so recall drifts as the appended
    fraction grows — the kind=annappend sweep measures that drift
    against a full retrain, which is the signal a deployment uses to
    schedule retraining (exactly FAISS's add-vs-train split).

    CONTRACT (the counting-Bloom retired⊆seen style — stated, not
    silently broken): appended vec_ids must be NEW. Re-appending an id
    already in the index duplicates its codes row, and a probe would
    rank the duplicate as a second neighbor; deduplicating here would
    cost a full index anti-join per delta, which callers that track
    their snapshot boundary (every caller in this repo) never need.
    ``assert_new_ids=True`` makes a violation DETECTABLE without the
    anti-join (r13 advice): one post-append aggregate over the codes
    table (count vs count-distinct on vec_id — map-side partials, no
    per-id shuffle fan-out) raises if any id now appears twice."""
    from yfinance_etl_spark.operators.similarity import (
        check_finite_vectors,
        ivf_assign_to,
    )
    from yfinance_etl_spark.sources.sink import write_partitioned

    spark = new_embeddings.sparkSession
    idx = read_ivfpq_index(spark, path)
    emb = new_embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    check_finite_vectors(emb, "vec", "vec_id")
    cent_rows = _cent_rows(idx.centroids)
    assigned = ivf_assign_to(new_embeddings, cent_rows)
    cvec = F.element_at(
        _vec_map(cent_rows), F.col("list_id").cast("long")
    )
    resid = assigned.select(
        "vec_id",
        "list_id",
        F.zip_with("vec", cvec, lambda x, y: x - y).alias("residual"),
    )
    codes = pq_codes(resid, idx.books, vec_col="residual", carry=("list_id",))
    write_partitioned(
        codes, f"{path}/codes", partition_by=("list_id",), mode="append"
    )
    if assert_new_ids:
        row = (
            spark.read.parquet(f"{path}/codes")
            .agg(
                F.count("vec_id").alias("n"),
                F.countDistinct("vec_id").alias("nd"),
            )
            .first()
        )
        if row["n"] != row["nd"]:
            raise ValueError(
                f"append_ivfpq_index contract violated: {row['n'] - row['nd']} "
                f"duplicate vec_id codes row(s) in {path}/codes — appended "
                "ids must be new (a probe would rank a duplicate as a "
                "second neighbor)"
            )


def split_ivfpq_list(
    spark,
    path: str,
    list_id: int,
    snapshot: DataFrame,
    iters: int = PQ_ITERS,
) -> tuple[int, int]:
    """ACT on a ``needs_split`` flag (the other half of the
    detect→act maintenance loop ``ivfpq_retrain_signal`` opens): re-derive
    ONE oversized inverted list into two sub-lists and rewrite only that
    list's slice of the persisted index — never touching the other lists,
    the codebooks, or the standing corpus.

    Mechanics: fetch the hot list's float vectors from ``snapshot`` (a
    vec_id equi-join — candidate-slice-sized, the ExactSubstr
    fetch-verify pattern), run the deterministic 2-means on them, insert
    the two sub-centroids under FRESH cent_ids (max existing + 1, + 2),
    re-encode the list's vectors as residuals against their new centroid
    with the FROZEN codebooks, append the re-encoded rows into the codes
    table's new list_id partitions, and drop the old partition directory.
    Probes need no code change — they read the centroid table per query,
    and the grown table simply offers two finer probe targets where one
    oversized one stood.

    Why split instead of retrain: the sweep (kind=annappend) measures a
    shifted-regime delta CONCENTRATING into one list (max occupancy 0.55
    → 0.94 as appended fraction grows) — stage-1 probe cost is
    proportional to probed-list size, so one hot list carries the whole
    regression. Splitting it costs one scan of THAT list; a retrain costs
    the corpus (measured 4-5x the append wall, and it invalidates every
    list's baseline instead of two).

    Cost contract: O(|list|) — one fetch join, a 2-means over the list,
    one map-only re-encode, one partition write + one directory drop.
    Quantization error for the split vectors cannot degrade on average
    (the 2-means assignment's mean squared residual is no worse than the
    single old centroid's; test-pinned empirically) — the frozen books
    decode SMALLER residuals, so the per-list error monitor re-baselines
    downward. Local path surgery only (the scratch-dir sink contract —
    an object-store deployment would stage-and-swap the partition)."""
    import shutil

    from yfinance_etl_spark.operators.clustering import kmeans
    from yfinance_etl_spark.sources.sink import write_partitioned

    idx = read_ivfpq_index(spark, path)
    hot_ids = idx.codes.filter(F.col("list_id") == list_id).select("vec_id")
    hot = snapshot.join(hot_ids, "vec_id", "left_semi")
    n_hot = hot.count()
    if n_hot < 2:
        raise ValueError(
            f"split_ivfpq_list: list {list_id} holds {n_hot} vector(s); "
            "nothing to split"
        )
    assigned, sub_cents = kmeans(hot, k=2, iters=iters, vec_col="embedding")
    # kmeans labels clusters with its hash-spread seed ids, not 0..k-1 —
    # remap the surviving labels (an empty cluster may drop one) onto
    # fresh DENSE ids above the existing centroid range
    base_id = int(
        idx.centroids.agg(F.max("cent_id").alias("m")).first()["m"]
    ) + 1
    sub_rows = sub_cents.orderBy("cent_id").collect()
    if len(sub_rows) < 2:
        raise ValueError(
            f"split_ivfpq_list: 2-means collapsed list {list_id} into "
            f"{len(sub_rows)} cluster(s) (degenerate/duplicate vectors); "
            "nothing to split"
        )
    id_map = {int(r["cent_id"]): base_id + i for i, r in enumerate(sub_rows)}
    new_ids = tuple(id_map.values())
    # LONG-typed map keys (r14 advice): kmeans cent_ids are seed vec_ids
    # (long) — an int-cast lookup key would wrap any id >= 2^31, miss the
    # map, and the inner join below would silently DROP those vectors
    # from the re-encoded partition
    remap = F.element_at(
        F.create_map(
            *[
                c
                for k, v in id_map.items()
                for c in (F.lit(k).cast("long"), F.lit(v).cast("long"))
            ]
        ),
        F.col("cent_id").cast("long"),
    )
    new_cent_df = local_frame(
        spark,
        [
            (id_map[int(r["cent_id"])], [float(x) for x in r["cent"]])
            for r in sub_rows
        ],
        "list_id long, cent_vec array<double>",
    )
    resid = (
        assigned.select("vec_id", "vec", remap.alias("list_id"))
        .join(F.broadcast(new_cent_df), "list_id")
        .select(
            "vec_id",
            "list_id",
            F.zip_with("vec", "cent_vec", lambda x, y: x - y).alias("residual"),
        )
    )
    codes = pq_codes(resid, idx.books, vec_col="residual", carry=("list_id",))
    write_partitioned(
        codes, f"{path}/codes", partition_by=("list_id",), mode="append"
    )
    shutil.rmtree(f"{path}/codes/list_id={list_id}")
    # centroid table rewrite goes through DRIVER rows (config-sized by
    # contract): a lazy plan reading centroids/ while overwriting the
    # same directory would be a read-under-write hazard
    kept_rows = [
        (int(r["cent_id"]), [float(x) for x in r["cent_vec"]])
        for r in idx.centroids.collect()
        if int(r["cent_id"]) != list_id
    ]
    new_cent_rows = [
        (id_map[int(r["cent_id"])], [float(x) for x in r["cent"]])
        for r in sub_rows
    ]
    write_partitioned(
        local_frame(
            spark,
            sorted(kept_rows + new_cent_rows),
            "cent_id long, cent_vec array<double>",
        ),
        f"{path}/centroids",
    )
    return new_ids


def read_ivfpq_index(spark, path: str) -> IvfPqIndex:
    """Read a persisted index back for ``ivfpq_topk(index=...)``. The
    codebooks come to the driver (config-sized by construction — they
    re-enter plans as literals exactly as the trainer returned them);
    the codes table stays a DataFrame. list_id returns as a partition
    directory column — cast back to long (partition-column inference
    yields int) and restore the writer's column order so the frame is
    schema-identical to the inline build."""
    brows = spark.read.parquet(f"{path}/books").collect()
    n_sub = max(r["subspace"] for r in brows) + 1
    books = [
        sorted(
            (int(r["cent_id"]), [float(x) for x in r["coords"]])
            for r in brows
            if r["subspace"] == i
        )
        for i in range(n_sub)
    ]
    raw = spark.read.parquet(f"{path}/codes")
    codes = raw.select(
        "vec_id",
        F.col("list_id").cast("long").alias("list_id"),
        *[f"code_{i}" for i in range(n_sub)],
    )
    cents = spark.read.parquet(f"{path}/centroids").select("cent_id", "cent_vec")
    return IvfPqIndex(codes, cents, books)


def _cent_rows(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect a centroid table to sorted driver rows — config-sized by
    the IvfPqIndex contract (k_centroids rows), the same driver traffic
    the pre-r16 BroadcastExchange of this table carried."""
    return sorted(
        (int(r["cent_id"]), [float(x) for x in r["cent_vec"]])
        for r in centroids.collect()
    )


def _ivfpq_reconfull(
    index: IvfPqIndex, cent_rows: list[tuple[int, list[float]]] | None = None
) -> DataFrame:
    """(vec_id, list_id, rfull): the index's full reconstruction —
    coarse centroid + residual decode as ONE map-literal projection
    (every list_id is a centroid id by construction, so the
    ``element_at`` lookup is total — the pre-r16 broadcast-join form
    computed the same sum through one BroadcastExchange per consumer).
    Shared by the probe path and the quantization-error monitor so the
    reconstruction algebra cannot drift between them. ``cent_rows``
    lets a caller that already collected the (config-sized) centroid
    table share the rows instead of re-collecting."""
    if cent_rows is None:
        cent_rows = _cent_rows(index.centroids)
    recon_res = pq_reconstruct(index.codes, index.books, carry=("list_id",))
    cvec = F.element_at(_vec_map(cent_rows), F.col("list_id").cast("long"))
    return recon_res.select(
        "vec_id",
        "list_id",
        F.zip_with("rvec", cvec, lambda x, y: x + y).alias("rfull"),
    )


def ivfpq_quantization_error(
    embeddings: DataFrame,
    index: IvfPqIndex | None = None,
    k_centroids: int = 8,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """(list_id, n_vectors, mean_sq_error): per-inverted-list mean
    squared reconstruction error — THE production retraining signal for
    an appended index. The kind=annappend sweep measures recall drift
    against a full retrain OFFLINE (it needs the exact scan); this is
    the metric a deployment watches ONLINE: frozen codebooks quantize a
    drifting delta progressively worse, and the error is computable in
    one map-side pass (reconstruction = broadcast joins; the squared
    distance is the shared 9 dp _sqdist grid) + one keyed agg — no
    exact-scan oracle needed. Per LIST, not global: drift localizes to
    the lists receiving new-regime vectors, which is also where n_probe
    recall dies first.

    Deterministic cross-engine: per-row squared error on the 9 dp grid,
    decimal(38,18) sum, mean rounded to 6 dp — the dsum discipline, so
    the DuckDB oracle replays training + encode + reconstruction + this
    aggregation exactly.

    CONTRACT: ``embeddings`` must cover the index's vec_ids (the metric
    joins codes to floats on vec_id, and an id missing from either side
    silently leaves the mean) — callers monitor the SAME snapshot the
    index was built+appended from, which every caller here does."""
    if index is None:
        index = build_ivfpq_index(embeddings, k_centroids, m, kc, iters)
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    joined = _ivfpq_reconfull(index).join(emb, "vec_id")
    sqerr = _sqdist(F.col("vec"), F.col("rfull"))
    return joined.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum(sqerr.cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sq_error"),
    )


#: Retrain trip point for ``ivfpq_retrain_signal``, CALIBRATED on the
#: kind=annappend sweep (scale_stress_results.jsonl, r14): in-regime
#: appended legs (delta drawn from the base's own geometry) measured a
#: global error_ratio of 1.000–1.023 through 94% appended fraction and
#: fired nothing, while shifted-regime legs (every delta vector displaced
#: +0.5/dim — the new-data-regime failure the monitor exists to catch)
#: measured 7.57–13.19 with the drift localized to the receiving lists
#: (max list ratio 13–15× vs median 1.06–1.59). 1.5 sits between the two
#: regimes with ≥6× margin on both sides;
#: test_recorded_annappend_sweep_supports_the_claims pins the separation
#: so a future change cannot silently invalidate the calibration.
IVFPQ_ERROR_RATIO_RETRAIN = 1.5

#: Occupancy-skew trip point: a list holding more than this multiple of
#: the MEAN list occupancy is the stage-1 cost killer (one huge probed
#: slice) and the recall killer (n_probe misses concentrate there) —
#: the split-or-retrain rule fires on it even when reconstruction error
#: alone has not tripped. Frozen coarse centroids concentrate a drifting
#: delta into few lists, so skew and error usually rise together; the
#: sweep records max_occupancy_frac per leg to show exactly that.
IVFPQ_OCCUPANCY_SPLIT_FACTOR = 4.0


def ivfpq_occupancy(index: IvfPqIndex) -> DataFrame:
    """(list_id, n_vectors, occupancy_frac): inverted-list sizes as a
    fraction of the corpus — one map-side-combined groupBy over the
    codes table (never touches float vectors). The cheap half of the
    maintenance signal: probed-slice cost is proportional to the probed
    lists' occupancy, so a skewed list is visible here before any
    error metric moves."""
    counts = index.codes.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    total = counts.agg(F.sum("n_vectors").alias("t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "list_id",
        "n_vectors",
        F.round(F.col("n_vectors") / F.col("t"), 6).alias("occupancy_frac"),
    )


def ivfpq_retrain_signal(
    current_err: DataFrame,
    baseline_err: DataFrame,
    occupancy: DataFrame | None = None,
    error_ratio_threshold: float = IVFPQ_ERROR_RATIO_RETRAIN,
    occupancy_split_factor: float = IVFPQ_OCCUPANCY_SPLIT_FACTOR,
) -> DataFrame:
    """The split-or-retrain RULE (r13 verdict #5), per inverted list:
    join the live ``ivfpq_quantization_error`` frame against the
    baseline recorded at (re)train time and flag

    * ``needs_retrain`` — this list's mean squared reconstruction error
      grew past ``error_ratio_threshold`` × its train-time level: the
      frozen codebooks no longer describe what the list holds;
    * ``needs_split`` — this list's occupancy exceeds
      ``occupancy_split_factor`` × the mean list occupancy: probe cost
      and recall degrade even at acceptable reconstruction error.

    Per-list on purpose (the monitor's granularity exists for this):
    drift localizes to the lists receiving new-regime vectors, so a
    deployment can re-quantize ONE list's residual space — or split one
    oversized list — without retraining the whole index; a global-mean
    signal would dilute a hot list below threshold exactly when it
    matters. Lists absent from the baseline (created by an append into
    empty space — impossible under frozen centroids, but cheap to
    handle) compare against the baseline's weighted mean.

    CONTRACT BOUNDARY (r14 verdict #3 — what a green signal does and
    does not promise): ``needs_retrain`` detects CODEBOOK/DATA
    DISTRIBUTION MISMATCH — appended vectors whose residuals the frozen
    codebooks quantize badly. It is NOT a recall-parity guarantee. The
    calibrated kind=annappend sweep (scale_stress_results.jsonl) shows
    the two are nearly decoupled on the fixture: in-regime appends sit
    at error_ratio 1.00–1.02 (no trip, ≥6× below the 1.5 threshold)
    while their appended-vs-retrained recall can still wobble by up to
    ~0.15 on a 40-query sample — quantization error cannot see recall
    variation that comes from WHERE queries land relative to list
    boundaries rather than from codebook misfit. Deployments that need
    a recall floor must measure recall directly on a held-out query
    sample (the sweep's own method; see tests/test_recall_regression.py
    for the live-measurement harness) — the error-ratio signal tells
    you when the quantizer no longer fits the data, which is the one
    failure mode that silently worsens forever without it.

    All inputs are list-sized (≤ k_centroids rows): the joins are
    broadcast trivially and the frame is driver-readable by contract."""
    base = baseline_err.select(
        "list_id",
        F.col("n_vectors").alias("n_base"),
        F.col("mean_sq_error").alias("mse_base"),
    )
    gmean = base.agg(
        (
            F.sum(F.col("mse_base") * F.col("n_base")) / F.sum("n_base")
        ).alias("g")
    )
    cur = current_err.select(
        "list_id", "n_vectors", F.col("mean_sq_error").alias("mse_current")
    )
    joined = (
        cur.join(F.broadcast(base), "list_id", "left")
        .crossJoin(F.broadcast(gmean))
        .withColumn(
            "error_ratio",
            F.round(
                F.col("mse_current") / F.coalesce(F.col("mse_base"), F.col("g")),
                6,
            ),
        )
    )
    mean_occ = None
    if occupancy is not None:
        occ = occupancy.select("list_id", "occupancy_frac")
        mean_occ = occupancy.agg(F.avg("occupancy_frac").alias("mean_occ"))
        joined = joined.join(F.broadcast(occ), "list_id", "left").crossJoin(
            F.broadcast(mean_occ)
        )
    else:
        joined = joined.withColumn("occupancy_frac", F.lit(None).cast("double"))
        joined = joined.withColumn("mean_occ", F.lit(None).cast("double"))
    return joined.select(
        "list_id",
        "n_vectors",
        "mse_current",
        "mse_base",
        "error_ratio",
        "occupancy_frac",
        (F.col("error_ratio") > F.lit(error_ratio_threshold)).alias(
            "needs_retrain"
        ),
        F.coalesce(
            F.col("occupancy_frac")
            > F.lit(occupancy_split_factor) * F.col("mean_occ"),
            F.lit(False),
        ).alias("needs_split"),
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    k_centroids: int = 8,
    n_probe: int = 2,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
    rerank_factor: int | str = 16,
    index: IvfPqIndex | None = None,
) -> DataFrame:
    """IVF+PQ — FAISS's IndexIVFPQ re-expressed as DataFrame algebra, the
    composition of the engine's two pruning axes: the IVF coarse
    quantizer (similarity.ivf_assign — deterministic hash-spread
    centroids) partitions the corpus into inverted lists so a query
    scores only its ``n_probe`` lists (CANDIDATE pruning), and PQ
    codebooks trained on the RESIDUALS (x − coarse centroid — the
    textbook IVFPQ move: residuals are smaller and more isotropic than
    raw vectors, so the same code budget quantizes them better) compress
    what those lists hold (MEMORY pruning). Stage 1 scores
    cosine(q, coarse_centroid + reconstruct(residual)) inside the probed
    lists; stage 2 reranks the candidate slice with exact float cosine.
    Output contract matches ivf_topk: (q_id, neighbor_id, cos_sim,
    knn_rank) — approximate candidate set, exact published scores.

    Every stage is deterministic and the oracle replays all of it:
    hash-spread coarse centroids, residual computation, four per-subspace
    kmeans chains over residual slices, encoding, reconstruction, probe
    selection, and both rankings.

    ``index`` is the production form: pass a PERSISTED index
    (``read_ivfpq_index``) and the probe pays zero training — stage 1's
    corpus-sized side is the index's list_id-partitioned codes parquet
    (plan-pinned: the reconstruction subplan never touches
    embeddings.parquet); the float embeddings enter only as the
    query rows and the candidate-sized rerank join. Omitting it builds
    the index inline (k_centroids/m/kc/iters are ignored when ``index``
    is given — the persisted artifact fixes the geometry).

    ``rerank_factor="auto"`` sizes the cut from measured list occupancy
    (one count()): a probed slice at/below IVFPQ_EXHAUSTIVE_CAP reranks
    EXHAUSTIVELY — recall equals the IVF ceiling by construction, the
    composition's optimum — and a bigger one reranks the fixed
    IVFPQ_RERANK_BUDGET. Because rerank recall is monotone in the pool
    (a larger cut is a superset prefix of stage 1's ranking), the budget
    needs only to clear a measured sufficiency point — the kind=ivfpq
    sweep pins it at/above fixed rf=64's recall at 16× corpus with a
    smaller pool (256 vs 320 rows per query)."""
    if index is None:
        index = build_ivfpq_index(embeddings, k_centroids, m, kc, iters)
    if rerank_factor == "auto":
        rerank_factor = _auto_rerank_factor(
            index.codes.count(), index.centroids.count(), n_probe, k
        )
    elif not isinstance(rerank_factor, int):
        raise ValueError(
            f"rerank_factor must be an int or 'auto', got {rerank_factor!r}"
        )
    cent_rows = _cent_rows(index.centroids)
    recon = _ivfpq_reconfull(index, cent_rows)
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"), "label"
    )
    if query_ids is None:
        qpred = F.col("vec_id") < 5
    else:
        qpred = F.col("vec_id").isin(query_ids)
    q = emb.filter(qpred).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
    )
    # probe selection: the query's n_probe highest-cosine coarse lists —
    # the ivf_assign_to literal-matrix candidates (same (-round(sim,6),
    # cent_id) struct order = sim desc, ties lowest id), array_sorted and
    # sliced MAP-SIDE on the query rows. The pre-r16 form crossJoined the
    # broadcast centroid table and ranked with Window.partitionBy(q_id):
    # one BroadcastExchange + one shuffle/sort stage over n_q·k rows to
    # pick the same n_probe ids this projection picks in place.
    cand = F.transform(
        F.expr(
            "array(" + ",".join(
                "array(" + ",".join(f"{float(x)!r}D" for x in coords) + ")"
                for _, coords in cent_rows
            ) + ")"
        ),
        lambda cent, i: F.struct(
            (-F.round(cosine(F.col("q_vec"), cent), 6)).alias("neg_sim"),
            F.expr(
                "array(" + ",".join(f"{int(cid)}L" for cid, _ in cent_rows) + ")"
            )[i].alias("cent_id"),
        ),
    )
    probes = F.broadcast(
        q.select(
            "q_id", "q_vec",
            F.slice(F.array_sort(cand), 1, n_probe).alias("pl"),
        ).select(
            "q_id", "q_vec",
            F.explode(F.col("pl")["cent_id"]).alias("list_id"),
        )
    )
    stage1 = (
        recon.join(probes, "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_vec"), F.col("rfull")), 6).alias("cos_sim"),
        )
    )
    cand = _rank_topk(stage1, k * rerank_factor).select("q_id", "neighbor_id")
    qb = F.broadcast(q)
    rerank = (
        cand.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "vec"), "neighbor_id"
        )
        .join(qb, "q_id")
        .select(
            "q_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    return _rank_topk(rerank, k)
