"""Vector similarity search over the embeddings table (north-star extension).

Brute-force cosine top-k is the exactness baseline: broadcast the (small)
query set, score every candidate with array higher-order functions (JVM-side,
no Python), window top-k per query. At 100 TB the scale path is bucketed
pruning (LSH / IVF — see ``lsh_bucket``): candidates shrink from |corpus| to
one bucket before exact scoring, same cheap-filter → exact-verify shape as
MinHash dedup.

Everything computes in float64 regardless of the stored float32 — both engines
widen floats exactly, keeping the DuckDB oracle comparable. Scores are rounded
*before* ranking so rank boundaries are identical across engines.

Reference analog: FAISS as_retriever(k) (pdf_rag_chatbot.py:60-61,223,254).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yfinance_etl_spark.catalog import local_frame


def _dot(a, b, dim: int | None = None):
    """Σ a_i·b_i as a left-to-right fold from a 0.0 seed. With ``dim``
    known statically (r17) the fold UNROLLS into flat codegen'd
    arithmetic — ((0.0 + t0) + t1) + …, the exact evaluation order of
    the aggregate() fold, so results are bit-identical — instead of an
    interpreted higher-order-function lambda per element (Catalyst does
    not codegen lambda bodies). semantic_dedup's 16-dim per-pair product
    unrolls; knn_join's 64-dim one keeps the fold, which measured faster
    there. ``dim`` must be the vectors' length. The unrolled sum does
    not check it, so a caller passes every vector through ``_norm`` with
    the same ``dim`` first."""
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
    out = F.lit(0.0)
    for i in range(dim):
        out = out + a[i] * b[i]
    return out


def _norm(v, dim: int | None = None):
    """sqrt(v·v) by the fold, computed once per vector so per-pair work
    is one dot product. With ``dim``, a non-NULL vector of any other
    length raises here, so a per-pair ``_dot(a, b, dim)`` never sums a
    prefix of it. The check sits here, once per vector, because inside
    the per-pair ``_dot`` it made semantic_dedup about 8x slower at sf0.1
    on 4 vCPUs, and unrolling a 64-dim norm next to it doubled
    knn_join's wall. A NULL vector gives NULL."""
    norm = F.sqrt(_dot(v, v))
    if dim is None:
        return norm
    return F.when(
        F.array_size(v) != dim,
        F.raise_error(F.lit(f"vector length differs from dim={dim}")),
    ).otherwise(norm)


def cosine(a, b):
    """Cosine similarity, NULL for a zero-norm side: under this session's
    ANSI-on Spark 4 default a plain `/` raises a job-aborting
    DIVIDE_BY_ZERO the moment ONE all-zero embedding (e.g. a
    whitespace-only document through hash_embed) appears among the
    candidates. try_divide yields NULL instead — which is also exactly
    what the DuckDB oracle computes for x/0, and bit-identical to `/`
    whenever the norms are nonzero."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared per-query ranking tail for every search variant: row_number
    over (cos_sim desc, neighbor_id asc), keep top k, emit the scored
    columns plus ``knn_rank``. One definition so the tie-break and
    rounding policy can't silently drift between the four variants."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*scored.columns, F.col("rank").alias("knn_rank"))
    )


def check_finite_vectors(
    df: DataFrame, vec_col: str, id_col: str, max_report: int = 3
) -> None:
    """Fail loudly, with ids, if any vector is NULL or contains NaN/±inf.
    The centroid literals in ivf_assign/clustering guard only the k
    COLLECTED rows; a non-finite coordinate anywhere else still reaches
    the decimal moment sums and dies under ANSI with a cast error that
    names no row — and a NULL vector (e.g. a NULL document through
    hash_embed) would either crash the seed collection with a TypeError
    naming nothing or silently vanish from centroid means (r9 review).
    One map-only scan; callers that pre-clean at ingest can skip it."""
    bad = (
        df.filter(
            F.col(vec_col).isNull()
            | F.exists(
                F.col(vec_col),
                lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
            )
        )
        .select(id_col)
        .limit(max_report)
        .collect()
    )
    if bad:
        ids = [r[id_col] for r in bad]
        raise ValueError(
            f"embedding column {vec_col!r} contains NULL or non-finite values "
            f"(first {id_col}s: {ids}); clean the vectors before indexing"
        )


def knn_topk(
    embeddings: DataFrame, query_ids: list[int] | None = None, k: int = 5
) -> DataFrame:
    """Exact cosine top-k per query vector (brute force baseline).

    Queries default to vec_id < 5. Ties broken on vec_id; scores rounded to
    6 dp before ranking for cross-engine-stable ordering.
    """
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"), "label"
    )
    if query_ids is None:
        q = emb.filter(F.col("vec_id") < 5)
    else:
        q = emb.filter(F.col("vec_id").isin(query_ids))
    q = F.broadcast(
        q.select(F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec"))
    )
    scored = (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            F.round(cosine(F.col("q_vec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def lsh_bucket(
    embeddings: DataFrame,
    n_planes: int = 6,
    first_mask: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane (SimHash-style) LSH bucket id per vector — the
    scale path's pruning key. Planes are deterministic ±1 sign patterns
    derived from the dimension index so the oracle can reproduce them:
    plane p gives sign(Σ_i vec[i]·s(p,i)), s(p,i) = +1 iff
    popcount(i & (p+1)) is even — the Walsh function with mask p+1.
    Bucket = the n_planes-bit code.

    Walsh masks give MUTUALLY ORTHOGONAL sign patterns (rows of a
    Hadamard matrix — the structured-projection trick fast JL transforms
    use), valid up to dim−1 planes. That matters at scale twice over:
    (a) keeping bucket occupancy flat as the corpus grows requires planes
    ∝ log2(N), so the family must not degenerate early — an index-bit
    family (= the power-of-two-mask subset of this one) goes constant
    past log2(dim) planes and caps buckets at 2·dim; (b) orthogonal
    planes decorrelate the bit code, so occupancy stays near-uniform
    (measured on a 32k-vector 16× corpus, scale_stress_results.jsonl: 10
    Walsh planes → 983 occupied buckets, max occupancy 107, 674k
    candidates — vs 128 buckets / 4.2M candidates for the degenerate
    index-bit family). 2^n_planes buckets → each query scans
    ~corpus/2^n_planes.

    ``first_mask`` shifts the mask window (plane p uses mask
    first_mask + p) so banded schemes can draw DISJOINT plane sets per
    band; all masks must stay < dim or the plane degenerates to a
    constant sign. Pass ``dim`` when the vector width is statically known
    and that invariant is enforced at build time (a degenerate plane
    silently halves effective buckets — recall and pruning decay with no
    error otherwise)."""
    if dim is not None and first_mask + n_planes > dim:
        raise ValueError(
            f"lsh_bucket: mask window [{first_mask}, {first_mask + n_planes - 1}] "
            f"exceeds dim-1={dim - 1}; a Walsh mask >= dim degenerates to a "
            "constant sign bit (constant bucket bit, halved effective buckets)"
        )
    vec = F.col("embedding").cast("array<double>")

    def signed(mask: int):
        # closure (not a default arg: pyspark reads the lambda's arity)
        return lambda x, i: F.when(
            F.bit_count(i.bitwiseAND(F.lit(mask))) % 2 == 0, x
        ).otherwise(-x)

    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                signed(first_mask + p),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return embeddings.withColumn("bucket", bucket)


def ann_bucketed_topk(
    embeddings: DataFrame, k: int = 5, n_planes: int = 6, dim: int | None = None
) -> DataFrame:
    """Approximate top-k: exact cosine only within each query's LSH bucket.

    At 100 TB: bucket is the shuffle/partition key, so each task scores one
    bucket — no all-pairs crossJoin ever materializes. ``dim`` (when the
    vector width is statically known) fail-fasts degenerate plane configs.
    """
    b = lsh_bucket(embeddings, n_planes, dim=dim).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"), "bucket"
    )
    q = F.broadcast(
        b.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    scored = (
        b.join(q, F.col("bucket") == F.col("q_bucket"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_vec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def ivf_assign(
    embeddings: DataFrame, k_centroids: int = 8, check_finite: bool = True
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic HASH-SPREAD centroids — the
    k_centroids rows with the smallest md5(vec_id), a fixed 'training
    sample' both engines can name that is uniform over the id space. (The
    naive `vec_id < k` sample is adversarial whenever ids correlate with
    content — ingest order, per-source id blocks — putting every centroid
    in one region and all mass in one inverted list.) Each vector is
    assigned to its highest-cosine centroid (ties → lowest centroid id).
    Returns (assignments, centroids).

    At 100 TB the inverted list id is the partition key: vectors cluster
    into k lists, a query touches n_probe of them, and the centroid table
    is tiny by construction. Selection is orderBy+limit =
    TakeOrderedAndProject — per-partition top-k merged on the driver, no
    global sort materializes. The k collected centroid rows re-enter the
    assignment plan as ONE literal k×dim matrix (same driver-side shape
    as operators/clustering.assign): the per-vector argmax is a map-only
    projection — no crossJoin and, critically, no Window.partitionBy
    (vec_id), which shuffled and sorted all k·N scored rows WITH their
    embedding payloads just to pick each row's best centroid.
    """
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    if check_finite:
        # the literal guard below covers only the k collected centroid
        # rows; any OTHER non-finite row crashes downstream with an error
        # naming no vec_id (map-only scan; skip when cleaned at ingest)
        check_finite_vectors(emb, "vec", "vec_id")
    cent_rows = [
        (int(r["vec_id"]), [float(x) for x in r["vec"]])
        for r in emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k_centroids)
        .collect()
    ]
    assigned = ivf_assign_to(embeddings, cent_rows)
    cents = F.broadcast(
        local_frame(
            embeddings.sparkSession, cent_rows, "cent_id long, cent_vec array<double>"
        )
    )
    return assigned, cents


def ivf_assign_to(
    embeddings: DataFrame, cent_rows: list[tuple[int, list[float]]]
) -> DataFrame:
    """Assign every vector to its highest-cosine centroid from a GIVEN
    (cent_id, coords) list — the assignment half of ``ivf_assign``,
    split out (r13) so the index-APPEND path can encode new vectors
    against the EXISTING coarse quantizer instead of reselecting
    centroids: same literal k×dim matrix, same argmax-with-lowest-id
    tie-break, map-only."""
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    # repr(nan)/repr(inf) would silently corrupt the SQL literal below into
    # a parse error deep inside Catalyst — fail loudly at the source (r9)
    import math

    bad = [cid for cid, coords in cent_rows
           if not all(math.isfinite(float(x)) for x in coords)]
    if bad:
        raise ValueError(
            f"IVF centroid vectors contain non-finite values (vec_id={bad}); "
            "clean the embedding column before indexing"
        )
    mat = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in coords) + ")"
            for _, coords in cent_rows
        ) + ")"
    )
    ids = F.expr(
        "array(" + ",".join(f"{int(cid)}L" for cid, _ in cent_rows) + ")"
    )
    # argmax sim, ties → lowest cent_id == argmin over (-sim, cent_id);
    # sim is rounded to 6 dp BEFORE negation, exactly the old window's
    # ORDER BY round(sim,6) DESC, cent_id ASC
    candidates = F.transform(
        mat,
        lambda cent, i: F.struct(
            (-F.round(cosine(F.col("vec"), cent), 6)).alias("neg_sim"),
            ids[i].alias("cent_id"),
        ),
    )
    return emb.select(
        "vec_id", "vec", F.array_min(candidates)["cent_id"].alias("list_id")
    )


def ivf_topk(
    embeddings: DataFrame, k: int = 5, k_centroids: int = 8, n_probe: int = 2
) -> DataFrame:
    """IVF approximate top-k: each query probes its n_probe closest
    centroids and scores exact cosine only inside those inverted lists —
    corpus scanned per query ≈ n_probe/k_centroids."""
    assigned, cents = ivf_assign(embeddings, k_centroids)
    q = assigned.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
    )
    probe_scored = q.crossJoin(cents).select(
        "q_id", "q_vec", "cent_id", F.round(cosine(F.col("q_vec"), F.col("cent_vec")), 6).alias("sim")
    )
    wp = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    probes = F.broadcast(
        probe_scored.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "q_vec", F.col("cent_id").alias("list_id"))
    )
    scored = (
        assigned.join(probes, "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_vec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def ann_multiprobe_topk(
    embeddings: DataFrame, k: int = 5, n_planes: int = 6, dim: int | None = None
) -> DataFrame:
    """Multi-probe LSH top-k: each query scores its own bucket PLUS every
    bucket at Hamming distance 1 (one plane's sign flipped) — n_planes+1
    probes. Near neighbors that landed just across one hyperplane (the
    dominant LSH miss mode) are recovered at (n_planes+1)/2^n_planes of
    the corpus per query instead of a full rescan. A corpus vector matches
    at most one probe, so no dedup is needed before ranking."""
    b = lsh_bucket(embeddings, n_planes, dim=dim).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"), "bucket"
    )
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    )
    q = F.broadcast(
        b.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            F.explode(probes).alias("probe_bucket"),
        )
    )
    scored = (
        b.join(q, F.col("bucket") == F.col("probe_bucket"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_vec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


#: knn_join's corpus-scaled default: plane count grows so MEAN bucket
#: occupancy stays ~this many vectors — the sweep-validated rule
#: (scale_stress_results.jsonl: candidate growth exponent 1.11 for
#: log2-scaled planes vs 2.01 for a fixed plane count, which prunes only
#: a constant FRACTION of N²/2). 32 reproduces the registry's pinned
#: 6-plane geometry at the sf0.1 fixture (2000 vectors) and the sweep's
#: "6 + log2(blowup)" scaled-planes series exactly.
KNN_JOIN_TARGET_OCCUPANCY = 32


def scaled_plane_count(
    n_vectors: int, target_occupancy: int = KNN_JOIN_TARGET_OCCUPANCY,
    dim: int | None = None, first_mask: int = 1,
) -> int:
    """⌈log2(N / target_occupancy)⌉, clamped to ≥1 and — when ``dim`` is
    known — to the Walsh mask window (a mask ≥ dim degenerates to a
    constant sign bit, silently halving effective buckets): the
    one-count() geometry rule every all-vectors caller shares (the
    ``semantic_dedup`` target_cluster_size pattern)."""
    import math

    if target_occupancy < 1:
        raise ValueError(f"target_occupancy must be >= 1, got {target_occupancy}")
    p = max(1, math.ceil(math.log2(max(n_vectors, 2) / target_occupancy)))
    if dim is not None:
        if dim - first_mask < 1:
            # a clamp here would return <= 0 planes; lsh_bucket(n_planes=0)
            # passes its own guard (first_mask + 0 <= dim) and puts EVERY
            # vector in one constant bucket — the quadratic blow-up this
            # rule exists to prevent. Fail loudly instead (r13 advice).
            raise ValueError(
                f"no Walsh mask window: dim={dim} leaves {dim - first_mask} "
                f"usable planes after first_mask={first_mask}; need >= 1"
            )
        p = min(p, dim - first_mask)
    return p


def knn_join(
    embeddings: DataFrame,
    k: int = 3,
    n_planes: int | None = None,
    dim: int | None = None,
    target_occupancy: int = KNN_JOIN_TARGET_OCCUPANCY,
    salt: int | None = None,
    bands: int | None = None,
    rows_per_band: int = 4,
) -> DataFrame:
    """All-vectors kNN JOIN: for EVERY vector, its k most-similar
    neighbors among the vectors sharing an LSH bucket with it — the
    primitive semantic-dedup graphs, diversity filters, and
    label-propagation pipelines build on, where ``knn_topk``'s handful
    of query vectors becomes the whole corpus. Same output contract as
    the query-side variants (q_id, neighbor_id, label, cos_sim,
    knn_rank; label is the neighbor's).

    Geometry is corpus-scaled BY DEFAULT (``n_planes=None`` → one
    ``count()`` then ``scaled_plane_count``): the all-vectors form pays
    Σ_b |bucket_b|² over the WHOLE corpus, and a fixed plane count keeps
    that a constant fraction of N²/2 — the measured exponent-2.01 regime
    (scale_stress_results.jsonl kind=knnjoin), vs 1.1x for planes that
    grow with log2(N) so occupancy stays ~``target_occupancy``. Pass an
    explicit ``n_planes`` to pin geometry (the registered fixture query
    does, keeping its oracle static).

    ``salt=S`` is the hot-bucket treatment (the blocked self-join from
    the banded embedding-dedup tier, plans/queries.py::_embed_neardup):
    the query side takes salt = q_id % S, the neighbor side replicates
    S ways, and the join keys on (bucket, salt) — each pair still meets
    exactly ONCE (when the neighbor replica's salt equals the query's),
    so the RESULT is bit-identical to unsalted (test-pinned) while a hot
    bucket's shuffle key spreads over S reducers. Skew treatment, not a
    recall knob.

    ``bands=B`` is the recall knob (OR-amplification, the
    dedup_embedding_banded shape): B bands × ``rows_per_band`` planes
    over DISJOINT Walsh mask windows; a pair is a candidate if ANY band
    collides, so a true neighbor just across one hyperplane — the
    dominant single-bucket miss mode — is recovered at ~B× the candidate
    volume. Pairs colliding in several bands are collapsed (distinct on
    the deterministic scored row) before ranking, so ranks are
    band-multiplicity-independent. Unbanded output == bands=None, and
    the two knobs compose.

    ``dim``, the vectors' length when known statically, is checked
    against every vector (``_norm``): a vector of any other length
    raises."""
    emb = embeddings
    if bands is not None:
        if bands < 1:
            raise ValueError(f"bands must be >= 1, got {bands}")
        if n_planes is not None:
            raise ValueError(
                "knn_join: bands and n_planes are mutually exclusive — the "
                "banded form sizes each band with rows_per_band "
                f"(got bands={bands}, n_planes={n_planes})"
            )
        # disjoint mask windows b·r+1 … b·r+r; lsh_bucket fail-fasts a
        # window that would run past dim-1
        banded = emb
        for band in range(bands):
            banded = lsh_bucket(
                banded, rows_per_band,
                first_mask=band * rows_per_band + 1, dim=dim,
            ).withColumnRenamed("bucket", f"__bkt{band}")
        b = banded.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("vec"),
            "label",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(band).alias("band"),
                            F.col(f"__bkt{band}").alias("bucket"),
                        )
                        for band in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select("vec_id", "vec", "label", "bb.band", "bb.bucket")
    else:
        if n_planes is None:
            n_planes = scaled_plane_count(
                emb.count(), target_occupancy, dim=dim
            )
        b = lsh_bucket(emb, n_planes, dim=dim).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("vec"),
            "label",
            F.lit(0).alias("band"),
            "bucket",
        )
    # in-bucket pair count is quadratic in occupancy, so per-pair work
    # must be ONE dot product, not three: hoist each vector's norm into
    # the frame (_norm is the exact subexpression cosine() evaluates,
    # and its dim check changes no value, so dot/(q_nrm·nrm) under
    # try_divide is bit-identical to cosine() and every oracle is
    # untouched — the _embed_neardup hoist)
    b = b.withColumn("nrm", _norm(F.col("vec"), dim))
    left = b.select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"), "band", "bucket",
    )
    keys = ["band", "bucket"]
    right = b
    if salt is not None:
        if salt < 2:
            raise ValueError(f"salt must be >= 2 sub-blocks, got {salt}")
        # pmod, not %: Spark's % is sign-preserving, so a negative
        # vec_id would take a salt no replica carries and its pairs
        # would silently VANISH — pmod keeps salts in [0, S) for any id
        # (identical to % on the non-negative fixtures, oracle unchanged)
        left = left.withColumn("psalt", F.pmod(F.col("q_id"), F.lit(salt)).cast("int"))
        right = right.withColumn(
            "psalt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        keys.append("psalt")
    scored = (
        right.join(left, keys)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            F.round(
                F.try_divide(
                    _dot(F.col("q_vec"), F.col("vec")),
                    F.col("q_nrm") * F.col("nrm"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    if bands is not None and bands > 1:
        # a pair colliding in several bands appears once per band; every
        # column is a deterministic function of the pair, so distinct()
        # collapses multiplicity without changing any value
        scored = scored.distinct()
    return _rank_topk(scored, k)


def int8_codes(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: (vec_id, codes, label) with
    codes_i = floor(x_i / max|x| * 127 + 0.5), emitted as array<tinyint>
    — the compressed form a 100 TB vector store actually persists (4×
    smaller than float32, 8× than float64; the scan of a retrieval pass
    is IO-bound, so smaller IS faster, the same argument as the sink's
    zstd default; ``write_int8_codes`` is the persistence path). The
    scale is per-vector, so cosine over codes needs no dequantization —
    scale cancels out of the ratio. floor(x+0.5), not round(): a
    deterministic rule both engines share — note it is half-toward-
    positive-infinity, not HALF_UP (a negative tie rounds up: -63.5 →
    -63, as the hand test pins); Spark round() is HALF_UP but DuckDB's
    is banker's-adjacent on doubles — the exact class of drift the
    oracle gate exists to catch, sidestepped by construction. A
    zero-norm vector quantizes to all-zero codes, whose cosine is NULL
    via try_divide — ranked last, same as the float path. A NULL vector
    yields NULL codes (transform of a NULL array is NULL), whose cosine
    is likewise NULL — also ranked last."""
    vec = F.col(vec_col).cast("array<double>")
    s = F.aggregate(
        F.transform(vec, lambda x: F.abs(x)), F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    codes = F.when(
        s > 0, F.transform(vec, lambda x: F.floor(x / s * 127 + F.lit(0.5)))
    ).otherwise(F.transform(vec, lambda x: F.lit(0).cast("bigint")))
    # tinyint is the honest int8: |code| <= 127 by construction, so the
    # ANSI cast can never overflow, and the persisted parquet carries
    # INT(8)-annotated values — the 4× claim is the file's, not a comment's
    return embeddings.select(
        "vec_id", codes.cast("array<tinyint>").alias("codes"), "label"
    )


def write_int8_codes(
    embeddings: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Persist ``int8_codes(embeddings)`` through the S10 sink — the
    codes table a production retrieval pass scans in stage 1. Written
    once per embedding snapshot (linear, map-only); float vectors then
    enter only the candidate-sized rerank join
    (``int8_topk(codes_df=read_int8_codes(...))``), which is what makes
    the 4× scan-bandwidth claim an executable path rather than a
    docstring promise.

    ``mode="append"`` is the delta-maintenance step (the signature-store
    /IVFPQ append for this tier) — and unlike IVFPQ's frozen codebooks,
    int8 append has ZERO staleness by construction: the quantization
    scale is PER-VECTOR (max|x| of that vector alone), so a delta
    encodes identically whether written with the base snapshot or years
    later — appended-store results equal a full rewrite bit-for-bit
    (test-pinned), no recall drift to monitor."""
    from yfinance_etl_spark.sources.sink import write_partitioned

    write_partitioned(int8_codes(embeddings), path, mode=mode)


def read_int8_codes(spark, path: str) -> DataFrame:
    """Read a persisted codes table back for stage 1 of ``int8_topk`` —
    schema (vec_id, codes array<tinyint>, label) exactly as written."""
    return spark.read.parquet(path).select("vec_id", "codes", "label")


def _int8_stage1(codes: DataFrame, qpred, k: int, rerank_factor: int) -> DataFrame:
    """Stage 1 of the two-stage quantized retrieval, taking ONLY the
    codes table — the separation exists so the plan pin can prove the
    candidate cut never scans the float vectors: rank every candidate by
    code-space cosine and keep k·rerank_factor per query."""
    qc = F.broadcast(
        codes.filter(qpred).select(
            F.col("vec_id").alias("q_id"), F.col("codes").alias("q_codes")
        )
    )
    stage1 = (
        codes.crossJoin(qc)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            F.round(
                cosine(
                    F.col("q_codes").cast("array<double>"),
                    F.col("codes").cast("array<double>"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(stage1, k * rerank_factor).select(
        "q_id", "neighbor_id", "label"
    )


def int8_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    rerank_factor: int = 4,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """Two-stage quantized retrieval — the memory-bandwidth scale path
    (complementary to the bucketed/IVF CANDIDATE-PRUNING paths): stage 1
    scores int8 CODES only (the small table; float vectors never enter
    the scan) and keeps k·rerank_factor candidates per query; stage 2
    fetches float vectors for the candidate slice alone (vec_id equi-join
    — candidate-count-sized, the ExactSubstr text-fetch-verify pattern)
    and reranks by exact cosine. Same output contract as every other
    search variant (q_id, neighbor_id, label, cos_sim, knn_rank), with
    cos_sim the EXACT float score — quantization error can only cost
    recall at the stage-1 cut, never corrupt a published score.

    Deterministic end-to-end (explicit half-up quantization, 6dp rounds
    before both rankings, shared _rank_topk tiebreak), so the DuckDB
    oracle replays both stages exactly — the approximation is oracle-
    gated, not hand-waved. Recall vs the exact scan is pinned in
    tests/test_dedup_similarity.py at 1.0 on the fixture at the default
    rerank_factor.

    ``codes_df`` is the production form: pass a PERSISTED codes table
    (``read_int8_codes``) and stage 1 scans only that parquet — the
    float ``embeddings`` scan survives solely under the rerank joins,
    where it reads a candidate-sized slice. Omitting it derives codes
    inline from the float column (the ad-hoc/test form, where stage 1's
    bandwidth win is rhetorical: the same scan feeds both stages)."""
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"), "label"
    )
    codes = codes_df if codes_df is not None else int8_codes(embeddings)
    if query_ids is None:
        qpred = F.col("vec_id") < 5
    else:
        qpred = F.col("vec_id").isin(query_ids)
    cand = _int8_stage1(codes, qpred, k, rerank_factor)
    qv = F.broadcast(
        emb.filter(qpred).select(
            F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
        )
    )
    rerank = (
        cand.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "vec"),
            "neighbor_id",
        )
        .join(qv, "q_id")
        .select(
            "q_id",
            "neighbor_id",
            "label",
            F.round(cosine(F.col("q_vec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    return _rank_topk(rerank, k)
