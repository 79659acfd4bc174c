"""Distributed k-means over the embeddings table (fixed-iteration Lloyd).

The iterative-algorithm template for the engine (the batch sibling of the
Pregel-style label propagation in operators/graph.py): each Lloyd round is

    assign:    per-row argmin against the k·dim centroid LITERALS (map-only)
    recompute: posexplode → per-(cluster, dim) exact decimal mean →
               collect the k·dim cells (≤ a few KB) to the driver

This is the same driver-side-centroid shape Spark MLlib's own KMeans uses:
the only state that ever leaves the executors is the k·dim centroid grid
(k=8, dim=64 → 512 doubles per round). The assign step costs zero shuffle
— the argmin over k candidate distances is a single projection evaluated
inside whole-stage codegen — and recompute partial-aggregates to k·dim
cells map-side before its one tiny exchange. At 100 TB the cost per round
is exactly one corpus scan; no N-row shuffle anywhere. (An earlier
revision kept the centroids as a chained lazy DataFrame — broadcast
crossJoin + min(struct) groupBy per round — which was collect-free but
shuffled all N vectors every round and stacked iters nested broadcast
exchanges into one deep plan; the measured cost at sf0.1 was ~3× this
version, and the per-round N-row shuffle is exactly what would bite at
1000 executors.)

Determinism (what lets a DuckDB oracle replay it):
* init: centroids = the k vectors with the smallest vec_id (no RNG);
* distances rounded to 9 decimals, ties broken by cent_id — the argmin is
  unambiguous cross-engine;
* centroid means via exact decimal sums (order-insensitive), rounded to 9
  and cast back to double, so round i+1 starts from bit-identical
  centroids in both engines.

A fixed iteration count (not convergence-test) keeps the oracle
expressible as chained CTEs. Production would simply loop to convergence:
each round is its own job off the checkpointed vectors, the centroid grid
is already on the driver, so the stopping test (max coordinate shift
< tol) is a pure-Python comparison between rounds — no lineage
accumulates and nothing else changes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yfinance_etl_spark.catalog import local_frame
from yfinance_etl_spark.functions.scalar import STAT_SCALE, dsum
from yfinance_etl_spark.operators.similarity import _dot, _norm

#: decimals kept for distances and centroid coordinates (cross-engine anchor)
COORD_DECIMALS = 9

#: blocked-salt width for the within-cluster pair join (semantic_dedup):
#: k clusters alone would cap the join's shuffle parallelism at k tasks
#: and concentrate a hot cluster's quadratic pair work on one of them —
#: the same treatment as the banded-LSH dedup join (plans/queries.py)
_SALT_BLOCKS = 8


def _as_double_vec(embs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """float[] → double[] once, up front: all distance math in float64."""
    return embs.select(
        "vec_id",
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )


def _sqdist(a, b):
    """Σ (a_i - b_i)² — a left-to-right fold, same evaluation order as the
    oracle's list_sum(list_transform(...)), rounded to the shared grid."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        COORD_DECIMALS,
    )


def _centroid_candidates(centroids: list[tuple[int, list[float]]]):
    """(d2, cent_id) candidate-struct array against the k×dim centroid
    LITERAL — shared by hard ``assign`` and soft ``probe_assign`` so the
    literal construction, the struct tie-break, and the non-finite guard
    can't drift apart. A NaN/inf coordinate would turn the literal into
    an opaque Catalyst parse error; raise with the offending ids instead
    (same contract as similarity.ivf_assign)."""
    bad = [cid for cid, coords in centroids
           if not all(math.isfinite(float(x)) for x in coords)]
    if bad:
        raise ValueError(
            f"k-means centroids contain non-finite coordinates (cent_id={bad}); "
            "clean the embedding column before clustering"
        )
    mat = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in coords) + ")"
            for _, coords in centroids
        ) + ")"
    )
    ids = F.expr(
        "array(" + ",".join(f"{int(cid)}L" for cid, _ in centroids) + ")"
    )
    return F.transform(
        mat,
        lambda cent, i: F.struct(
            _sqdist(F.col("vec"), cent).alias("d2"), ids[i].alias("cent_id")
        ),
    )


def assign(vecs: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, vec, cent_id, d2). Map-only.

    ``centroids`` is the driver-side list of (cent_id, coords). The whole
    grid enters the plan as ONE k×dim array-of-arrays literal (parsed from
    SQL text with D-suffixed doubles — exact float64 round-trip via repr,
    and the D suffix stops Spark's parser from typing `0.1` as DECIMAL);
    a `transform` with index builds the k (d2, cent_id) candidate structs
    and `array_min` picks the argmin — struct comparison orders by
    (d2, cent_id), so ties break on the smaller cent_id, identical to the
    oracle's ORDER BY d2, cent_id LIMIT 1. No join, no shuffle: one
    projection. Keeping the centroid matrix as a single literal (rather
    than unrolling k copies of the fold expression) keeps the Catalyst
    tree O(1) in k·dim — the unrolled form cost ~3 s of analysis/codegen
    PER ROUND at k=8, dim=64, measured.
    """
    candidates = _centroid_candidates(centroids)
    return vecs.select(
        "vec_id",
        "vec",
        F.array_min(candidates).alias("best"),
    ).select(
        "vec_id", "vec", F.col("best.cent_id").alias("cent_id"), F.col("best.d2").alias("d2")
    )


def recompute(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """New centroids: per-(cluster, dim) exact decimal mean, collected.

    posexplode fans each row into dim rows — at 100 TB that is a dim×
    row-count flat map feeding a (k·dim)-cell hash agg, which partial-
    aggregates down to k·dim rows before the shuffle. Only those k·dim
    cells (already rounded to the shared COORD_DECIMALS grid and cast to
    double, so the next round starts from bit-identical values in both
    engines) cross to the driver.
    """
    per_dim = assigned.select(
        "cent_id", F.posexplode("vec").alias("pos", "val")
    ).groupBy("cent_id", "pos").agg(
        F.round(dsum("val", STAT_SCALE) / F.count("val"), COORD_DECIMALS)
        .cast("double")
        .alias("cval")
    )
    # assemble the arrays driver-side from the k·dim cells — one shuffle
    # total (the cell agg); a second groupBy(cent_id)+collect_list pass
    # would re-shuffle just to build arrays we are about to collect anyway
    cells: dict[int, list[tuple[int, float]]] = {}
    for r in per_dim.collect():
        cells.setdefault(r["cent_id"], []).append((r["pos"], r["cval"]))
    return sorted(
        (cid, [v for _, v in sorted(pv)]) for cid, pv in cells.items()
    )


def _reseed_starved(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    prev_ids: set[int],
) -> list[tuple[int, list[float]]]:
    """Deterministic farthest-point reseed for starved clusters (r9).

    ``recompute`` builds centroids only from non-empty clusters, so a
    cluster that captures zero points would silently vanish and shrink k.
    Instead, each starved cluster id is reseeded to the coordinates of the
    point FARTHEST from its assigned centroid (max d2 under the round's
    assignment, ties broken by smallest vec_id) — the standard
    empty-cluster repair, fully deterministic, and a TakeOrderedAndProject
    of at most k rows to the driver (no extra shuffle). Cluster ids are
    preserved: starved ids are re-used in sorted order, so k and the id
    space are invariant across rounds. A no-op when nothing starved, which
    keeps the fixed-iteration oracle replay byte-identical on non-starving
    data."""
    missing = sorted(prev_ids - {cid for cid, _ in centroids})
    if not missing:
        return centroids
    far = (
        assigned.orderBy(F.col("d2").desc(), F.col("vec_id").asc())
        .limit(len(missing))
        .collect()
    )
    if len(far) < len(missing):
        raise ValueError(
            f"k-means cannot preserve k: {len(missing)} starved clusters "
            f"but only {len(far)} points available to reseed"
        )
    return sorted(
        centroids + [(cid, list(r["vec"])) for cid, r in zip(missing, far)]
    )


def kmeans(
    embs: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    tol: float | None = None,
    check_finite: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Run Lloyd rounds; returns (assignments, centroids).

    ``tol=None`` (the oracle-replayable default) runs exactly ``iters``
    rounds. With ``tol`` set, ``iters`` becomes the round CAP and the loop
    stops early once the largest absolute centroid-coordinate shift drops
    below ``tol`` — a pure-Python comparison of consecutive driver-side
    grids, zero extra cluster work (the production mode the fixed-round
    oracle queries deliberately don't use).

    assignments: (vec_id, vec, cent_id, d2) under the FINAL centroids;
    centroids:   (cent_id, cent) after the final recompute.
    """
    # materialize the (static) vector frame once: it is scanned by every
    # Lloyd round, so the checkpoint caps the cost at one parquet read +
    # cast total (same lineage-truncation pattern as
    # graph.connected_components). Spread an under-partitioned input first
    # (a single-row-group fixture scan otherwise pins every assign pass of
    # every iteration to ONE task).
    from yfinance_etl_spark.operators.partitioning import spread

    vecs = _as_double_vec(spread(embs), vec_col).localCheckpoint(eager=True)
    if check_finite:
        # the centroid-literal guard below only sees the k COLLECTED rows;
        # a NaN/inf in any OTHER row would die rounds later inside the
        # decimal moment sums with an ANSI cast error naming no vec_id.
        # One map-only scan over the checkpointed frame; pass
        # check_finite=False when the corpus is cleaned at ingest.
        from yfinance_etl_spark.operators.similarity import check_finite_vectors

        check_finite_vectors(vecs, "vec", "vec_id")
    # seed = the k SMALLEST vec_ids (TakeOrderedAndProject, k rows to the
    # driver, still deterministic) — NOT filter(vec_id < k), which silently
    # yields < k centroids when ids are sparse or offset
    centroids = [
        (r["vec_id"], list(r["vec"]))
        for r in vecs.orderBy("vec_id").limit(k).collect()
    ]
    for _ in range(iters):
        prev = dict(centroids)
        assigned = assign(vecs, centroids)
        centroids = _reseed_starved(assigned, recompute(assigned), set(prev))
        if tol is not None:
            # reseeding preserves the id set, so the shift test always
            # runs; a reseeded centroid's large jump correctly blocks
            # premature convergence
            shift = max(
                abs(v - p)
                for cid, coords in centroids
                for v, p in zip(coords, prev[cid])
            )
            if shift < tol:
                break
    # final assignment under the final centroids (standard Lloyd reporting)
    assigned = assign(vecs, centroids)
    cent_df = local_frame(
        vecs.sparkSession,
        [(int(cid), [float(x) for x in coords]) for cid, coords in centroids],
        "cent_id long, cent array<double>",
    )
    return assigned, cent_df


def probe_assign(
    vecs: DataFrame, centroids: list[tuple[int, list[float]]], probes: int
) -> DataFrame:
    """Soft assignment: each vector joins its ``probes`` NEAREST centroids
    — (vec_id, vec, cent_id, probe_rank) with probe_rank 1 = primary.

    Same map-only shape as ``assign`` (one k×dim literal, candidates
    ordered by (d2, cent_id) struct comparison), but keeps the first
    ``probes`` entries of the sorted candidate array instead of the
    argmin. probe_rank 1 is bit-identical to ``assign``'s choice, so the
    hard-assignment consumers and the oracle's ROW_NUMBER() replay agree.
    """
    if not 1 <= probes <= len(centroids):
        raise ValueError(f"probes must be in [1, k={len(centroids)}], got {probes}")
    candidates = _centroid_candidates(centroids)
    # sort once, keep the head: element 1 is bit-identical to assign()'s
    # argmin, and carrying it on every probed row ("primary_cent") is what
    # lets downstream aggregates group straight to k cells without an
    # N-row join back to the hard assignment
    ranked = F.slice(F.array_sort(candidates), 1, probes)
    return vecs.select(
        "vec_id",
        "vec",
        F.element_at(ranked, 1)["cent_id"].alias("primary_cent"),
        F.posexplode(ranked).alias("pos", "probe"),
    ).select(
        "vec_id",
        "vec",
        "primary_cent",
        F.col("probe.cent_id").alias("cent_id"),
        (F.col("pos") + 1).alias("probe_rank"),
    )


def semantic_dedup(
    embs: DataFrame,
    k: int = 8,
    iters: int = 3,
    tau: float = 0.95,
    probes: int = 1,
    vec_col: str = "embedding",
    target_cluster_size: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): k-means the embedding
    space, then search for near-duplicates WITHIN clusters only — the
    cluster is the blocking key, so pair work is Σ_c |c|² instead of N².
    A point is PRUNED iff some lower-id point sharing one of its probed
    clusters has cosine ≥ ``tau`` (the paper's keep-one-per-dup-group
    policy with a deterministic lowest-id representative).

    ``probes`` > 1 is the recall knob (this engine's multiprobe-ANN /
    banded-LSH analog): each point joins its ``probes`` nearest clusters,
    a pair is a candidate if ANY probed cluster collides
    (OR-amplification). Measured on the worst-case-dense 16-dim
    hashed-BoW fixture at sf0.1, k=8/iters=2 (71,197 true pairs in
    12.5M; scale_stress_results.jsonl kind="semdedup"): recall 0.31
    (p=1, 1.85M candidates) → 0.64 (p=2, 5.39M) → 0.80 (p=3, 7.91M);
    at production dimensionality (≥256-d) clusters separate far more
    cleanly and the same shape prunes by orders of magnitude.

    Scale shape: clustering is ``kmeans``'s map-only/driver-centroid
    loop; the pair join is an equi-join on (cent_id, salt) — the
    blocked-salt treatment splits each hot cluster's shuffle key into
    ``_SALT_BLOCKS`` sub-blocks exactly like the banded-LSH dedup join
    (plans/queries.py _embed_neardup) — never all-pairs; norms hoisted
    per row so per-pair work is ONE dot product.

    k MUST scale with N (measured, r10 — scale_stress_results.jsonl
    kind=semdedup_scaledk, 500→8 000 docs on the worst-case-dense 16-dim
    fixture): with k FIXED at 8 the candidate pairs grow at exponent
    **2.02** (brute-force-shaped — 44% of all N²/2 pairs at 16×, 111 s);
    with k = N/62.5 (fixed E|cluster|, the paper's operating point) the
    exponent is **1.14** at 8.5 s. Each probe then covers a 1/k-shrinking
    slice, so the recall knob must turn WITH k: at 16×/k=128, probes
    2→4→8 measured recall 0.48→0.71→0.84 vs fixed-k's 0.83 — i.e.
    probes=8 matches fixed-k recall with 28% fewer candidates and 3×
    less wall, probes=4 matches the registered operating point's recall
    (0.68 at 1×) with 3.5× fewer. Pass ``target_cluster_size`` to get
    k = max(k, ceil(N / target)) from one COUNT job. The oracle-gated
    query keeps the fixed (k=8, iters=2) config on the fixed-size
    fixture, where the distinction is moot.

    Returns a per-PRIMARY-cluster summary: (cluster_id, n_vecs,
    n_pruned, n_kept, max_dup_sim) — max_dup_sim is the largest
    qualifying similarity over the cluster's pruned members, NULL when
    nothing pruned. Deterministic end-to-end (kmeans determinism +
    cosine rounded to 6 before the tau comparison), so a DuckDB oracle
    replays it exactly (plans/queries.py::_SEMDEDUP_SQL).
    """
    # NULL embeddings (hash_embed of a NULL document) are excluded by
    # contract, like char_grams' length filter: kmeans cannot place them
    # (a NULL seed dies collecting, a NULL member silently falls out of
    # centroid means while the oracle's COUNT(*) still includes it — r9
    # review), and a NULL vector has no cosine to anything anyway
    embs = embs.filter(F.col(vec_col).isNotNull())
    if target_cluster_size is not None:
        if target_cluster_size < 1:
            # before the count job: 0 would die in ceil() with an opaque
            # ZeroDivisionError, a negative would silently no-op (r10 review)
            raise ValueError(
                f"target_cluster_size must be >= 1, got {target_cluster_size}"
            )
        # one scalar COUNT job — the same k-scalar driver-traffic budget
        # as the kmeans loop itself
        k = max(k, math.ceil(embs.count() / target_cluster_size))
    assigned, cent_df = kmeans(embs, k=k, iters=iters, vec_col=vec_col)
    centroids = [
        (r["cent_id"], list(r["cent"])) for r in cent_df.collect()
    ]  # k rows — same k-scalar driver traffic as kmeans itself
    # assigned projects off kmeans's internal checkpoint: no re-embed here
    probed = probe_assign(assigned.select("vec_id", "vec"), centroids, probes)

    # ``dim`` unrolls the per-pair dot product into flat codegen'd
    # arithmetic, bit-identical to the fold; _norm raises for a vector of
    # any other length
    with_norm = probed.withColumn("norm", _norm(F.col("vec"), dim))
    a = with_norm.withColumn(
        # pmod, not %: a negative vec_id's sign-preserving % salt would
        # match no replica and its pairs would silently vanish
        "salt", F.pmod(F.col("vec_id"), F.lit(_SALT_BLOCKS)).cast("int")
    ).alias("a")
    b = with_norm.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_BLOCKS - 1)))
    ).alias("b")
    # try_divide: a zero-norm embedding (e.g. an all-stopword doc) yields
    # NULL cosine — never >= tau — matching DuckDB's x/0 = NULL
    pairs = a.join(
        b,
        (F.col("a.cent_id") == F.col("b.cent_id"))
        & (F.col("a.salt") == F.col("b.salt"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("b.primary_cent").alias("primary_cent"),
        F.col("b.vec_id").alias("vec_id"),
        F.round(
            F.try_divide(
                _dot(F.col("a.vec"), F.col("b.vec"), dim),
                F.col("a.norm") * F.col("b.norm"),
            ),
            6,
        ).alias("cos_sim"),
    )
    # per-(primary cluster, pruned id) max first — multi-probe surfaces
    # the same (i, j) pair once per shared cluster and this collapse
    # absorbs the duplicates — then straight to k cells; no N-row join
    # back to the hard assignment anywhere
    pruned = (
        pairs.filter(F.col("cos_sim") >= tau)
        .groupBy("primary_cent", "vec_id")
        .agg(F.max("cos_sim").alias("max_sim"))
    )
    pr = pruned.groupBy("primary_cent").agg(
        F.count(F.lit(1)).alias("n_pruned"),
        F.round(F.max("max_sim"), 6).alias("max_dup_sim"),
    )
    sizes = assigned.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n_vecs"))
    out = sizes.join(
        F.broadcast(pr), sizes["cent_id"] == pr["primary_cent"], "left"
    )
    n_pruned = F.coalesce(F.col("n_pruned"), F.lit(0).cast("long"))
    return out.select(
        F.col("cent_id").alias("cluster_id"),
        "n_vecs",
        n_pruned.alias("n_pruned"),
        (F.col("n_vecs") - n_pruned).alias("n_kept"),
        "max_dup_sim",
    )


def cluster_profile(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-cluster summary: size, mean squared distance (inertia/n), and
    centroid L2 norm — the numbers a user checks after a clustering job."""
    sizes = assigned.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(dsum("d2", STAT_SCALE) / F.count("d2"), 6).alias("avg_sq_dist"),
    )
    norms = centroids.select(
        "cent_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("cent"), lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        ).alias("centroid_norm"),
    )
    return sizes.join(norms, "cent_id").select(
        F.col("cent_id").alias("cluster_id"), "n_vecs", "avg_sq_dist", "centroid_norm"
    )
