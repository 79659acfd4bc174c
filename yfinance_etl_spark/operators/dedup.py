"""Deduplication operators over the documents table (north-star extension).

Three tiers, all shuffle-conscious:

* exact: hash-groupBy on a normalized fingerprint — one shuffle, the 100 TB
  workhorse.
* n-gram Jaccard: inverted-index self-join on shingles (join fans out only on
  *shared* shingles, so cost tracks true similarity, not |docs|²).
* MinHash + LSH: constant-size signatures (k seeded md5 minima), banded so
  only same-bucket docs join — the scale path; candidates are then verified
  with exact Jaccard *on the candidate set only* (the classic
  cheap-filter → exact-verify pipeline).

MinHash uses lexicographic minima of seeded md5 hex digests: md5 is available
and bit-identical in both Spark and DuckDB, which keeps the whole pipeline
oracle-testable (a seeded murmur would not be).

Reference has no dedup at all; nearest analogs are its FAISS near-neighbor
retrieval (pdf_rag_chatbot.py:223) and pandas index dedup — cited for parity
bookkeeping only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from yfinance_etl_spark.operators.partitioning import spread as _spread
from yfinance_etl_spark.operators.text import (
    SHINGLE_N,
    fingerprint,
    tokens,
    word_shingles,
)

N_HASHES = 16
BAND_ROWS = 4  # → 4 bands of 4 rows: S-curve midpoint (1/4)^(1/4) ≈ 0.707,
# matched to the 0.7 verify threshold (pairs well below it rarely candidate,
# pairs above it almost always do)

#: shingles present in more than this fraction of the corpus are dropped
#: before any self-join — a stop-phrase shingle in 10⁶ docs would otherwise
#: fan the inverted-index join out to 10¹² rows. Dropping it loses almost no
#: signal (a shingle shared by half the corpus identifies nothing).
MAX_DF_FRAC = 0.5


def exact_dedup_stats(docs: DataFrame) -> DataFrame:
    """Per-source exact-duplicate profile via normalized-md5 fingerprint.

    ``n_dupes`` counts over NON-null fingerprints only: fingerprint(NULL
    text) is NULL, which countDistinct skips but count(*) includes, so the
    old ``count(*) - countDistinct`` reported every null-text doc as a
    duplicate of nothing."""
    fp = docs.select("source", fingerprint("text").alias("fp"))
    return fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        (F.count("fp") - F.countDistinct("fp")).alias("n_dupes"),
    )


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct pairs — the inverted-index base."""
    return _spread(docs).select(
        "doc_id", F.explode(word_shingles("text")).alias("shingle")
    ).distinct()


def doc_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, hs): the doc's DISTINCT 32-bit shingle hashes as an array.

    Per-row HOF — md5 each distinct shingle once, in place. This is the
    zero-shuffle base for MinHash and SimHash signatures: a signature is a
    function of one document, so computing it through an explode +
    groupBy(doc_id) round-trip (the previous shape) paid a full shuffle of
    every (doc, shingle) pair for nothing. At 100 TB that shuffle is the
    difference between a map-only signature stage and terabytes of
    exchange.

    Docs with no shingles (< n tokens, or NULL text) are EXCLUDED here,
    by a CHEAP precondition on the token count placed BEFORE the md5
    projection (r16). The previous contract — emit an empty array, let
    each signature op ``filter(size(hs) > 0)`` — collapsed the entire
    shingle+md5 HOF into the filter CONDITION, which Catalyst then
    pushed below the ``_spread`` exchange: on a non-cached input (the
    delta/stream banding paths) the engine's densest expression ran
    TWICE per row, once of those on the scan's own few partitions
    (measured: 2.4 s vs 0.7 s for a 1.6k-doc delta at sf0.1 — the
    single-partition filter pass dominated the operator). The token-
    count precondition is exactly ``word_shingles``'s non-empty guard
    (size(tokens) - (n-1) >= 1 ⇔ hs non-empty; NULL text sizes to -1
    and drops, as the empty array did), so the row set every signature
    op consumed is unchanged — the ops simply no longer need their own
    filter."""
    hs = F.transform(
        F.array_distinct(word_shingles("text")),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    # size(tokens) >= n ⇔ word_shingles' m >= 1 guard (SHINGLE_N keeps
    # the filter and the shingle width from desyncing — r17 ADVICE)
    nonempty = docs.filter(F.size(tokens("text")) >= SHINGLE_N)
    return _spread(nonempty).select("doc_id", hs.alias("hs"))


@F.pandas_udf(ArrayType(LongType()))
def minhash_sigs_udf(hs: pd.Series) -> pd.Series:
    """Arrow twin of ``minhash_sigs_catalyst`` (unit-tested equal): all
    N_HASHES affine-permutation minima in one numpy broadcast per doc.
    Signature computation is a compute-dense integer kernel — interpreted
    HOF evaluation costs ~µs/element × hashes, the numpy matrix ~ns — so
    this is the same "semantics in Catalyst, throughput in Arrow" split as
    text.rolling_hashes_udf. Exact int64: |a·h| < 2⁵·2³² ≪ 2⁶³."""
    import numpy as np

    a = np.arange(1, 2 * N_HASHES, 2, dtype=np.int64)[:, None]
    b = np.arange(N_HASHES, dtype=np.int64)[:, None]

    def sig(h):
        if h is None or len(h) == 0:
            return None
        hv = np.asarray(h, dtype=np.int64)[None, :]
        return ((a * hv + b) % H_PRIME).min(axis=1).tolist()

    return hs.map(sig)


def minhash_sigs_catalyst(hashed: DataFrame) -> DataFrame:
    """Pure-Catalyst MinHash signatures over a ``doc_hashes`` frame — the
    semantic reference for ``minhash_sigs_udf`` (kept for the equality
    test and for deployments that must stay UDF-free)."""

    # seed closures via a factory: HOF lambdas dispatch on ARITY (a 2-arg
    # lambda would receive (element, index) and clobber a default arg)
    def _perm(i):
        return lambda h: (F.lit(2 * i + 1) * h + F.lit(i)) % F.lit(H_PRIME)

    return hashed.filter(F.size("hs") > 0).select(
        "doc_id",
        F.array(
            *[F.array_min(F.transform(F.col("hs"), _perm(i))) for i in range(N_HASHES)]
        ).alias("mh"),
    )


def _df_filtered_shingles(docs: DataFrame, max_df_frac: float) -> DataFrame:
    """Inverted index with hot (stop-phrase) shingles removed.

    The document-frequency cutoff is THE guard that keeps the shingle
    self-join linear-ish at scale: join fan-out per shingle is df², so one
    shingle with df=10⁶ costs 10¹² rows. Sizes downstream are computed on
    this same filtered universe so Jaccard stays internally consistent.
    No collect(): the corpus size joins in as a broadcast 1-row aggregate.
    """
    sh = doc_shingles(docs)
    if max_df_frac >= 1.0:
        return sh
    n = docs.select(F.count(F.lit(1)).alias("n_docs"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .join(F.broadcast(n))
        .filter(F.col("df") <= max_df_frac * F.col("n_docs"))
        .select("doc_id", "shingle")
    )


def jaccard_pairs(
    docs: DataFrame, threshold: float | None = 0.8,
    max_df_frac: float = MAX_DF_FRAC,
) -> DataFrame:
    """All doc pairs with word-3gram Jaccard ≥ threshold, via inverted index
    (hot shingles df-filtered first — see _df_filtered_shingles).
    ``threshold=None`` returns EVERY candidate pair with its verified
    jaccard — the form the contrastive-pair miner consumes (hard
    negatives live below the dup threshold) and the one the bench cache
    pins, so every thresholded consumer substitutes a filter on top of
    the same cached frame."""
    sh = _df_filtered_shingles(docs, max_df_frac)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
    return out if threshold is None else out.filter(F.col("jaccard") >= threshold)


#: smallest prime above 2³² — modulus of the affine MinHash permutations
H_PRIME = 4294967311


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_val): banded MinHash signatures.

    One 32-bit base hash per shingle (first 8 md5 hex chars), then the i-th
    MinHash is min over shingles of the affine permutation
    ``((2i+1)·h + i) mod H_PRIME`` — N_HASHES ``array_min`` HOFs over the
    per-row hash array, NO shuffle at all (a signature depends on one doc;
    the earlier explode→groupBy shape shuffled every (doc, shingle) pair
    to recombine what was never apart. max |a·h| < 2⁵·2³² ≪ 2⁶³, no
    overflow.) A band is the '|'-join of its BAND_ROWS consecutive minima.
    """
    minh = doc_hashes(docs).select(
        "doc_id", minhash_sigs_udf("hs").alias("mh")
    ).select(
        "doc_id",
        *[F.element_at("mh", i + 1).alias(f"mh{i}") for i in range(N_HASHES)],
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{b * BAND_ROWS + r}").cast("string") for r in range(BAND_ROWS)],
                ).alias("band_val"),
            )
            for b in range(N_HASHES // BAND_ROWS)
        ]
    )
    return minh.select("doc_id", F.explode(bands).alias("bd")).select(
        "doc_id", F.col("bd.band_id").alias("band_id"), F.col("bd.band_val").alias("band_val")
    )


SIMHASH_BITS = 32
SIM_BANDS = 4  # 4 bands of 8 bits — see simhash_neardup's pigeonhole note
HAMMING_MAX = 3


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash over the shingle set.

    Per shingle one 32-bit base hash; bit b of the signature is the sign of
    the vote Σ(2·bit_b(h) − 1) over shingles. Zero shuffle — a per-row map
    over the doc's hash array (was: explode + doc_id groupBy). The vote
    matrix runs in the Arrow/numpy twin (``simhash_sig_udf``); the
    Catalyst reference form lives in ``simhash_sig_catalyst``.
    """
    return doc_hashes(docs).select(
        "doc_id", simhash_sig_udf("hs").alias("simhash")
    )


@F.pandas_udf(LongType())
def simhash_sig_udf(hs: pd.Series) -> pd.Series:
    """Arrow twin of ``simhash_sig_catalyst`` (unit-tested equal): the
    32-bit vote matrix as one numpy broadcast per doc."""
    import numpy as np

    bits = np.arange(SIMHASH_BITS, dtype=np.int64)

    def sig(h):
        if h is None or len(h) == 0:
            return None
        hv = np.asarray(h, dtype=np.int64)[:, None]
        votes = (2 * ((hv >> bits) & 1) - 1).sum(axis=0)
        return int(((votes >= 0).astype(np.int64) << bits).sum())

    return hs.map(sig)


def simhash_sig_catalyst(hashed: DataFrame) -> DataFrame:
    """Pure-Catalyst SimHash over a ``doc_hashes`` frame — semantic
    reference for ``simhash_sig_udf``."""

    def _vote(b):
        return lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1

    votes = hashed.filter(F.size("hs") > 0).select(
        "doc_id",
        *[
            F.aggregate(F.col("hs"), F.lit(0).cast("long"), _vote(b)).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    sig = sum(
        (F.when(F.col(f"v{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(SIMHASH_BITS)),
        F.lit(0),
    )
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_neardup(docs: DataFrame, hamming_max: int = HAMMING_MAX) -> DataFrame:
    """SimHash near-dedup: Hamming-LSH banding into FOUR 8-bit bands of the
    32-bit signature, then exact Hamming verify on candidates. Pigeonhole
    guarantee: a pair within Hamming ≤ 3 has its differing bits in at most
    3 of the 4 bands, so at least one band matches exactly — recall at the
    hamming_max=3 threshold is 1.0 by construction, not probabilistic.
    (Fewer, wider bands would deterministically miss pairs whose differing
    bits span every band.) Same cheap-filter → exact-verify shape as the
    MinHash path; the band join key is what keeps this linear-ish at
    corpus scale.

    Physical shape (r11, chasing the r7-r10 placement variance — band
    occupancy measured FLAT at sf0.1, max bucket 45/5000 docs, so the
    embedding-banded hot-bucket salt does not apply): the signature
    table is checkpointed, so the Arrow signature UDF — the
    Python-worker-placement-sensitive stage — runs ONCE, not once per
    self-join side; and the Hamming verify runs BEFORE the distinct, so
    the dedup shuffle carries only true near-dup rows (3 small columns),
    not every band collision with both 8-byte signatures."""
    sig = simhash_signatures(docs).localCheckpoint(eager=True)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255)).alias("band_val"),
                    )
                    for b in range(SIM_BANDS)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", "simhash", "bd.band_id", "bd.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
    )
    # verify map-side BEFORE the distinct: a pair's hamming is the same in
    # every band it collides in, so distinct over (doc_a, doc_b, hamming)
    # is the same set — but the exchange now moves survivors only
    return cand.filter(F.col("hamming") <= hamming_max).distinct()


def _dhash_bands(sig: DataFrame) -> DataFrame:
    """The 8 × 8-bit band explode over a dHash-word frame (4 bands per
    32-bit word) — shared by the self-join tier (``dhash_neardup``) and
    the cross-snapshot tier (``dhash_delta_neardup``)."""
    return sig.select(
        "doc_id",
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(
                            F.col("dhash_hi" if b < 4 else "dhash_lo"),
                            8 * (b % 4),
                        )
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", "dhash_hi", "dhash_lo", "bd.band_id", "bd.band_val")


def dhash_delta_neardup(
    new_sig: DataFrame, corpus_sig: DataFrame, hamming_max: int = 7
) -> DataFrame:
    """Cross-snapshot (delta) near-dup over dHash-word signatures — the
    MULTIMODAL member of the delta-dedup family (``minhash_delta_neardup``
    is the text member): dedup the NEW snapshot's image/audio signatures
    against the EXISTING corpus's, never re-pairing the corpus with
    itself. Accepts any frame in the (doc_id, dhash_hi, dhash_lo) word
    contract — image dHash and whole-clip audio fingerprints both
    qualify, so one persisted signature table per modality serves every
    incremental crawl run.

    Simpler than the text delta pass in exactly the way that matters at
    scale: the 64-bit word IS the full signature, so the exact popcount
    verify rides the band join's own carried columns — there is NO
    second corpus-touching verify stage (MinHash needs the candidate
    re-shingle; here an incremental run pays signature compute for the
    delta plus ONE asymmetric band equi-join, full stop). Recall is the
    self-join tier's pigeonhole guarantee unchanged (Hamming ≤ 7 ⇒ one
    clean band of the 8).

    Callers sharing one signature frame across both sides (the
    split-form cache rule) should checkpoint the FULL frame once and
    pass filtered views — this function deliberately does not
    checkpoint its inputs. Returns (new_doc_id, corpus_doc_id,
    hamming)."""
    n, c = _dhash_bands(new_sig).alias("n"), _dhash_bands(corpus_sig).alias("c")
    return (
        n.join(
            c,
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.band_val") == F.col("c.band_val")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
            (
                F.bit_count(F.col("n.dhash_hi").bitwiseXOR(F.col("c.dhash_hi")))
                + F.bit_count(F.col("n.dhash_lo").bitwiseXOR(F.col("c.dhash_lo")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        # a pair collides in up to 8 bands; report it once
        .distinct()
    )


def dhash_neardup(sig: DataFrame, hamming_max: int = 7) -> DataFrame:
    """Image near-dup over dHash signatures — the multimodal member of
    the Hamming-LSH family (r14 verdict 'What's missing #3': every dedup
    tier was text/embedding-side). Input is ``image_dhash``'s
    (doc_id, dhash_hi, dhash_lo) frame: a 64-bit perceptual signature
    split into two 32-bit words. Same banded shape as
    ``simhash_neardup``, widened to EIGHT 8-bit bands (4 per word):
    pairs within Hamming ≤ 7 have their differing bits in at most 7
    bands, so at least one band matches exactly — recall 1.0 at the
    default threshold by pigeonhole, not probability. Candidates verify
    with the exact popcount over both words before the distinct, so the
    dedup shuffle carries survivors only (the simhash_neardup r11
    placement note applies unchanged).

    At corpus scale the band join is the whole story: candidate volume
    follows true near-dup density (plus 8/2^8 random band collisions),
    never the image-pair square. Returns (doc_a, doc_b, hamming)."""
    sig = sig.localCheckpoint(eager=True)
    bands = _dhash_bands(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        (
            F.bit_count(F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi")))
            + F.bit_count(F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo")))
        ).alias("hamming"),
    )
    return cand.filter(F.col("hamming") <= hamming_max).distinct()


def _positive_threshold(threshold: float) -> None:
    """The join-count verify only sees pairs sharing at least one
    shingle, so it can never emit a jaccard-0 pair: a threshold <= 0
    would silently return fewer rows than it asks for."""
    if not threshold > 0:
        raise ValueError(f"verify threshold must be > 0, got {threshold!r}")


def _verify_jaccard(cand: DataFrame, sh_left: DataFrame, sh_right: DataFrame,
                    left: str, right: str, threshold: float) -> DataFrame:
    """Exact-Jaccard verify over a candidate frame (``left``, ``right``,
    n_shared_bands) — the one verify of the MinHash self-join and delta
    families, in the DuckDB oracle's JOIN-COUNT shape: matching shingles
    are counted through two candidate-keyed equi-joins against the
    shingle frames, and per-doc sizes are plain count aggregates.
    ``doc_shingles`` is distinct, so the join-count is |set_l ∩ set_r|.

    ``n_shared_bands`` rides the intersection groupBy (it is a function
    of the pair, so the rows do not change), which makes the candidate
    frame a single-read input: the lazy plan needs no checkpoint, and the
    whole plan stays deterministic, so a shared-cache entry of it (or of
    any ``doc_shingles`` subplan inside it) substitutes passively.
    Returns (left, right, n_shared_bands, jaccard). Raises ValueError
    for ``threshold <= 0``."""
    _positive_threshold(threshold)
    sl = sh_left.select(F.col("doc_id").alias(left), "shingle")
    sr = sh_right.select(F.col("doc_id").alias(right), "shingle")
    inter = (
        cand.join(sl, left)
        .join(sr, [right, "shingle"])
        .groupBy(left, right, "n_shared_bands")
        .agg(F.count(F.lit(1)).alias("__c"))
    )

    def sizes(sh: DataFrame, id_col: str, size_col: str) -> DataFrame:
        agg = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__sz"))
        return agg.select(F.col("doc_id").alias(id_col), F.col("__sz").alias(size_col))

    jac = F.col("__c") / (F.col("__sl") + F.col("__sr") - F.col("__c"))
    return (
        inter.join(sizes(sh_left, left, "__sl"), left)
        .join(sizes(sh_right, right, "__sr"), right)
        .select(left, right, "n_shared_bands", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_neardup(docs: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Full near-dedup pipeline: LSH candidate pairs → exact Jaccard verify.

    Only same-bucket docs are joined (the LSH point); exact Jaccard then runs
    on the tiny candidate set. Returns (doc_a, doc_b, n_shared_bands, jaccard).

    One lazy plan, no eager action: the candidate frame is read once, by
    ``_verify_jaccard``'s intersection join. ``cache_shared_stages`` caches
    this very call at the suite threshold, so when that entry is resident
    the CacheManager swaps the whole plan for its InMemoryRelation."""
    bands = minhash_bands(docs)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    sh = doc_shingles(docs)
    return _verify_jaccard(cand, sh, sh, "doc_a", "doc_b", threshold)


def contamination_overlap(
    docs: DataFrame, bench_pred, min_overlap: int = 3
) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_overlap) for every candidate
    document sharing ≥ ``min_overlap`` distinct word shingles with ANY
    benchmark document — the cross-set sibling of the self-join dedup
    family (a pretraining pipeline drops training docs that leak eval
    data, it does not merely dedup them against each other).
    ``bench_pred`` is a boolean Column over the shingle frame's ``doc_id``
    marking benchmark membership; everything else is a candidate.

    Scale shape: the corpus is shingled ONCE — the same ``doc_shingles``
    subplan the dedup family shares (so a cached/materialized shingle
    stage substitutes here too) — then split by the predicate. Benchmark
    suites are tiny relative to the corpus, so the benchmark's DISTINCT
    shingle set broadcasts and the candidate side never shuffles: a
    map-side hash join + one doc-keyed count, no matter how large the
    corpus. (A benchmark too big to broadcast falls back to the
    shingle-keyed equi-join, the inverted-index shape of ``jaccard_pairs``.)

    NULL contract: a row where ``bench_pred`` evaluates NULL is a
    CANDIDATE (coalesced to FALSE) — decontamination must never silently
    exempt a doc just because a marker column is missing; the same
    contract dsir_log_weights and lm_perplexity pin.
    """
    bench_pred = F.coalesce(bench_pred, F.lit(False))
    sh = doc_shingles(docs)
    bench = F.broadcast(sh.filter(bench_pred).select("shingle").distinct())
    cand = sh.filter(~bench_pred)
    return (
        cand.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def write_minhash_signatures(docs: DataFrame, path: str,
                             bands: DataFrame | None = None,
                             mode: str = "overwrite") -> None:
    """Persist ``minhash_bands(docs)`` as the (doc_id, band_id, band_val)
    snapshot-signature parquet the delta-dedup contract reads — linear in
    corpus size, written once per snapshot through the S10 sink.
    Partitioned by band_id so a band-sliced read (or a future per-band
    incremental refresh) prunes at the directory level; zstd because a
    signature table is pure-string IO.

    ``bands`` lets a caller supply an already-built band frame instead —
    the split-form cache move: when the snapshot is a FILTER of a shared
    table, ``minhash_bands(full).filter(pred)`` keeps the full-table
    doc_hashes subplan (the md5-dense stage cache.py materializes)
    substitutable, where ``minhash_bands(filter(full))`` would miss it
    and recompute cold (measured ~10 s vs ~1 s on the sf0.1 corpus
    slice).

    ``mode="append"`` is the crawl-cycle's corpus-update step: after
    crawl-day-N's verify, the KEPT delta docs' signatures append into
    the standing store (delta-sized write, same band_id directory
    layout), so day N+1's read covers corpus ∪ kept-delta with no
    snapshot rewrite — the signature table is a long-lived incremental
    structure, like the counting-Bloom frontier."""
    from yfinance_etl_spark.sources.sink import write_partitioned

    write_partitioned(
        bands if bands is not None else minhash_bands(docs),
        path, partition_by=("band_id",), mode=mode,
    )


def read_minhash_signatures(spark, path: str) -> DataFrame:
    """Read a persisted snapshot-signature table back for the corpus side
    of ``minhash_delta_neardup`` — band_id comes back from the directory
    names; cast to int because partition-column discovery types it from
    the path string and the band join compares against computed ints."""
    df = spark.read.parquet(path)
    return df.select(
        "doc_id", F.col("band_id").cast("int").alias("band_id"), "band_val"
    )


def minhash_delta_neardup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.7,
    corpus_bands: DataFrame | None = None,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Cross-snapshot (delta) near-dedup — the incremental form every
    recurring-crawl pipeline runs: dedup the NEW snapshot against the
    EXISTING (already-deduped) corpus, never re-pairing the corpus with
    itself. Returns (new_doc_id, corpus_doc_id, n_shared_bands, jaccard)
    for every cross-set pair at ``threshold`` — the new side's drop list.

    Scale shape, and why this beats `minhash_lsh_neardup` on the union:
    the corpus side consumes exactly ``minhash_bands(corpus)`` — in
    production that signature table is PERSISTED once per snapshot
    (``write_minhash_signatures`` — a (doc_id, band_id, band_val)
    parquet, linear in corpus size, through the S10 sink) and passed
    back here as ``corpus_bands`` (``read_minhash_signatures``), so each
    incremental run pays signature computation for the DELTA alone.
    Omitting ``corpus_bands`` computes signatures in-memory (the
    test/ad-hoc form). The band join is asymmetric (new × corpus), so
    the corpus's internal near-dup structure — already resolved in
    previous runs — generates ZERO candidate pairs; a union self-join
    would re-derive all of it every snapshot, quadratically in snapshot
    count. Verify = ``_verify_jaccard``, the self-join tier's exact
    Jaccard: the shingle joins run at candidate volume, but
    ``corpus_docs`` is still shingled in full, for the per-doc size
    aggregate and the full-table ``doc_shingles`` subplan the shared
    cache entry substitutes for.

    NEW docs also duplicating EACH OTHER are the self-join tier's job on
    the delta (tiny); the composition delta-self + delta-vs-corpus is
    the full incremental dedup pass. When both snapshots live in ONE
    table, prefer ``minhash_delta_neardup_split`` — its subplans build
    on the full-table stages, so a cached or persisted signature stage
    substitutes for both sides.
    """
    if corpus_bands is None:
        corpus_bands = minhash_bands(corpus_docs)
    # ``new_bands`` is the split-form cache move on the NEW side (same
    # rationale as write_minhash_signatures' bands param): when the new
    # snapshot is a filter of a shared table, pass
    # minhash_bands(full).filter/semi-join so the full-table md5 stage
    # stays cache-substitutable — minhash_bands(filter(full)) here would
    # recompute it cold (measured ~2×7 s inside crawl_frontier_cycle).
    if new_bands is None:
        new_bands = minhash_bands(new_docs)
    return _verify_jaccard(
        _delta_candidates(new_bands, corpus_bands),
        doc_shingles(new_docs), doc_shingles(corpus_docs),
        "new_doc_id", "corpus_doc_id", threshold,
    )


def _delta_candidates(nb: DataFrame, cb: DataFrame) -> DataFrame:
    """Asymmetric cross-set band join → (new_doc_id, corpus_doc_id,
    n_shared_bands), lazy: ``_verify_jaccard`` reads it once, and the
    raw-candidate stream writes it once per micro-batch."""
    return (
        nb.alias("n")
        .join(
            cb.alias("c"),
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.band_val") == F.col("c.band_val")),
        )
        .groupBy(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_delta_neardup_split(
    docs: DataFrame,
    new_pred,
    threshold: float = 0.7,
) -> DataFrame:
    """One-table form of ``minhash_delta_neardup``: both snapshots live in
    ``docs`` and ``new_pred`` (a predicate over columns present on the
    per-doc outputs — doc_id-derived in the registered query) marks the
    NEW side. Signatures are per-doc, so filter-after == filter-before
    algebraically — and building bands/shingles on the FULL-table
    subplans is what lets a cached (cache.py) or persisted signature
    stage substitute for BOTH sides instead of missing on each filtered
    half (measured: the two-table form paid 2 cold signature passes in
    the bench suite, ~5x the self-join tier's cached wall). The one
    full-table signature pass is checkpointed, so even uncached it runs
    once, not once per side.

    NULL contract: a row where ``new_pred`` evaluates NULL lands on the
    CORPUS side (coalesced to FALSE) — a missing snapshot marker must
    never drop a doc from the dedup pass entirely."""
    new_pred = F.coalesce(new_pred, F.lit(False))
    bands = minhash_bands(docs).localCheckpoint(eager=True)
    cand = _delta_candidates(bands.filter(new_pred), bands.filter(~new_pred))
    sh = doc_shingles(docs)
    return _verify_jaccard(cand, sh, sh, "new_doc_id", "corpus_doc_id", threshold)


def _fresh_sink_guard(checkpoint_dir: str, out_dir: str, clear_sink: bool) -> None:
    """The sink/checkpoint pairing contract shared by every
    foreachBatch delta stream (see ``delta_neardup_stream``'s docstring
    for the full rationale): URI-form paths are rejected (the os.path
    guards cannot see them), and a FRESH checkpoint with an EXISTING
    sink raises unless ``clear_sink=True`` explicitly opts into
    clearing it — a new stream identity must never silently inherit (or
    delete) batch_id directories from an earlier run."""
    import os
    import shutil

    for label, p in (("checkpoint_dir", checkpoint_dir), ("out_dir", out_dir)):
        if "://" in p or p.startswith("file:"):
            raise ValueError(
                f"{label} must be a plain local path (got {p!r}): the "
                "fresh-checkpoint/fresh-sink pairing guard cannot see "
                "URI-form paths"
            )
    if not os.path.isdir(checkpoint_dir) and os.path.isdir(out_dir):
        if not clear_sink:
            raise ValueError(
                f"fresh checkpoint {checkpoint_dir!r} with existing sink "
                f"{out_dir!r}: a new stream identity cannot safely share a "
                "sink with an earlier run (stale batch_id directories would "
                "surface as phantom pairs). Pass clear_sink=True to clear "
                "the sink explicitly, or point at the original checkpoint."
            )
        shutil.rmtree(out_dir)


def dhash_delta_stream(
    new_stream: DataFrame,
    corpus_sig: DataFrame,
    sig_fn,
    out_dir: str,
    checkpoint_dir: str,
    hamming_max: int = 7,
    clear_sink: bool = False,
) -> list:
    """Continuous (streaming) form of ``dhash_delta_neardup`` — the
    multimodal leg of the incremental-crawl family: new documents (with
    their binary assets synthesized/decoded per batch by ``sig_fn``,
    any batch-DataFrame → (doc_id, dhash_hi, dhash_lo) transform, e.g.
    ``image_dhash ∘ synthesize_png_assets``) arrive as a STREAM; every
    micro-batch signatures the DELTA alone and band-joins it against
    the STATIC persisted corpus signature table inside ``foreachBatch``.

    Globally exact with ZERO streaming state for the same reason as the
    text form: a doc's whole signature derives from its single row, so
    a cross pair materializes in exactly one batch — and with no
    re-verify stage (the word IS the signature) each batch is one map
    stage plus one asymmetric equi-join. When ``sig_fn`` runs a Python
    stage through ``spread(..., python=True)``, as the image synthesizer
    does, a micro-batch with fewer partitions than cores also pays one
    count job, and a batch of up to 1,024 rows computes its signatures in
    ONE Python task instead of one per core. Same idempotent
    batch_id-scoped sink and fresh-checkpoint/fresh-sink guard as
    ``delta_neardup_stream``; read the sink back with
    ``read_delta_pairs``."""
    from yfinance_etl_spark.streaming.streams import run_foreachbatch

    _fresh_sink_guard(checkpoint_dir, out_dir, clear_sink)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        out = dhash_delta_neardup(sig_fn(batch_df), corpus_sig, hamming_max)
        out.write.mode("overwrite").option("compression", "zstd").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    return run_foreachbatch(new_stream, _batch, checkpoint_dir)


def delta_neardup_stream(
    new_stream: DataFrame,
    corpus_bands: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    corpus_docs: DataFrame | None = None,
    threshold: float = 0.7,
    clear_sink: bool = False,
) -> list:
    """Continuous (streaming) form of ``minhash_delta_neardup``: new
    documents arrive as a STREAM; every micro-batch runs the batch delta
    pass against the STATIC persisted corpus signature table inside
    ``foreachBatch`` and appends its result to ``out_dir``. With
    ``corpus_docs`` given, each batch emits fully VERIFIED pairs
    (new_doc_id, corpus_doc_id, n_shared_bands, jaccard) — the exact
    ``minhash_delta_neardup`` output; without it, raw band-join
    candidates (new_doc_id, corpus_doc_id, n_shared_bands).

    Why per-batch aggregation is globally EXACT, not an approximation: a
    document's entire signature derives from its single (doc_id, text)
    row, so every band of a new doc lands in the one micro-batch that
    carries that row; the corpus side is static. A candidate pair
    (new, corpus) therefore materializes in exactly one batch, and the
    per-batch ``groupBy(new_doc_id, corpus_doc_id)`` sees all of its
    shared-band rows — batch-local aggregation loses nothing versus a
    global one. That is what lets this run through ``run_foreachbatch``
    with ZERO streaming state (the returned progress list pins
    ``stateOperators == []``): on a continuous crawl, memory is bounded
    by the micro-batch, not the stream's lifetime — the scale property a
    complete-mode streaming aggregation (state = every pair ever
    emitted) cannot offer.

    Sink/checkpoint pairing contract (r13 advice, hardened r15): the
    per-batch ``batch_id=N`` overwrite is idempotent only when the batch
    decomposition is stable — i.e. a RESTART from the same checkpoint.
    A rerun from a FRESH checkpoint into the same ``out_dir`` may
    decompose the source into fewer/different batches (different
    maxFilesPerTrigger, compacted source) and overwrite only the batch
    ids it reaches, leaving stale ``batch_id=N`` directories whose rows
    ``read_delta_pairs`` would return as phantom pairs. A fresh
    checkpoint therefore REQUIRES a fresh ``out_dir`` — enforced here by
    RAISING on the conflict (when ``checkpoint_dir`` does not yet exist
    but ``out_dir`` does): a mistyped or relocated checkpoint path must
    never silently delete previously produced sink data (r14 advice —
    the earlier auto-rmtree did exactly that). Pass ``clear_sink=True``
    to opt into clearing the stale sink explicitly. Both paths must be
    plain local paths: URI forms (``file:/``, ``hdfs://``, ``s3a://``)
    would bypass the ``os.path`` existence checks and silently no-op the
    guard, so they are rejected — an object-store deployment enforces
    the same pairing in its launcher, where the store's own listing API
    is available.

    Scale shape per batch: signature compute for the DELTA alone
    (map-only minhash over the batch), band equi-join against
    ``corpus_bands`` (in production ``read_minhash_signatures`` over the
    persisted, band_id-partitioned parquet — the planner sizes broadcast
    vs shuffle per batch from the static side's real size), then the
    shared ``_verify_jaccard``: its shingle joins run at candidate
    volume, but its per-doc size aggregate still shingles all of
    ``corpus_docs`` every batch.
    Reference analog: the re-download-and-recompute loop
    (streamlit_app.py:819-822) is the batch antipattern this replaces.
    """
    from yfinance_etl_spark.streaming.streams import run_foreachbatch

    _fresh_sink_guard(checkpoint_dir, out_dir, clear_sink)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if corpus_docs is None:
            out = _delta_candidates(minhash_bands(batch_df), corpus_bands)
        else:
            out = minhash_delta_neardup(
                batch_df, corpus_docs, threshold, corpus_bands=corpus_bands
            )
        # OVERWRITE into a batch_id-scoped subdirectory, not a plain
        # append: foreachBatch delivers AT-LEAST-ONCE, so a batch retried
        # after a mid-write failure would duplicate its pairs under
        # append — the replay instead replaces its own directory, making
        # the write idempotent per batch (the exactly-once contract the
        # runner's docstring promises the sink carries; r12 review).
        # The batch_id=N spelling makes the sink a partitioned parquet
        # table — read it back through read_delta_pairs.
        out.write.mode("overwrite").option("compression", "zstd").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    return run_foreachbatch(new_stream, _batch, checkpoint_dir)


def read_delta_pairs(spark, out_dir: str) -> DataFrame:
    """Read a ``delta_neardup_stream`` sink back as the plain pair table:
    the batch_id partition directories exist for idempotent per-batch
    replay, not as data — drop the derived column so downstream plans
    (and the DuckDB oracles) see exactly the batch operator's schema."""
    return spark.read.parquet(out_dir).drop("batch_id")


# ---------------------------------------------------------------------------
# Bloom-filter decontamination tier (Bloom 1970, CACM 13(7))
# ---------------------------------------------------------------------------

#: default filter geometry: 2^17 bits / 5 hashes ≈ 0.3% false-positive rate
#: at ~10k benchmark shingles (fpp ≈ (1 - e^{-kn/m})^k ≈ 0.0032 at n=1e4;
#: the kind=bloom sweep measured 0.00262 at n=9 595)
BLOOM_BITS = 1 << 17
BLOOM_HASHES = 5

#: largest filter the plan-literal tier will inline (~16 MB of array<long>
#: literal). Past this, `membership="auto"` switches to the broadcast-join
#: tier, which never materializes the (dense) word array on the driver.
BLOOM_LITERAL_MAX_BITS = 1 << 27


def bloom_build_words_df(keys: DataFrame, col: str,
                         bits: int = BLOOM_BITS,
                         n_hashes: int = BLOOM_HASHES) -> DataFrame:
    """Distributed Bloom-filter build, pure Catalyst, word table kept AS a
    DataFrame ``(w: long, word: long)`` — the shared build stage of both
    membership tiers. Each key emits its ``n_hashes`` probe positions
    (xxhash64 seeded by the probe index — a map-only explode); positions
    fold into 64-bit words via a ``bit_or`` hash aggregate
    (partial-aggregated map-side, so the one shuffle carries at most
    bits/64 rows per input partition). The table is SPARSE: only words
    with at least one set bit appear, so its row count is
    min(bits/64, n_keys·n_hashes) regardless of how large ``bits`` is —
    a 2^34-bit filter over 10k keys is ~50k rows, not 2 GiB."""
    probe = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(bits))
                for i in range(n_hashes)
            ]
        )
    ).alias("p")
    return (
        keys.select(probe)
        .select(
            F.expr("p div 64").alias("w"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("word"))
    )


def bloom_build_words(keys: DataFrame, col: str,
                      bits: int = BLOOM_BITS,
                      n_hashes: int = BLOOM_HASHES) -> list[int]:
    """Distributed Bloom-filter build, pure Catalyst: each key emits its
    ``n_hashes`` probe positions (xxhash64 seeded by the probe index — a
    map-only explode), positions fold into <= bits/64 64-bit words via a
    ``bit_or`` hash aggregate (partial-aggregated map-side, so the one
    shuffle carries at most bits/64 rows per input partition), and ONLY
    the word table crosses to the driver — driver traffic is bounded by
    the FILTER size, never the key count, the same budget class as the
    k-means centroid grid and the Misra-Gries summaries.

    Scale bound, enforced: the returned list re-enters query plans as a
    literal array (``bloom_might_contain``), practical to
    ``BLOOM_LITERAL_MAX_BITS`` (~16 MB of plan literal) — past that this
    builder refuses (the dense driver array is the blow-up) and the
    caller must use ``bloom_might_contain_join`` over
    ``bloom_build_words_df``: same math, no driver round-trip.
    """
    if bits > BLOOM_LITERAL_MAX_BITS:
        raise ValueError(
            f"bits={bits} exceeds the plan-literal tier bound "
            f"({BLOOM_LITERAL_MAX_BITS}); use bloom_build_words_df + "
            "bloom_might_contain_join (membership='join')"
        )
    arr = [0] * ((bits + 63) // 64)
    for r in bloom_build_words_df(keys, col, bits, n_hashes).collect():
        arr[int(r["w"])] = int(r["word"])
    return arr


def bloom_might_contain(words: list[int], col: str, bits: int = BLOOM_BITS,
                        n_hashes: int = BLOOM_HASHES):
    """Membership predicate Column over a ``bloom_build_words`` filter:
    ``n_hashes`` bit tests against ONE array<long> literal (the k-means
    literal-matrix pattern — the Catalyst tree stays O(1) in filter
    size; the literal appears once, shared by every probe through the
    forall lambda), evaluated inside whole-stage codegen. No false
    negatives by construction; false positives at the configured fpp —
    compose with an exact verify when exactness is required. ``col`` is
    a column NAME (the expression is assembled as SQL text because the
    Python shiftright wrapper only takes literal shift amounts)."""
    mat = "array(" + ",".join(f"{w}L" for w in words) + ")"
    return F.expr(
        f"forall(transform(sequence(0, {n_hashes - 1}),"
        f" i -> pmod(xxhash64(`{col}`, i), {bits})),"
        f" p -> (shiftright(element_at({mat}, CAST(p div 64 AS INT) + 1),"
        f" CAST(p % 64 AS INT)) & 1) = 1)"
    )


def bloom_might_contain_join(df: DataFrame, col: str, words_df: DataFrame,
                             bits: int = BLOOM_BITS,
                             n_hashes: int = BLOOM_HASHES) -> DataFrame:
    """The beyond-plan-literal membership tier: rows of ``df`` whose
    ``col`` MIGHT be in the filter described by ``words_df`` (a
    ``bloom_build_words_df`` table), with the word table staying a
    DataFrame end to end — zero driver round-trip, so the filter size is
    bounded by executor/broadcast memory (bits/64 longs ≈ 125 MB at 1e9
    bits — the regime where the 40 GB raw-string set is the alternative),
    never by the plan-literal budget.

    Physical shape: DISTINCT keys (membership is a pure function of the
    key, so repeated shingles probe once) explode into ``n_hashes``
    (key, word-index, bit) probe rows — map-only; probes LEFT-join the
    broadcast word table on word index (an absent word means no bit set
    → probe misses, coalesced FALSE); a key is a member iff ``min(hit)``
    over its probes — one hash aggregate on the key; member keys
    left-semi-join ``df`` back, preserving its schema and multiplicity.

    Same guarantees as the literal tier: no false negatives by
    construction, false positives at the configured fpp — compose with
    an exact verify when exactness is required. One divergence, stated:
    a NULL key is never a member here (the semi-join cannot match NULL),
    while the literal tier hashes NULL to a deterministic probe; both
    tiers' production caller (shingle frames) never emits NULL keys.
    """
    probe = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(bits))
                for i in range(n_hashes)
            ]
        )
    ).alias("p")
    members = (
        df.select(col)
        .distinct()
        .select(F.col(col), probe)
        .select(
            col,
            F.expr("p div 64").alias("w"),
            F.expr("CAST(p % 64 AS INT)").alias("bit"),
        )
        .join(F.broadcast(words_df), "w", "left")
        .select(
            col,
            F.coalesce(
                F.expr("(shiftright(word, bit) & 1) = 1"), F.lit(False)
            ).alias("hit"),
        )
        .groupBy(col)
        .agg(F.min("hit").alias("member"))
        .filter("member")
        .select(col)
    )
    return df.join(members, col, "left_semi")


# ---------------------------------------------------------------------------
# Counting-Bloom frontier tier (Fan et al. 2000, "Summary Cache",
# IEEE/ACM ToN 8(3) — the deletable Bloom variant every crawl frontier
# uses): counters instead of bits, so retiring a URL decrements its
# positions instead of forcing a full filter rebuild. The counter table
# stays a DataFrame (pos, cnt) end to end — the join tier's zero-driver-
# round-trip discipline; row count is bounded by min(bits, keys·hashes),
# the same sparse-table budget as bloom_build_words_df.
# ---------------------------------------------------------------------------


def _bloom_positions(col: str, bits: int, n_hashes: int):
    """The ONE position derivation all Bloom tiers share: n_hashes
    xxhash64 probes seeded by index, folded into [0, bits)."""
    return F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(bits))
                for i in range(n_hashes)
            ]
        )
    )


def counting_bloom_build(keys: DataFrame, col: str,
                         bits: int = BLOOM_BITS,
                         n_hashes: int = BLOOM_HASHES) -> DataFrame:
    """Build a counting-Bloom counter table ``(pos, cnt)`` over the
    DISTINCT keys of ``keys[col]`` — set semantics: each distinct key
    increments its ``n_hashes`` positions exactly once (a key whose
    hashes collide self-wise increments that position with multiplicity,
    and ``counting_bloom_remove`` decrements symmetrically, so the
    invariant Σcnt = n_distinct_keys · n_hashes holds through any
    insert/remove sequence — n_distinct counting non-NULL keys only).
    NULL keys are dropped on BOTH the build and probe sides: Spark's
    xxhash64 SKIPS a NULL input (yielding the seed-derived hash), so
    without the filter every NULL key would share one real position set
    and a NULL probe could "hit" — violating the never-a-member contract
    (r12 review). Map-only explode → one hash aggregate,
    partial-aggregated map-side; only positions actually hit appear
    (sparse), so the table is min(bits, keys·hashes) rows."""
    return (
        keys.select(col)
        .filter(F.col(col).isNotNull())
        .distinct()
        .select(_bloom_positions(col, bits, n_hashes).alias("pos"))
        .groupBy("pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def counting_bloom_remove(counters: DataFrame, keys: DataFrame, col: str,
                          bits: int = BLOOM_BITS,
                          n_hashes: int = BLOOM_HASHES) -> DataFrame:
    """Delete the distinct keys of ``keys[col]`` from a counter table —
    the operation a plain Bloom filter cannot do and the reason the
    counting variant exists: a crawl frontier retires URLs continuously,
    and rebuilding a 1e9-bit filter per retirement batch is the
    recompute antipattern. Decrement = the same build aggregation on the
    retired keys, joined on pos and subtracted; positions reaching 0
    drop out (keeping the table sparse).

    CONTRACT (the classic counting-Bloom caveat, stated not hidden):
    removing a key that was never inserted — or removing one twice —
    drives shared counters negative-ward and can create FALSE NEGATIVES
    for still-present keys. Callers must remove subsets of what they
    inserted; ``frontier_to_fetch`` guarantees this by construction
    (retired ⊆ seen)."""
    dec = counting_bloom_build(keys, col, bits, n_hashes).withColumnRenamed(
        "cnt", "dec"
    )
    return (
        counters.join(dec, "pos", "left")
        .select(
            "pos",
            (F.col("cnt") - F.coalesce(F.col("dec"), F.lit(0))).alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )


def counting_bloom_add(counters: DataFrame, keys: DataFrame, col: str,
                       bits: int = BLOOM_BITS,
                       n_hashes: int = BLOOM_HASHES) -> DataFrame:
    """Insert the distinct keys of ``keys[col]`` into an EXISTING counter
    table — the crawl-cycle append step (day N's kept URLs join the
    standing frontier without a rebuild), symmetric to
    ``counting_bloom_remove``: increment = the build aggregation on the
    new keys, full-outer-joined on pos and summed (positions only the
    delta hits enter the table; positions only the base holds pass
    through).

    CONTRACT (same family as remove's): adding a key that is already in
    the table double-counts its positions — one later remove leaves it
    still present. Callers add sets disjoint from what the table holds;
    the crawl composition guarantees this because a kept URL was by
    definition not in the frontier when it was fetched."""
    inc = counting_bloom_build(keys, col, bits, n_hashes).withColumnRenamed(
        "cnt", "inc"
    )
    return counters.join(inc, "pos", "full").select(
        "pos",
        (
            F.coalesce(F.col("cnt"), F.lit(0)) + F.coalesce(F.col("inc"), F.lit(0))
        ).alias("cnt"),
    )


def counting_bloom_member_keys(probes: DataFrame, col: str,
                               counters: DataFrame,
                               bits: int = BLOOM_BITS,
                               n_hashes: int = BLOOM_HASHES) -> DataFrame:
    """Distinct probe keys that MIGHT be in the counter table —
    ``bloom_might_contain_join``'s physical shape over counters instead
    of words: probes explode to position rows (map-only), LEFT-join the
    broadcast sparse counter table (an absent position means count 0 →
    probe misses, coalesced FALSE), member iff ``min(hit)`` over the
    key's probes — one hash aggregate on the key. No false negatives by
    construction; false positives at the configured fpp — compose with
    an exact verify when exactness is required. A NULL probe key is
    never a member — ENFORCED by the isNotNull filter, not just by the
    join shape: xxhash64 skips NULL inputs, so an unfiltered NULL probe
    would get the shared seed-derived position set and could pass the
    bit test (guaranteed, if a NULL also reached the build side before
    its own filter existed — r12 review)."""
    live = counters.filter(F.col("cnt") > 0).select("pos")
    return (
        probes.select(col)
        .filter(F.col(col).isNotNull())
        .distinct()
        .select(F.col(col), _bloom_positions(col, bits, n_hashes).alias("pos"))
        .join(F.broadcast(live.withColumn("_hit", F.lit(True))), "pos", "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("_hit"), F.lit(False))).alias("member"))
        .filter("member")
        .select(col)
    )


def frontier_to_fetch(probes: DataFrame, seen: DataFrame, retired: DataFrame,
                      col: str,
                      bits: int = BLOOM_BITS,
                      n_hashes: int = BLOOM_HASHES,
                      counters: DataFrame | None = None) -> DataFrame:
    """Exact crawl-frontier dedup with a counting-Bloom prefilter:
    annotate every probe row with ``to_fetch`` — TRUE iff its ``col`` is
    NOT in the live frontier (seen minus retired). Exactness is the
    output contract (oracle-gated); the Bloom is the physical strategy:
    a Bloom "no" is DEFINITIVE (no false negatives), so the typical
    crawl probe — a never-seen URL — never reaches the exact join at
    all; only the maybe-slice (true hits + fpp·probes) exact-verifies
    against the frontier, and the prefilter's false positives die there.
    Deletion support is why the counting variant: the retired set
    DECREMENTS the standing counter table instead of forcing a rebuild
    per retirement batch — the filter is a long-lived incremental
    structure, exactly like the persisted MinHash signatures.

    Reference analog: the re-download loop (streamlit_app.py:819-822)
    refetches unconditionally; this is the membership structure that
    makes fetch work O(new), not O(seen).

    ``counters`` is the incremental form: pass the standing counter
    table (built once, grown with ``counting_bloom_add`` / shrunk with
    ``counting_bloom_remove`` as the frontier evolves) and this call
    skips the per-call rebuild — ``seen``/``retired`` then only feed the
    exact-verify join and must describe the same live set the counters
    encode."""
    if counters is None:
        counters = counting_bloom_remove(
            counting_bloom_build(seen, col, bits, n_hashes),
            retired, col, bits, n_hashes,
        )
    maybe = counting_bloom_member_keys(probes, col, counters, bits, n_hashes)
    live = (
        seen.select(col).distinct()
        .join(retired.select(col).distinct(), col, "left_anti")
    )
    # exact verify over the maybe-slice only: probe side is candidate-
    # sized; the frontier side is scanned once (the verify join every
    # prefilter op in this module pays — candidates, never all-pairs)
    present = maybe.join(live, col, "left_semi")
    return probes.join(
        present.withColumn("_in_frontier", F.lit(True)), col, "left"
    ).select(
        *probes.columns,
        F.coalesce(~F.col("_in_frontier"), F.lit(True)).alias("to_fetch"),
    )


def bloom_contamination_overlap(
    docs: DataFrame,
    bench_pred,
    min_overlap: int = 3,
    bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
    membership: str = "auto",
) -> DataFrame:
    """``contamination_overlap`` semantics (same output, exactly) with a
    Bloom prefilter as the physical strategy — THE standard 100 TB answer
    when the benchmark shingle set outgrows a broadcast hash set: a
    1e9-shingle suite is ~40 GB of strings but ~1.2 GB of Bloom bits at
    1% fpp, and the candidate side tests membership MAP-SIDE against the
    compact filter, forwarding only (true hits + fpp·misses) rows into
    the exact verify join. Three stages:

      1. build: one bounded ``bit_or`` aggregate over benchmark shingles
         (``bloom_build_words_df`` — a sparse (w, word) table);
      2. prefilter, two tiers behind ``membership``: ``"literal"``
         collects the word table into a plan-literal array and tests
         membership in pure codegen on the corpus scan (zero shuffle; the
         default up to ``BLOOM_LITERAL_MAX_BITS``); ``"join"`` keeps the
         word table AS a DataFrame and tests membership through a
         broadcast join on word index (``bloom_might_contain_join`` — no
         driver round-trip, the only executable shape past ~1e8 bits);
         ``"auto"`` picks by ``bits``. No false negatives either way;
      3. verify: survivors (a fpp-thin slice of the corpus) semi-join the
         real benchmark set, removing false positives — so the operator
         is EXACT and the DuckDB oracle replays plain set overlap.

    At fixture scale the broadcast-set ``contamination_overlap`` wins
    (the filter build is pure overhead next to a 5k-entry hash set);
    the tiers are unit-pinned identical, and the bits knob is the
    memory/selectivity trade the 100 TB deployment tunes.

    NULL contract: a row where ``bench_pred`` evaluates NULL is a
    CANDIDATE (coalesced to FALSE) — same rule as ``contamination_overlap``
    so the tiers stay pin-identical on any predicate, not just doc_id ones.
    """
    if membership not in ("auto", "literal", "join"):
        raise ValueError(f"membership must be auto|literal|join, got {membership!r}")
    if membership == "auto":
        membership = "literal" if bits <= BLOOM_LITERAL_MAX_BITS else "join"
    bench_pred = F.coalesce(bench_pred, F.lit(False))
    sh = doc_shingles(docs)
    bench_keys = sh.filter(bench_pred).select("shingle").distinct()
    cand = sh.filter(~bench_pred)
    if membership == "literal":
        words = bloom_build_words(bench_keys, "shingle", bits, n_hashes)
        survivors = cand.filter(bloom_might_contain(words, "shingle", bits, n_hashes))
    else:
        words_df = bloom_build_words_df(bench_keys, "shingle", bits, n_hashes)
        survivors = bloom_might_contain_join(cand, "shingle", words_df, bits, n_hashes)
    return (
        survivors.join(bench_keys, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def _edlen(col: str = "text"):
    from pyspark.sql import functions as F

    return F.length(col)


def _ed_band_candidates(d: DataFrame, k: int) -> DataFrame:
    """Length-band candidate pairs (doc_a, doc_b, ta, tb, la, lb) from a
    frame ``d`` = (doc_id, text, len): band equi-join (band width k+1,
    ±1 probe fan — complete for |len diff| <= k in BOTH id orders) +
    pigeonhole block-contains prefilter. See editdistance_neardup for the
    completeness argument."""
    n_blocks = k + 1
    banded = d.withColumn("band", F.expr(f"len div {n_blocks}"))
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("ta"),
        F.col("len").alias("la"),
        "band",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("tb"),
        F.col("len").alias("lb"),
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("band"),
    )
    pairs = a.join(b, "band").filter(
        (F.col("doc_a") < F.col("doc_b"))
        & (F.abs(F.col("la") - F.col("lb")) <= k)
    )
    block_hit = None
    for i in range(n_blocks):
        start = f"1 + ({i} * la) div {n_blocks}"
        length = f"(({i + 1}) * la) div {n_blocks} - ({i} * la) div {n_blocks}"
        cond = F.expr(f"contains(tb, substr(ta, {start}, {length}))")
        block_hit = cond if block_hit is None else (block_hit | cond)
    return pairs.filter(block_hit).select("doc_a", "doc_b", "ta", "tb", "la", "lb")


def _ed_passjoin_candidates(d: DataFrame, k: int) -> DataFrame:
    """PassJoin inverted-index candidates (Li et al., VLDB 2012) over a
    frame ``d`` = (doc_id, text, len) where every len >= k+1: candidate
    pairs come from an EQUI-join on (block_no, partner_len, block_hash) —
    content-driven, so the volume tracks true near-dup density, not
    (docs per length band)².

    * INDEX side: each doc emits its k+1 block hashes — (blk, own len,
      xxhash64(block)) — k+1 rows per doc.
    * PROBE side: each doc emits, for every partner length L within ±k of
      its own, every block number, and every start shift in [-k, k], the
      hash of the substring a matching partner block would occupy:
      bounded (2k+1)·(k+1)·(2k+1) emissions per doc (405 at k=4, a
      constant; adjacent L often hash identical substrings, but the
      ~1.2× repetition rides the existing join shuffle instead of
      paying its own distinct exchange — see the in-line note).

    Completeness: if lev(a,b) <= k, at least one of a's k+1 blocks is
    untouched by the <= k edits (pigeonhole) and appears contiguously in
    b, displaced by at most one position per edit before it, i.e. a shift
    in [-k, k]; b's probe emission for (L=len(a), that blk, that shift)
    hashes the identical substring, so the pair joins. Every block is
    non-empty because len >= k+1, so the hash can't degenerate to ''.
    xxhash64 collisions only ADD candidates; the verify removes them.

    Hot shared blocks (boilerplate) skew the join key — AQE skew-join
    splits them; a df-style cutoff (as in jaccard_pairs.MAX_DF_FRAC)
    would cap the fan-out but trade away exactness, so it is NOT applied.
    """
    nb = k + 1
    idx = d.withColumn("blk", F.explode(F.sequence(F.lit(0), F.lit(k)))).select(
        F.col("doc_id").alias("id_i"),
        F.col("len").alias("plen"),
        "blk",
        F.xxhash64(
            F.expr(
                f"substr(text, 1 + (blk * len) div {nb},"
                f" ((blk + 1) * len) div {nb} - (blk * len) div {nb})"
            )
        ).alias("h"),
    )
    probe = (
        d.withColumn("dl", F.explode(F.sequence(F.lit(-k), F.lit(k))))
        .withColumn("plen", F.col("len") + F.col("dl"))
        .filter(F.col("plen") >= nb)
        .withColumn("blk", F.explode(F.sequence(F.lit(0), F.lit(k))))
        .withColumn("bstart", F.expr(f"1 + (blk * plen) div {nb}"))
        .withColumn(
            "blen",
            F.expr(f"((blk + 1) * plen) div {nb} - (blk * plen) div {nb}"),
        )
        .withColumn("dd", F.explode(F.sequence(F.lit(-k), F.lit(k))))
        .withColumn("pos", F.col("bstart") + F.col("dd"))
        .filter(
            (F.col("pos") >= 1)
            & (F.col("pos") + F.col("blen") - 1 <= F.col("len"))
            & (F.col("blen") >= 1)
        )
        .select(
            F.col("doc_id").alias("id_p"),
            "plen",
            "blk",
            F.xxhash64(F.expr("substr(text, pos, blen)")).alias("h"),
        )
        # NO .distinct() here (r16, guide §2.4): probe emissions repeat
        # only when adjacent (L, shift) windows hash identical substrings
        # — measured ~1.2× duplication on the fixture corpus, a
        # text-local, scale-invariant factor — so the distinct bought a
        # ~17% row cut at the price of a FULL exchange of the
        # corpus×405-emission probe frame (its largest shuffle; 4.2 vs
        # 2.2 s on the probe stage alone at sf0.1). Duplicate emissions
        # only multiply already-matching join rows, and ``pairs``
        # dedups below — the candidate SET is provably identical.
    )
    pairs = (
        idx.join(probe, ["blk", "plen", "h"])
        .filter(F.col("id_i") != F.col("id_p"))
        .select(
            F.least("id_i", "id_p").alias("doc_a"),
            F.greatest("id_i", "id_p").alias("doc_b"),
        )
        .distinct()
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"), F.col("len").alias("la")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"), F.col("len").alias("lb")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.abs(F.col("la") - F.col("lb")) <= k)
        .select("doc_a", "doc_b", "ta", "tb", "la", "lb")
    )


def _ed_verify(cand: DataFrame, k: int) -> DataFrame:
    """Threshold-capped levenshtein verify: O(k·len) on the reject path
    (early exit the moment the running distance exceeds k)."""
    dist = F.levenshtein("ta", "tb", k)
    return (
        cand.withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") >= 0)  # -1 = beyond the threshold cap
        .select("doc_a", "doc_b", "edit_dist")
    )


def editdistance_neardup(docs: DataFrame, k: int = 4, method: str = "passjoin") -> DataFrame:
    """Edit-distance near-duplicates: (doc_a, doc_b, edit_dist) for every
    unordered pair with ``levenshtein(text_a, text_b) <= k``. Two
    physical strategies, identical results (unit-pinned):

    * ``method="passjoin"`` (default, the scale path): PassJoin
      inverted-index equi-join on (block_no, partner_len, block_hash) —
      see ``_ed_passjoin_candidates``. Candidate volume tracks true
      near-dup density; a corpus whose lengths concentrate on one value
      costs no more than a spread one. Docs shorter than k+1 chars (whose
      blocks could be empty, voiding the pigeonhole guarantee) fall back
      to the band path among themselves — their partners are <= 2k chars,
      a bounded-size sub-corpus.
    * ``method="band"``: length-band equi-join (band width k+1, ±1 probe
      fan) + pigeonhole block ``contains`` prefilter —
      ``_ed_band_candidates``. Simpler, one shuffle, complete; but its
      candidate count is Σ_L (docs within ±k of L)², which degrades to
      quadratic when the length histogram peaks. Kept as the semantic
      reference and the small-corpus fast path.

    Both filters are provably complete for dist <= k (length: k edits
    change length by <= k; pigeonhole: k edits over k+1 contiguous blocks
    leave one block verbatim, shifted by <= k), so the final
    threshold-capped ``levenshtein(a, b, k)`` verify decides membership
    exactly. Measured at sf0.01: 125k raw pairs → 2.3k band candidates /
    24 passjoin candidates (zero false positives) → 24 true pairs.

    Reference parity: no reference analog (its dedup story is pandas
    index dedup); brief-mandated dedup-family extension.
    """
    base = docs.select("doc_id", "text", _edlen().alias("len"))
    if method == "band":
        return _ed_verify(_ed_band_candidates(base, k), k)
    if method != "passjoin":
        raise ValueError(f"unknown method {method!r}")
    nb = k + 1
    # short regime: any pair involving a doc with len <= k (some block
    # would be empty); partners are within +k, so the whole sub-corpus
    # the band path must see is len <= 2k
    short_plus = base.filter(F.col("len") <= 2 * k)
    short_cand = _ed_band_candidates(short_plus, k).filter(
        F.least("la", "lb") <= k
    )
    long_side = base.filter(F.col("len") >= nb)
    cand = _ed_passjoin_candidates(long_side, k).unionByName(short_cand)
    return _ed_verify(cand, k)


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2021, arXiv:2107.06499 "ExactSubstr") +
# winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------

#: default minimum shared-run length in CHARACTERS (Lee et al. use 50 BPE
#: tokens; 32 chars is the analogous operating point for the fixture corpus)
SUBSTR_MIN_LEN = 32

#: winnowing window in grams: any shared run of >= SUBSTR_MIN_LEN + w - 1
#: chars contains a full window of w shared grams, whose (hash, pos)-min is
#: selected identically in both documents -> guaranteed shared fingerprint
WINNOW_W = 8


def char_grams(docs: DataFrame, L: int = SUBSTR_MIN_LEN) -> DataFrame:
    """(doc_id, pos, gm): every length-L character gram of every document
    long enough to hold one (0-based pos). One generate-per-row projection
    — no shuffle; output volume is ~corpus-chars rows (each carrying an
    L-char gram), the linear blow-up the ExactSubstr join pays for
    exactness. The filter drops NULL and too-short texts in one predicate
    (NULL length compares to nothing)."""
    return docs.filter(F.length("text") >= L).select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform(sequence(0, length(text) - {L}),"
                   f" i -> substring(text, i + 1, {L}))")
        ).alias("pos", "gm"),
    )


def _gram_digests(grams: DataFrame) -> DataFrame:
    """(doc_id, pos, h, mh) — the shared DIGEST projection over a char-gram
    frame: h = xxhash64(gm) (the match-join key) and mh = unhex(md5(gm))
    (the winnowing selection key), built in ONE projection so every
    ExactSubstr-family consumer shares the exact subplan
    ``cache_shared_stages`` pins (r17: the md5 projection alone measured
    ~2.1 s of the winnowed tier's 3.2 s fingerprint job — computing both
    digests once per suite instead of once per query is the win; a
    consumer that needs only one digest projects it off this frame, and
    WITHOUT the cache Catalyst's project-collapse prunes the unused
    digest expression entirely, so the uncached form pays nothing extra).
    Numeric/binary columns only — the 32-char gram strings stay out of
    the frame (r16: caching the strings was a measured pathology)."""
    return grams.select(
        "doc_id",
        "pos",
        F.xxhash64("gm").alias("h"),
        F.unhex(F.md5("gm")).alias("mh"),
    )


def hashed_grams(docs: DataFrame, L: int = SUBSTR_MIN_LEN) -> DataFrame:
    """The cache-entry form of :func:`_gram_digests` built straight from
    the documents frame — what ``cache_shared_stages`` materializes."""
    return _gram_digests(char_grams(docs, L))


def winnow_select(
    grams: DataFrame,
    w: int = WINNOW_W,
    docs: DataFrame | None = None,
    L: int = SUBSTR_MIN_LEN,
) -> DataFrame:
    """Winnowing fingerprints (doc_id, pos, gm): for every window of ``w``
    consecutive grams of a document, select the gram with the smallest
    (md5(gram), pos) key — the SIGMOD'03 document-fingerprinting scheme.
    Selection is content-defined (depends only on gram hashes inside the
    window), so two documents sharing a run of >= w grams select the SAME
    gram somewhere inside it: any shared substring of
    >= L + w - 1 characters is GUARANTEED a shared fingerprint.

    The (hash, pos) argmin travels as a struct-min over
    (unhex(md5), pos): Spark orders BINARY unsigned-lexicographically,
    and fixed-width lowercase hex is a monotone image of its bytes
    ('0'–'9' < 'a'–'f' maps nibble order 0–15 order-preservingly), so
    the 16-byte digest selects the SAME gram as the oracle's md5-hex
    string comparison while each sliding-window comparison touches 16
    bytes instead of a 43-char concat (md5 hex + ':' + zero-padded pos
    — the pre-r16 key, which also paid the concat/lpad per row and a
    substring-parse to recover pos). pos breaks digest ties numerically
    — identical to the zero-padded suffix — and is unique per row, so
    the selected (pos, gm) is fully determined by the (mh, pos) min.

    r17: the selection runs over the shared DIGEST frame
    (:func:`_gram_digests` — the subplan ``cache_shared_stages`` pins),
    so under the bench cache the per-query md5 pass over every gram
    (~2.1 s of the tier's 3.2 s fingerprint job at sf0.1) becomes an
    InMemoryTableScan; the gram TEXT no longer rides the sliding min
    and is recovered afterwards on the fingerprint-sized output only —
    from ``docs`` via substring(text, pos+1, L) when given (one
    doc_id equi-join against the text table, the verify pass's
    pattern), else by an equi-join back to the gram frame on
    (doc_id, pos). Both recoveries are exact (char_grams defines
    gm := substring(text, pos+1, L)). Cost: one window per document
    ordered by pos (a doc-partitioned sort, no cross-doc shuffle beyond
    the doc_id hash), output ~2/(w+1) of the grams."""
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    sel = (
        _gram_digests(grams)
        .select("doc_id", "pos", "mh")
        .select(
            "doc_id",
            F.min(F.struct(F.col("mh"), F.col("pos"))).over(win).alias("s"),
        )
        .distinct()
    )
    picked = sel.select(
        "doc_id",
        F.col("s.pos").cast("bigint").alias("pos"),
    )
    if docs is not None:
        return picked.join(docs.select("doc_id", "text"), "doc_id").select(
            "doc_id",
            "pos",
            F.expr(f"substring(text, pos + 1, {L})").alias("gm"),
        )
    return picked.join(
        grams.withColumn("pos", F.col("pos").cast("bigint")),
        ["doc_id", "pos"],
    ).select("doc_id", "pos", "gm")


def _hashed_gram_matches(
    grams: DataFrame,
    docs: DataFrame,
    L: int,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Verified intra-corpus gram matches (da, db, pa, pb) via the
    NARROW-key join: the corpus-chars-sized gram frame crosses the match
    shuffle as (doc_id, pos, xxhash64(gm)) — an 8-byte key instead of the
    L-char gram string (~5x payload cut at L=32, the engine's heaviest
    join family) — exactly the payload-narrowing trade the PassJoin index
    already makes (``_ed_passjoin_candidates``). Exactness is restored by
    a VERIFY pass over match volume only: each candidate (da, db, pa, pb)
    re-derives both grams from the original texts (two doc_id-keyed joins
    against ``docs`` — text-sized, i.e. ~40x lighter than re-shuffling
    the gram frame) and keeps the row iff they are equal, so an xxhash64
    collision can only ever ADD work, never a wrong span.

    ``doc_filter`` (a (doc_id) frame) restricts the match join to grams
    of the listed docs via a semi-join placed AFTER the hash projection
    — the filter-after-gramming rule (r16, the substring_contamination
    precedent): a per-row projection commutes with a doc_id semi-join,
    and hashing FIRST keeps the hashed-gram subplan exactly the frame
    ``cache_shared_stages`` pins, so a filtered consumer (the winnowed
    tier's candidate-doc slice) substitutes the shared InMemoryRelation
    instead of re-gramming the corpus per side."""
    hg = _gram_digests(grams).select("doc_id", "pos", "h")
    if doc_filter is not None:
        hg = hg.join(doc_filter, "doc_id", "left_semi")
    a, b = hg.alias("a"), hg.alias("b")
    cand = a.join(
        b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"),
        F.col("a.pos").alias("pa"), F.col("b.pos").alias("pb"),
    )
    ta = docs.select(F.col("doc_id").alias("da"), F.col("text").alias("__ta"))
    tb = docs.select(F.col("doc_id").alias("db"), F.col("text").alias("__tb"))
    return (
        cand.join(ta, "da")
        .withColumn("__ga", F.expr(f"substring(__ta, pa + 1, {L})"))
        .drop("__ta")
        .join(tb, "db")
        .filter(F.expr(f"substring(__tb, pb + 1, {L})") == F.col("__ga"))
        .select("da", "db", "pa", "pb")
    )


def _merge_diagonal_spans(matches: DataFrame, L: int) -> DataFrame:
    """(doc_a, doc_b, max_span, n_spans) from raw gram matches
    (da, db, pa, pb): consecutive gram matches on the same diagonal
    (pa - pb constant, pa incrementing) are ONE maximal shared run of
    count + L - 1 characters — the classic gaps-and-islands merge, as a
    window + two aggregations all keyed under (da, db), so everything
    after the match join is a single partitioning family."""
    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = matches.select(
        "da", "db", "pa", diag
    ).withColumn("grp", F.col("pa") - F.row_number().over(w))
    spans = runs.groupBy("da", "db", "diag", "grp").agg(
        (F.count(F.lit(1)) + F.lit(L - 1)).alias("span_len")
    )
    return spans.groupBy("da", "db").agg(
        F.max("span_len").alias("max_span"),
        F.count(F.lit(1)).alias("n_spans"),
    ).select(
        F.col("da").alias("doc_a"), F.col("db").alias("doc_b"),
        "max_span", "n_spans",
    )


def substring_dup_spans(
    docs: DataFrame,
    min_len: int = SUBSTR_MIN_LEN,
    winnow_w: int | None = None,
) -> DataFrame:
    """Exact-substring near-dup (Lee et al.'s ExactSubstr, re-expressed
    relationally): (doc_a, doc_b, max_span, n_spans) for every document
    pair sharing a verbatim character run of >= ``min_len`` — max_span is
    the longest such run, n_spans the number of maximal runs. Unlike the
    shingle/MinHash tiers this is positional: it reports WHERE-sized
    overlap (the quantity Lee et al. cut at 50 tokens), not set
    similarity, and catches the boilerplate/quotation class of dups that
    survive whole-document fingerprints.

    Shape: gram generation is a map-only explode; the match join is an
    equi-join on the 64-bit GRAM HASH — grams shared by zero pairs never
    fan out, so cost tracks shared text, not |docs|², and the shuffle
    payload is (doc_id, pos, xxhash64) instead of the L-char gram string
    (``_hashed_gram_matches``: ~5x narrower at L=32, with a match-volume
    text-fetch verify restoring exactness); the span merge is one
    (da, db)-keyed window + aggregation family.

    ``winnow_w`` = the winnowing-fingerprint tier — a RECALL/COST TRADE,
    not a scale win (measured, r10): only winnowing-selected fingerprint
    grams (~2/(w+1) of all grams — 4.4× fewer at w=8) enter a candidate
    join; the exact gram join then runs only over documents appearing in
    some candidate pair. Every pair sharing a run of
    >= min_len + w - 1 chars is guaranteed found (winnowing's detection
    bound, guaranteed_found 100% at every measured scale); SHORTER true
    spans drop — overall recall 0.62 / 0.51 / 0.37 at 1×/4×/16× of
    sf0.1 (kind="substr_blowup" sweep). The sweep found NO wall-clock
    crossover by 16× (80k docs, 25M grams): the exact tier's own match
    volume grows near-LINEARLY (exponent 1.08 — grams shared by nobody
    never join), so the fingerprint reduction saves from an already-
    small join while the tier pays a per-doc window sort over EVERY
    gram plus a second exact join over a growing candidate-doc share
    (12% → 28% of grams). Use the default exact tier unless the corpus
    is boilerplate-dense enough that candidate volume — not gram
    generation — dominates AND ≥ L+w-1 spans are the only ones that
    matter.
    """
    grams = char_grams(docs, min_len)
    if winnow_w is None:
        return _merge_diagonal_spans(
            _hashed_gram_matches(grams, docs, min_len), min_len
        )
    # fingerprint candidate join stays ON THE GRAM: the set is already
    # ~2/(w+1) of all grams, and a hash-only key would admit collision
    # pairs the md5-selection oracle replay does not.
    #
    # EAGER in the winnowed tier (r16; kmeans/quota_sample precedent):
    # the fingerprint frame is consumed by BOTH candidate-join sides,
    # and the candidate frame by three more consumers (both branches of
    # the doc_id union and the match semi-join) — Spark re-executes a
    # duplicated subtree per consumer, so without the checkpoints the
    # per-doc winnow window (the tier's dominant stage: corpus-grams
    # rows through an md5-keyed sliding min) ran twice and the candidate
    # join up to three times per action. Both frames are
    # fingerprint-/pair-sized, far below the gram blow-up.
    fp = winnow_select(grams, winnow_w, docs=docs, L=min_len).localCheckpoint(
        eager=True
    )
    fa, fb = fp.alias("fa"), fp.alias("fb")
    cand = (
        fa.join(
            fb,
            (F.col("fa.gm") == F.col("fb.gm"))
            & (F.col("fa.doc_id") < F.col("fb.doc_id")),
        )
        .select(
            F.col("fa.doc_id").alias("da"), F.col("fb.doc_id").alias("db")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    docs_in = (
        cand.select(F.col("da").alias("doc_id"))
        .unionByName(cand.select(F.col("db").alias("doc_id")))
        .distinct()
    )
    matches = _hashed_gram_matches(
        grams, docs, min_len, doc_filter=docs_in
    ).join(cand, ["da", "db"], "left_semi")
    return _merge_diagonal_spans(matches, min_len)


def cut_dup_spans(docs: DataFrame, min_len: int = SUBSTR_MIN_LEN) -> DataFrame:
    """The ExactSubstr ACT step — ``substring_dup_spans`` only REPORTS
    shared verbatim runs; this CUTS them (Lee et al. 2021 §4: the
    deduplicated corpus removes the duplicated substring itself, not the
    whole document — boilerplate dies, the unique prose around it
    survives). Returns every doc with ``text_clean``, ``n_cut_spans``,
    and ``n_cut_chars`` (0/unchanged for untouched docs).

    Policy, deterministic and one-shot: for each maximal shared run of a
    pair (doc_a < doc_b), the occurrence in the LOWER id is the kept
    canonical copy and the HIGHER id's occurrence is cut — the same
    min-id convention ``dedup_clusters`` uses. All cut intervals are
    computed from the ORIGINAL corpus in one pass, then a doc's
    intervals are merged (gaps-and-islands: strictly overlapping
    intervals fuse; a doc near-duplicating several canonicals loses the
    union) and the surviving text is rebuilt relationally — the KEPT
    gap segments between cuts (plus the tail) become (start, chunk)
    rows via one per-doc window, and an ordered array_join reassembles
    them. No per-row Python, no driver text handling.

    Scale shape: everything up to the cut intervals is the
    ``substring_dup_spans`` plan (hash-narrowed gram equi-join, one
    (da,db)-keyed window family); the rebuild adds one doc-keyed window
    over the (tiny) merged-interval frame, a doc_id equi-join back to
    the text, and one doc-keyed aggregation. Cost tracks shared-text
    volume + one corpus text pass."""
    grams = char_grams(docs, min_len)
    matches = _hashed_gram_matches(grams, docs, min_len)
    # diagonal runs → one cut interval per maximal run, in db's text
    # (0-based inclusive [s0, e0]; span_len = gram_count + L - 1)
    w = Window.partitionBy("da", "db", F.col("pa") - F.col("pb")).orderBy("pa")
    runs = matches.withColumn("grp", F.col("pa") - F.row_number().over(w))
    cuts = (
        runs.groupBy("da", "db", F.col("pa") - F.col("pb"), "grp")
        .agg(
            F.min("pb").alias("s0"),
            (F.min("pb") + F.count(F.lit(1)) + F.lit(min_len - 2)).alias("e0"),
        )
        # DISTINCT is correctness, not tidiness: the same interval cut on
        # behalf of several canonical partners yields TIED (s0, e0) rows,
        # and the merge below runs TWO window passes over the same sort
        # keys (prev-max, then running group sum) — an engine free to
        # order ties differently between the passes can split one island
        # into two (observed: DuckDB doubled one doc's n_cut_chars at
        # sf0.1 while Spark merged). Deduped, (s0, e0) is unique per doc
        # and the ordering is total on both sides.
        .select(F.col("db").alias("doc_id"), "s0", "e0")
        .distinct()
    )
    # per-doc interval merge (strict overlap fuses; adjacency may stay
    # split — the rebuild's empty gap segment makes that equivalent)
    wd = Window.partitionBy("doc_id").orderBy("s0", "e0")
    prev_max = F.max("e0").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    # EAGER (r16; kmeans/quota_sample precedent): the merged-interval
    # frame feeds THREE plan branches (gaps, tails, stats) — without the
    # checkpoint each branch re-executed the whole match join + both
    # window passes upstream of it. Interval-sized (pairs sharing text),
    # far below the gram blow-up.
    merged = (
        cuts.withColumn(
            "ng",
            F.when(F.col("s0") > F.coalesce(prev_max, F.lit(-1)), 1).otherwise(0),
        )
        .withColumn(
            "grp",
            F.sum("ng").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "grp")
        .agg(F.min("s0").alias("cs"), F.max("e0").alias("ce"))
        .localCheckpoint(eager=True)
    )
    # kept segments, 1-based substring coordinates: the gap BEFORE each
    # cut ([prev_ce+2, cs] — empty when cuts touch) and the tail after
    # the last cut
    ws = Window.partitionBy("doc_id").orderBy("cs")
    gaps = merged.select(
        "doc_id",
        (F.coalesce(F.lag("ce").over(ws), F.lit(-1)) + F.lit(2)).alias("gs"),
        (F.col("cs") - (F.coalesce(F.lag("ce").over(ws), F.lit(-1)) + 1)).alias("glen"),
    )
    tails = merged.groupBy("doc_id").agg((F.max("ce") + F.lit(2)).alias("gs"))
    txt = docs.select("doc_id", F.col("text"))
    pieces = (
        gaps.filter(F.col("glen") > 0)
        .join(txt, "doc_id")
        .select("doc_id", "gs", F.expr("substring(text, gs, glen)").alias("chunk"))
        .unionByName(
            tails.join(txt, "doc_id")
            .select(
                "doc_id", "gs",
                F.expr("substring(text, gs, length(text) - gs + 1)").alias("chunk"),
            )
            .filter(F.length("chunk") > 0)
        )
    )
    rebuilt = pieces.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("gs", "chunk"))),
                lambda s: s["chunk"],
            ),
            "",
        ).alias("__clean")
    )
    stats = merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_cut_spans"),
        F.sum(F.col("ce") - F.col("cs") + 1).alias("n_cut_chars"),
    )
    return (
        docs.join(rebuilt, "doc_id", "left")
        .join(stats, "doc_id", "left")
        .select(
            *[c for c in docs.columns if c != "text"],
            # a fully-cut doc has stats but zero pieces → empty string
            F.when(
                F.col("n_cut_spans").isNotNull(),
                F.coalesce(F.col("__clean"), F.lit("")),
            )
            .otherwise(F.col("text"))
            .alias("text_clean"),
            F.coalesce(F.col("n_cut_spans"), F.lit(0)).alias("n_cut_spans"),
            F.coalesce(F.col("n_cut_chars"), F.lit(0)).alias("n_cut_chars"),
        )
    )


def substring_contamination(
    docs: DataFrame,
    bench_pred,
    min_len: int = SUBSTR_MIN_LEN,
) -> DataFrame:
    """Cross-set exact-substring decontamination (the Lee et al. 2021
    standard: a training doc is contaminated if it shares a verbatim run
    of >= ``min_len`` chars with ANY benchmark doc — stricter than the
    shingle-count overlap of ``contamination_overlap``, and positional:
    the span length is the evidence). ``bench_pred`` is a boolean Column
    over ``docs`` marking benchmark membership; everything else is a
    candidate. Returns (doc_id, n_bench_docs, max_span) per contaminated
    CANDIDATE — its drop-list row.

    Shape: both sides share ONE ``char_grams`` subplan (split by the
    predicate); the match is an equi-join on the 64-bit gram hash — the
    CORPUS side crosses the shuffle as (doc_id, pos, xxhash64), never
    the L-char gram string, while the benchmark side (tiny by nature)
    keeps its gram for the equality verify, so a hash collision can only
    add a candidate that the verify then drops. A real benchmark suite
    is tiny relative to the corpus, so its gram side broadcasts (AQE
    picks this up from the post-filter size without a hint — and a hint
    would be wrong for the general case: the join degrades gracefully to
    a hash-keyed shuffle when the benchmark side is genuinely large,
    still never all-pairs; the narrow corpus-side payload is what makes
    that degradation cheap). The verify re-derives the candidate's gram
    from its text over MATCH volume only. The span merge reuses the
    ExactSubstr diagonal machinery, then collapses to one row per
    candidate doc.
    """
    # split AFTER gramming (r16; was filter-before-gram): the predicate
    # is still a map-side filter — Catalyst pushes it below the explode
    # when it references only doc_id — and both sides now share ONE
    # unfiltered char_grams subplan, the exact frame the shared-stage
    # cache pins (cache.py: the hashed gram entry), so neither side
    # re-explodes the corpus when that stage is resident. CONTRACT
    # (tightened, all callers conform): ``bench_pred`` must reference
    # only ``doc_id`` — it filters the gram frame, which carries no
    # other doc column.
    grams = char_grams(docs, min_len)
    bench = grams.filter(bench_pred).select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"),
        F.xxhash64("gm").alias("h"), "gm",
    )
    # the candidate side never needs the gram string (the verify
    # re-derives it from text), so it builds on the HASHED gram subplan
    # — hash-select first, filter on top, exactly the shared-cache
    # entry's shape so the resident stage substitutes for the
    # corpus-majority side
    cand = (
        _gram_digests(grams)
        .select("doc_id", "pos", "h")
        .filter(~bench_pred)
        .select(
            F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "h"
        )
    )
    ta = docs.filter(~bench_pred).select(
        F.col("doc_id").alias("da"), F.col("text").alias("__ta")
    )
    matches = (
        cand.join(bench, "h")
        .join(ta, "da")
        .filter(F.expr(f"substring(__ta, pa + 1, {min_len})") == F.col("gm"))
        .select("da", "db", "pa", "pb")
    )
    spans = _merge_diagonal_spans(matches, min_len)
    return spans.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_bench_docs"),
        F.max("max_span").alias("max_span"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup with an EXECUTABLE recall contract (r12
# verdict item 6): the cheap single-band tier's measured recall
# (0.29-0.34 on the dense 16-dim fixture) was documented in COVERAGE.md
# but not surfaced by the operator — a caller could silently run it at
# scale believing it was the 0.89 banded tier. The tier is now a named
# argument with the measurement in the contract; the low-recall tier
# must be ASKED FOR by name.
# ---------------------------------------------------------------------------

#: tier -> band count, with the measured recall each buys on the dense
#: 16-dim hashed-BoW fixture at cos >= 0.95 (COVERAGE.md scale table):
#: "screen"  (1 band  x 4 Walsh planes) — recall 0.29-0.34, 1x candidates
#: "banded"  (3 bands x 4 planes, disjoint mask windows) — recall 0.89,
#:            ~3x candidates (OR-amplification)
EMBEDDING_NEARDUP_TIERS = {"screen": 1, "banded": 3}


def embedding_neardup(
    docs: DataFrame, tier: str = "banded", threshold: float = 0.95
) -> DataFrame:
    """Near-duplicate (doc_a, doc_b, cos_sim) pairs by embedding cosine,
    blocked by banded Walsh-plane LSH and exact-verified in-bucket —
    the dedup-graph input for semantic near-dup pruning.

    ``tier`` is the recall contract, not a tuning knob: "banded"
    (default) is the recall-grade 3-band OR-amplification (measured
    0.89); "screen" is the 1-band cheap prefilter (measured 0.29-0.34)
    for pipelines that follow with their own verify pass — it must be
    named explicitly, so the low-recall path cannot be reached by
    accident. Unknown tiers fail loudly with the menu and its measured
    recalls.

    Physical shape (the banded-dedup join everywhere else uses): norms
    hoisted per doc before the pair join (one dot per pair), blocked
    self-join salt S=8 on the replicated side so a hot bucket's
    quadratic work spreads across sub-keys at shuffle scale, distinct()
    collapses multi-band collisions AFTER the threshold filter pruned
    the shuffle input. Reference analog: the FAISS retriever screen
    (pdf_rag_chatbot.py:60-61) run corpus-wide."""
    from functools import reduce

    from yfinance_etl_spark.functions.scalar import r6
    from yfinance_etl_spark.operators.rag import EMBED_DIM, doc_embeddings
    from yfinance_etl_spark.operators.similarity import lsh_bucket

    if tier not in EMBEDDING_NEARDUP_TIERS:
        raise ValueError(
            f"embedding_neardup: unknown tier {tier!r}; choose 'banded' "
            "(3-band OR-amplification, measured recall 0.89) or 'screen' "
            "(1-band prefilter, measured recall 0.29-0.34 — callers must "
            "compose their own verify/recall treatment)"
        )
    bands = EMBEDDING_NEARDUP_TIERS[tier]

    # fixed-width dot: unrolled arithmetic instead of an aggregate-HOF
    # lambda — whole-stage-codegen-able, and bit-identical to the HOF fold
    # (same left-to-right sum starting at 0.0)
    def dot16(a, b):
        return reduce(lambda acc, i: acc + a[i] * b[i], range(EMBED_DIM), F.lit(0.0))

    # doc_embeddings spreads an under-partitioned scan itself (the plan
    # evaluates the embed UDF once per join side)
    emb = doc_embeddings(docs)
    R = 4
    banded = emb
    for band in range(bands):
        banded = lsh_bucket(
            banded, n_planes=R, first_mask=band * R + 1, dim=EMBED_DIM
        ).withColumnRenamed("bucket", f"__bkt{band}")
    # norm hoisted per doc BEFORE the pair join: the in-bucket pair count is
    # quadratic in bucket size, so per-pair work must be one dot product,
    # not three (same expression dot/(na*nb), so oracle values are unchanged)
    b = banded.select(
        "doc_id",
        "embedding",
        F.sqrt(dot16(F.col("embedding"), F.col("embedding"))).alias("norm"),
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
    ).select("doc_id", "embedding", "norm", "bb.band", "bb.bucket")
    # bands × 16 buckets join keys for ~quadratic pair work, with the
    # biggest bucket dominating. Blocked self-join salt: split side a into
    # S sub-blocks by doc_id, replicate side b to every block — each pair
    # still appears once per colliding band, parallelism rises to
    # bands × buckets × S. This is the 100 TB skew treatment, not a
    # local-mode hack. distinct() collapses multi-band collisions AFTER
    # the threshold filter pruned the shuffle input.
    S = 8
    # In the broadcast shape the probe side's ROW partitioning (the
    # repartition before the embed UDF) is what spreads the quadratic
    # probe work — do NOT repartition by the block keys here: that
    # re-concentrates each hot bucket into one task (measured 3.6 s ->
    # 9 s at sf0.1). The salt pays off when the join degrades to a
    # shuffle at true scale, where it splits the hot bucket's shuffle key.
    # pmod, not %: a negative doc_id's sign-preserving % salt would
    # match no replica and its pairs would silently vanish
    a_ = b.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(S)).cast("int")).alias("a")
    b_ = b.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(S - 1)))).alias("b")
    pairs = a_.join(
        b_,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.salt") == F.col("b.salt"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        r6(
            dot16(F.col("a.embedding"), F.col("b.embedding"))
            / (F.col("a.norm") * F.col("b.norm"))
        ).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= threshold).distinct()
