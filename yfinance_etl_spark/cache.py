"""S12 cache/materialization (reference ``@st.cache_data``,
streamlit_app.py:279,293).

Spark's CacheManager substitutes a cached ``InMemoryRelation`` into ANY later
query whose canonicalized logical subplan matches the cached plan — so caching
the shared intermediate stages once (daily bars, document shingles) makes every
registry query that rebuilds the identical plan hit memory instead of
rescanning lineitem/documents. That is the engine analog of the reference's
``st.cache_data`` memoization, and at 100 TB it is the difference between one
lineitem scan per *suite* and one per *query*.

Nothing here changes results: cache substitution is purely physical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from yfinance_etl_spark.catalog import load_table
from yfinance_etl_spark.operators.dedup import (
    doc_hashes,
    doc_shingles,
    hashed_grams,
    jaccard_pairs,
    minhash_bands,
    minhash_lsh_neardup,
)
from yfinance_etl_spark.multimodal.audio import (
    audio_fingerprint,
    audio_frame_fingerprint,
    synthesize_audio_fp_assets,
    synthesize_audio_seq_assets,
)
from yfinance_etl_spark.multimodal.columns import image_dhash, synthesize_png_assets
from yfinance_etl_spark.multimodal.video import synthesize_video_assets, video_frame_dhash
from yfinance_etl_spark.operators.rag import chunk_embeddings, doc_embeddings
from yfinance_etl_spark.operators.windows import daily_bars


def cache_shared_stages(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """Cache + materialize the intermediates shared across the query suite.

    Returns the cached frames (call ``unpersist()`` on them to release).
    """
    # base entries, keyed by name: the derived chains below wait on their
    # upstreams by these keys, so reordering entries cannot rewire them
    base = {
        "daily_bars": daily_bars(load_table(spark, sf_dir, "lineitem")),
        "doc_shingles": doc_shingles(load_table(spark, sf_dir, "documents")),
        # map-only but md5-dense: shared by the MinHash and SimHash queries
        "doc_hashes": doc_hashes(load_table(spark, sf_dir, "documents")),
        # the DIGEST character-gram frame (doc_id, pos, xxhash64(gm),
        # unhex(md5(gm))) every ExactSubstr-family match join rebuilds —
        # and rebuilds TWICE per query, once per side of the gram-hash
        # self-join (_hashed_gram_matches; r16) — plus, r17, the md5
        # selection key the winnowing fingerprint pass spent ~2.1 s/query
        # recomputing over every gram. Cached in the narrow digest form,
        # not the 32-char gram strings: numeric/binary columns only
        # (~50 MB at sf0.1, corpus-chars-linear rows — the same bound the
        # gram shuffle itself carries), and measured SAFE where the
        # string form was not (caching the gram strings made repeated
        # substring_dup_winnowed executions progressively slower:
        # 13 → 25 → 30 s across three same-session reps vs a flat
        # ~7 s uncached — the hashed form is flat, with spans ~2× faster
        # than uncached). Consumers project the digest they need off the
        # shared frame; InMemoryTableScan prunes the other column.
        "hashed_grams": hashed_grams(load_table(spark, sf_dir, "documents")),
        # chunk+embed is the pandas-UDF stage both RAG queries share
        "chunk_embeddings": chunk_embeddings(load_table(spark, sf_dir, "documents")),
        # whole-doc embeddings: computed on BOTH branches of the
        # embedding-cosine dedup self-join unless cached
        "doc_embeddings": doc_embeddings(load_table(spark, sf_dir, "documents")),
        # the four MODALITY SIGNATURE frames (r17, VERDICT item 1): each is
        # the synthesize→decode→signature mapInPandas chain that the
        # standalone dedup queries AND both training-mix capstones rebuild —
        # the capstones re-synthesized every modality's assets per query.
        # Cached post-signature (corpus-row-sized ints: doc_id + hash
        # words), so one Python pass per suite covers 9 consumers:
        # dedup_{image_phash,image_delta,audio_fingerprint,video_frames,
        # video_offset,video_delta_offset,audio_offset},
        # training_mix_{multimodal,full} (+ stream_image_delta_dedup's
        # corpus side). Measured (this box, warm): 2.6 s to materialize all
        # four in parallel vs −17 s summed across those consumers
        # (capstones −3.2/−5.3 alone). At 100 TB this is the guide-§8
        # decide-on-small-rows discipline applied across queries: decode
        # once, share the signature proxy, never re-decode the payload.
        "image_dhash": image_dhash(
            synthesize_png_assets(load_table(spark, sf_dir, "documents"))
        ),
        "audio_fingerprint": audio_fingerprint(
            synthesize_audio_fp_assets(load_table(spark, sf_dir, "documents"))
        ),
        "video_frame_dhash": video_frame_dhash(
            synthesize_video_assets(load_table(spark, sf_dir, "documents"))
        ),
        "audio_frame_fingerprint": audio_frame_fingerprint(
            synthesize_audio_seq_assets(load_table(spark, sf_dir, "documents"))
        ),
    }
    # the inverted-index self-join the pair/clustering/graph queries
    # build on — cached UNFILTERED (r14) so thresholded consumers
    # substitute Filter(InMemoryRelation) and the contrastive-pair
    # miner (which needs below-threshold pairs too) hits the same entry.
    # Size measured at bench scale (r14 advice): 20.3 MB at sf0.1,
    # the largest entry but ~40% of a ~50 MB total against a 128 GiB
    # heap — no eviction pressure on the other shared stages. The
    # bound is structural, not lucky: jaccard_pairs' candidate set is
    # banded (shared-shingle pairs under the 0.5 max-df cap), so the
    # frame grows with true near-pair density, not the doc-pair
    # square. If a future corpus pushes this entry past ~10% of
    # storage memory, split it: a floor-filtered pair frame for the
    # thresholded consumers + a slim (doc_a, doc_b) frame for the
    # contrastive miner's anti-join fallback.
    pairs = jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=None)
    # the full-table banded MinHash signature frame: the corpus side of
    # every delta/crawl/stream dedup query (bands.filter(corp) =
    # Filter(InMemoryRelation)) plus the lsh/banded self-join tiers and
    # the recipes' text pair stage — ~11 suite consumers rebuild this
    # exact subplan (r16). 4 rows/doc of (long, int, string): tiny.
    bands = minhash_bands(load_table(spark, sf_dir, "documents"))
    # the VERIFIED MinHash-LSH pair frame at the suite threshold (r17):
    # dedup_minhash_lsh and all four training-mix recipes rebuild this
    # exact frame per query (~2-3 s each). minhash_lsh_neardup is one
    # lazy, checkpoint-free plan, so every later call with the same docs
    # and threshold is substituted by this entry with no branch in the
    # operator. Builds ON the bands and shingles entries, hence the
    # chain below. Pair-count-sized output (tiny by LSH design).
    lsh_pairs = minhash_lsh_neardup(
        load_table(spark, sf_dir, "documents"), threshold=0.7
    )
    cached = [*base.values(), pairs, bands, lsh_pairs]
    for df in cached:
        df.cache()
    # Materialize eagerly so queries only ever read memory — with
    # DEPENDENCY-DRIVEN overlap (r17; the r16 two-wave barriers cost the
    # driver-box setup ~9 s of serialization): every independent base
    # entry is submitted at once, and each derived entry starts the
    # moment the entries it builds ON are materialized — never before
    # (racing an unmaterialized upstream recomputes it per partition,
    # the r16 jaccard_pairs lesson: 6.4 s concurrent vs ~3 s after), and
    # never as a global barrier wave (pairs at ~4.7 s no longer gates
    # lsh_pairs behind it). Dependencies: jaccard_pairs ON doc_shingles;
    # minhash_bands ON doc_hashes; lsh_pairs ON bands + doc_shingles.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(base) + 2) as pool:
        futs = {name: pool.submit(df.count) for name, df in base.items()}

        def _pairs_chain():
            futs["doc_shingles"].result()
            pairs.count()

        def _lsh_chain():
            futs["doc_hashes"].result()
            bands.count()
            futs["doc_shingles"].result()
            lsh_pairs.count()

        chains = [pool.submit(_pairs_chain), pool.submit(_lsh_chain)]
        for f in [*futs.values(), *chains]:
            f.result()
    return cached


def uncache_all(cached: list[DataFrame]) -> None:
    for df in cached:
        df.unpersist()
