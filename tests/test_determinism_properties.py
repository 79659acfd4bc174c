"""Property-based tests (hypothesis) for the engine's determinism core.

The whole correctness story rests on one claim: decimal-routed float
aggregates are exact and therefore identical across partitionings, row
orders, and engines. These properties attack that claim with arbitrary
inputs rather than fixtures.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from yfinance_etl_spark.functions.scalar import dsum

#: money-magnitude floats with full fractional noise
money = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=64
)


@settings(max_examples=10, deadline=None)
@given(st.lists(money, min_size=1, max_size=60), st.integers(min_value=1, max_value=7))
def test_dsum_invariant_under_repartitioning(spark, xs, n_parts):
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    a = df.coalesce(1).agg(dsum("v").alias("s")).collect()[0].s
    b = df.repartition(n_parts).agg(dsum("v").alias("s")).collect()[0].s
    # bit-for-bit equal, not approx: the decimal route must kill order effects
    assert a == b


@settings(max_examples=10, deadline=None)
@given(st.lists(money, min_size=1, max_size=60))
def test_dsum_matches_exact_decimal_arithmetic(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    got = df.agg(dsum("v").alias("s")).collect()[0].s
    # the reference computation mirrors Spark's double→decimal conversion:
    # SHORTEST decimal representation (BigDecimal.valueOf == repr), then
    # HALF_UP quantization to scale 12, exact decimal sum, one final
    # rounding back to double. Decimal(x) (exact binary expansion) would
    # differ in the last ulp — hence repr(x).
    exact = sum(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-12), rounding=ROUND_HALF_UP)
        for x in xs
    )
    assert got == float(exact)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10_000), st.integers(min_value=1, max_value=500)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=6),
)
def test_pack_shards_invariant_under_partitioning(spark, rows, n_parts):
    # shard assignment must depend on KEY ORDER alone — never on how rows
    # arrive (the distributed prefix-sum's correctness claim)
    from yfinance_etl_spark.operators.sampling import pack_shards

    df = spark.createDataFrame(rows, "k bigint, w bigint")
    a = {
        r.k: r.shard_id
        for r in pack_shards(df, "w", "k", budget=700, num_ranges=n_parts).collect()
    }
    run, expect = 0, {}
    for k, w in sorted(rows):
        expect[k] = run // 700
        run += w
    assert a == expect


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=2, max_value=9))
def test_stratified_sample_membership_is_partition_free(spark, n_parts):
    from yfinance_etl_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(300)], "doc_id bigint, stratum string"
    )
    base = {r.doc_id for r in stratified_sample(df, "stratum", {"s0": 0.5}, "doc_id", 0.2).collect()}
    re = {
        r.doc_id
        for r in stratified_sample(
            df.repartition(n_parts), "stratum", {"s0": 0.5}, "doc_id", 0.2
        ).collect()
    }
    assert base == re


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=10))
def test_sentiment_hof_udf_agree_on_arbitrary_text(spark, texts):
    from yfinance_etl_spark.operators.sentiment import sentiment_score, sentiment_score_udf

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(
        sentiment_score("t").alias("hof"), sentiment_score_udf("t").alias("udf")
    ).collect()
    for r in rows:
        assert r.hof == r.udf


# --- dsum_r: decimal-space rounding of money-product sums -----------------
# The r7 tri-sf gate caught dividend_yield failing ONLY at sf0.1: a
# supplier's sum of price*discount landed exactly on the 2-dp half
# boundary, where (a) rounding after a double cast and (b) scale-12
# double→decimal conversion both split Spark from DuckDB. These tests pin
# the fixed helper cross-engine on exactly those shapes.

#: 2-decimal money and 2-decimal rates — their product has 4 decimals,
#: the shape that can land exactly on a 2-dp rounding boundary
cents = st.integers(min_value=0, max_value=10_000_000).map(lambda c: c / 100)
rate = st.integers(min_value=0, max_value=99).map(lambda c: c / 100)


def _duck_dsum_r(pairs):
    import duckdb

    from yfinance_etl_spark.plans import sqlfrag as S

    con = duckdb.connect()
    con.execute("CREATE TABLE t (p DOUBLE, d DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    return con.execute(f"SELECT {S.dsum_r('p * d')} FROM t").fetchone()[0]


def test_dsum_r_exact_half_boundary_matches_duckdb(spark):
    from yfinance_etl_spark.functions.scalar import dsum_r

    # constructed so the exact 4-dp sum ends in 5 at the 3rd decimal:
    # 3 * (1836.025 * 0.1) = 550.8075 → ROUND(…, 2) must give 550.81 in
    # BOTH engines (half-up == half-away-from-zero for positive sums);
    # the double of 550.8075 sits BELOW the boundary, which is exactly
    # where round-after-double-cast split the engines pre-fix
    pairs = [(1836.025, 0.1)] * 3
    df = spark.createDataFrame(pairs, "p double, d double")
    got = df.agg(dsum_r(F.col("p") * F.col("d")).alias("s")).collect()[0].s
    assert got == _duck_dsum_r(pairs) == 550.81


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(cents, rate), min_size=1, max_size=50))
def test_dsum_r_matches_duckdb_on_money_products(spark, pairs):
    from yfinance_etl_spark.functions.scalar import dsum_r

    df = spark.createDataFrame(pairs, "p double, d double")
    got = df.agg(dsum_r(F.col("p") * F.col("d")).alias("s")).collect()[0].s
    assert got == _duck_dsum_r(pairs)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5_000),
            st.text(
                alphabet=st.characters(
                    codec="utf-8",
                    categories=("Lu", "Ll", "Nd", "Zs"),
                    max_codepoint=0xFFFF,  # BMP, the engine-wide contract
                ),
                min_size=1,
                max_size=30,
            ),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=6),
)
def test_pack_documents_reconstructs_for_arbitrary_corpora(
    spark, rows, budget, n_parts
):
    """Property: for ANY (BMP) corpus, budget, and partition layout,
    pack_documents' output fully reconstructs — every shard's boundary
    offsets slice seq_text back into exactly the shard's documents in
    doc_id order, every doc appears exactly once across shards, and
    shard assignment is partitioning-invariant (the distributed
    prefix-sum claim)."""
    from yfinance_etl_spark.operators.sampling import pack_documents

    data = [(i, t, max(1, len(t.split()))) for i, t in rows]
    df = spark.createDataFrame(data, "doc_id bigint, text string, n_tokens int")
    out = {
        r.shard_id: r
        for r in pack_documents(df.repartition(n_parts), budget=budget).collect()
    }
    seen: list[str] = []
    for sid in sorted(out):
        r = out[sid]
        offs = [int(x) for x in r.boundaries.split("|")]
        assert r.n_docs == len(offs)
        docs = r.seq_text.split("\n\n") if r.seq_text else [""]
        # NOTE: a doc containing a literal blank line would break the
        # naive split; the generator's alphabet has no newlines, and the
        # reconstruction below uses OFFSETS, not the split, as truth
        pos = 0
        for k, off in enumerate(offs):
            assert off == pos
            end = offs[k + 1] - 2 if k + 1 < len(offs) else len(r.seq_text)
            seen.append(r.seq_text[off:end])
            pos = end + 2
    expected = [t for _, t in sorted(rows)]
    assert seen == expected
    # partitioning invariance
    single = {
        r.shard_id: (r.n_docs, r.seq_text, r.boundaries)
        for r in pack_documents(df.coalesce(1), budget=budget).collect()
    }
    assert single == {
        s: (r.n_docs, r.seq_text, r.boundaries) for s, r in out.items()
    }


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.text(alphabet=st.characters(codec="utf-8", max_codepoint=0xFFFF),
                     min_size=1, max_size=12),
             min_size=1, max_size=30, unique=True),
    st.data(),
    st.integers(min_value=64, max_value=4096),
)
def test_counting_bloom_invariants_for_arbitrary_insert_remove(spark, keys, data, bits):
    """For ARBITRARY key sets, removal subsets, and filter geometries
    (including collision-heavy 64-bit filters): the counter-conservation
    invariant Σcnt = n_present · n_hashes holds after any remove of an
    inserted subset, membership has zero false negatives on every
    still-present key, and removing EVERYTHING empties the table."""
    from pyspark.sql import functions as F

    from yfinance_etl_spark.operators.dedup import (
        counting_bloom_build,
        counting_bloom_member_keys,
        counting_bloom_remove,
    )

    retired = data.draw(st.lists(st.sampled_from(keys), unique=True,
                                 max_size=len(keys)))
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    rdf = spark.createDataFrame([(k,) for k in retired], "k string") \
        if retired else df.filter(F.lit(False))

    c0 = counting_bloom_build(df, "k", bits=bits)
    assert c0.agg(F.sum("cnt")).collect()[0][0] == len(keys) * 5
    c1 = counting_bloom_remove(c0, rdf, "k", bits=bits)
    present = set(keys) - set(retired)
    total = c1.agg(F.sum("cnt")).collect()[0][0]
    assert (total or 0) == len(present) * 5
    members = {
        r.k for r in counting_bloom_member_keys(df, "k", c1, bits=bits).collect()
    }
    assert present <= members  # no false negatives, any geometry
    if not present:
        assert c1.count() == 0 and members == set()


@settings(max_examples=4, deadline=None)
@given(st.integers(min_value=1, max_value=6))
def test_pq_training_invariant_under_partitioning(spark, n_parts):
    """PQ codebooks are a pure function of the data, not its layout: the
    same corpus repartitioned arbitrarily must train BIT-IDENTICAL
    codebooks (seeding is orderBy(vec_id).limit — deterministic under
    any partitioning; centroid recompute routes through decimal means on
    the shared 9dp grid) — the same invariance contract as dsum and
    pack_shards, on which the PQ oracle replay depends entirely."""
    from yfinance_etl_spark.operators.pq import pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = pq_train(emb)
    b = pq_train(emb.repartition(n_parts))
    assert a == b


@given(n_parts=st.sampled_from([1, 3, 16]))
@settings(max_examples=2, deadline=None)
def test_pagerank_invariant_under_partitioning(spark, n_parts):
    """PageRank is a pure function of the graph, not its layout: per-edge
    contributions quantize to 9 dp BEFORE the decimal(38,18) sum, so
    each round's aggregation is exact and order-insensitive — arbitrary
    repartitioning of the edge list must produce BIT-IDENTICAL ranks.
    The DuckDB oracle replay depends on exactly this invariance (a
    float-sum implementation would drift per partitioning AND per
    engine)."""
    from yfinance_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 23) for i in range(40) if i != (i * 7 + 3) % 23],
        "src bigint, dst bigint",
    )
    a = sorted(tuple(r) for r in pagerank(edges, iters=3).collect())
    b = sorted(
        tuple(r) for r in pagerank(edges.repartition(n_parts), iters=3).collect()
    )
    assert a == b and len(a) > 0


def test_modality_rows_invariant_under_python_fan_out(spark):
    """The Python stages' fan-out follows row count, so the same rows run
    as one Python task or as one per core depending on layout. Their
    output must not: 500 documents signatured in ONE task and forced to
    four partitions give identical dHash rows."""
    from yfinance_etl_spark.multimodal.columns import (
        image_dhash,
        synthesize_png_assets,
    )
    from yfinance_etl_spark.operators.partitioning import spread

    docs = spark.range(0, 500, 1, numPartitions=1).withColumnRenamed("id", "doc_id")
    assert spread(docs, python=True).rdd.getNumPartitions() == 1
    a, b = (
        sorted(tuple(r) for r in image_dhash(synthesize_png_assets(d)).collect())
        for d in (docs, docs.repartition(4))
    )
    assert a == b and len(a) == 500
