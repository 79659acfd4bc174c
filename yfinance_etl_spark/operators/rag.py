"""RAG pipeline — SURVEY.md §2.9 L3+L5+L7+L8 (+L4 mock, F13 prompt concat).

The reference's retrieval-QA flow (pdf_rag_chatbot.py:218-257): split PDF
text into 800/100 chunks → embed (Bedrock Titan) → FAISS index →
``as_retriever(k)`` top-k per question → stuff prompt → LLM answer. The
engine re-expresses every stage on DataFrames so the whole pipeline is one
lazy plan over the documents table:

    chunk (text.chunk_text HOF) → embed → broadcast questions →
    cosine top-k per question (L7; the question crossJoin IS the L8
    fan-out) → prompt concat (F13) → completion UDF (L4, mocked)

Embeddings are a deterministic 16-dim hashed bag-of-words (dim = value of
the first hex char of md5(token)): a stand-in with real embedding *shape*
(array<double>, cosine geometry) that both Spark and DuckDB can compute
bit-identically — which makes even the retrieval ranks oracle-checkable.
The production swap-in is a real model behind the same ``embed_udf``
signature (Arrow-batched pandas UDF), exactly like the reference swaps
Titan behind LangChain's Embeddings interface.

L4: the completion UDF is DELIBERATELY a deterministic mock (the
reference's Bedrock invoke_model is an external paid service); the Spark
surface — prompt column in, answer column out, Arrow batches — is the real
interface a production LLM UDF would implement.

Scale: chunks/embeddings are a narrow map over the documents scan;
questions broadcast (they are always tiny); scoring is JVM HOF arithmetic;
the only shuffle is the per-question top-k window, partitioned by qid.
The brute-force scoring here is the exactness baseline — the bucketed ANN
path (similarity.ann_bucketed_topk) is the 100 TB route.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StringType

from yfinance_etl_spark.catalog import local_frame
from yfinance_etl_spark.operators.similarity import cosine
from yfinance_etl_spark.operators.partitioning import spread as _spread
from yfinance_etl_spark.operators.text import chunk_text

EMBED_DIM = 16

#: the L8 question set (reference iterates user questions one FAISS query
#: at a time; here they fan out as one broadcast dimension)
QUESTIONS = [
    (0, "fast value growth"),
    (1, "slow query risk"),
    (2, "table scan merge join"),
]


def hash_embed(c: Column | str) -> Column:
    """L5 embedding as a pure Catalyst expression: 16-dim hashed
    bag-of-words counts (dim = first md5 hex char of the token).

    NULL text embeds to NULL, matching the ``embed_udf`` twin: without the
    guard, ``size(NULL)`` under ANSI is NULL per element, so a NULL doc
    produced a NON-null array of 16 NULLs — junk that entered top-k
    windows whenever a bucket ran short of real candidates, and broke the
    unit-tested twin equivalence on exactly the input class it exists
    to pin."""
    c = F.col(c) if isinstance(c, str) else c
    toks = F.filter(F.split(c, " "), lambda x: F.length(x) > 0)
    dims = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 1), 16, 10).cast("int"))
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
        lambda d: F.size(F.filter(dims, lambda x: x == d)).cast("double"),
    )
    return F.when(c.isNotNull(), arr)


@F.pandas_udf(ArrayType(DoubleType()))
def embed_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched pandas-UDF twin of ``hash_embed`` — the slot a real
    embedding model plugs into (unit-tested equal to the HOF)."""

    def emb(t):
        if t is None:
            return None
        v = [0.0] * EMBED_DIM
        for w in t.split(" "):
            if w:
                v[int(hashlib.md5(w.encode()).hexdigest()[0], 16)] += 1.0
        return v

    return texts.map(emb)


@F.pandas_udf(StringType())
def mock_completion_udf(prompts: pd.Series) -> pd.Series:
    """L4 completion interface, deterministically mocked: echoes the head of
    the prompt plus its length (oracle: '[mock] ' || substr(p,1,40) || ' #'
    || length(p))."""
    return prompts.map(lambda p: None if p is None else f"[mock] {p[:40]} #{len(p)}")


def doc_embeddings(docs: DataFrame) -> DataFrame:
    """Whole-document embeddings (doc_id, embedding) — shared by the
    embedding-cosine dedup path; cached once per suite (cache.py)."""
    return _spread(docs).select("doc_id", hash_embed("text").alias("embedding"))


def chunk_embeddings(docs: DataFrame, size: int = 200, overlap: int = 50) -> DataFrame:
    """L3+L5: explode documents into chunks and embed each chunk."""
    return _spread(docs).select(
        "doc_id", F.explode(chunk_text("text", size=size, overlap=overlap)).alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk").alias("chunk"),
        embed_udf(F.col("c.chunk")).alias("emb"),
    )


def questions_df(spark: SparkSession) -> DataFrame:
    q = local_frame(spark, QUESTIONS, "qid int, question string")
    return q.select("qid", "question", hash_embed("question").alias("q_emb"))


def retrieve_topk(chunks: DataFrame, questions: DataFrame, k: int = 3) -> DataFrame:
    """L7 retriever: exact cosine top-k chunks per question; scores rounded
    before ranking, ties broken on (doc_id, chunk_id) — cross-engine stable."""
    scored = chunks.crossJoin(F.broadcast(questions)).select(
        "qid",
        "question",
        "doc_id",
        "chunk_id",
        "chunk",
        F.round(cosine(F.col("q_emb"), F.col("emb")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("cos_sim"), F.asc("doc_id"), F.asc("chunk_id")
    )
    return scored.withColumn("rag_rank", F.row_number().over(w)).filter(
        F.col("rag_rank") <= k
    )


def answer(retrieved: DataFrame) -> DataFrame:
    """F13+L4: stuff the ranked context into a prompt and complete it."""
    prompts = retrieved.groupBy("qid", "question").agg(
        F.count(F.lit(1)).alias("n_ctx"),
        F.concat(
            F.lit("Context:\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rag_rank", "chunk"))),
                    lambda x: x["chunk"],
                ),
                "\n---\n",
            ),
            F.lit("\nQuestion: "),
            F.col("question"),
            F.lit("\nAnswer:"),
        ).alias("prompt"),
    )
    return prompts.select(
        "qid",
        "question",
        "n_ctx",
        F.length("prompt").alias("prompt_len"),
        mock_completion_udf(F.col("prompt")).alias("answer"),
    )
