"""Passage chunking with stride/overlap (the retrieval-side complement
to sequence packing).

Embedding and RAG pipelines split every document into fixed-size token
windows with overlap before embedding; at corpus scale this must be a
NARROW transform — tokenize, compute window starts, explode — never a
shuffle (``pack_sequences`` is the training-side op that does need one
exchange for cross-doc placement; chunking is per-doc and needs none).

Spec (deterministic, mirrored verbatim in the DuckDB twin and in the
pure-python recompute in tests):

- tokens = the repo's shared whitespace tokenization,
- window starts = 0, STRIDE, 2·STRIDE, … while start < n_tokens,
- chunk i = tokens[start : start + CHUNK] (the tail chunk may be short),
- a non-first window is emitted only if it contributes at least one
  token the previous window did not cover (start < n_tokens - overlap);
  otherwise the tail window is a strict subset of its predecessor,
- empty chunks filtered (empty docs yield no rows),
- chunk_fp = md5 of the chunk text (the dedup/embedding join key).

Zero exchanges (plan-pinned): one explode inside the scan projection.
Not in the driver's 50-query gate — value-compared
against the DuckDB twin at sf0.001 in tests/test_operators.py::TestChunking,
same compare as the gate harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

CHUNK = 64  # tokens per passage
STRIDE = 48  # step between window starts (overlap = CHUNK - STRIDE)

_WORDS = "split(trim(regexp_replace(lower(text), '[^a-z]+', ' ')), ' ')"


def chunk_passages(spark, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_id, n_chunk_tokens, chunk_text, chunk_fp)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.expr(f"filter({_WORDS}, w -> w <> '')").alias("toks"),
    )
    exploded = toks.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(f"sequence(0, greatest(size(toks) - 1, 0), {STRIDE})")
        ).alias("start"),
    )
    overlap = CHUNK - STRIDE
    chunk = F.expr(f"slice(toks, start + 1, {CHUNK})")
    return (
        exploded.where(
            (F.col("start") == 0)
            | (F.col("start") < F.size("toks") - overlap)
        )
        .select(
            "doc_id",
            (F.col("start") / STRIDE).cast("bigint").alias("chunk_id"),
            F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .where(F.col("n_chunk_tokens") > 0)
        .withColumn("chunk_fp", F.md5("chunk_text"))
    )


CHUNK_PASSAGES_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(str_split(trim(regexp_replace(lower(text), '[^a-z]+',
                     ' ', 'g')), ' '), w -> w <> '') AS toks
  FROM documents
)
SELECT doc_id,
       (start / {STRIDE})::BIGINT AS chunk_id,
       len(toks[start + 1 : start + {CHUNK}])::BIGINT AS n_chunk_tokens,
       array_to_string(toks[start + 1 : start + {CHUNK}], ' ') AS chunk_text,
       md5(array_to_string(toks[start + 1 : start + {CHUNK}], ' ')) AS chunk_fp
FROM toks,
     LATERAL unnest(generate_series(0, greatest(len(toks) - 1, 0), {STRIDE}))
       AS t(start)
WHERE (start = 0 OR start < len(toks) - {CHUNK - STRIDE})
  AND len(toks[start + 1 : start + {CHUNK}]) > 0
"""
