"""Corpus drift monitoring: token-distribution divergence between crawl
snapshots.

The operational question every recurring-crawl pipeline asks before
admitting a new snapshot into the training mix: did the token
distribution move?  (A parser regression, a spam wave, or a site-layout
shift all show up as unigram drift long before they show up in model
evals.)  Standard practice is an information-theoretic distance between
the new snapshot's smoothed unigram distribution and the previous one's
— Jensen-Shannon divergence is the symmetric, bounded choice.

    p(tok | snap) = (count + 1) / (total + |V|)        (add-one over the
                                                         global vocab)
    KL(p||q)      = Σ p ln(p/q)
    JS(p, q)      = ½ KL(p||m) + ½ KL(q||m),  m = (p+q)/2

Snapshots here are the deterministic fixture axis ``doc_id % N_SNAPS``
(the driver corpus carries no capture timestamp; a real deployment keys
on the crawl id) — the aggregation/smoothing/divergence pipeline is the
content, as with the graph fixtures.

Scale shape (100 TB per snapshot):
- per-snapshot token counts: ONE partial-aggregated shuffle of
  (snap, tok) pairs — the only relation proportional to corpus volume;
  document text never crosses an exchange.
- everything downstream is vocabulary-bounded: the dense
  (snap × vocab) smoothing grid, the adjacent-pair join, and the
  divergence sums are all ~|V| rows (10^7-10^8 at web scale, still
  shuffle-friendly); totals and |V| are 1-row broadcast aggregates.

No reference analog (the reference processes one folder of PDFs per
tick, `Worker.cs:45-56`); this is the batch-admission control a
web-scale successor needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

N_SNAPS = 4

_TOKS = "str_split(trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')), ' ')"


def _snap_tokens(spark, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " ")), " "
    )
    return (
        docs.select(
            F.concat(F.lit("snap"), (F.col("doc_id") % N_SNAPS)).alias("snap"),
            F.explode(toks).alias("tok"),
        )
        .where(F.col("tok") != "")
    )


def snapshot_drift(spark, sf_dir: str) -> DataFrame:
    """(snap_a, snap_b, n_tokens_a, n_tokens_b, kl_ab, kl_ba, js): unigram
    drift between adjacent crawl snapshots, add-one smoothed over the
    global vocabulary so absent tokens are well-defined."""
    st = _snap_tokens(spark, sf_dir)
    counts = st.groupBy("snap", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = counts.select("tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("double").alias("v"))
    totals = counts.groupBy("snap").agg(F.sum("c").cast("double").alias("total"))
    snaps = spark.range(N_SNAPS).select(
        F.concat(F.lit("snap"), F.col("id")).alias("snap")
    )
    # dense smoothing grid: every (snap, tok) cell, zero-count included
    grid = (
        snaps.crossJoin(vocab)
        .join(counts, ["snap", "tok"], "left")
        .join(totals, "snap")
        .crossJoin(F.broadcast(vsize))
        .select(
            "snap",
            "tok",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                / (F.col("total") + F.col("v"))
            ).alias("p"),
        )
    )
    pairs = spark.createDataFrame(
        [(f"snap{i}", f"snap{i + 1}") for i in range(N_SNAPS - 1)],
        "snap_a string, snap_b string",
    )
    joined = (
        F.broadcast(pairs)
        .join(grid.withColumnRenamed("snap", "snap_a"), "snap_a")
        .join(
            grid.select(
                F.col("snap").alias("snap_b"),
                "tok",
                F.col("p").alias("q"),
            ),
            ["snap_b", "tok"],
        )
    )
    m = (F.col("p") + F.col("q")) / F.lit(2.0)
    div = joined.groupBy("snap_a", "snap_b").agg(
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias(
            "kl_ab"
        ),
        F.round(F.sum(F.col("q") * F.log(F.col("q") / F.col("p"))), 6).alias(
            "kl_ba"
        ),
        F.round(
            F.lit(0.5) * F.sum(F.col("p") * F.log(F.col("p") / m))
            + F.lit(0.5) * F.sum(F.col("q") * F.log(F.col("q") / m)),
            6,
        ).alias("js"),
    )
    return (
        div.join(
            totals.select(
                F.col("snap").alias("snap_a"),
                F.col("total").cast("bigint").alias("n_tokens_a"),
            ),
            "snap_a",
        )
        .join(
            totals.select(
                F.col("snap").alias("snap_b"),
                F.col("total").cast("bigint").alias("n_tokens_b"),
            ),
            "snap_b",
        )
        .select(
            "snap_a", "snap_b", "n_tokens_a", "n_tokens_b",
            "kl_ab", "kl_ba", "js",
        )
    )


SNAPSHOT_DRIFT_ORACLE = f"""
WITH st AS (
  SELECT snap, tok FROM (
    SELECT 'snap' || (doc_id % {N_SNAPS}) AS snap,
           unnest({_TOKS}) AS tok
    FROM documents
  ) WHERE tok <> ''
),
counts AS (SELECT snap, tok, COUNT(*) AS c FROM st GROUP BY snap, tok),
vocab AS (SELECT DISTINCT tok FROM counts),
vsize AS (SELECT COUNT(*)::DOUBLE AS v FROM vocab),
totals AS (SELECT snap, SUM(c)::DOUBLE AS total FROM counts GROUP BY snap),
snaps AS (SELECT 'snap' || i AS snap FROM range({N_SNAPS}) AS r(i)),
grid AS (
  SELECT s.snap, vo.tok,
         (COALESCE(c.c, 0) + 1.0) / (t.total + vs.v) AS p
  FROM snaps s CROSS JOIN vocab vo
  LEFT JOIN counts c ON c.snap = s.snap AND c.tok = vo.tok
  JOIN totals t ON t.snap = s.snap
  CROSS JOIN vsize vs
),
pairs AS (
  SELECT 'snap' || i AS snap_a, 'snap' || (i + 1) AS snap_b
  FROM range({N_SNAPS - 1}) AS r(i)
),
joined AS (
  SELECT pr.snap_a, pr.snap_b, a.tok, a.p, b.p AS q
  FROM pairs pr
  JOIN grid a ON a.snap = pr.snap_a
  JOIN grid b ON b.snap = pr.snap_b AND b.tok = a.tok
),
div AS (
  SELECT snap_a, snap_b,
         round(SUM(p * ln(p / q)), 6) AS kl_ab,
         round(SUM(q * ln(q / p)), 6) AS kl_ba,
         round(0.5 * SUM(p * ln(p / ((p + q) / 2.0)))
             + 0.5 * SUM(q * ln(q / ((p + q) / 2.0))), 6) AS js
  FROM joined GROUP BY snap_a, snap_b
)
SELECT d.snap_a, d.snap_b,
       ta.total::BIGINT AS n_tokens_a, tb.total::BIGINT AS n_tokens_b,
       d.kl_ab, d.kl_ba, d.js
FROM div d
JOIN totals ta ON ta.snap = d.snap_a
JOIN totals tb ON tb.snap = d.snap_b
"""
