"""DSIR-style importance weighting for data selection (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

The third standard corpus-selection method, next to heuristic rules
(curation.py / textstats.py) and the trained classifier gate
(classifier.py): score every raw document by how much more likely its
hashed n-gram features are under a TARGET distribution (here: the
corpus's `lang='en'` slice stands in for "high-quality target domain")
than under the RAW distribution, then keep the top of the ranking.

    logratio(doc) = mean over its features f of
                    log( p_target(f) / p_raw(f) )

with add-one smoothing over ``N_BUCKETS`` hashed bigram buckets.  DSIR
resamples proportionally to exp(logratio); the deterministic ranking
(and a keep verdict at logratio > 0: "more target-like than raw-like")
is what a Spark pipeline materializes — the sampling coin is
``hash_sample``'s job and stays orthogonal.

Scale shape (mirrors classifier.py, zero collects / zero Python):
- one explode of (doc_id, bucket) bigram features,
- TWO bounded aggregations (target / raw bucket counts — each at most
  ``N_BUCKETS`` rows regardless of corpus size),
- totals as 1-row aggregates broadcast-cross-joined back (the scalar
  subquery shape),
- the ~1k-row log-ratio table joins the feature stream (AQE broadcasts
  it), then one doc_id partial-agg shuffle.

Feature hashing reuses the proven cross-engine md5 idiom, so the DuckDB
oracle recomputes every score exactly; like classifier.py, all literals
are CAST AS DOUBLE (DuckDB parses bare decimals as DECIMAL and its
exact arithmetic diverges from doubles).  Documents with fewer than two
words have no bigram feature and are excluded by construction.

Outside the driver's 50-query gate: the full value
oracle runs in tests/test_operators.py::TestDsir with the gate's own
compare, plus a pure-python recompute pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

N_BUCKETS = 1024
TARGET_LANG = "en"

# bigram -> bucket via the shared md5 idiom (classifier.py, textstats.py)
_WORDS = "filter(split(trim(regexp_replace(lower(text), '[^a-z]+', ' ')), ' '), w -> w <> '')"
# let-bound words (curation._GRAMS idiom): the raw _WORDS expression is a
# regexp + split + filter — re-evaluated TWICE PER BIGRAM when referenced
# inside the lambda; binding it once via the one-element transform makes
# bucket construction O(text_len + n_bigrams)
_BIGRAM_BUCKETS = (
    f"element_at(transform(array({_WORDS}), _wb -> "
    f"transform(sequence(1, size(_wb) - 1), i -> "
    f"cast(conv(substring(md5(concat(element_at(_wb, i), '_', "
    f"element_at(_wb, i + 1))), 1, 8), 16, 10) as bigint) % {N_BUCKETS})), 1)"
)


def _doc_feats(spark, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        "lang",
        F.explode(F.expr(_BIGRAM_BUCKETS)).alias("bucket"),
    )


def dsir_weights(spark, sf_dir: str) -> DataFrame:
    """(doc_id, n_feats, logratio, keep): per-document mean hashed-bigram
    log importance ratio target-vs-raw, keep = logratio > 0."""
    feats = _doc_feats(spark, sf_dir)
    raw = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("cr")
    )
    tgt = (
        feats.where(F.col("lang") == TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("ct"))
    )
    counts = raw.join(tgt, "bucket", "left").select(
        "bucket", "cr", F.coalesce("ct", F.lit(0.0)).alias("ct")
    )
    totals = counts.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.log(
            ((F.col("ct") + 1.0) * (F.col("tr") + float(N_BUCKETS)))
            / ((F.col("cr") + 1.0) * (F.col("tt") + float(N_BUCKETS)))
        ).alias("logratio_f"),
    )
    logratio = F.round(F.avg("logratio_f"), 5)
    return (
        feats.join(ratio, "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            logratio.alias("logratio"),
        )
        .select(
            "doc_id", "n_feats", "logratio", (F.col("logratio") > 0).alias("keep")
        )
    )


_WORDS_DUCK = (
    "list_filter(str_split(trim(regexp_replace(lower(text), '[^a-z]+', ' ', "
    "'g')), ' '), w -> w <> '')"
)

DSIR_WEIGHTS_ORACLE = f"""
WITH feats AS (
  SELECT doc_id, lang,
         (CAST(('0x' || substr(md5(w[i] || '_' || w[i + 1]), 1, 8)) AS BIGINT)
          % {N_BUCKETS}) AS bucket
  FROM (SELECT doc_id, lang, {_WORDS_DUCK} AS w FROM documents),
       LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)
),
raw_c AS (
  SELECT bucket, count(*)::DOUBLE AS cr FROM feats GROUP BY bucket
),
tgt_c AS (
  SELECT bucket, count(*)::DOUBLE AS ct FROM feats
  WHERE lang = '{TARGET_LANG}' GROUP BY bucket
),
counts AS (
  SELECT r.bucket, r.cr, coalesce(t.ct, CAST(0 AS DOUBLE)) AS ct
  FROM raw_c r LEFT JOIN tgt_c t USING (bucket)
),
totals AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM counts),
ratio AS (
  SELECT bucket,
         ln((ct + CAST(1 AS DOUBLE)) * (tr + CAST({N_BUCKETS} AS DOUBLE))
            / ((cr + CAST(1 AS DOUBLE)) * (tt + CAST({N_BUCKETS} AS DOUBLE))))
           AS logratio_f
  FROM counts, totals
)
SELECT doc_id, count(*)::BIGINT AS n_feats,
       round(avg(logratio_f), 5) AS logratio,
       (round(avg(logratio_f), 5) > 0) AS keep
FROM feats JOIN ratio USING (bucket)
GROUP BY doc_id
"""
