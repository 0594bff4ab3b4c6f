"""Skew-aware repartitioning (SURVEY.md §4.2 "skew handling").

Common-Crawl url distributions are Zipfian by host — one heavy host can
own 30%+ of a partition range's rows (FIXTURES.md §1 bakes exactly that
in).  AQE splits skewed *join/agg* shuffle partitions, but NOT the input
to a black-box mapInArrow stage, so we handle it ourselves:

1. diagnose: count rows per host (one cheap shuffle over a tiny projection);
2. compute a salt fan-out per heavy host (ceil(count / target));
3. repartition on ``xxhash64(url, salt)`` where salt in [0, fanout) —
   per-url extraction is independent, so salting is trivially correct.

``salted_repartition`` is also correct with no diagnosis (uniform hash on
url): because the partitioner key is the *unique* url, rows spread evenly
regardless of host skew.  Host salting matters when downstream wants
host-locality (e.g. politeness batching or per-host dedup); we keep host
as the base key and salt only the heavy ones so everything else stays
co-located.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def host_expr(url_col: str = "url"):
    """Registrable host extraction: 'https://host/...' -> host (pure SQL,
    no UDF — stays in codegen)."""
    return F.parse_url(F.col(url_col), F.lit("HOST"))


# One extraction task's target row count: hosts above it get salted.
ROWS_PER_TASK = 50_000


def _host_counts(pages_df):
    """Rows per host.  Partial (map-side) aggregation applies — the
    shuffle carries one row per (partition, host), not per url."""
    return pages_df.select(host_expr().alias("host")).groupBy("host").count()


def host_frequencies(pages_df):
    """Diagnostic aggregation: rows per host, heaviest first."""
    return _host_counts(pages_df).orderBy(F.desc("count"))


def salt_plan(pages_df, rows_per_task: int = ROWS_PER_TASK) -> dict[str, int]:
    """host -> salt fan-out for hosts whose row count exceeds one task's
    target.  The filter runs before the collect, so only heavy hosts
    reach the driver — a tiny dict, broadcast by value into the salting
    expression."""
    heavy = _host_counts(pages_df).filter(F.col("count") > rows_per_task)
    return {
        r["host"]: -(-r["count"] // rows_per_task)  # ceil div
        for r in heavy.collect()
    }


def salted_repartition(pages_df, num_partitions: int, plan: dict[str, int] | None = None):
    """Repartition for the extraction stage.

    key = (host, salt): salt = xxhash64(url) % fanout for heavy hosts
    (fanout from ``plan``), 0 otherwise.  With plan=None every host gets
    fanout=1 — uniform-by-host partitioning.  For pure extraction we
    default to hashing the unique url directly (perfectly uniform, no
    diagnosis pass needed).
    """
    if plan:
        host = host_expr()
        fanout = F.lit(1)
        # Build a CASE WHEN chain from the (small) heavy-host dict.
        for h, k in plan.items():
            fanout = F.when(host == F.lit(h), F.lit(int(k))).otherwise(fanout)
        salt = F.pmod(F.xxhash64("url"), fanout)
        return pages_df.repartition(num_partitions, host, salt)
    return pages_df.repartition(num_partitions, F.xxhash64("url"))
