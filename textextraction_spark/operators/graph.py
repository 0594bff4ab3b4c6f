"""Host-level link-graph operators for crawl curation: out-link edge
extraction, host→host edge aggregation, and iterative PageRank.

Why this belongs in a web-text pipeline: host-level centrality is a
standard crawl-prioritization / quality signal (Common Crawl publishes a
host-level web graph and its harmonic-centrality ranks; CCNet-style
curation buckets by domain reputation).  The reference service has no
graph surface (it is a document-at-a-time extractor, `Worker.cs:96-200`),
so this is part of the beyond-reference training-data suite the task
brief asks for.

Scale shape (10^12 pages → ~10^8 hosts):
- The 100 TB-scale step is ``host_edges``: one pruned scan of the pages
  table (doc_id only), a narrow per-doc out-link projection (no UDF, no
  shuffle), then ONE partial-aggregated shuffle to (src, dst) weighted
  edges.  The edge table is bounded by host-pair cardinality, orders of
  magnitude smaller than the input.
- PageRank then iterates on the EDGE table only: per iteration one
  shuffle join (rank ⋈ edges on src) + one aggregation (contributions by
  dst) + one left join back to the node list.  Ranks/edges never touch
  the raw pages again.  At 10^8 hosts each iteration is a modest
  fixed-size shuffle; iteration count is a constant (default 5).
- No collect, no driver-side loops over data: the Python ``for`` loop
  builds a 5-deep lazy plan, Spark executes it as one job.  For much
  deeper iteration counts, checkpoint/localCheckpoint every ~10 rounds
  would bound lineage growth (documented, not needed at K=5).

Out-link fixture: the synthetic pages carry only same-host relative
links (sources/pages.py shells), so cross-host edges are synthesized by
a deterministic shared-dialect formula from doc_id: the FIXTURE
is synthetic, the operator pipeline (edge aggregation, degree
normalization, rank iteration) is the real content and is recomputed
end-to-end by the DuckDB oracle below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Host of a document — same formula as sources/pages.py::URL_SQL, minus
# the scheme/path (valid in both Spark SQL and DuckDB).
SRC_HOST_SQL = (
    "CASE WHEN doc_id % 100 < 30 THEN 'heavy.example.com' "
    "ELSE 'h' || CAST(doc_id % 20 AS STRING) || '.example.com' END"
)

N_OUTLINKS = 3  # out-links per document (fixture fan-out)
DAMPING = 0.85
N_ITER = 5


def dst_host_sql(j: int) -> str:
    """Deterministic cross-host out-link j of a document (shared
    Spark/DuckDB dialect).  Mixes doc_id so every host both links and is
    linked-to; the heavy host draws extra in-links (hub shape)."""
    return (
        f"CASE WHEN (doc_id + {j}) % 7 = 0 THEN 'heavy.example.com' "
        f"ELSE 'h' || CAST((doc_id * 3 + {j} * 5) % 20 AS STRING) "
        "|| '.example.com' END"
    )


def _docs(spark, sf_dir: str):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ----------------------------------------------------------- edge builder
def host_edges(spark, sf_dir: str) -> DataFrame:
    """Weighted host→host edge list: (src, dst, w).

    One scan (pruned to doc_id), explode of a 3-element array (narrow),
    self-loop filter, then a single partial-aggregated shuffle.  This is
    the only step that touches per-document rows.
    """
    docs = _docs(spark, sf_dir)
    dsts = F.array(*[F.expr(dst_host_sql(j)) for j in range(N_OUTLINKS)])
    return (
        docs.select(
            F.expr(SRC_HOST_SQL).alias("src"),
            F.explode(dsts).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _edges_sql() -> str:
    """DuckDB twin of host_edges (UNION ALL unrolls the explode)."""
    parts = " UNION ALL ".join(
        f"SELECT ({SRC_HOST_SQL}) AS src, ({dst_host_sql(j)}) AS dst "
        "FROM documents"
        for j in range(N_OUTLINKS)
    )
    return (
        f"SELECT src, dst, COUNT(*) AS w FROM ({parts}) WHERE src <> dst "
        "GROUP BY src, dst"
    )


HOST_EDGES_ORACLE = _edges_sql()


# --------------------------------------------------------------- PageRank
def pagerank(edges: DataFrame, damping: float = DAMPING, n_iter: int = N_ITER) -> DataFrame:
    """Iterative weighted PageRank over an (src, dst, w) edge DataFrame.

    Returns (host, rank) for every node appearing as src or dst.  Uses
    the standard simplified update (no dangling-mass redistribution —
    every fixture host has out-links; a production variant would fold
    the dangling sum back in, one extra scalar agg per iteration):

        rank' = (1-d)/N + d * Σ_in rank_src * w / outdeg_src

    The loop builds a lazy K-deep plan; each round is one join + one
    agg + one node-list left join, all keyed on host.
    """
    # Materialize the graph before iterating AND truncate its lineage
    # (localCheckpoint, same device as dedup_clusters): without
    # materialization every iteration's plan re-derives edges from the
    # RAW source (measured: 78 exchanges and five re-scans of the input
    # for K=5) — at 100 TB that re-scan per iteration is the whole
    # cost.  Plain persist() materializes too but keeps the lineage,
    # and Spark's cache manager then rewrites every later chain against
    # the nested InMemoryRelations, so the printed plan (and the
    # shuffle-budget pin) grows without bound across a session;
    # checkpointing leaves each iteration reading a flat scan of the
    # materialized host-level graph (~10^8 rows).  On a real cluster
    # this becomes reliable checkpoint() to the cluster FS.
    edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    # N is a scalar: 1-row agg cross-joined (broadcast of one row), so
    # nothing is collected to the driver.
    n_row = nodes.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))
    nodes = nodes.crossJoin(F.broadcast(n_row)).localCheckpoint()

    outdeg = edges.groupBy("src").agg(F.sum("w").alias("outdeg"))
    # edge weight normalized once, reused every iteration
    norm_edges = (
        edges.join(outdeg, "src")
        .select("src", "dst", (F.col("w") / F.col("outdeg")).alias("p"))
        .localCheckpoint()
    )

    ranks = nodes.select(
        "host", "n_nodes", (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    for _ in range(n_iter):
        contribs = (
            norm_edges.join(
                ranks.select(F.col("host").alias("src"), "rank"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes.host == contribs.dst, "left")
            .select(
                "host",
                "n_nodes",
                (
                    (1.0 - damping) / F.col("n_nodes")
                    + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("host", "rank")


# One PageRank chain per (session, sf_dir) — same memo pattern as
# clustering._shared_assignment (round-4 advice): pagerank() persists
# its edge/node/normalized-edge tables, so repeated gate runs in one
# session must reuse ONE chain instead of stacking cached DataFrames;
# the memo also keeps the PRINTED plan stable (a re-built chain gets
# rewritten against the first call's InMemoryRelations, tripling the
# static exchange count the shuffle-budget test pins).
_PAGERANK_CACHE: dict[tuple[str, str], DataFrame] = {}


def host_pagerank(spark, sf_dir: str) -> DataFrame:
    """Gatable query: PageRank over the host graph, rank rounded for the
    driver's value hash (float summation order differs between engines
    only below 1e-12 at 21 nodes; round(…,6) absorbs it)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _PAGERANK_CACHE.get(key)
    if cached is not None:
        return cached
    for k in [k for k in _PAGERANK_CACHE if k[0] != key[0]]:
        _PAGERANK_CACHE.pop(k)
    ranks = pagerank(host_edges(spark, sf_dir)).select(
        "host", F.round("rank", 6).alias("rank")
    )
    _PAGERANK_CACHE[key] = ranks
    return ranks


def _pagerank_sql() -> str:
    """Unrolled K-iteration PageRank twin (same update formula)."""
    d = DAMPING
    sql = f"""
WITH edges AS ({HOST_EDGES_ORACLE}),
nodes AS (
  SELECT DISTINCT host FROM (
    SELECT src AS host FROM edges UNION SELECT dst FROM edges)
),
nn AS (SELECT COUNT(*)::DOUBLE AS n_nodes FROM nodes),
outdeg AS (SELECT src, SUM(w) AS outdeg FROM edges GROUP BY src),
norm_edges AS (
  SELECT e.src, e.dst, e.w / o.outdeg AS p
  FROM edges e JOIN outdeg o ON e.src = o.src
),
r0 AS (SELECT host, 1.0 / n_nodes AS rank FROM nodes, nn)
"""
    prev = "r0"
    for i in range(1, N_ITER + 1):
        sql += f""",
c{i} AS (
  SELECT ne.dst, SUM(r.rank * ne.p) AS contrib
  FROM norm_edges ne JOIN {prev} r ON ne.src = r.host
  GROUP BY ne.dst
),
r{i} AS (
  SELECT n.host,
         (1.0 - {d}) / nn.n_nodes + {d} * COALESCE(c.contrib, 0.0) AS rank
  FROM nodes n CROSS JOIN nn LEFT JOIN c{i} c ON n.host = c.dst
)
"""
        prev = f"r{i}"
    sql += f"SELECT host, ROUND(rank, 6) AS rank FROM {prev}"
    return sql


HOST_PAGERANK_ORACLE = _pagerank_sql()


# -------------------------------------------------- degree/reach profile
def host_graph_profile(spark, sf_dir: str) -> DataFrame:
    """Per-host degree profile: weighted in/out degree and distinct
    neighbor counts — the cheap (single-pass) centrality signals used
    for crawl scheduling before anything iterative runs."""
    edges = host_edges(spark, sf_dir)
    out_side = edges.groupBy(F.col("src").alias("host")).agg(
        F.sum("w").alias("out_w"),
        F.count(F.lit(1)).alias("out_hosts"),
    )
    in_side = edges.groupBy(F.col("dst").alias("host")).agg(
        F.sum("w").alias("in_w"),
        F.count(F.lit(1)).alias("in_hosts"),
    )
    return (
        out_side.join(in_side, "host", "outer")
        .select(
            "host",
            F.coalesce("out_w", F.lit(0)).alias("out_w"),
            F.coalesce("out_hosts", F.lit(0)).cast("bigint").alias("out_hosts"),
            F.coalesce("in_w", F.lit(0)).alias("in_w"),
            F.coalesce("in_hosts", F.lit(0)).cast("bigint").alias("in_hosts"),
        )
    )


HOST_GRAPH_PROFILE_ORACLE = f"""
WITH edges AS ({HOST_EDGES_ORACLE}),
o AS (SELECT src AS host, SUM(w) AS out_w, COUNT(*) AS out_hosts
      FROM edges GROUP BY src),
i AS (SELECT dst AS host, SUM(w) AS in_w, COUNT(*) AS in_hosts
      FROM edges GROUP BY dst)
SELECT COALESCE(o.host, i.host) AS host,
       COALESCE(out_w, 0) AS out_w,
       COALESCE(out_hosts, 0)::BIGINT AS out_hosts,
       COALESCE(in_w, 0) AS in_w,
       COALESCE(in_hosts, 0)::BIGINT AS in_hosts
FROM o FULL OUTER JOIN i ON o.host = i.host
"""


# ------------------------------------------------- anchor-text corpus
# Real link extraction (companion to the synthetic edge fixture above):
# anchor-text corpora from crawl html are standard training data for
# retrieval/query-document models, and per-target anchor aggregation is
# the classic web-graph text signal.
ANCHOR_RE = "<a href=([^>]*)>([^<]*)</a>"
# families stored as plain UTF-8 html; pdf (0), gzip (13), BOM (14) and
# legacy-charset (17, 18) transport families are excluded — production
# runs anchor mining AFTER the charset layer has materialized decoded
# html, which these fixtures reach only through the extraction kernel
_ANCHOR_FAMILIES = "(0, 13, 14, 17, 18)"


def anchor_corpus(spark, sf_dir: str) -> DataFrame:
    """(host, href, anchor, n): anchor texts mined from the REAL stored
    html bytes, aggregated per source host and link target.

    Shape: pruned scan → narrow decode + two-group regexp (JVM codegen,
    zip'd so href/anchor stay paired) → explode → ONE partial-aggregated
    shuffle.  The html bytes never cross an exchange — only
    (host, href, anchor) triples do.
    """
    from textextraction_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir)
    did = F.regexp_extract("url", r"/d/(\d+)$", 1).cast("bigint")
    entries = (
        pages.withColumn("_id", did)
        .where(~F.expr(f"_id % 20 in {_ANCHOR_FAMILIES}"))
        .select(
            F.regexp_extract("url", "https://([^/]+)/", 1).alias("host"),
            F.explode(
                F.arrays_zip(
                    F.expr(
                        f"regexp_extract_all(decode(html, 'UTF-8'), '{ANCHOR_RE}', 1)"
                    ).alias("href"),
                    F.expr(
                        f"regexp_extract_all(decode(html, 'UTF-8'), '{ANCHOR_RE}', 2)"
                    ).alias("anchor"),
                )
            ).alias("z"),
        )
        .select("host", F.col("z.href").alias("href"), F.col("z.anchor").alias("anchor"))
    )
    return entries.groupBy("host", "href", "anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def _anchor_oracle() -> str:
    from textextraction_spark.sources.pages import html_str_sql

    return f"""
WITH pages AS (
  SELECT doc_id, {html_str_sql('duckdb')} AS page FROM documents
  WHERE doc_id % 20 NOT IN {_ANCHOR_FAMILIES}
),
entries AS (
  SELECT ({SRC_HOST_SQL}) AS host,
         unnest(list_zip(regexp_extract_all(page, '{ANCHOR_RE}', 1),
                         regexp_extract_all(page, '{ANCHOR_RE}', 2))) AS z
  FROM pages
)
SELECT host, z[1] AS href, z[2] AS anchor, COUNT(*)::BIGINT AS n
FROM entries GROUP BY 1, 2, 3
"""


ANCHOR_CORPUS_ORACLE = _anchor_oracle()
