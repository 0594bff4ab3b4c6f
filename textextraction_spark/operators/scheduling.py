"""Grouped-map operator: per-host crawl-politeness scheduling via
``applyInPandas`` (the batch grouped-map surface).

Semantics: fetches arrive per host at ``ts``; each fetch may START no
earlier than ``MIN_DELAY`` after the previous fetch's start —

    start_n = max(ts_n, start_{n-1} + d)        (recurrence, imperative)

The recurrence looks sequential, but has the closed form

    start_n = n*d + max_{i<=n}(ts_i - i*d)      (prefix max — pure SQL!)

so the DuckDB oracle reconstructs the exact integer-microsecond output of
the python loop with one window function.  That closed form is also the
pure-relational twin a 100 TB run would prefer (running max over a
window — no python at all); the applyInPandas version is kept as the
grouped-map reference implementation and the oracle proves them equal.

Scale notes (round 2): the WINDOW form is the default engine path — pure
JVM, streams each host partition without materializing it, so a
pathological hot host with 10^8 fetches cannot OOM an executor.  The
``applyInPandas`` form is kept as the grouped-map reference surface
(and is itself oracle-gated): it materializes each group as one pandas
DataFrame, which is exactly the hot-host hazard the default avoids.
Both share one shuffle on the group key and one oracle — the closed form
proves the recurrence and the window are the same function.

(The reference has no scheduling logic — its poll loop is sequential by
construction, ``Worker.cs:45-56``; this operator is part of the
beyond-reference crawl-pipeline suite.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

MIN_DELAY_US = 10_000_000  # 10 s between fetch starts per host


def _schedule_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sequential recurrence over one host's fetches (sorted arrival)."""
    pdf = pdf.sort_values(["tus", "event_id"])
    starts = []
    prev = None
    for tus in pdf["tus"].values:
        start = int(tus) if prev is None else max(int(tus), prev + MIN_DELAY_US)
        starts.append(start)
        prev = start
    out = pdf.copy()
    out["delay_us"] = [s - int(t) for s, t in zip(starts, pdf["tus"].values)]
    return out[["user_id", "event_id", "delay_us"]]


def _events(spark, sf_dir: str):
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )


def politeness_schedule(spark, sf_dir: str):
    """events (user_id standing in for host) -> per-fetch start delay in
    exact integer microseconds.  DEFAULT = the closed-form window plan:

        start_n = n*d + max_{i<=n}(ts_i - i*d)

    one shuffle on user_id, pure JVM window (running max over an ordered
    frame), no grouped-map materialization — the hot-host-safe path."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    # two window passes over the SAME (partition, order) spec -> one
    # exchange + one sort; windows cannot nest in a single expression
    numbered = ev.withColumn("rn", F.row_number().over(w))
    m = F.max(F.col("tus") - F.col("rn") * F.lit(MIN_DELAY_US)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return numbered.select(
        "user_id",
        "event_id",
        (m + F.col("rn") * F.lit(MIN_DELAY_US) - F.col("tus"))
        .cast("bigint")
        .alias("delay_us"),
    )


def politeness_schedule_grouped(spark, sf_dir: str):
    """The same operator on the batch grouped-map surface
    (``applyInPandas`` running the imperative recurrence) — the reference
    implementation the window form is proven equal to.  Materializes each
    host group in pandas: fine for bounded groups, NOT the default (a
    10^8-fetch hot host lands in one executor's memory)."""
    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    return _events(spark, sf_dir).groupBy("user_id").applyInPandas(
        _schedule_group, schema="user_id long, event_id long, delay_us long"
    )


# ---- gated composite (round 3): both surfaces in one driver-gate row ----
def politeness_both(spark, sf_dir: str):
    """The closed-form window plan AND the applyInPandas grouped-map
    reference implementation, union-tagged by ``impl`` — one gated row
    proving both surfaces produce the identical schedule (the oracle is
    the closed form evaluated twice)."""
    win = politeness_schedule(spark, sf_dir).select(
        F.lit("window").alias("impl"), "user_id", "event_id", "delay_us"
    )
    grp = politeness_schedule_grouped(spark, sf_dir).select(
        F.lit("grouped").alias("impl"), "user_id", "event_id", "delay_us"
    )
    return win.unionByName(grp)


POLITENESS_ORACLE = f"""
WITH numbered AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS tus,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), seq AS (
  SELECT user_id, event_id, tus, rn,
         max(tus - rn * {MIN_DELAY_US}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
         ) AS m
  FROM numbered
)
SELECT user_id, event_id,
       (m + rn * {MIN_DELAY_US} - tus)::BIGINT AS delay_us
FROM seq
"""

POLITENESS_BOTH_ORACLE = f"""
SELECT 'window' AS impl, * FROM ({POLITENESS_ORACLE})
UNION ALL
SELECT 'grouped' AS impl, * FROM ({POLITENESS_ORACLE})
"""


# --------------------------------------------------------------- robots.txt
# RFC 9309 (Robots Exclusion Protocol) filtering — the gate between a
# crawl frontier and the fetcher.  FULLY RELATIONAL on both engines: the
# robots.txt parse (line split -> User-agent group attribution -> rule
# extraction) and the match (longest-path rule wins, Allow wins ties,
# no matching rule = allowed) are plain DataFrame/SQL ops — no UDF, no
# python in the loop.  Scope: the FULL RFC 9309 pattern grammar for the
# ``User-agent: *`` group — prefix rules plus the §2.2.3 special
# characters (``*`` any-sequence, trailing ``$`` end-anchor), compiled
# to anchored regexes JVM-side (``rlike`` inside the match lambda; the
# only regex metachar escaped is ``.``, the only one url paths carry);
# other agent groups are correctly attributed and ignored, empty
# patterns match nothing (per the RFC).
#
# 100 TB shape: rules live per HOST (tiny: one robots.txt per domain),
# collapse to one array<struct> row per host, and broadcast onto the
# frontier — the trillion-row url side stays shuffle-free (the only
# exchanges belong to the 21-row robots derivation).  Longest-match is
# evaluated per url with array functions (filter + array_max over
# (len, allow) structs — struct comparison is lexicographic), so no
# per-url window, no per-url shuffle.
#
# (The reference crawls nothing — its input folder is local; this is
# part of the beyond-reference crawl-pipeline suite.  Outside the full
# 50-query driver gate; full DuckDB value oracle in
# tests/test_operators.py::TestRobots.)

# Deterministic robots.txt per host, shared-dialect SQL (digit derives
# from the host-string length so every engine reconstructs it):
#   User-agent: googlebot   Disallow: /          (must be IGNORED)
#   User-agent: *
#   User-agent: bingbot     <- STACKED group (RFC 9309 §2.2.1): the
#                              rules below belong to BOTH agents — an
#                              implementation that attributes them only
#                              to the last declaration loses the whole
#                              '*' group and allows everything
#                           Disallow: /d/<digit>
#                           Allow: /d/<digit><digit>   (longest wins)
#                           Disallow:                  (empty: no-op)
_ROBOTS_TXT_SQL = (
    # the googlebot group's Crawl-delay is a DECOY: star-group
    # attribution must ignore it (crawl_delay_schedule pins this)
    "'User-agent: googlebot' || chr(10) || 'Disallow: /' || chr(10) || "
    "'Crawl-delay: 99' || chr(10) || "
    "chr(10) || 'User-agent: *' || chr(10) || 'User-agent: bingbot' || chr(10) || "
    "'Disallow: /d/' || CAST(length(host) % 10 AS STRING) || chr(10) || "
    "'Allow: /d/' || CAST(length(host) % 10 AS STRING) "
    "|| CAST(length(host) % 10 AS STRING) || chr(10) || "
    # RFC 9309 §2.2.3 wildcards: any /d/ path ENDING in the digit is
    # blocked (*/$), unless it ends in the doubled digit (longer
    # pattern wins — 9 octets vs 7)
    "'Disallow: /d/*' || CAST(length(host) % 10 AS STRING) || '$' || chr(10) || "
    "'Allow: /d/*' || CAST(length(host) % 10 AS STRING) "
    "|| CAST(length(host) % 10 AS STRING) || '$' || chr(10) || "
    # Crawl-delay (the de-facto Bing/Yandex extension) on even-length
    # hosts only, so the no-directive default path stays exercised
    "CASE WHEN length(host) % 2 = 0 THEN "
    "'Crawl-delay: ' || CAST(1 + length(host) % 3 AS STRING) || chr(10) "
    "ELSE '' END || "
    "'Disallow:' || chr(10)"
)

_HOST_RE = "^https?://([^/]+)"
_PATH_RE = "^https?://[^/]+(/.*)$"


def _star_lines(urls):
    """Per host, the robots.txt lines attributed to the ``User-agent:
    *`` group — RFC 9309 §2.2.1 run attribution (consecutive UA lines
    form one group whose rules apply to ALL listed agents; run_id =
    cumulative count of run starts, non-UA lines inherit the latest
    run's id) factored out so both the allow/disallow filter and the
    Crawl-delay extraction read one derivation.  Tiny: one robots.txt
    per distinct host."""
    robots = (
        urls.select("host")
        .distinct()  # partial-agg first: ~rows-per-partition, then 21
        .withColumn("robots_txt", F.expr(_ROBOTS_TXT_SQL))
    )
    lines = robots.select(
        "host", F.posexplode(F.split("robots_txt", "\n")).alias("pos", "line")
    )
    low = F.lower(F.col("line"))
    is_ua = low.startswith("user-agent:")
    agent_decl = F.when(
        is_ua, F.trim(F.expr("substring(line, instr(line, ':') + 1)"))
    )
    w_ord = Window.partitionBy("host").orderBy("pos")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    attributed = lines.withColumn(
        "run_id",
        F.sum(
            (is_ua & ~F.coalesce(F.lag(is_ua).over(w_ord), F.lit(False)))
            .cast("int")
        ).over(w_cum),
    ).withColumn("agent", agent_decl)
    star_groups = (
        attributed.filter(F.col("agent") == "*")
        .select("host", "run_id")
        .distinct()
    )
    return attributed.join(star_groups, ["host", "run_id"])  # tiny x tiny


def robots_filter(spark, sf_dir: str):
    """(url, host, allowed 0/1) for every frontier url under the host's
    robots.txt rules.  Url side: one broadcast join, zero shuffles."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from textextraction_spark.sources.pages import URL_SQL

    urls = d.select(F.expr(URL_SQL).alias("url")).select(
        "url",
        F.regexp_extract("url", _HOST_RE, 1).alias("host"),
        F.coalesce(
            F.nullif(F.regexp_extract("url", _PATH_RE, 1), F.lit("")),
            F.lit("/"),
        ).alias("path"),
    )

    low = F.lower(F.col("line"))
    rules = (
        _star_lines(urls)
        .withColumn(
            "allow",
            F.when(low.startswith("allow:"), F.lit(True)).when(
                low.startswith("disallow:"), F.lit(False)
            ),
        )
        .filter(F.col("allow").isNotNull())
        .withColumn(
            "rpath", F.trim(F.expr("substring(line, instr(line, ':') + 1)"))
        )
        .filter(F.col("rpath") != "")  # RFC: empty pattern matches nothing
        # §2.2.3 pattern -> anchored regex: '*' = any sequence, a
        # trailing '$' = end anchor, everything else literal ('.' is
        # the only regex metachar a url path carries; escape it)
        .withColumn("ends", F.col("rpath").endswith("$"))
        .withColumn(
            "rx",
            F.concat(
                F.lit("^"),
                F.replace(
                    F.replace(
                        F.when(
                            F.col("ends"),
                            F.expr("left(rpath, length(rpath) - 1)"),
                        ).otherwise(F.col("rpath")),
                        F.lit("."),
                        F.lit(r"\."),
                    ),
                    F.lit("*"),
                    F.lit(".*"),
                ),
                F.when(F.col("ends"), F.lit("$")).otherwise(F.lit("")),
            ),
        )
    )
    per_host = rules.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.length("rpath").alias("plen"),
                F.col("allow").alias("allow"),
                F.col("rx").alias("rx"),
            )
        ).alias("rules")
    )

    # ---- match: longest rule wins, Allow wins ties, no rule = allowed -
    j = urls.join(F.broadcast(per_host), "host", "left")
    best = F.array_max(F.expr("filter(rules, r -> path rlike r.rx)"))
    return j.select(
        "url",
        "host",
        F.when(best.isNull(), F.lit(1))
        .otherwise(best["allow"].cast("bigint"))
        .cast("bigint")
        .alias("allowed"),
    )


from textextraction_spark.sources.pages import URL_SQL as _URL_SQL
from textextraction_spark.sources.pages import warc_ts_sql as _warc_ts_sql

_warc_ts_duck = _warc_ts_sql("duckdb")

ROBOTS_FILTER_ORACLE = f"""
WITH u AS (
  SELECT url,
         regexp_extract(url, '{_HOST_RE}', 1) AS host,
         coalesce(nullif(regexp_extract(url, '{_PATH_RE}', 1), ''), '/') AS path
  FROM (SELECT {_URL_SQL} AS url FROM documents)
),
robots AS (
  SELECT host, {_ROBOTS_TXT_SQL} AS robots_txt
  FROM (SELECT DISTINCT host FROM u)
),
lines AS (
  SELECT host,
         generate_subscripts(string_split(robots_txt, chr(10)), 1) AS pos,
         unnest(string_split(robots_txt, chr(10))) AS line
  FROM robots
),
flagged AS (
  -- RFC 9309 2.2.1: consecutive User-agent lines form ONE group; a
  -- rule attaches to the run of UA lines above it (run_id = cumulative
  -- count of run starts), and applies to every agent in that run
  SELECT host, pos, line,
         (lower(line) LIKE 'user-agent:%') AS is_ua,
         coalesce(lag(lower(line) LIKE 'user-agent:%')
                    OVER (PARTITION BY host ORDER BY pos), false) AS prev_ua
  FROM lines
),
runs AS (
  SELECT host, pos, line, is_ua,
         sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
           OVER (PARTITION BY host ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS run_id
  FROM flagged
),
rules AS (
  SELECT host,
         (lower(line) LIKE 'allow:%') AS allow,
         trim(substr(line, strpos(line, ':') + 1)) AS rpath
  FROM runs r
  WHERE (lower(line) LIKE 'allow:%' OR lower(line) LIKE 'disallow:%')
    AND trim(substr(line, strpos(line, ':') + 1)) != ''
    AND EXISTS (
      SELECT 1 FROM runs u
      WHERE u.host = r.host AND u.run_id = r.run_id AND u.is_ua
        AND trim(substr(u.line, strpos(u.line, ':') + 1)) = '*')
),
rx AS (
  -- 2.2.3 pattern -> anchored regex, same translation as the engine
  SELECT host, allow, rpath,
         '^' || replace(replace(
                  CASE WHEN rpath LIKE '%$'
                       THEN left(rpath, len(rpath) - 1) ELSE rpath END,
                  '.', '\\.'), '*', '.*')
             || CASE WHEN rpath LIKE '%$' THEN '$' ELSE '' END AS rx
  FROM rules
),
best AS (
  SELECT url, allow,
         row_number() OVER (PARTITION BY url
                            ORDER BY len(rpath) DESC, allow DESC) AS rn
  FROM u JOIN rx USING (host)
  WHERE regexp_matches(u.path, rx.rx)
)
SELECT u.url, u.host,
       (CASE WHEN b.allow IS NULL THEN 1
             WHEN b.allow THEN 1 ELSE 0 END)::BIGINT AS allowed
FROM u LEFT JOIN (SELECT url, allow FROM best WHERE rn = 1) b USING (url)
"""


# ------------------------------------------------------------ crawl delay
# The de-facto ``Crawl-delay`` directive (honored by Bing/Yandex;
# absent from RFC 9309 but ubiquitous in real robots.txt) composed
# into the politeness schedule: the star group's directive sets THAT
# HOST's minimum start-to-start gap, hosts without one keep the
# MIN_DELAY default, and a directive in a non-star group is a decoy
# the attribution must ignore (the fixture plants Crawl-delay: 99 on
# googlebot).  The schedule is the same closed form as
# politeness_schedule — start_n = n*d + max_{i<=n}(ts_i - i*d) — with
# a PER-HOST d, still one shuffle + pure JVM windows.
#
# (Outside the 50-query driver gate; full DuckDB value oracle in
# tests/test_operators.py::TestCrawlDelay.)
def crawl_delay_schedule(spark, sf_dir: str):
    """(host, url, crawl_delay_us, delay_us): per-capture fetch delays
    under each host's own Crawl-delay (or the MIN_DELAY default)."""
    from textextraction_spark.sources.pages import URL_SQL, warc_ts_sql

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = d.select(
        F.expr(URL_SQL).alias("url"),
        F.unix_micros(F.expr(warc_ts_sql("spark"))).alias("tus"),
    ).withColumn("host", F.regexp_extract("url", _HOST_RE, 1))

    low = F.lower(F.col("line"))
    delays = (
        _star_lines(urls)
        .filter(low.startswith("crawl-delay:"))
        .select(
            "host",
            (
                F.trim(F.expr("substring(line, instr(line, ':') + 1)"))
                .cast("bigint")
                * F.lit(1_000_000)
            ).alias("crawl_delay_us"),
        )
    )
    ev = urls.join(F.broadcast(delays), "host", "left").withColumn(
        "crawl_delay_us",
        F.coalesce("crawl_delay_us", F.lit(MIN_DELAY_US)),
    )
    w = Window.partitionBy("host").orderBy("tus", "url")
    numbered = ev.withColumn("rn", F.row_number().over(w))
    m = F.max(
        F.col("tus") - F.col("rn") * F.col("crawl_delay_us")
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return numbered.select(
        "host",
        "url",
        "crawl_delay_us",
        (m + F.col("rn") * F.col("crawl_delay_us") - F.col("tus"))
        .cast("bigint")
        .alias("delay_us"),
    )


CRAWL_DELAY_ORACLE = f"""
WITH u AS (
  SELECT {_URL_SQL} AS url,
         epoch_us({_warc_ts_duck}) AS tus,
         regexp_extract({_URL_SQL}, '{_HOST_RE}', 1) AS host
  FROM documents
),
robots AS (
  SELECT host, {_ROBOTS_TXT_SQL} AS robots_txt
  FROM (SELECT DISTINCT host FROM u)
),
lines AS (
  SELECT host,
         generate_subscripts(string_split(robots_txt, chr(10)), 1) AS pos,
         unnest(string_split(robots_txt, chr(10))) AS line
  FROM robots
),
flagged AS (
  SELECT host, pos, line,
         (lower(line) LIKE 'user-agent:%') AS is_ua,
         coalesce(lag(lower(line) LIKE 'user-agent:%')
                    OVER (PARTITION BY host ORDER BY pos), false) AS prev_ua
  FROM lines
),
runs AS (
  SELECT host, pos, line, is_ua,
         sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
           OVER (PARTITION BY host ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS run_id
  FROM flagged
),
delays AS (
  SELECT host,
         CAST(trim(substr(line, strpos(line, ':') + 1)) AS BIGINT)
             * 1000000 AS crawl_delay_us
  FROM runs r
  WHERE lower(line) LIKE 'crawl-delay:%'
    AND EXISTS (
      SELECT 1 FROM runs g
      WHERE g.host = r.host AND g.run_id = r.run_id AND g.is_ua
        AND trim(substr(g.line, strpos(g.line, ':') + 1)) = '*')
),
ev AS (
  SELECT u.url, u.host, u.tus,
         coalesce(d.crawl_delay_us, {MIN_DELAY_US}) AS crawl_delay_us
  FROM u LEFT JOIN delays d USING (host)
),
numbered AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY tus, url) AS rn
  FROM ev
),
seq AS (
  SELECT *,
         max(tus - rn * crawl_delay_us) OVER (
           PARTITION BY host ORDER BY tus, url ROWS UNBOUNDED PRECEDING
         ) AS m
  FROM numbered
)
SELECT host, url, crawl_delay_us,
       (m + rn * crawl_delay_us - tus)::BIGINT AS delay_us
FROM seq
"""


# ----------------------------------------------------------------- sitemaps
# XML sitemap ingestion: the other half of frontier construction (robots
# gates it, sitemaps feed it).  The parse is Spark's JVM-side XPath
# (``xpath(xml, '//url/loc/text()')`` — whole-stage-codegen adjacent, no
# python), zipped + exploded to one row per <url> entry, then joined
# against the already-crawled url set to flag what is genuinely new.
#
# 100 TB shape: sitemap XML is per-host and tiny; the big side is the
# SEEN set (the crawl's url catalog).  The join is a plain equi-join on
# url with no hint — at test scale AQE broadcasts the small side, at
# crawl scale it degrades to a shuffle join, which is the correct plan
# when both sides are large.  Scope: plain (non-namespaced, non-index)
# sitemaps; real-world xmlns handling needs a namespace-aware parse
# that XPath 1.0's default-namespace rules make environment-dependent.
#
# (Outside the 50-query driver gate; full DuckDB value oracle in
# tests/test_operators.py::TestSitemap — regexp_extract_all is the
# oracle twin of the XPath.)

# Three entries per host, ids derived from the host string so both
# engines reconstruct them.  Entries 0/1 are urls the host GENUINELY
# owns (host hN owns doc_ids with id%20==N and id%100>=30; N+40 and
# N+60 satisfy both, and the heavy host owns 0/1 outright), so they
# test the already-crawled class; entry 2 is offset by 1_000_000 so
# every sitemap also carries a never-crawled url at any scale factor.
_SM_N = "CAST(nullif(regexp_extract(host, 'h([0-9]+)', 1), '') AS BIGINT)"
_SM_IDS = (
    f"coalesce({_SM_N} + 40, 0)",
    f"coalesce({_SM_N} + 60, 1)",
    "1000000 + length(host)",
)


def _sm_entry(i: int) -> str:
    sid = f"CAST({_SM_IDS[i]} AS STRING)"
    num = _SM_IDS[i]
    return (
        f"'<url><loc>https://' || host || '/d/' || {sid} || '</loc>"
        f"<lastmod>2026-01-' || lpad(CAST(1 + ({num}) % 28 AS STRING), 2, '0') || '</lastmod>"
        f"<priority>0.' || CAST(({num}) % 10 AS STRING) || '</priority></url>'"
    )


_SITEMAP_XML_SQL = (
    "'<?xml version=\"1.0\"?><urlset>' || "
    + " || ".join([_sm_entry(0), _sm_entry(1), _sm_entry(2)])
    + " || '</urlset>'"
)


def sitemap_frontier(spark, sf_dir: str):
    """(host, url, lastmod, priority, is_new 0/1): every sitemap entry
    across hosts, flagged against the already-crawled url set."""
    from textextraction_spark.sources.pages import URL_SQL

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = d.select(F.expr(URL_SQL).alias("url"), F.lit(1).alias("seen"))
    hosts = (
        seen.select(F.regexp_extract("url", _HOST_RE, 1).alias("host"))
        .distinct()
        .withColumn("xml", F.expr(_SITEMAP_XML_SQL))
    )
    entries = hosts.select(
        "host",
        F.explode(
            F.arrays_zip(
                F.expr("xpath(xml, '//url/loc/text()')").alias("url"),
                F.expr("xpath(xml, '//url/lastmod/text()')").alias("lastmod"),
                F.expr("xpath(xml, '//url/priority/text()')").alias("priority"),
            )
        ).alias("e"),
    ).select(
        "host",
        F.col("e.url").alias("url"),
        F.col("e.lastmod").alias("lastmod"),  # ISO string as served
        F.col("e.priority").cast("double").alias("priority"),
    )
    return entries.join(seen, "url", "left").select(
        "host",
        "url",
        "lastmod",
        "priority",
        F.when(F.col("seen").isNull(), 1).otherwise(0).cast("bigint").alias("is_new"),
    )


SITEMAP_FRONTIER_ORACLE = f"""
WITH seen AS (
  SELECT {_URL_SQL} AS url FROM documents
),
hosts AS (
  SELECT DISTINCT regexp_extract(url, '{_HOST_RE}', 1) AS host FROM seen
),
sm AS (
  SELECT host, {_SITEMAP_XML_SQL} AS xml FROM hosts
),
entries AS (
  SELECT host,
         unnest(regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1)) AS url,
         unnest(regexp_extract_all(xml, '<lastmod>([^<]*)</lastmod>', 1)) AS lastmod,
         unnest(regexp_extract_all(xml, '<priority>([^<]*)</priority>', 1)) AS priority
  FROM sm
)
SELECT e.host, e.url,
       e.lastmod,
       CAST(e.priority AS DOUBLE) AS priority,
       (CASE WHEN s.url IS NULL THEN 1 ELSE 0 END)::BIGINT AS is_new
FROM entries e LEFT JOIN seen s ON e.url = s.url
"""


# ------------------------------------------------- namespaced sitemap index
# Real-world sitemaps differ from the plain form above in two ways the
# scope note called out: they carry the default namespace
# ``xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"``, and large
# sites serve a two-level <sitemapindex> whose <loc> entries point at
# child sitemap files that must be dereferenced.
# ``sitemap_index_frontier`` does both: parse the index, JOIN the child
# files by their absolute url (the dereference), parse each child's
# namespaced urlset, and flag entries against the seen set.  The XPath
# uses ``local-name()`` predicates — measured fact: THIS build's
# ``xpath()`` parses namespace-UNaware (plain ``//url`` also matches
# under xmlns), but a namespace-aware XPath 1.0 processor resolves
# ``//url`` against no-namespace and returns nothing, so the
# local-name form is what keeps the plan portable; the xmlns rides on
# every fixture byte either way.
#
# Fixture: per host, three "files" — /sitemap_index.xml referencing
# /sitemap1.xml (entries 0-1) and /sitemap2.xml (entry 2), all three
# carrying the real xmlns — index-following is load-bearing: the
# entries are unreachable without the dereference join.
#
# (Outside the 50-query driver gate; full DuckDB value oracle in
# tests/test_operators.py::TestSitemapIndex.)
_SM_XMLNS = "http://www.sitemaps.org/schemas/sitemap/0.9"


def _sm_child_xml(entries: list[str]) -> str:
    body = " || ".join(entries)
    return (
        f"'<?xml version=\"1.0\"?><urlset xmlns=\"{_SM_XMLNS}\">' || "
        + body
        + " || '</urlset>'"
    )


_SM_INDEX_XML = (
    f"'<?xml version=\"1.0\"?><sitemapindex xmlns=\"{_SM_XMLNS}\">"
    "<sitemap><loc>https://' || host || '/sitemap1.xml</loc></sitemap>"
    "<sitemap><loc>https://' || host || '/sitemap2.xml</loc></sitemap>"
    "</sitemapindex>'"
)

_LN_URL = "//*[local-name()='url']"


def sitemap_index_frontier(spark, sf_dir: str):
    """(host, sitemap, url, lastmod, priority, is_new): the namespaced
    two-level form — sitemapindex parsed with local-name() XPath, child
    sitemaps dereferenced by absolute-url equi-join, children's
    namespaced urlsets parsed the same way, entries flagged against the
    seen set.  All XML work is JVM xpath; no Python."""
    from textextraction_spark.sources.pages import URL_SQL

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = d.select(F.expr(URL_SQL).alias("url"), F.lit(1).alias("seen"))
    hosts = seen.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()
    files = hosts.select(
        "host",
        F.explode(
            F.array(
                F.struct(
                    F.lit("/sitemap_index.xml").alias("path"),
                    F.expr(_SM_INDEX_XML).alias("xml"),
                ),
                F.struct(
                    F.lit("/sitemap1.xml").alias("path"),
                    F.expr(_sm_child_xml([_sm_entry(0), _sm_entry(1)])).alias(
                        "xml"
                    ),
                ),
                F.struct(
                    F.lit("/sitemap2.xml").alias("path"),
                    F.expr(_sm_child_xml([_sm_entry(2)])).alias("xml"),
                ),
            )
        ).alias("f"),
    ).select(
        "host",
        F.concat(F.lit("https://"), "host", F.col("f.path")).alias("floc"),
        F.col("f.xml").alias("xml"),
    )
    index = files.filter(F.col("floc").endswith("/sitemap_index.xml")).select(
        "host",
        F.explode(
            F.expr(
                "xpath(xml, \"//*[local-name()='sitemap']"
                "/*[local-name()='loc']/text()\")"
            )
        ).alias("floc"),
    )
    # the dereference: index -> child file bytes (an absolute-url join)
    children = index.join(files.drop("host"), "floc").select(
        "host", F.col("floc").alias("sitemap"), "xml"
    )
    entries = children.select(
        "host",
        "sitemap",
        F.explode(
            F.arrays_zip(
                F.expr(
                    f"xpath(xml, \"{_LN_URL}/*[local-name()='loc']/text()\")"
                ).alias("url"),
                F.expr(
                    f"xpath(xml, \"{_LN_URL}/*[local-name()='lastmod']"
                    "/text()\")"
                ).alias("lastmod"),
                F.expr(
                    f"xpath(xml, \"{_LN_URL}/*[local-name()='priority']"
                    "/text()\")"
                ).alias("priority"),
            )
        ).alias("e"),
    ).select(
        "host",
        "sitemap",
        F.col("e.url").alias("url"),
        F.col("e.lastmod").alias("lastmod"),
        F.col("e.priority").cast("double").alias("priority"),
    )
    return entries.join(seen, "url", "left").select(
        "host",
        "sitemap",
        "url",
        "lastmod",
        "priority",
        F.when(F.col("seen").isNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_new"),
    )


SITEMAP_INDEX_FRONTIER_ORACLE = f"""
WITH seen AS (
  SELECT {_URL_SQL} AS url FROM documents
),
hosts AS (
  SELECT DISTINCT regexp_extract(url, '{_HOST_RE}', 1) AS host FROM seen
),
files AS (
  SELECT host, 'https://' || host || '/sitemap1.xml' AS floc,
         {_sm_child_xml([_sm_entry(0), _sm_entry(1)])} AS xml
  FROM hosts
  UNION ALL
  SELECT host, 'https://' || host || '/sitemap2.xml' AS floc,
         {_sm_child_xml([_sm_entry(2)])} AS xml
  FROM hosts
),
idx AS (
  SELECT host,
         unnest(regexp_extract_all({_SM_INDEX_XML},
                '<sitemap><loc>([^<]*)</loc>', 1)) AS floc
  FROM hosts
),
children AS (
  SELECT i.host, i.floc AS sitemap, f.xml
  FROM idx i JOIN files f ON i.floc = f.floc
),
entries AS (
  SELECT host, sitemap,
         unnest(regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1)) AS url,
         unnest(regexp_extract_all(xml, '<lastmod>([^<]*)</lastmod>', 1))
             AS lastmod,
         unnest(regexp_extract_all(xml, '<priority>([^<]*)</priority>', 1))
             AS priority
  FROM children
)
SELECT e.host, e.sitemap, e.url, e.lastmod,
       CAST(e.priority AS DOUBLE) AS priority,
       (CASE WHEN s.url IS NULL THEN 1 ELSE 0 END)::BIGINT AS is_new
FROM entries e LEFT JOIN seen s ON e.url = s.url
"""


# ---------------------------------------------------------------- recrawl
# Recrawl scheduling: join the sitemap frontier against the crawl
# catalog's capture timestamps and decide, per url, whether to fetch —
# 'new' (never captured), 'stale' (sitemap lastmod is newer than the
# capture date), or 'fresh' (skip).  The if-modified-since economics of
# a continuous crawl, as one narrow join: the frontier side is the
# sitemap_frontier output, the catalog side projects (url, capture day)
# only, and the date comparison is a lexicographic ISO-string compare so
# both engines evaluate it identically.
#
# (Outside the 50-query driver gate; full DuckDB value oracle in
# tests/test_operators.py::TestRecrawl.)


def recrawl_candidates(spark, sf_dir: str):
    """(host, url, lastmod, reason, fetch 0/1) for every sitemap entry."""
    from textextraction_spark.sources.pages import URL_SQL, warc_ts_sql

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    catalog = d.select(
        F.expr(URL_SQL).alias("url"),
        F.date_format(F.expr(warc_ts_sql("spark")), "yyyy-MM-dd").alias(
            "cap_day"
        ),
    )
    entries = sitemap_frontier(spark, sf_dir).join(catalog, "url", "left")
    reason = (
        F.when(F.col("is_new") == 1, F.lit("new"))
        .when(F.col("lastmod") > F.col("cap_day"), F.lit("stale"))
        .otherwise(F.lit("fresh"))
    )
    return entries.select(
        "host",
        "url",
        "lastmod",
        reason.alias("reason"),
        (reason != "fresh").cast("bigint").alias("fetch"),
    )


RECRAWL_CANDIDATES_ORACLE = f"""
WITH frontier AS ({SITEMAP_FRONTIER_ORACLE}),
catalog AS (
  SELECT {_URL_SQL} AS url,
         strftime(CAST({_warc_ts_duck} AS TIMESTAMP), '%Y-%m-%d') AS cap_day
  FROM documents
),
j AS (
  SELECT f.*, c.cap_day FROM frontier f LEFT JOIN catalog c USING (url)
)
SELECT host, url, lastmod,
       CASE WHEN is_new = 1 THEN 'new'
            WHEN lastmod > cap_day THEN 'stale'
            ELSE 'fresh' END AS reason,
       (CASE WHEN is_new = 1 OR lastmod > cap_day THEN 1 ELSE 0 END)::BIGINT
           AS fetch
FROM j
"""
