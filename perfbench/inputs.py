"""Workload inputs, generated from the seed.

Every workload starts from one seeded ``documents`` table, the shape the
page generator ``sources.pages.build_pages`` reads.  The program only ever
sees the files written here: a pages parquet, a tree of ``.warc.gz``
segments, or a pages parquet with re-captures plus a checkpoint that
already holds most urls.

Besides the program's inputs, each workload writes ``expected/``: url and
expected ``extracted_text`` per distinct url, computed by the page
generator's own oracle formula (``expected_text_sql``).  The output check
joins every committed row against it.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The vocabulary and length range of the documents tables the page
# generator was written for: 30 words, 44 to ~580 characters per text.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")

# older captures of a recrawled url: how many, and how far back (seconds)
RECAPTURES = 2
RECAPTURE_STEP_S = 86_400
# share of urls the recrawl checkpoint already holds
PRECOMMITTED = 0.9


@dataclass
class Inputs:
    """Paths and counts of one workload's generated inputs."""

    kind: str  # "parquet" or "warc"
    path: str  # pages parquet dir or WARC segment dir
    expected: str  # url, expected_text parquet (one row per distinct url)
    rows: int  # input records the job reads
    payload_bytes: int  # sum of html bytes over those records
    distinct_urls: int
    sample_pool: list[str]  # urls whose output the run itself produces
    checkpoint: str | None = None  # pre-committed checkpoint to copy per run
    dedup_input: bool = False
    shard_s: list[float] = field(default_factory=list)


def documents_table(seed: int, n: int, first_id: int = 0) -> pa.Table:
    rng = random.Random(seed * 1_000_003 + first_id)
    texts = [" ".join(rng.choices(WORDS, k=rng.randint(8, 95))) for _ in range(n)]
    return pa.table(
        {
            "doc_id": pa.array(range(first_id, first_id + n), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n)],
            "source": [f"src{i % 5}" for i in range(first_id, first_id + n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _seeded(url, seed: int):
    """Page url with a seed token, so every seed crawls its own urls."""
    from pyspark.sql import functions as F

    return F.concat(url, F.lit(f"?crawl={seed}"))


def write_shard(spark, seed: int, shard: int, n: int, work: str, out: str, files: int):
    """Generate documents ``[shard*n, shard*n + n)`` and append their pages
    and expected texts under ``out``."""
    from pyspark.sql import functions as F

    from textextraction_spark.sources.pages import URL_SQL, build_pages, expected_text_sql

    sf_dir = os.path.join(work, f"sf-{shard}")
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        documents_table(seed, n, first_id=shard * n),
        os.path.join(sf_dir, "documents.parquet"),
    )
    pages = build_pages(spark, sf_dir).withColumn("url", _seeded(F.col("url"), seed))
    pages.coalesce(files).write.mode("append").parquet(os.path.join(out, "pages"))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.select(
        _seeded(F.expr(URL_SQL), seed).alias("url"),
        F.expr(expected_text_sql("spark")).alias("expected_text"),
    ).coalesce(1).write.mode("append").parquet(os.path.join(out, "expected"))


def _payload_stats(table: pa.Table) -> tuple[int, int]:
    return table.num_rows, int(pc.sum(pc.binary_length(table.column("html"))).as_py())


def _seeded_pick(seed: int, url: str, share: float) -> bool:
    h = hashlib.blake2b(f"{seed}:{url}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") < share * 2**64


def finish_crawl_mix(out: str) -> Inputs:
    pages = pq.read_table(os.path.join(out, "pages"), columns=["url", "html"])
    rows, nbytes = _payload_stats(pages)
    return Inputs(
        kind="parquet",
        path=os.path.join(out, "pages"),
        expected=os.path.join(out, "expected"),
        rows=rows,
        payload_bytes=nbytes,
        distinct_urls=rows,
        sample_pool=pages.column("url").to_pylist(),
    )


def finish_warc(spark, out: str, files: int) -> Inputs:
    """Write the pages once as ``.warc.gz`` segments (one per partition)."""
    from textextraction_spark.job.packaging import ensure_shipped
    from textextraction_spark.sources.warc import write_warc_dir

    inp = finish_crawl_mix(out)
    ensure_shipped(spark)
    pages = spark.read.parquet(inp.path).select("url", "warc_ts", "html")
    write_warc_dir(pages.repartition(files), os.path.join(out, "warc"), index=False)
    inp.kind, inp.path = "warc", os.path.join(out, "warc")
    return inp


def finish_recrawl(spark, out: str, seed: int, files: int, num_partitions: int) -> Inputs:
    """Re-captures plus a checkpoint that already commits ~90% of urls.

    Every url gets ``RECAPTURES`` older captures whose bytes are another
    page's, so the output check fails if the job keeps any capture but the
    latest.  The pre-committed share is chosen by a seeded hash of the url
    and committed by the program's own job.
    """
    from textextraction_spark.plans.pipeline import JobConfig, run_extraction_job

    latest = pq.read_table(os.path.join(out, "pages"))
    ts_type = pa.timestamp("us", tz="UTC")  # Spark reads no nanosecond parquet
    latest = latest.set_column(
        latest.schema.get_field_index("warc_ts"),
        "warc_ts",
        latest.column("warc_ts").cast(ts_type),
    )
    n = latest.num_rows
    parts = [latest]
    for k in range(1, RECAPTURES + 1):
        shift = [(i + 7 * k) % n for i in range(n)]
        older = latest.set_column(
            latest.schema.get_field_index("html"),
            "html",
            latest.column("html").take(pa.array(shift)),
        )
        ts = pc.subtract(
            older.column("warc_ts").cast(pa.int64()), k * RECAPTURE_STEP_S * 1_000_000
        ).cast(ts_type)
        parts.append(
            older.set_column(older.schema.get_field_index("warc_ts"), "warc_ts", ts)
        )
    captures = pa.concat_tables(parts)
    rng = random.Random(seed)
    order = list(range(captures.num_rows))
    rng.shuffle(order)
    captures = captures.take(pa.array(order))
    cap_dir = os.path.join(out, "captures")
    os.makedirs(cap_dir)
    step = -(-captures.num_rows // files)
    for i in range(files):
        pq.write_table(
            captures.slice(i * step, step), os.path.join(cap_dir, f"part-{i:05d}.parquet")
        )

    urls = latest.column("url").to_pylist()
    done = [u for u in urls if _seeded_pick(seed, u, PRECOMMITTED)]
    pending = sorted(set(urls) - set(done))
    pages = spark.read.parquet(os.path.join(out, "pages"))
    ckpt = os.path.join(out, "checkpoint")
    run_extraction_job(
        spark,
        pages.join(spark.createDataFrame([(u,) for u in done], "url string"), "url"),
        JobConfig(checkpoint_root=ckpt, batch_id="precommitted", num_partitions=num_partitions),
    )
    rows, nbytes = _payload_stats(captures)
    return Inputs(
        kind="parquet",
        path=cap_dir,
        expected=os.path.join(out, "expected"),
        rows=rows,
        payload_bytes=nbytes,
        distinct_urls=n,
        sample_pool=pending,
        checkpoint=ckpt,
        dedup_input=True,
    )
