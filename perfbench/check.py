"""Output check of one extraction run, made outside the timed region.

A url fails when it is missing from the commit, committed more than once,
committed without being in the input, committed with text other than the
generator's oracle text, or committed with an error other than
``no_text_layer`` (which only an empty-text PDF row may carry).  On top of
that, a seeded sample of urls is compared field by field against the pure
kernel ``core.extract.extract_document`` run here, in the benchmark process, on the
same input bytes; any mismatch there fails the whole run.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

SAMPLE = 32
ALLOWED_ERRORS = ("", "no_text_layer")
_SPAN_FIELDS = ("field", "label", "text", "page", "line", "start", "end", "rect")


@dataclass
class CheckResult:
    attempted: int
    failed_urls: int
    sample_mismatches: list[str]

    @property
    def ok(self) -> bool:
        return self.failed_urls == 0 and not self.sample_mismatches

    @property
    def failed(self) -> int:
        """Docs counted failed: all of them once the sample check fails."""
        return self.attempted if self.sample_mismatches else self.failed_urls


def failed_urls(expected_df, results_df) -> int:
    """Urls of the input or the commit that do not pass the row rules."""
    from pyspark.sql import functions as F

    committed = results_df.groupBy("url").agg(
        F.count("*").alias("n"),
        F.first("extracted_text").alias("text"),
        F.first("error").alias("error"),
        F.first("is_pdf").alias("is_pdf"),
    )
    j = expected_df.join(committed, "url", "full_outer")
    bad = (
        F.col("expected_text").isNull()
        | F.col("n").isNull()
        | (F.col("n") != 1)
        | (F.col("text") != F.col("expected_text"))
        | ~F.col("error").isin(*ALLOWED_ERRORS)
        | ((F.col("error") == "no_text_layer") & ((F.col("text") != "") | ~F.col("is_pdf")))
    )
    return j.filter(bad).count()


def sample_urls(pool: list[str], seed: int, run: int, k: int = SAMPLE) -> list[str]:
    rng = random.Random(f"{seed}/{run}")
    return rng.sample(pool, min(k, len(pool)))


def _spans(spans) -> list[tuple]:
    """Committed span Rows and kernel Span objects, as comparable tuples."""
    return [tuple(getattr(s, f) for f in _SPAN_FIELDS) for s in spans or []]


def sample_mismatches(results_df, reference: dict[str, bytes], urls: list[str]) -> list[str]:
    """Urls whose committed row differs from the kernel run in this process."""
    from pyspark.sql import functions as F

    from textextraction_spark.core.extract import extract_document

    got = {
        r["url"]: r
        for r in results_df.filter(F.col("url").isin(urls))
        .select("url", "extracted_text", "spans", "confidence", "error")
        .collect()
    }
    bad = []
    for url in urls:
        row = got.get(url)
        want = extract_document(reference[url])
        if (
            row is None
            or row["extracted_text"] != want.extracted_text
            or _spans(row["spans"]) != _spans(want.spans)
            or row["confidence"] != want.confidence
            or row["error"] != want.error
        ):
            bad.append(url)
    return bad
