"""The vectorized extraction operator: one Arrow-batched ``mapInArrow``.

This is the Spark face of the pure kernel (SURVEY.md §2.10): the reference
processes documents in a sequential ``foreach`` (``Worker.cs:102``); here
each executor thread pulls Arrow batches of (url, html) rows and runs the
kernel per document — per-document Python amortized per batch, zero
per-row serialization (no row-at-a-time UDFs anywhere, per input_hint).
``mapInArrow`` hands the batch over as Arrow on both edges, and the
output columns are built from Arrow buffers (``job/arrow_build.py``), so
neither importing this module nor running its kernel loads pandas into a
worker (``pa.array`` would).

Scale notes (100 TB design):
- The UDF consumes only (url, warc_ts, html): ``extract_pages`` selects
  those three first so the parquet scan prunes ``text``/``lang``
  (map-style UDFs ingest whole rows — SURVEY.md §4.2).
- html rows can be MBs; cap Arrow batch size via
  ``spark.sql.execution.arrow.maxBytesPerBatch`` (set by the pipeline)
  so a batch of huge pages cannot OOM an executor (SURVEY.md §7.4.4).
- Regexes/gazetteers compile once per python worker process at module
  import — the executor-singleton pattern replacing the reference's
  load-once engine init (``Worker.cs:61-95``).
"""

from __future__ import annotations

from operator import attrgetter

import pyarrow as pa

from textextraction_spark.core.extract import extract_document
from textextraction_spark.job.arrow_build import column, list_of_structs
from textextraction_spark.job.schemas import EXTRACT_OUTPUT_SCHEMA

_SPAN_FIELDS = [
    ("field", pa.string()),
    ("label", pa.string()),
    ("text", pa.string()),
    ("page", pa.int32()),
    ("line", pa.int32()),
    ("start", pa.int32()),
    ("end", pa.int32()),
    ("rect", pa.string()),
]
_span_row = attrgetter(*(name for name, _ in _SPAN_FIELDS))
_TS_TYPE = pa.timestamp("us", tz="UTC")


def extract_batch_arrow(batches, encrypt_phi: bool = False):
    """Iterator[pyarrow.RecordBatch(url, warc_ts, html)] -> extraction
    results as RecordBatches, built from Arrow buffers
    (``job/arrow_build.py``) — no pandas on either edge."""
    for batch in batches:
        n = len(batch)
        if n == 0:
            continue
        htmls = batch.column("html").to_pylist()
        charsets = (
            batch.column("charset").to_pylist()
            if "charset" in batch.schema.names
            else [None] * n
        )
        texts: list[str] = []
        spans: list[list[tuple]] = []
        conf: list[float] = []
        n_lines: list[int] = []
        n_bytes: list[int] = []
        is_pdf: list[bool] = []
        errors: list[str] = []
        for data, cs in zip(htmls, charsets):
            b = data if data is not None else b""
            r = extract_document(b, encrypt_phi=encrypt_phi, declared_charset=cs)
            texts.append(r.extracted_text)
            spans.append(list(map(_span_row, r.spans)))
            conf.append(r.confidence)
            n_lines.append(r.n_lines)
            n_bytes.append(len(b))
            is_pdf.append(r.is_pdf)
            errors.append(r.error)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                batch.column("warc_ts").cast(_TS_TYPE),
                column(texts, pa.string()),
                list_of_structs(spans, _SPAN_FIELDS),
                column(conf, pa.float64()),
                column(n_lines, pa.int32()),
                column(n_bytes, pa.int64()),
                column(is_pdf, pa.bool_()),
                column(errors, pa.string()),
            ],
            names=[
                "url",
                "warc_ts",
                "extracted_text",
                "spans",
                "confidence",
                "n_lines",
                "n_bytes",
                "is_pdf",
                "error",
            ],
        )


def extract_pages(pages_df, encrypt_phi: bool = False):
    """pages DataFrame -> extracted DataFrame (no lineage columns yet).

    Projects to the minimal column set FIRST so column pruning reaches the
    scan, then runs the Arrow-batched kernel.
    """
    from functools import partial

    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(pages_df.sparkSession)
    cols = ["url", "warc_ts", "html"]
    if "charset" in pages_df.columns:
        cols.append("charset")  # transport label (WARC envelopes) -> kernel
    fn = (
        partial(extract_batch_arrow, encrypt_phi=encrypt_phi)
        if encrypt_phi
        else extract_batch_arrow
    )
    return pages_df.select(*cols).mapInArrow(fn, schema=EXTRACT_OUTPUT_SCHEMA)
