"""The vectorized extraction operator: one Arrow-batched ``mapInArrow``.

This is the Spark face of the pure kernel (SURVEY.md §2.10): the reference
processes documents in a sequential ``foreach`` (``Worker.cs:102``); here
each executor thread pulls Arrow batches of (url, html) rows and runs the
kernel per document — per-document Python amortized per batch, zero
per-row serialization (no row-at-a-time UDFs anywhere, per input_hint).
``mapInArrow`` hands the batch over as Arrow on both edges, with no
pandas conversion; this module does not import pandas.

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

from textextraction_spark.core.extract import extract_document
from textextraction_spark.job.schemas import EXTRACT_OUTPUT_SCHEMA

_SPAN_PA_FIELDS = [
    ("field", "string"),
    ("label", "string"),
    ("text", "string"),
    ("page", "int32"),
    ("line", "int32"),
    ("start", "int32"),
    ("end", "int32"),
    ("rect", "string"),
]


def _arrow_types():
    import pyarrow as pa

    span = pa.list_(
        pa.struct([(n, getattr(pa, t)()) for n, t in _SPAN_PA_FIELDS])
    )
    return pa, span


def extract_batch_arrow(batches, encrypt_phi: bool = False):
    """Iterator[pyarrow.RecordBatch(url, warc_ts, html)] -> extraction
    results as RecordBatches — no pandas materialization on either edge."""
    pa, span_type = _arrow_types()
    ts_type = pa.timestamp("us", tz="UTC")
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
        spans: list[list[dict]] = []
        conf: list[float] = []
        n_lines: list[int] = []
        n_bytes: list[int] = []
        is_pdf: list[bool] = []
        errors: list[str] = []
        for data, cs in zip(htmls, charsets):
            b = data if data is not None else b""
            r = extract_document(b, encrypt_phi=encrypt_phi, declared_charset=cs)
            texts.append(r.extracted_text)
            spans.append([vars(s).copy() for s in r.spans])
            conf.append(r.confidence)
            n_lines.append(r.n_lines)
            n_bytes.append(len(b))
            is_pdf.append(r.is_pdf)
            errors.append(r.error)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                batch.column("warc_ts").cast(ts_type),
                pa.array(texts, pa.string()),
                pa.array(spans, span_type),
                pa.array(conf, pa.float64()),
                pa.array(n_lines, pa.int32()),
                pa.array(n_bytes, pa.int64()),
                pa.array(is_pdf, pa.bool_()),
                pa.array(errors, pa.string()),
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
