"""The buffer-built Arrow columns (``job/arrow_build.py``) equal what
``pa.array`` builds from the same Python values, and so does the
kernel's whole output batch."""

from __future__ import annotations

import gzip
from datetime import datetime, timedelta, timezone

import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from textextraction_spark.core.extract import extract_document
from textextraction_spark.job.arrow_build import column, list_of_structs
from textextraction_spark.job.extract import _SPAN_FIELDS, extract_batch_arrow
from textextraction_spark.sources.pages import make_pdf_bytes

TS = pa.timestamp("us", tz="UTC")
I32 = st.integers(-(2**31), 2**31 - 1)
TEXT = st.one_of(st.text(), st.sampled_from(["", "\U0001f600", "naïve 𝔘", "\x00"]))
SPAN = st.tuples(TEXT, TEXT, TEXT, I32, I32, I32, I32, TEXT)


def _same(built: pa.Array, values: list, typ: pa.DataType) -> None:
    built.validate(full=True)
    want = pa.array(values, typ)
    assert built.type == want.type
    assert built.equals(want), (built, want)


class TestColumns:
    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.one_of(st.none(), TEXT)))
    @example([])
    @example([None])
    @example(["", None, "\U0001f600"])
    def test_strings(self, values):
        _same(column(values, pa.string()), values, pa.string())

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.one_of(st.none(), st.binary())))
    @example([])
    @example([None, b""])
    def test_binaries(self, values):
        _same(column(values, pa.binary()), values, pa.binary())

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(st.one_of(st.none(), st.floats(allow_nan=False))),
        st.lists(st.one_of(st.none(), I32)),
        st.lists(st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1))),
        st.lists(st.one_of(st.none(), st.booleans())),
    )
    def test_fixed_width(self, floats, ints, longs, flags):
        _same(column(floats, pa.float64()), floats, pa.float64())
        _same(column(ints, pa.int32()), ints, pa.int32())
        _same(column(longs, pa.int64()), longs, pa.int64())
        _same(column(flags, pa.bool_()), flags, pa.bool_())

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.none(),
                st.datetimes(timezones=st.just(timezone.utc)),
                st.datetimes(),  # naive: read as UTC
            )
        )
    )
    def test_timestamps(self, values):
        _same(column(values, TS), values, TS)

    def test_aware_timestamp_keeps_its_instant(self):
        """``pa.array`` stores an aware datetime's wall clock (pyarrow
        16); the builder stores its instant."""
        plus2 = datetime(2026, 1, 1, 2, tzinfo=timezone(timedelta(hours=2)))
        built = column([plus2], TS)
        assert built.to_pylist() == [datetime(2026, 1, 1, tzinfo=timezone.utc)]

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.lists(SPAN, max_size=30)))
    @example([])
    @example([[], []])
    @example([[("f", "L", "\U0001f600", 1, 2, 3, 4, "")] * 200, []])
    def test_list_of_structs(self, rows):
        dicts = [[dict(zip((n for n, _ in _SPAN_FIELDS), t)) for t in items] for items in rows]
        typ = pa.list_(pa.struct(_SPAN_FIELDS))
        _same(list_of_structs(rows, _SPAN_FIELDS), dicts, typ)


def _reference_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """The kernel batch as ``pa.array`` builds it from span dicts."""
    results = [extract_document(b or b"") for b in batch.column("html").to_pylist()]
    return pa.RecordBatch.from_arrays(
        [
            batch.column("url"),
            batch.column("warc_ts").cast(TS),
            pa.array([r.extracted_text for r in results], pa.string()),
            pa.array(
                [[vars(s).copy() for s in r.spans] for r in results],
                pa.list_(pa.struct(_SPAN_FIELDS)),
            ),
            pa.array([r.confidence for r in results], pa.float64()),
            pa.array([r.n_lines for r in results], pa.int32()),
            pa.array([len(b or b"") for b in batch.column("html").to_pylist()], pa.int64()),
            pa.array([r.is_pdf for r in results], pa.bool_()),
            pa.array([r.error for r in results], pa.string()),
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


def test_kernel_batch_matches_pa_array():
    """Docs with no spans, many spans, a PDF, gzip, garbage, empty and
    None bytes: ``extract_batch_arrow`` equals the ``pa.array`` build."""
    fields = [
        "ACME LOGISTICS INC",
        "INVOICE 4329",
        "INVOICE DATE 09/23/2020",
        "LOAD REF48215X",
        "TOTAL $1,250.00",
        "PATIENT NAME John Smith",
        "DATE OF BIRTH 01/02/1980",
    ]
    many = "".join(f"<p>{line}</p>" for line in fields)
    htmls = [
        b"<p>plain text, no fields</p>",
        f"<body>{many}</body>".encode(),
        make_pdf_bytes("INVOICE 4329\nTOTAL $1,250.00", doc_id=40),
        gzip.compress("<p>gzip é \U0001f600</p>".encode(), mtime=0),
        b"\xff\xfe\x00garbage",
        b"",
        None,
    ]
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"https://x.example/{i}" for i in range(len(htmls))]),
            pa.array([ts] * len(htmls), pa.timestamp("us")),
            pa.array(htmls, pa.binary()),
        ],
        names=["url", "warc_ts", "html"],
    )
    [got] = list(extract_batch_arrow(iter([batch, batch.slice(0, 0)])))
    want = _reference_batch(batch)
    assert max(len(s) for s in got.column("spans").to_pylist()) >= 6
    assert got.schema == want.schema
    assert got.equals(want)
