"""Extraction-pipeline queries + DuckDB oracles (the driver's gate).

Each query runs the REAL engine (pages builder -> mapInArrow kernel) and
each oracle reconstructs the expected output from the ``documents`` parquet
by pure SQL formula (sources/pages.py keeps generator and oracle from
drifting — the html is literally built from the oracle expression).

``doc_id`` is recovered from the url tail (``.../d/<doc_id>``) so family
filters work on the engine side without threading extra columns through
the fixed pages schema.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from textextraction_spark.job.extract import extract_pages
from textextraction_spark.sources.pages import (
    INV_DATE_SQL,
    INV_NUM_SQL,
    MED_DATE_SQL,
    ORDER_NUM_SQL,
    TOTAL_SQL,
    URL_SQL,
    build_pages,
    expected_text_sql,
    person_sql,
    vendor_sql,
    warc_ts_sql,
)

DOC_ID_FROM_URL = r"cast(regexp_extract(url, '/d/(\\d+)$', 1) as bigint)"


def _extracted(spark, sf_dir: str):
    return extract_pages(build_pages(spark, sf_dir)).withColumn(
        "doc_id", F.expr(DOC_ID_FROM_URL)
    )


# ------------------------------------------------------- full-text queries
def extract_html_text(spark, sf_dir: str):
    """Flagship: byte-identical main-content extraction for HTML docs."""
    return _extracted(spark, sf_dir).filter(~F.col("is_pdf")).select(
        "url", "warc_ts", "extracted_text"
    )


def extract_html_text_oracle() -> str:
    return f"""
    SELECT {URL_SQL} AS url, {warc_ts_sql('duckdb')} AS warc_ts,
           {expected_text_sql('duckdb')} AS extracted_text
    FROM documents WHERE doc_id % 20 != 0
    """


def extract_pdf_text(spark, sf_dir: str):
    """PDF route: layout blocks reading-order sorted.  The error column
    is pinned so the image-only (scanned) family surfaces
    'no_text_layer' — distinguishable from an empty-but-extractable
    document — exactly where the reference would run OCR instead."""
    return _extracted(spark, sf_dir).filter(F.col("is_pdf")).select(
        "url", "extracted_text", "error"
    )


def extract_pdf_text_oracle() -> str:
    return f"""
    SELECT {URL_SQL} AS url, {expected_text_sql('duckdb')} AS extracted_text,
           CASE WHEN doc_id % 240 = 180 THEN 'no_text_layer' ELSE '' END
               AS error
    FROM documents WHERE doc_id % 20 = 0
    """


def extract_confidence(spark, sf_dir: str):
    """Kept-word ratio (A1 mean-confidence analog) for HTML docs."""
    return _extracted(spark, sf_dir).filter(~F.col("is_pdf")).select(
        "url", F.round("confidence", 6).alias("confidence")
    )


def extract_confidence_oracle() -> str:
    expected = expected_text_sql("duckdb")
    kept = f"(CASE WHEN ({expected}) = '' THEN 0 ELSE len(str_split(replace(({expected}), chr(10), ' '), ' ')) END)"
    shell = "(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 11 END)"
    return f"""
    SELECT {URL_SQL} AS url,
           round({kept} / ({kept} + {shell}), 6) AS confidence
    FROM documents WHERE doc_id % 20 != 0
    """


# ----------------------------------------------------------- field queries
_INV_FIELDS = {
    "inv_num": "invoice.number",
    "inv_date": "invoice.date",
    "order_num": "invoice.order_number",
    "total": "invoice.total",
    "vendor": "invoice.vendor",
}


def _field_text(field: str):
    """First/max span text for one field as a NARROW array expression —
    no explode, no groupBy: the spans already live in a per-doc array, so
    per-doc field projection must never shuffle (round 2; the relational
    explode+groupBy twin paid one exchange per query for the same rows).
    array_max mirrors the groupBy's max(when...) null semantics exactly
    (the kernel emits one span per field — A2 first-match — so max ==
    first)."""
    return F.expr(
        f"array_max(transform(filter(spans, s -> s.field = '{field}'), s -> s.text))"
    )


def extract_invoice_fields(spark, sf_dir: str):
    ex = _extracted(spark, sf_dir).filter(
        (F.col("doc_id") % 20 >= 1) & (F.col("doc_id") % 20 <= 6)
    )
    return ex.select(
        "url",
        *[_field_text(field).alias(alias) for alias, field in _INV_FIELDS.items()],
    )


def extract_invoice_fields_oracle() -> str:
    return f"""
    SELECT {URL_SQL} AS url,
           {INV_NUM_SQL} AS inv_num,
           {INV_DATE_SQL} AS inv_date,
           {ORDER_NUM_SQL} AS order_num,
           {TOTAL_SQL} AS total,
           {vendor_sql('duckdb')} AS vendor
    FROM documents WHERE doc_id % 20 BETWEEN 1 AND 6
    """


def extract_medical_fields(spark, sf_dir: str):
    ex = _extracted(spark, sf_dir).filter(
        (F.col("doc_id") % 20 >= 7) & (F.col("doc_id") % 20 <= 12)
    )
    return ex.select(
        "url",
        _field_text("patient.name").alias("patient_name"),
        _field_text("patient.birth_date").alias("birth_date"),
    )


def extract_medical_fields_oracle() -> str:
    return f"""
    SELECT {URL_SQL} AS url,
           {person_sql('duckdb')} AS patient_name,
           {MED_DATE_SQL} AS birth_date
    FROM documents WHERE doc_id % 20 BETWEEN 7 AND 12
    """


def extract_span_offsets(spark, sf_dir: str):
    """Char offsets of every invoice span — the oracle recomputes them by
    pure length arithmetic over the generated line layout."""
    ex = _extracted(spark, sf_dir).filter(
        (F.col("doc_id") % 20 >= 1) & (F.col("doc_id") % 20 <= 6)
    )
    return ex.select("url", F.explode("spans").alias("s")).select(
        "url",
        F.col("s.field").alias("field"),
        F.col("s.text").alias("span_text"),
        F.col("s.start").cast("bigint").alias("start"),
        F.col("s.end").cast("bigint").alias("end"),
    )


def extract_span_offsets_oracle() -> str:
    # Line layout (plans/queries.py mirrors sources/pages.py):
    #   text \n INVOICE <num> \n INVOICE DATE <date> \n DUE DATE 12/31/2030
    #   \n LOAD <ref> \n TOTAL <amt> \n <vendor> [...]
    t = "length(text)"
    num, date, ref, amt = INV_NUM_SQL, INV_DATE_SQL, ORDER_NUM_SQL, TOTAL_SQL
    vendor = vendor_sql("duckdb")
    a_start = f"({t} + 1 + 8)"  # after 'INVOICE '
    a_end = f"({a_start} + length({num}))"
    b_line = f"({t} + 1 + 8 + length({num}) + 1)"
    b_start = f"({b_line} + 13)"  # after 'INVOICE DATE '
    b_end = f"({b_start} + 10)"
    c_line = f"({b_line} + 13 + 10 + 1)"  # 'DUE DATE 12/31/2030' len 19
    d_line = f"({c_line} + 19 + 1)"
    d_start = f"({d_line} + 5)"  # after 'LOAD '
    d_end = f"({d_start} + length({ref}))"
    e_line = f"({d_line} + 5 + length({ref}) + 1)"
    e_start = f"({e_line} + 6)"  # after 'TOTAL '
    e_end = f"({e_start} + length({amt}))"
    f_line = f"({e_line} + 6 + length({amt}) + 1)"
    f_end = f"({f_line} + length({vendor}))"
    return f"""
    WITH inv AS (SELECT * FROM documents WHERE doc_id % 20 BETWEEN 1 AND 6)
    SELECT {URL_SQL} AS url, 'invoice.number' AS field, {num} AS span_text,
           {a_start}::BIGINT AS start, {a_end}::BIGINT AS "end" FROM inv
    UNION ALL
    SELECT {URL_SQL}, 'invoice.date', {date}, {b_start}::BIGINT, {b_end}::BIGINT FROM inv
    UNION ALL
    SELECT {URL_SQL}, 'invoice.order_number', {ref}, {d_start}::BIGINT, {d_end}::BIGINT FROM inv
    UNION ALL
    SELECT {URL_SQL}, 'invoice.total', {amt}, {e_start}::BIGINT, {e_end}::BIGINT FROM inv
    UNION ALL
    SELECT {URL_SQL}, 'invoice.vendor', {vendor}, {f_line}::BIGINT, {f_end}::BIGINT FROM inv
    """


def pdf_highlight_rects(spark, sf_dir: str):
    """K2/A4/F7 analog with full oracle: spans extracted from PDF blocks
    carry the px->pt rect string the reference's highlighter would draw
    (``Worker.cs:459-528``, ``Helper.cs:13-17``)."""
    ex = _extracted(spark, sf_dir).filter(F.col("is_pdf"))
    return ex.select("url", F.explode("spans").alias("s")).select(
        "url",
        F.col("s.field").alias("field"),
        F.col("s.text").alias("span_text"),
        F.col("s.page").cast("bigint").alias("page"),
        F.col("s.line").cast("bigint").alias("line"),
        F.col("s.rect").alias("rect"),
    )


def pdf_highlight_rects_oracle() -> str:
    from textextraction_spark.sources.pages import TOTAL_SQL

    k = "4.166666666666667"
    lt = f"length('TOTAL ' || {TOTAL_SQL})"
    rect = (
        f"printf('%.2f,%.2f,%.2f,%.2f', 72/{k}, 100/{k}, (72 + 8*{lt})/{k}, 116/{k})"
    )
    return f"""
    SELECT {URL_SQL} AS url, 'invoice.total' AS field,
           {TOTAL_SQL} AS span_text,
           1::BIGINT AS page,
           (CASE WHEN len(str_split(text, ' ')) <= 10 THEN 2 ELSE 3 END)::BIGINT AS line,
           {rect} AS rect
    FROM documents WHERE doc_id % 40 = 0
    """


def audit_row(spark, sf_dir: str):
    """The ``AppImageOcr`` audit-row analog (SURVEY.md §1.1, §2.8 F10-F13):
    deterministic doc id (F12: sha2(url) replacing Guid.NewGuid), formatted
    confidence string (F11: '{0:0.00}'), lineage paths (F13), and the
    extracted fields serialized to JSON (F10) — for invoice docs."""
    ex = _extracted(spark, sf_dir).filter(
        (F.col("doc_id") % 20 >= 1) & (F.col("doc_id") % 20 <= 6)
    )
    fields = ex.select(
        "url",
        "confidence",
        _field_text("invoice.number").alias("inv_num"),
        _field_text("invoice.total").alias("total"),
    )
    return fields.select(
        "url",
        F.sha2(F.col("url"), 256).alias("doc_guid"),
        F.format_number(F.col("confidence"), 2).alias("confidence_str"),
        F.concat_ws("/", F.lit("warehouse"), F.lit("extracted"), F.col("url")).alias(
            "output_path"
        ),
        F.to_json(F.struct("inv_num", "total")).alias("fields_json"),
    )


def audit_row_oracle() -> str:
    # DuckDB reconstructs to_json(struct(...)) byte-for-byte: Spark emits
    # {"inv_num":"...","total":"..."} (struct order, no spaces, non-null).
    kept = f"(CASE WHEN ({expected_text_sql('duckdb')}) = '' THEN 0 ELSE len(str_split(replace(({expected_text_sql('duckdb')}), chr(10), ' '), ' ')) END)"
    shell = "(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 11 END)"
    conf = f"({kept} / ({kept} + {shell}))"
    return f"""
    SELECT {URL_SQL} AS url,
           sha256({URL_SQL}) AS doc_guid,
           printf('%.2f', {conf}) AS confidence_str,
           'warehouse/extracted/' || {URL_SQL} AS output_path,
           '{{"inv_num":"' || {INV_NUM_SQL} || '","total":"' || {TOTAL_SQL} || '"}}'
               AS fields_json
    FROM documents WHERE doc_id % 20 BETWEEN 1 AND 6
    """


def extract_phi_encrypted(spark, sf_dir: str):
    """F9 end-to-end through the Spark kernel (``Worker.cs:238-250``,
    ``CryptLib.cs:82-125``): extraction with ``encrypt_phi=True`` replaces
    each patient span's text with its deterministic fixed-IV AES-256-CBC
    ciphertext (core/crypt.py).  One row per (url, PHI field).

    This is the driver-gate row for the crypt component: DuckDB cannot run
    AES, but the ciphertext is a pure function of the plaintext, which is
    itself a formula of doc_id — the oracle inlines the full ciphertext
    codebooks (256 names x 2100 dates), precomputed from the same Python
    constants the generator uses."""
    from textextraction_spark.core.extract import PHI_FIELDS

    ex = extract_pages(build_pages(spark, sf_dir), encrypt_phi=True).withColumn(
        "doc_id", F.expr(DOC_ID_FROM_URL)
    )
    ex = ex.filter((F.col("doc_id") % 20 >= 7) & (F.col("doc_id") % 20 <= 12))
    sp = ex.select("url", F.explode("spans").alias("s"))
    return sp.filter(F.col("s.field").isin(*PHI_FIELDS)).select(
        "url",
        F.col("s.field").alias("field"),
        F.col("s.text").alias("ciphertext"),
    )


def extract_phi_encrypted_oracle() -> str:
    # Ciphertext codebooks: patient name is periodic in doc_id with period
    # 256 (16 first x 16 last), the DOB formula with period 2100
    # (lcm of its 12/28/50 moduli) — see sources/pages.py person_sql /
    # MED_DATE_SQL.  encrypt_field is deterministic (fixed IV), so the
    # codebooks are exact.
    from textextraction_spark.core.crypt import encrypt_field
    from textextraction_spark.core.gazetteer import FIRST_NAMES, LAST_NAMES

    name_rows = ", ".join(
        "({}, '{}')".format(
            k, encrypt_field(f"{FIRST_NAMES[k % 16]} {LAST_NAMES[(k // 16) % 16]}")
        )
        for k in range(256)
    )
    dob_rows = ", ".join(
        "({}, '{}')".format(
            k,
            encrypt_field(f"{1 + (k + 5) % 12:02d}/{1 + (k + 11) % 28:02d}/{1950 + k % 50}"),
        )
        for k in range(2100)
    )
    return f"""
    WITH name_map(k, ct) AS (VALUES {name_rows}),
    dob_map(k, ct) AS (VALUES {dob_rows}),
    med AS (
      SELECT doc_id, {URL_SQL} AS url FROM documents
      WHERE doc_id % 20 BETWEEN 7 AND 12
    )
    SELECT url, 'patient.name' AS field, nm.ct AS ciphertext
    FROM med JOIN name_map nm ON nm.k = med.doc_id % 256
    UNION ALL
    SELECT url, 'patient.birth_date' AS field, dm.ct AS ciphertext
    FROM med JOIN dob_map dm ON dm.k = med.doc_id % 2100
    """


# -------------------------------------------------------- host distribution
def host_distribution(spark, sf_dir: str):
    """Skew diagnosis over pages urls (plans/skew.py host_frequencies)."""
    from textextraction_spark.plans.skew import host_frequencies

    return host_frequencies(build_pages(spark, sf_dir, with_pdf=False)).select(
        "host", F.col("count").cast("bigint").alias("count")
    )


def host_distribution_oracle() -> str:
    return """
    SELECT CASE WHEN doc_id % 100 < 30 THEN 'heavy.example.com'
                ELSE 'h' || CAST(doc_id % 20 AS STRING) || '.example.com' END AS host,
           count(*)::BIGINT AS count
    FROM documents GROUP BY 1
    """


# ------------------------------------------------ corpus-prep pipeline (e2e)
def corpus_prep_pipeline(spark, sf_dir: str):
    """The full training-data prep shape as ONE dataflow: crawl (with a
    mirror host duplicating every page) -> extraction kernel -> quality
    gate (non-empty, confidence >= 0.5) -> exact dedup by content hash
    (survivor = lexicographic-min url) -> per-survivor token count.

    Scale notes: extraction is the narrow Arrow stage; the only shuffle
    is the dedup groupBy on the 32-hex content hash (uniform key — no
    skew); the quality filter runs BEFORE the shuffle so boilerplate-only
    pages never pay network.  This is the composition a 100 TB corpus
    build runs nightly."""
    pages = build_pages(spark, sf_dir, with_pdf=False)
    mirror = pages.withColumn(
        "url", F.regexp_replace("url", r"^https://", "https://mirror.")
    )
    ex = extract_pages(pages.unionByName(mirror))
    quality = ex.filter(
        (F.col("error") == "")
        & (F.length("extracted_text") > 0)
        & (F.col("confidence") >= 0.5)
    )
    n_tokens = F.size(
        F.split(F.regexp_replace("extracted_text", "\n", " "), " ")
    ).cast("bigint")
    return quality.groupBy(F.md5("extracted_text").alias("content_hash")).agg(
        F.min("url").alias("url"),
        F.count("*").cast("bigint").alias("n_copies"),
        F.round(F.min("confidence"), 6).alias("confidence"),
        F.min(n_tokens).alias("n_tokens"),
    )


def corpus_prep_pipeline_oracle() -> str:
    expected = expected_text_sql("duckdb")
    kept = (
        f"(CASE WHEN ({expected}) = '' THEN 0 ELSE "
        f"len(str_split(replace(({expected}), chr(10), ' '), ' ')) END)"
    )
    shell = "(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 11 END)"
    return f"""
    WITH ex AS (
      SELECT {URL_SQL} AS url,
             ({expected}) AS text_,
             ({kept} / ({kept} + {shell})) AS conf
      FROM documents
    ), quality AS (
      SELECT * FROM ex WHERE text_ != '' AND conf >= 0.5
    )
    SELECT md5(text_) AS content_hash,
           min(url) AS url,
           (count(*) * 2)::BIGINT AS n_copies,
           round(min(conf), 6) AS confidence,
           len(str_split(replace(text_, chr(10), ' '), ' '))::BIGINT AS n_tokens
    FROM quality GROUP BY text_
    """
