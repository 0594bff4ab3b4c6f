"""textextraction_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the capabilities of the reference worker
service ``vijay-chaudhari/TextExtraction`` (a .NET OCR + field-extraction
pipeline, see /root/reference) as stateless, vectorized Spark transforms:

- ``core/``      pure-Python semantics kernel (no Spark imports): HTML DOM
                 parse, boilerplate strip, PDF text-block parse, field/span
                 extractors, bounded date grammar, gazetteer NER.  This is
                 the single source of truth for extraction semantics, shared
                 by the Spark UDFs, the test oracle, and the golden fixtures.
- ``job/``       the Spark face of the kernel: schemas, the ``mapInArrow``
                 extraction operator, executor packaging and the worker
                 zip guard.
- ``plans/``     the end-to-end extraction job (scan -> prune -> checkpoint
                 anti-join -> salted repartition -> extract -> sink +
                 lineage metrics), the one path batch and streaming share.
- ``io/``        exactly-once checkpoint (local parquet state + atomic
                 marker + anti-join resume) and its ``MERGE INTO`` twin.
- ``operators/`` web-scale training-data operators: dedup (exact, MinHash
                 LSH, SimHash, n-gram Jaccard, embedding near-dup),
                 similarity search (brute-force + LSH-bucketed ANN), text
                 analysis (lang-id, quality, tokens, fingerprints),
                 and the office, sheet, feed and page-metadata
                 extractors behind a content-sniffing dispatch.
- ``sources/``   deterministic Common-Crawl-style ``pages`` table builder
                 (the BASELINE.json input_hint shape) derived from the
                 driver's ``documents`` parquet.
- ``streaming/`` Structured Streaming variant: every micro-batch runs the
                 batch extraction job as epoch ``epoch-N``.

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

import sys

__version__ = "0.1.0"

# Inside an executor's Python worker, stop the per-task re-read of Spark's
# zip archives (job/packaging.py).  Drivers, tests and notebooks keep stock
# zipimport.
_files = sys.modules.get("pyspark.core.files")
if _files is not None and _files.SparkFiles._is_running_on_worker:
    from textextraction_spark.job.packaging import install_zip_guard

    install_zip_guard()
