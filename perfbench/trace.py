"""The traced run: per-layer numbers, measured from outside the program.

Two sources, neither of which edits the program:

* Spark's own metrics.  The traced job runs in a session restarted with a
  local event log.  Task metrics give stage CPU, run, GC, scheduler wait
  and shuffle figures; SQL-node metrics (raw accumulator values) give the
  MapInArrow hand-off and the scan.  Nodes are found in the final adaptive
  plan of each SQL execution the job issues.
* In-process calls.  The kernel's public functions are called here, in the
  benchmark process, on the workload's own input bytes and timed with
  ``time.process_time_ns``; ``job.extract.extract_batch_arrow`` is timed
  the same way, minus the ``extract_document`` calls it makes.

Layer names follow the package: ``sources`` (pages, warc), ``core``
(extract, boilerplate/dom, pdfblocks, spans), ``job`` (job.extract),
``plans`` (pipeline, skew) and ``io`` (checkpoint).
"""

from __future__ import annotations

import json
import random
import statistics
import time
from collections import defaultdict
from pathlib import Path

FAMILIES = ("html", "pdf", "gzip", "non_utf8", "image_only")
PARTS = {
    "normalize": ("html", "pdf", "gzip", "non_utf8", "image_only"),
    "html_parse": ("html", "gzip", "non_utf8"),
    "pdf_parse": ("pdf", "image_only"),
    "spans": ("html", "pdf", "gzip", "non_utf8"),
}
# documents timed in-process: a uniform sample (kernel rate and shares),
# topped up per family so every family has enough for its percentiles
UNIFORM_SAMPLE = 1000
PER_FAMILY = 200


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
def event_log_conf(log_dir: Path) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_events(spark, log_dir: Path) -> list[dict]:
    """Every event logged so far, once the listener bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    (path,) = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def execution_ids(events) -> set[int]:
    return {e["executionId"] for e in events if e["Event"].endswith("SQLExecutionStart")}


def _walk(node):
    yield node
    for c in node["children"]:
        yield from _walk(c)


class Execution:
    """One SQL execution: final plan, accumulator values, tasks, duration."""

    def __init__(self, eid: int, events) -> None:
        self.id = eid
        self.plan = None
        start = end = None
        stages: set[int] = set()
        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            if e.get("executionId") == eid and "sparkPlanInfo" in e:
                self.plan = e["sparkPlanInfo"]  # the last one is the final plan
            if kind.endswith("SQLExecutionStart") and e["executionId"] == eid:
                start = e["time"]
            elif kind.endswith("SQLExecutionEnd") and e["executionId"] == eid:
                end = e["time"]
            elif kind == "SparkListenerJobStart":
                if e["Properties"].get("spark.sql.execution.id") == str(eid):
                    stages.update(e["Stage IDs"])
        self.duration_ms = float(end - start)
        self.tasks = [
            e for e in events if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages
        ]
        self.stage_accs: dict[int, set[int]] = defaultdict(set)
        self.acc: dict[int, float] = {}
        for e in events:
            if e["Event"] == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if info["Stage ID"] in stages:
                    for a in info["Accumulables"]:
                        v = _num(a.get("Value"))
                        if v is not None:
                            self.acc[a["ID"]] = max(v, self.acc.get(a["ID"], v))
                            self.stage_accs[info["Stage ID"]].add(a["ID"])
            elif e["Event"].endswith("SparkListenerDriverAccumUpdates") and e["executionId"] == eid:
                for acc_id, v in e["accumUpdates"]:
                    self.acc[acc_id] = float(v)

    def nodes(self, name_prefix: str) -> list[dict]:
        return [n for n in _walk(self.plan) if n["nodeName"].startswith(name_prefix)]

    def metric(self, node, name: str) -> float:
        """A node's metric in ms for timings, bytes for sizes, else as is."""
        for m in node["metrics"]:
            if m["name"] == name:
                v = self.acc.get(m["accumulatorId"], 0.0)
                return v / 1e6 if m["metricType"] == "nsTiming" else v
        return 0.0

    def stage_of(self, node) -> int:
        ids = {m["accumulatorId"] for m in node["metrics"]}
        for stage, accs in self.stage_accs.items():
            if ids & accs:
                return stage
        raise LookupError(f"no stage of execution {self.id} ran {node['nodeName']}")

    def task_sum(self, get, stage: int | None = None) -> float:
        return float(
            sum(get(t) for t in self.tasks if stage is None or t["Stage ID"] == stage)
        )


def _num(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _task(*path: str):
    """Getter of one task-metric field (nested keys) of a TaskEnd event."""

    def get(t):
        v = t["Task Metrics"]
        for k in path:
            v = v[k]
        return v

    return get


def _sched_wait_ms(t) -> float:
    """Scheduler delay plus deserialize time of one task, as the UI counts it."""
    info, m = t["Task Info"], t["Task Metrics"]
    duration = info["Finish Time"] - info["Launch Time"]
    delay = max(
        0,
        duration
        - m["Executor Run Time"]
        - m["Executor Deserialize Time"]
        - m["Result Serialization Time"]
        - info["Getting Result Time"],
    )
    return delay + m["Executor Deserialize Time"]


def spark_layers(spark, log_dir: Path, traced_ids: set[int], input_rows: int) -> dict:
    events = read_events(spark, log_dir)
    execs = [Execution(i, events) for i in sorted(traced_ids)]
    out: dict[str, tuple[float, str]] = {}

    def role(x: Execution) -> str:
        if x.nodes("MapInArrow"):
            return "results"
        return "metrics" if x.nodes("HashAggregate") else "commit"

    by_role = {}
    for x in execs:
        by_role.setdefault(role(x), x)
    res = by_role["results"]

    # job: the top-most MapInArrow of the results write is the extraction
    extract = res.nodes("MapInArrow")[0]
    out["job.python_run_ms"] = (res.metric(extract, "time to run Python workers"), "ms")
    out["job.python_start_ms"] = (res.metric(extract, "time to start Python workers"), "ms")
    out["job.python_init_ms"] = (res.metric(extract, "time to initialize Python workers"), "ms")
    out["job.mb_to_python"] = (res.metric(extract, "data sent to Python workers") / 1e6, "MB")
    out["job.mb_from_python"] = (
        res.metric(extract, "data returned from Python workers") / 1e6,
        "MB",
    )

    # sources: the scan reading the most bytes, and its stage
    scan = max(res.nodes("Scan"), key=lambda n: res.metric(n, "size of files read"))
    parse = [n for n in res.nodes("MapInArrow") if n is not extract]
    records = res.metric(parse[0] if parse else scan, "number of output rows")
    scan_cpu = res.task_sum(_task("Executor CPU Time"), res.stage_of(scan))
    out["sources.scan_cpu_ms"] = (scan_cpu / 1e6, "ms")
    out["sources.records"] = (records, "count")
    out["sources.mb_read"] = (res.metric(scan, "size of files read") / 1e6, "MB")

    # plans: shuffles of the results write, and useful rows per row read
    shuffle_w, shuffle_r = "Shuffle Write Metrics", "Shuffle Read Metrics"
    written = res.task_sum(_task(shuffle_w, "Shuffle Bytes Written"))
    out["plans.shuffle_write_mb"] = (written / 1e6, "MB")
    out["plans.shuffle_write_ms"] = (res.task_sum(_task(shuffle_w, "Shuffle Write Time")) / 1e6, "ms")
    out["plans.fetch_wait_ms"] = (res.task_sum(_task(shuffle_r, "Fetch Wait Time")), "ms")
    out["plans.rows_extracted_per_row_read"] = (
        res.metric(extract, "number of output rows") / input_rows,
        "ratio",
    )

    # io: one figure per SQL execution the job issues
    out["io.results_write_ms"] = (res.duration_ms, "ms")
    out["io.commit_ms"] = (by_role["commit"].duration_ms, "ms")
    out["io.metrics_ms"] = (by_role["metrics"].duration_ms, "ms")
    write = res.nodes("Execute InsertIntoHadoopFsRelationCommand")[0]
    out["io.output_mb"] = (res.metric(write, "written output") / 1e6, "MB")

    # spark: busy versus waiting, over every task of the job
    def total(get):
        return sum(x.task_sum(get) for x in execs)

    out["spark.executor_cpu_ms"] = (total(_task("Executor CPU Time")) / 1e6, "ms")
    out["spark.executor_run_ms"] = (total(_task("Executor Run Time")), "ms")
    out["spark.gc_ms"] = (total(_task("JVM GC Time")), "ms")
    out["spark.sched_wait_ms"] = (total(_sched_wait_ms), "ms")
    return out


# ---------------------------------------------------------------------------
# in-process kernel and Arrow hand-off
# ---------------------------------------------------------------------------
def family(data: bytes, no_text_layer: bool) -> str:
    if data[:2] == b"\x1f\x8b":
        return "gzip"
    if data.lstrip(b"\xef\xbb\xbf")[:4] == b"%PDF":
        return "image_only" if no_text_layer else "pdf"
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "non_utf8"
    try:
        data.decode("utf-8")
    except UnicodeDecodeError:
        return "non_utf8"
    return "html"


def time_parts(data: bytes) -> tuple[dict[str, int], bool]:
    """CPU ns of each kernel part on one document, and whether it had no
    text layer.  Parts run in the order ``extract_document`` runs them."""
    from time import process_time_ns as ns

    from textextraction_spark.core.boilerplate import extract_html
    from textextraction_spark.core.extract import normalize_bytes
    from textextraction_spark.core.pdfblocks import NoTextLayerError, is_pdf, parse_pdf
    from textextraction_spark.core.spans import extract_spans

    out = {}
    t0 = ns()
    norm = normalize_bytes(data)
    t1 = ns()
    out["normalize"] = t1 - t0
    pdf = is_pdf(norm)
    try:
        doc = parse_pdf(norm) if pdf else extract_html(norm)
    except NoTextLayerError:
        doc = None
    t2 = ns()
    out["pdf_parse" if pdf else "html_parse"] = t2 - t1
    if doc is not None:
        extract_spans(doc)
        out["spans"] = ns() - t2
    return out, doc is None


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def core_layers(docs: list[bytes], seed: int) -> dict:
    """Per-part CPU per family, plus kernel rate and part shares.

    Each document of the uniform sample is timed part by part and then
    through ``extract_document``, back to back, so a share compares two
    timings taken under the same machine load."""
    from time import process_time_ns as ns

    from textextraction_spark.core.extract import extract_document

    rng = random.Random(seed)
    order = list(range(len(docs)))
    rng.shuffle(order)
    for i in order[:50]:  # warm regex caches and lazy imports
        extract_document(docs[i])
    per_fam: dict[str, list[dict]] = defaultdict(list)
    totals: dict[str, int] = defaultdict(int)
    kernel = 0
    for i in order[:UNIFORM_SAMPLE]:
        parts, ntl = time_parts(docs[i])
        per_fam[family(docs[i], ntl)].append(parts)
        for k, v in parts.items():
            totals[k] += v
        t0 = ns()
        extract_document(docs[i])
        kernel += ns() - t0
    for i in order[UNIFORM_SAMPLE:]:
        if all(len(per_fam[f]) >= PER_FAMILY for f in FAMILIES):
            break
        parts, ntl = time_parts(docs[i])
        fam = family(docs[i], ntl)
        if len(per_fam[fam]) < PER_FAMILY:
            per_fam[fam].append(parts)

    out: dict[str, tuple[float, str]] = {}
    for part, fams in PARTS.items():
        for fam in fams:
            xs = [p[part] / 1e3 for p in per_fam[fam] if part in p]
            if xs:
                out[f"core.{part}.cpu_us_per_doc.{fam}.p50"] = (statistics.median(xs), "us")
                out[f"core.{part}.cpu_us_per_doc.{fam}.p99"] = (_pct(xs, 0.99), "us")
    n = min(UNIFORM_SAMPLE, len(docs))
    out["core.kernel.docs_per_cpu_s"] = (n / (kernel / 1e9), "docs/s")
    for part in PARTS:
        out[f"core.{part}.share"] = (totals[part] / kernel, "ratio")
    return out


def arrow_build_us_per_doc(pages, n: int = 1000) -> tuple[float, str]:
    """CPU of ``extract_batch_arrow`` minus its ``extract_document`` calls."""
    from time import process_time_ns as ns

    import textextraction_spark.job.extract as J

    inner = J.extract_document
    spent = [0]

    def timed(*a, **kw):
        t0 = ns()
        try:
            return inner(*a, **kw)
        finally:
            spent[0] += ns() - t0

    batch = pages.slice(0, n).to_batches(max_chunksize=n)[0]
    J.extract_document = timed
    try:
        t0 = ns()
        for _ in J.extract_batch_arrow(iter([batch])):
            pass
        total = ns() - t0
    finally:
        J.extract_document = inner
    return (total - spent[0]) / 1e3 / batch.num_rows, "us"


def in_process_layers(pages_dir: str, seed: int) -> dict:
    import pyarrow.parquet as pq

    pages = pq.read_table(pages_dir, columns=["url", "warc_ts", "html"])
    out = core_layers(pages.column("html").to_pylist(), seed)
    out["job.arrow_build_us_per_doc"] = arrow_build_us_per_doc(pages)
    return out


def traced_job(wl, log_dir: Path):
    """Run one job into fresh state and check it.  Returns its wall time,
    the SQL execution ids it issued and the check result."""
    before = execution_ids(read_events(wl.spark, log_dir))
    root = wl.fresh_root()
    t0 = time.perf_counter()
    wl.job(root, batch_id="traced")
    wall = time.perf_counter() - t0
    ids = execution_ids(read_events(wl.spark, log_dir)) - before
    res = wl.check(root, run=-1)
    wl.drop_root(root)
    return wall, ids, res
