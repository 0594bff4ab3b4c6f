"""Extraction benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload warc_ingest --seed 1 --seconds 25 --trace 0

Runs the real job ``plans.pipeline.run_extraction_job`` at
``local[<cores>]`` from this one Python process, on inputs generated from
``--seed`` (see ``inputs.py``), for ``--seconds`` of timed runs.  Every
timed run starts from fresh state and its output is checked afterwards,
outside the timing (``check.py``).  With ``--trace 0`` the last line
carries the end-to-end metrics; with ``--trace 1`` the run adds one traced
job and the in-process layer timings (``trace.py``) and the last line
carries the per-layer metrics.  Metric names, units, bounds and the layer
predictions are in ``BENCHMARK.json`` and ``perfbench/design.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("crawl_mix", "warc_ingest", "recrawl_resume")
MIN_RUNS = 3
# shards of generated documents per workload, and documents per shard
SHARDS = 3
DOCS_PER_SHARD = 4000


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=DOCS_PER_SHARD, help="documents per shard")
    p.add_argument("--shards", type=int, default=SHARDS)
    p.add_argument(
        "--inject-wrong-row",
        action="store_true",
        help="corrupt one committed row after the first timed run (tests the check)",
    )
    return p.parse_args(argv)


def start_spark(work: Path, cores: int, extra: dict[str, str] | None = None):
    """A session whose scratch files all stay under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # also for the launcher JVM that spark-submit starts before the gateway
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from pyspark.sql import SparkSession

    conf = {
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": "1g",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # C1 only: the JIT is warm after one job instead of ~five, and a
        # pre-touched fixed heap keeps the JVM's share of the RSS constant
        "spark.driver.extraJavaOptions": (
            "-XX:TieredStopAtLevel=1 -Xms1g -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        **(extra or {}),
    }
    b = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Workload:
    """Generated inputs plus fresh state and the job call for one run."""

    def __init__(self, name: str, spark, work: Path, seed: int, args, cores: int):
        from perfbench import inputs as I

        self.name, self.spark, self.work, self.seed = name, spark, work, seed
        self.partitions = 2 * cores
        files = 2 * cores
        out = work / "inputs"
        out.mkdir()
        shard_s = []
        for shard in range(args.shards):
            t0 = time.perf_counter()
            I.write_shard(spark, seed, shard, args.docs, str(work / "docs"), str(out), files)
            shard_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        if name == "crawl_mix":
            self.inp = I.finish_crawl_mix(str(out))
        elif name == "warc_ingest":
            self.inp = I.finish_warc(spark, str(out), files)
        else:
            self.inp = I.finish_recrawl(spark, str(out), seed, files, self.partitions)
        self.finish_s = time.perf_counter() - t0
        self.inp.shard_s = shard_s
        self.pages_dir = str(out / "pages")
        self._runs = 0
        self.attach(spark)

    def attach(self, spark) -> None:
        """Use ``spark`` from now on (the traced run restarts the session)."""
        self.spark = spark
        self.expected_df = spark.read.parquet(self.inp.expected).cache()
        self.expected_df.count()

    def warm_up(self) -> float:
        """One untimed, unchecked job; returns its wall time."""
        t0 = time.perf_counter()
        root = self.fresh_root()
        self.job(root, batch_id="warmup")
        self.drop_root(root)
        return time.perf_counter() - t0

    def fresh_root(self) -> str:
        """A checkpoint root no run has used (outside the timing)."""
        self._runs += 1
        root = self.work / "ckpt" / f"run-{self._runs}"
        if self.inp.checkpoint:
            shutil.copytree(self.inp.checkpoint, root)
        return str(root)

    def drop_root(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)

    def job(self, root: str, batch_id: str = "bench"):
        """Read the inputs and run one extraction batch into ``root``."""
        from textextraction_spark.plans.pipeline import JobConfig, run_extraction_job

        if self.inp.kind == "warc":
            from textextraction_spark.sources.warc import read_warc

            pages = read_warc(self.spark, self.inp.path)
        else:
            pages = self.spark.read.parquet(self.inp.path)
        cfg = JobConfig(
            checkpoint_root=root,
            batch_id=batch_id,
            num_partitions=self.partitions,
            dedup_input=self.inp.dedup_input,
        )
        return run_extraction_job(self.spark, pages, cfg)

    def reference(self, urls: list[str]) -> dict[str, bytes]:
        """Latest-capture input bytes of ``urls``, read straight from parquet."""
        import pyarrow.parquet as pq

        t = pq.read_table(self.pages_dir, columns=["url", "html"], filters=[("url", "in", urls)])
        return dict(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))

    def check(self, root: str, run: int):
        from perfbench import check as C
        from textextraction_spark.io.checkpoint import CheckpointCatalog

        results = CheckpointCatalog(root).results(self.spark)
        urls = C.sample_urls(self.inp.sample_pool, self.seed, run)
        return C.CheckResult(
            attempted=self.inp.distinct_urls,
            failed_urls=C.failed_urls(self.expected_df, results),
            sample_mismatches=C.sample_mismatches(results, self.reference(urls), urls),
        )


def corrupt_one_row(root: str, seed: int) -> None:
    """Rewrite the committed results with one seeded row's text altered."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from textextraction_spark.io.checkpoint import CheckpointCatalog

    cat = CheckpointCatalog(root)
    path = cat.results_dir / cat.committed_batches()[-1]
    files = sorted(p for p in path.glob("*.parquet") if pq.read_metadata(p).num_rows)
    rng = random.Random(seed)
    victim = rng.choice(files)
    t = pq.read_table(victim)
    text = t.column("extracted_text").to_pylist()
    i = rng.randrange(len(text))
    text[i] += " corrupted"
    col = t.schema.get_field_index("extracted_text")
    pq.write_table(t.set_column(col, t.schema.field(col), pa.array(text, pa.string())), victim)
    (victim.parent / f".{victim.name}.crc").unlink(missing_ok=True)  # Hadoop checksum


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def timed_runs(wl: Workload, sampler, seconds: float, inject: bool):
    """Run jobs from fresh state until ``seconds`` have passed (at least
    MIN_RUNS); check each one outside the timing."""
    runs = []
    t_end = time.perf_counter() + seconds
    while len(runs) < MIN_RUNS or time.perf_counter() < t_end:
        root = wl.fresh_root()
        sampler.window()
        t0 = time.perf_counter()
        try:
            wl.job(root)
            raised = None
        except Exception as e:  # a failed run counts all its docs as failed
            raised = e
        wall = time.perf_counter() - t0
        cpu, peak = sampler.window()
        failed, ok = wl.inp.distinct_urls, False
        if raised is None:
            if inject and not runs:
                corrupt_one_row(root, wl.seed)
            t_check = time.perf_counter()
            try:
                res = wl.check(root, len(runs))
                failed, ok = res.failed, res.ok
                if not ok:
                    print(
                        f"check failed: {res.failed_urls} urls, "
                        f"sample mismatches {res.sample_mismatches[:3]}",
                        file=sys.stderr,
                    )
            except Exception as e:  # unreadable output fails the run
                raised = e
            print(
                f"run {len(runs)}: job {wall:.2f} s, cpu {cpu:.2f} s, "
                f"peak rss {peak / 1e6:.0f} MB, check {time.perf_counter() - t_check:.2f} s",
                file=sys.stderr,
            )
        if raised is not None:
            print(f"run {len(runs)} raised {type(raised).__name__}: {raised}", file=sys.stderr)
        wl.drop_root(root)
        runs.append({"wall": wall, "cpu": cpu, "peak": peak, "failed": failed, "ok": ok})
    return runs


def e2e_metrics(wl: Workload, runs, setup_s: float, cores: int) -> dict:
    rows, mb = wl.inp.rows, wl.inp.payload_bytes / 1e6
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s_per_core": (median([rows / r["wall"] / cores for r in runs]), "docs/s/core"),
        "mb_per_s_per_core": (median([mb / r["wall"] / cores for r in runs]), "MB/s/core"),
        "cpu_s_per_kdoc": (median([r["cpu"] / (rows / 1000) for r in runs]), "s/kdoc"),
        "peak_rss_mb": (median([r["peak"] / 1e6 for r in runs]), "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "textextraction_spark" / "__init__.py").is_file():
        print("perfbench: textextraction_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.proctree import TreeSampler

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_run" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sampler = TreeSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        wl = Workload(args.workload, spark, work, args.seed, args, cores)
        warmup_s = wl.warm_up()
        shards = wl.inp.shard_s
        setup_s = session_s + len(shards) * median(shards) + wl.finish_s + warmup_s
        print(
            f"setup: session {session_s:.2f} s, shards {[round(x, 2) for x in shards]} s, "
            f"finish {wl.finish_s:.2f} s, warm-up {warmup_s:.2f} s",
            file=sys.stderr,
        )

        runs = timed_runs(wl, sampler, args.seconds, args.inject_wrong_row)
        attempted = wl.inp.distinct_urls * len(runs)
        failed = sum(r["failed"] for r in runs)
        correct = all(r["ok"] for r in runs)
        e2e = e2e_metrics(wl, runs, setup_s, cores)
        for name, (value, unit) in e2e.items():
            how = (
                f"session + {len(shards)} x median shard build + finish + warm-up"
                if name == "setup_s"
                else f"median, n={len(runs)}"
            )
            print(f"{args.workload} {name} = {value:.6g} {unit} ({how})")
        print(
            f"{args.workload} fail_ratio = {failed / attempted:.6g} "
            f"(failed {failed} of {attempted} docs)"
        )
        metrics = e2e
        if args.trace:
            from perfbench import trace as T

            # the traced job runs in a session restarted with an event log
            log_dir = work / "eventlog"
            log_dir.mkdir()
            spark.stop()
            spark = start_spark(work, cores, T.event_log_conf(log_dir))
            wl.attach(spark)
            wl.warm_up()
            wall, ids, res = T.traced_job(wl, log_dir)
            attempted += res.attempted
            failed += res.failed
            correct = correct and res.ok
            metrics = {"tracing_overhead": (wall / median([r["wall"] for r in runs]), "ratio")}
            metrics.update(T.spark_layers(spark, log_dir, ids, wl.inp.rows))
            metrics.update(T.in_process_layers(wl.pages_dir, args.seed))
            for name, (value, unit) in metrics.items():
                print(f"{args.workload} {name} = {value:.6g} {unit}")
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only if no other run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
