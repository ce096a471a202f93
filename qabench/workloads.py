"""One closed-loop pass per workload, checked against its oracle.

A pass builds its plan through the program's public functions, forces
it, and compares an order-free digest computed inside Spark with the
expected digest from ``inputs``. ``run_pass`` returns True when the
pass's output matched.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qabench import inputs
from qabench.tracing import Tracer


def spark_digest(df: DataFrame, key: Column) -> list[int]:
    """The Spark twin of ``inputs.digest``: one aggregate row."""
    h = F.md5(key)

    def half(start: int) -> Column:  # 16 hex digits as an unsigned integer
        return F.conv(F.substring(h, start, 16), 16, 10).cast("decimal(20,0)")

    row = (
        df.select(half(1).alias("hi"), half(17).alias("lo"))
        .agg(F.count(F.lit(1)), F.sum("hi"), F.sum("lo"))
        .collect()[0]
    )
    return [int(row[0]), int(row[1] or 0), int(row[2] or 0)]


def label_key_col() -> Column:
    """The Spark twin of ``inputs.label_key``."""
    null = F.lit("\x00")
    return F.concat_ws(
        "\x01",
        F.col("url"),
        F.when(F.col("keep"), "true").otherwise("false"),
        F.coalesce(F.col("drop_reason"), null),
        F.coalesce(F.col("text_extracted"), null),
        F.coalesce(F.col("scrubbed_text"), null),
    )


def corpus_key_col() -> Column:
    return F.concat_ws(
        "\x01",
        F.col("doc_id").cast("string"),
        F.col("source"),
        F.col("cum_tokens").cast("string"),
    )


class Workload:
    def __init__(self, name: str, spark, tracer: Tracer, inp: dict, work: str):
        self.name = name
        self.spark = spark
        self.tr = tracer
        self.inp = inp
        self.work = work
        self.docs = inp["docs"]
        self.passes = 0
        self.pass_spans: list = []  # traced passes
        self.last: dict = {}  # what the last pass saw, for the trace

    def run_pass(self) -> bool:
        self.passes += 1
        with self.tr.span("bench.pass") as s:
            if s is not None:
                self.pass_spans.append(s)
            return self._pass()

    def _pass(self) -> bool:
        raise NotImplementedError


class FilterPages(Workload):
    """``filter_pages`` and ``scrub_longrun``: pages -> verdicts."""

    def _pass(self) -> bool:
        from eugl_spark.pipeline import apply_pipeline

        with self.tr.span("pipeline.apply_pipeline"):
            out = apply_pipeline(self.spark.read.parquet(self.inp["path"]))
            got = spark_digest(out, label_key_col())
        return got == self.inp["digest"]


class WarcToBuckets(Workload):
    """WARC drop -> pages -> bucketed write with lineage, then a resume."""

    def _pass(self) -> bool:
        from eugl_spark import constants as C
        from eugl_spark.lineage import run_with_resume
        from eugl_spark.sources.warc import parse_crawl_records, read_warc_drops

        out_dir = os.path.join(self.work, f"out-{self.passes}")
        run_id = f"pass{self.passes}"
        try:
            with self.tr.span("sources.read_warc_drops"):
                pages = parse_crawl_records(
                    read_warc_drops(self.spark, self.inp["path"]))
            with self.tr.span("lineage.run_with_resume"):
                first = run_with_resume(self.spark, pages, out_dir, run_id)
            with self.tr.span("lineage.resume_noop"):
                again = run_with_resume(self.spark, pages, out_dir, run_id)
            with self.tr.span("bench.check"):
                written = self.spark.read.parquet(
                    os.path.join(out_dir, "pages_out"))
                got = spark_digest(
                    written.filter(F.col("run_id") == run_id), label_key_col())
            if self.tr.enabled:
                self.last = _dir_stats(os.path.join(out_dir, "pages_out"))
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        return (
            first.get("written") == C.N_BUCKETS
            and first.get("failed") == 0
            and first.get("counters", {}).get("n_docs") == self.inp["pages"]
            and again == {"written": 0, "skipped": C.N_BUCKETS, "failed": 0}
            and got == self.inp["digest"]
        )


class CorpusBuild(Workload):
    """documents -> build_training_corpus, against the DuckDB oracle."""

    def _pass(self) -> bool:
        from eugl_spark.plans.queries import build_training_corpus

        with self.tr.span("queries.build_training_corpus"):
            got = spark_digest(
                build_training_corpus(self.spark, self.inp["path"]),
                corpus_key_col())
        return got == self.inp["digest"]


KINDS = {
    "filter_pages": FilterPages,
    "scrub_longrun": FilterPages,
    "warc_to_buckets": WarcToBuckets,
    "corpus_build": CorpusBuild,
}
# run once per traced run, so the sources, lineage and queries layers
# are measured whichever workload is traced
TRACE_ONLY = ("warc_to_buckets", "corpus_build")


def make(name: str, spark, tracer: Tracer, seed: int, work: str) -> Workload:
    return KINDS[name](name, spark, tracer, inputs.workload_input(name, seed), work)


def _dir_stats(path: str) -> dict:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "bytes": size}
