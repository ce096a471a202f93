"""The benchmark's workloads and metrics, and its one result line.

``BENCHMARK.json`` at the repository root lists the same workloads and
metrics; ``qabench/tests/test_spec.py`` keeps the two in step.
"""

from __future__ import annotations

import json
import math

# name -> why it is in the benchmark (one line, shown in BENCHMARK.json).
# Two more pass kinds run only in traced runs, so every layer is
# measured: warc_to_buckets (WARC drop -> read_warc_drops ->
# parse_crawl_records -> run_with_resume, then a no-op resume) and
# corpus_build (documents -> build_training_corpus). See workloads.KINDS.
WORKLOADS: dict[str, str] = {
    "filter_pages": (
        "36k seeded pages -> apply_pipeline -> digest sink, no write: loads "
        "the Arrow kernel, then pipeline shuffle; bypasses the scrub's "
        "O(L^2) path"
    ),
    "scrub_longrun": (
        "as filter_pages, but 1 page in 1000 has an 8 KB [0-9a-f] run plus "
        "an address: loads the kernel's email regex O(L^2) backtracking"
    ),
}

# (name, unit, better, bound)
END_TO_END: list[tuple[str, str, str, float]] = [
    ("docs_per_s", "1/s", "higher", 0.25),
    ("cpu_ms_per_kdoc", "ms", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

# (name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.get_spark_s", "s", "lower"),
    ("session.peak_rss_mb", "MiB", "lower"),
    ("sources.ingest_s", "s", "lower"),
    ("sources.records_in", "count", "higher"),
    ("sources.pages_out", "count", "higher"),
    ("sources.pages_per_record", "ratio", "higher"),
    ("sources.split_python_ms", "ms", "lower"),
    ("kernel.qa_batch_us_per_doc", "us", "lower"),
    ("kernel.text_us_per_doc", "us", "lower"),
    ("kernel.html_us_per_doc", "us", "lower"),
    ("kernel.scrub_us_per_doc", "us", "lower"),
    ("kernel.longrun_ms_per_doc", "ms", "lower"),
    ("kernel.python_run_ms", "ms", "lower"),
    ("kernel.arrow_bytes_in", "bytes", "lower"),
    ("kernel.arrow_bytes_out", "bytes", "lower"),
    ("kernel.task_skew", "ratio", "lower"),
    ("pipeline.jvm_run_ms", "ms", "lower"),
    ("pipeline.shuffle_write_bytes", "bytes", "lower"),
    ("lineage.run_with_resume_s", "s", "lower"),
    ("lineage.write_ms", "ms", "lower"),
    ("lineage.stats_readback_ms", "ms", "lower"),
    ("lineage.append_ms", "ms", "lower"),
    ("lineage.done_lookup_ms", "ms", "lower"),
    ("lineage.resume_noop_s", "s", "lower"),
    ("lineage.files_written", "count", "lower"),
    ("lineage.output_bytes", "bytes", "lower"),
    ("queries.build_training_corpus_s", "s", "lower"),
    ("queries.jobs", "count", "lower"),
    ("queries.shuffle_bytes", "bytes", "lower"),
    ("queries.spill_bytes", "bytes", "lower"),
    ("queries.peak_exec_mem_mb", "MiB", "lower"),
    ("queries.gc_ms", "ms", "lower"),
    *[
        (f"{layer}.self_s", "s", "lower")
        for layer in (
            "session", "sources", "kernel", "pipeline", "lineage",
            "queries", "bench",
        )
    ],
    ("trace.self_sum_frac", "ratio", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("bench.steal_frac", "ratio", "lower"),
    ("bench.cpu_util", "ratio", "higher"),
]


def metric_units(trace: bool) -> dict[str, str]:
    """The metrics a run prints, by name, with their units."""
    if trace:
        return {name: unit for name, unit, _ in PER_LAYER}
    return {name: unit for name, unit, _, _ in END_TO_END}


def result_line(
    correct: bool,
    attempted: int,
    failed: int,
    values: dict[str, float],
    trace: bool,
) -> str:
    """The run's one result line, holding every metric of its kind.

    Every metric is printed whatever its value; a metric the run did
    not measure, a NaN or an unknown name is an error, never a silent
    gap in the line."""
    units = metric_units(trace)
    missing = sorted(set(units) - set(values))
    unknown = sorted(set(values) - set(units))
    if missing or unknown:
        raise ValueError(f"metrics missing {missing}, unknown {unknown}")
    bad = sorted(k for k, v in values.items() if not math.isfinite(float(v)))
    if bad:
        raise ValueError(f"metrics not finite: {bad}")
    if attempted < 1:
        raise ValueError("a run attempts at least one pass")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(values[k]), "unit": u} for k, u in units.items()
            },
        },
        separators=(",", ":"),
    )
