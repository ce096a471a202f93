"""One benchmark run inside the supervisor of ``run.py``.

    python3 -m qabench.driver --workload W --seed N --seconds S \
        --trace 0|1 --work DIR --result FILE

Phases: make the inputs (cached per seed, not part of set-up), start
Spark at ``local[3]`` (one core of four stays free for the JVM's own
threads and the driver), warm up for a fixed number of passes, then
measure closed-loop passes back to back until the passes during which
the host stole little CPU fill ``--seconds``. Every pass is checked against
its oracle; a pass that raises or mismatches counts as failed and the
run goes on.

Untraced runs report the end-to-end metrics. A traced run reports the
per-layer metrics instead: it runs the selected workload for the
window with every other pass traced (the traced and untraced
throughputs give the tracing overhead), then one traced pass of each
trace-only workload, so every layer is measured, and the in-process
kernel probes. Spark's event log, enabled for traced runs only,
supplies the task metrics.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import threading
import time
import traceback
from typing import NamedTuple

from qabench import inputs, procstat
from qabench.spec import WORKLOADS, result_line
from qabench.tracing import EventLog, Tracer, skew

CORES = 3
# the first pass is cold and per-pass CPU falls while the JIT warms;
# set-up ends after a fixed number of passes, so it moves with cold-start
# and early-pass cost only
WARMUP_PASSES = 5
MIN_PASSES = 3
# a pass during which the hypervisor stole more than this share of the
# host's CPU is not used, and the window is extended (up to
# MAX_WINDOW times --seconds) until the clean passes fill --seconds
STEAL_MAX = 0.03
MAX_WINDOW = 1.75


class Counter:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.untraced_s = 0.0  # wall time of passes run with tracing off

    def run(self, wl) -> bool:
        """One checked pass; failures are counted, never raised."""
        self.attempted += 1
        t = time.monotonic()
        traced = wl.tr.enabled
        try:
            ok = wl.run_pass()
        except Exception:  # noqa: BLE001 — a failed pass must not end the run
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"qabench: {wl.name} pass {wl.passes} failed its check",
                  file=sys.stderr)
        if not traced:
            self.untraced_s += time.monotonic() - t
        return ok


def log_pass(w: procstat.Window) -> None:
    print(f"qabench: pass wall {w.wall_s:.3f} s cpu {w.cpu_s:.3f} s "
          f"steal {w.steal_frac:.3f}", file=sys.stderr)


class Pass(NamedTuple):
    steal: float  # share of the host's CPU stolen during the pass
    rate: float  # docs/s
    cost: float  # CPU ms per 1000 docs
    wall: float  # s


def clean(passes: list[Pass]) -> list[Pass]:
    return [p for p in passes if p.steal <= STEAL_MAX]


def window_full(passes: list[Pass], seconds: float) -> bool:
    """Whether the clean passes fill ``seconds`` and number MIN_PASSES."""
    ok = clean(passes)
    return len(ok) >= MIN_PASSES and sum(p.wall for p in ok) >= seconds


def usable(passes: list[Pass]) -> list[Pass]:
    """The clean passes; when fewer than MIN_PASSES are clean, the
    MIN_PASSES passes with the least steal."""
    ok = clean(passes)
    return ok if len(ok) >= MIN_PASSES else sorted(passes)[:MIN_PASSES]


def measure(wl, seconds: float, counter: Counter) -> list[Pass]:
    """Closed-loop passes until the window is full or has lasted
    MAX_WINDOW * ``seconds``; returns the usable passes. Passes that
    failed their check give no rate."""
    passes: list[Pass] = []
    first = prev = procstat.sample()
    while not window_full(passes, seconds) \
            and prev.wall - first.wall < MAX_WINDOW * seconds:
        ok = counter.run(wl)
        now = procstat.sample()
        w = procstat.window(prev, now)
        log_pass(w)
        if ok:
            passes.append(Pass(w.steal_frac, wl.docs / w.wall_s,
                               w.cpu_s * 1e6 / wl.docs, w.wall_s))
        prev = now
    used = usable(passes)
    print(f"qabench: {len(used)} of {len(passes)} passes used", file=sys.stderr)
    return used


def median_or_zero(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree, sampled every 0.25 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.25):
            self.peak = max(self.peak, procstat.tree_rss_mb())


def spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def trace_lineage_helpers(tracer: Tracer) -> None:
    """Wrap the lineage steps run_with_resume calls by module global, so
    their jobs carry their own span (the write and the stats read-back
    run inline and are told apart by call site)."""
    from eugl_spark import lineage

    def wrap(fn, name):
        def inner(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)
        return inner

    lineage.done_buckets = wrap(lineage.done_buckets, "lineage.done_buckets")
    lineage._append_lineage = wrap(lineage._append_lineage, "lineage.append")


def kernel_probe(tracer: Tracer) -> dict[str, float]:
    """In-process CPU of qa_batch per document over fixed samples."""
    import pandas as pd

    from eugl_spark.models.doc_kernel import qa_batch

    pool = pd.read_parquet(inputs.pages_pool())
    normal = pool[pool.case != "longrun"]
    samples = {
        "kernel.qa_batch_us_per_doc": (normal.sample(1000, random_state=0), 1e6),
        "kernel.text_us_per_doc": (
            normal[(normal.case == "clean_en") & normal.text.notna()].head(500), 1e6),
        "kernel.html_us_per_doc": (
            normal[normal.text.isna() & normal.html.notna()].head(500), 1e6),
        "kernel.scrub_us_per_doc": (
            normal[normal.case.isin(["pii_email", "pii_phone", "pii_ip"])
                   & normal.text.notna()].head(500), 1e6),
        "kernel.longrun_ms_per_doc": (pool[pool.case == "longrun"].head(3), 1e3),
    }
    out = {}
    with tracer.span("kernel.qa_batch"):
        for name, (df, scale) in samples.items():
            text, html = df.text.reset_index(drop=True), df.html.reset_index(drop=True)
            runs = []
            for _ in range(3):
                t = time.process_time()
                qa_batch(text, html)
                runs.append((time.process_time() - t) / len(df) * scale)
            out[name] = statistics.median(runs)
    return out


def layer_metrics(tracer: Tracer, ev: EventLog, sel, wb, cb) -> dict[str, float]:
    """Per-layer numbers, each the median over the traced passes of the
    workload that loads the layer: the selected pages workload for the
    kernel and pipeline, ``wb`` (warc_to_buckets) for sources and
    lineage, ``cb`` (corpus_build) for queries."""

    def per_pass(wl, fn) -> float:
        return statistics.median(fn(tracer.subtree(s)) for s in wl.pass_spans)

    def tasks_sum(wl, fn) -> float:
        return per_pass(wl, lambda ids: sum(fn(t) for t in ev.tasks_of(ids)))

    def node(wl, node_name, metric) -> float:
        return per_pass(wl, lambda ids: ev.node_metric(ev.tasks_of(ids), node_name, metric))

    def kernel_skew(ids):
        tasks = ev.tasks_of(ids)
        return max(skew([t for t in tasks if t.stage == st])
                   for st in ev.node_stages(tasks, "ArrowEvalPython"))

    def span_s(wl, name):
        return statistics.median(
            tracer.spans[i].dur for s in wl.pass_spans for i in tracer.subtree(s)
            if tracer.spans[i].name == name)

    def lineage_ms(pass_span) -> dict[str, float]:
        """Job wall time inside run_with_resume, by step: the wrapped
        helpers have their own spans; of the jobs run_with_resume starts
        itself, the stats read-back is the one that collects."""
        rwr = next(tracer.spans[i] for i in tracer.subtree(pass_span)
                   if tracer.spans[i].name == "lineage.run_with_resume")
        out = dict.fromkeys(("write", "readback", "append", "done"), 0.0)
        for j in ev.jobs_of(tracer.subtree(rwr)):
            step = tracer.spans[j.span].name
            if step == "lineage.append":
                k = "append"
            elif step == "lineage.done_buckets":
                k = "done"
            elif j.call_site.startswith("collect"):
                k = "readback"
            else:
                k = "write"
            out[k] += j.completed_ms - j.submitted_ms
        return out

    lin = [lineage_ms(s) for s in wb.pass_spans]
    py_time = "time to run Python workers"
    return {
        "kernel.python_run_ms": node(sel, "ArrowEvalPython", py_time),
        "kernel.arrow_bytes_in": node(sel, "ArrowEvalPython", "data sent to Python workers"),
        "kernel.arrow_bytes_out": node(
            sel, "ArrowEvalPython", "data returned from Python workers"),
        "kernel.task_skew": per_pass(sel, kernel_skew),
        "pipeline.jvm_run_ms": tasks_sum(sel, lambda t: t.run_ms)
        - node(sel, "ArrowEvalPython", py_time),
        "pipeline.shuffle_write_bytes": tasks_sum(sel, lambda t: t.shuffle_write),
        "sources.split_python_ms": node(wb, "MapInPandas", py_time),
        "lineage.run_with_resume_s": span_s(wb, "lineage.run_with_resume"),
        "lineage.resume_noop_s": span_s(wb, "lineage.resume_noop"),
        "lineage.write_ms": statistics.median(x["write"] for x in lin),
        "lineage.stats_readback_ms": statistics.median(x["readback"] for x in lin),
        "lineage.append_ms": statistics.median(x["append"] for x in lin),
        "lineage.done_lookup_ms": statistics.median(x["done"] for x in lin),
        "lineage.files_written": wb.last["files"],
        "lineage.output_bytes": wb.last["bytes"],
        "queries.build_training_corpus_s": span_s(cb, "queries.build_training_corpus"),
        "queries.jobs": per_pass(cb, lambda ids: len(ev.jobs_of(ids))),
        "queries.shuffle_bytes": tasks_sum(cb, lambda t: t.shuffle_write),
        "queries.spill_bytes": tasks_sum(cb, lambda t: t.spill),
        "queries.peak_exec_mem_mb": per_pass(cb, lambda ids: max(
            (t.peak_mem for t in ev.tasks_of(ids)), default=0) / 2**20),
        "queries.gc_ms": tasks_sum(cb, lambda t: t.gc_ms),
    }


def traced_run(args, spark, tracer: Tracer, counter: Counter, wl) -> tuple[dict, dict]:
    """Passes of the selected workload for the window, traced and
    untraced in turn (so the JIT's warming does not bias the tracing
    overhead), then one traced pass of each trace-only workload and the
    in-process probes."""
    from eugl_spark.sources.warc import parse_crawl_records, read_warc_drops

    from qabench import workloads

    rates: dict[bool, list[float]] = {False: [], True: []}
    first = prev = procstat.sample()
    n = 0
    while prev.wall - first.wall < args.seconds or n < 2:
        tracer.enabled = traced = n % 2 == 1
        ok = counter.run(wl)
        tracer.enabled = False
        now = procstat.sample()
        if ok:
            rates[traced].append(wl.docs / procstat.window(prev, now).wall_s)
        prev, n = now, n + 1
    win = procstat.window(first, prev)

    extra = {name: workloads.make(name, spark, tracer, args.seed, args.work)
             for name in workloads.TRACE_ONLY}
    trace_lineage_helpers(tracer)
    tracer.enabled = True
    for o in extra.values():
        counter.run(o)
    wb = extra["warc_to_buckets"]
    with tracer.span("sources.ingest") as ingest:
        pages_out = parse_crawl_records(read_warc_drops(spark, wb.inp["path"])).count()
    kernel = kernel_probe(tracer)
    tracer.enabled = False
    untraced, traced = median_or_zero(rates[False]), median_or_zero(rates[True])
    values = {
        **kernel,
        "sources.ingest_s": ingest.dur,
        "sources.records_in": wb.docs,
        "sources.pages_out": pages_out,
        "sources.pages_per_record": pages_out / wb.docs,
        "trace.overhead_frac": 1 - traced / untraced if untraced and traced else 0.0,
        "bench.steal_frac": win.steal_frac,
        "bench.cpu_util": win.cpu_util,
    }
    return values, extra


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args(argv)
    # set-up is timed from the supervisor's start
    t0 = float(os.environ.get("QABENCH_T0", time.monotonic()))
    trace = bool(args.trace)

    from qabench import workloads

    g = time.monotonic()
    for name in [args.workload, *(workloads.TRACE_ONLY if trace else ())]:
        inputs.workload_input(name, args.seed)
    gen_s = time.monotonic() - g

    from eugl_spark.session import get_spark

    tracer = Tracer()
    tracer.enabled = trace
    rss = RssSampler()
    if trace:
        rss.start()
    event_log = os.path.join(args.work, "eventlog") if trace else None
    with tracer.span("session.get_spark") as get_spark_span:
        spark = get_spark("qabench", cores=CORES,
                          extra=spark_conf(args.work, event_log))
    tracer.spark = spark
    tracer.enabled = False
    counter = Counter()
    try:
        wl = workloads.make(args.workload, spark, tracer, args.seed, args.work)
        prev = procstat.sample()
        while wl.passes < WARMUP_PASSES:
            counter.run(wl)
            now = procstat.sample()
            log_pass(procstat.window(prev, now))
            prev = now
        setup_s = time.monotonic() - t0 - gen_s
        print(f"qabench: inputs {gen_s:.2f} s, setup {setup_s:.2f} s",
              file=sys.stderr)
        if trace:
            values, extra = traced_run(args, spark, tracer, counter, wl)
        else:
            used = measure(wl, args.seconds, counter)
            values = {
                "docs_per_s": median_or_zero([p.rate for p in used]),
                "cpu_ms_per_kdoc": median_or_zero([p.cost for p in used]),
                "setup_s": setup_s,
            }
    finally:
        spark.stop()  # also completes the event log
    if trace:
        rss.done.set()
        rss.join()
        ev = EventLog.from_dir(event_log)
        tracer.write(os.path.join(inputs.ROOT, ".qabench", "traces",
                                  f"{args.workload}-{args.seed}.jsonl"), ev)
        values.update(layer_metrics(tracer, ev, wl, extra["warc_to_buckets"],
                                    extra["corpus_build"]))
        values["session.get_spark_s"] = get_spark_span.dur
        values["session.peak_rss_mb"] = rss.peak
        self_s = tracer.self_times()
        values.update({f"{layer}.self_s": v for layer, v in self_s.items()})
        # wall time from the start of the first span to the end of the
        # last, measured outside the spans, less the untraced passes:
        # time no span covers lowers the ratio
        traced_wall = (max(s.end for s in tracer.spans) - get_spark_span.start
                       - counter.untraced_s)
        values["trace.self_sum_frac"] = sum(self_s.values()) / traced_wall

    line = result_line(counter.failed == 0, counter.attempted, counter.failed,
                       values, trace)
    with open(args.result, "w") as f:
        f.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
