from __future__ import annotations

import os

import pytest

from qabench import inputs


def test_exact_counts_are_exact():
    from eugl_spark.corpus import CASES

    for n in (36_000, 35_964, 997):
        counts = inputs.exact_counts(dict(CASES), n)
        assert sum(counts.values()) == n
        total = sum(w for _, w in CASES)
        for c, w in CASES:
            assert abs(counts[c] - w / total * n) < 1


def test_every_row_group_holds_one_long_run_document():
    from eugl_spark.corpus import CASES

    n = inputs.PAGES_PER_PASS
    n_long = n // inputs.LONGRUN_EVERY
    counts = inputs.exact_counts(dict(CASES), n - n_long)
    counts["longrun"] = n_long
    order = inputs.spread_order(list(counts), counts)
    assert len(order) == n
    per_group = [0] * n_long
    for pos, (c, _) in enumerate(order):
        if c == "longrun":
            per_group[pos // inputs.LONGRUN_EVERY] += 1
    assert per_group == [1] * n_long
    # every file holds each class in its share, to within two rows
    size = n // inputs.FILES
    for f in range(inputs.FILES):
        chunk = [c for c, _ in order[f * size:(f + 1) * size]]
        for c, k in counts.items():
            assert abs(chunk.count(c) - k / inputs.FILES) <= 2, (f, c)


def test_documents_are_a_function_of_the_seed():
    a = inputs.generate_documents(300, seed=5)
    b = inputs.generate_documents(300, seed=5)
    c = inputs.generate_documents(300, seed=6)
    assert a.equals(b)
    assert not a.text.equals(c.text)
    assert a.text.duplicated().any()  # exact duplicates for the dedup stage


def test_expected_page_follows_the_record_format():
    from eugl_spark.corpus import generate_warc_blobs

    recs = list(generate_warc_blobs(22, seed=1).content)
    pages = [inputs.expected_page(r) for r in recs]
    kept = {i % 11 for i, p in enumerate(pages) if p is not None}
    assert kept == {0, 1, 5, 7, 9, 10}
    assert pages[1]["text"] and pages[1]["html"] is None
    assert pages[7]["html"].startswith(b"<html>")
    assert pages[9]["flag"] == "truncated"
    assert pages[10]["html"].startswith(b"<p>") and pages[10]["flag"] is None


@pytest.mark.skipif(not os.environ.get("QABENCH_SLOW"),
                    reason="starts Spark; set QABENCH_SLOW=1")
def test_spark_digest_matches_python_digest(tmp_path):
    from pyspark.sql import SparkSession

    from qabench.workloads import label_key_col, spark_digest

    rows = [
        ("u1", True, None, "héllo wörld", "héllo"),
        ("u2", False, "too_short", "", None),
        ("u3", False, "no_content", None, None),
    ]
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.warehouse.dir", str(tmp_path))
             .getOrCreate())
    try:
        df = spark.createDataFrame(
            rows, "url string, keep boolean, drop_reason string, "
                  "text_extracted string, scrubbed_text string")
        got = spark_digest(df, label_key_col())
    finally:
        spark.stop()
    assert got == inputs.digest(inputs.label_key(*r) for r in rows)
