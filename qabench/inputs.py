"""Seeded, cached benchmark inputs and their expected digests.

Every input is a pure function of (workload, seed, size, generator
source). Inputs are cached under ``.qabench/cache`` in the checkout,
keyed by a hash of the generator source; each entry is written to a
temporary directory and published by one rename, so a reader never
sees half an entry.

Drawing thousands of fresh pages and labelling them with the pandas
oracle costs about 1 ms a page, too slow to pay on every seed. So the
pages and WARC workloads draw, per seed, an exact per-class sample
from a seed-independent pool that is generated and labelled once per
checkout. The documents table of ``corpus_build`` is small and is
generated per seed; its expected result comes from the DuckDB oracle.

Class shares are exact for every seed, and rows are placed so that
each class, expensive ones included, is spread evenly over files and
row groups: which task straggles must not depend on the seed.

The expected result of a pass is an order-free digest (see
``digest``): the row count and two sums of md5 halves over one
canonical string per output row. The Spark side computes the same
digest inside Spark, so no rows are collected.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import re
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".qabench", "cache")

PAGES_PER_PASS = 36_000
FILES = 12  # scan tasks per pass: 4 waves on 3 task slots
LONGRUN_EVERY = 1000  # one long-run document per row group
LONGRUN_CHARS = 8192
WARC_PER_CASE = 400  # generate_warc_blobs cycles 11 parse cases
DOCS_PER_PASS = 1500
POOL_FACTOR = 2  # pool rows per row a pass draws, per class

_SEP, _NULL = "\x01", "\x00"

_SOURCES = (
    "qabench/inputs.py",
    "eugl_spark/corpus.py",
    "eugl_spark/oracle.py",
    "eugl_spark/constants.py",
    "eugl_spark/plans/queries.py",
)


def source_version() -> str:
    h = hashlib.md5()
    for rel in _SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


# --- digest ------------------------------------------------------------


def label_key(url, keep, drop_reason, text_extracted, scrubbed_text) -> str:
    """Canonical string of one labelled row (Spark twin: workloads.py)."""
    return _SEP.join(
        [
            url,
            "true" if keep else "false",
            _NULL if drop_reason is None else drop_reason,
            _NULL if text_extracted is None else text_extracted,
            _NULL if scrubbed_text is None else scrubbed_text,
        ]
    )


def corpus_key(doc_id, source, cum_tokens) -> str:
    return _SEP.join([str(int(doc_id)), source, str(int(cum_tokens))])


def digest(keys) -> list[int]:
    """[count, sum of md5 high halves, sum of md5 low halves]."""
    n = hi = lo = 0
    for k in keys:
        h = hashlib.md5(k.encode("utf-8")).hexdigest()
        n += 1
        hi += int(h[:16], 16)
        lo += int(h[16:], 16)
    return [n, hi, lo]


# --- cache plumbing ----------------------------------------------------


def _publish(name: str, build) -> str:
    """Return the cache entry ``name``, building it first if absent.

    ``build(tmp_dir)`` fills a private directory that is then renamed
    into place; of two processes racing to build it, the second rename
    loses and its copy is discarded."""
    final = os.path.join(CACHE, name)
    if os.path.isdir(final):
        return final
    os.makedirs(CACHE, exist_ok=True)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    return final


def _rng(workload: str, seed: int) -> np.random.RandomState:
    h = hashlib.md5(f"{workload}/{seed}".encode()).digest()
    return np.random.RandomState(int.from_bytes(h[:4], "little"))


def exact_counts(weights: dict[str, float], n: int) -> dict[str, int]:
    """Largest-remainder split of ``n`` rows by ``weights``."""
    names = list(weights)
    w = np.array([weights[k] for k in names], dtype=float)
    raw = w / w.sum() * n
    base = np.floor(raw).astype(int)
    order = np.argsort(-(raw - base), kind="stable")
    base[order[: n - base.sum()]] += 1
    return dict(zip(names, (int(x) for x in base)))


def spread_order(classes: list[str], counts: dict[str, int]) -> list[tuple[str, int]]:
    """(class, j) for every row, ordered so each class is evenly spaced.

    The j-th of a class's n rows sits at relative position (j+0.5)/n,
    so any contiguous slice of the order holds each class in its share
    (within two rows)."""
    keyed = [
        ((j + 0.5) / counts[c], ci, c, j)
        for ci, c in enumerate(classes)
        for j in range(counts[c])
    ]
    keyed.sort()
    return [(c, j) for _, _, c, j in keyed]


def _write_parts(table: pa.Table, out_dir: str, row_group: int) -> None:
    n = table.num_rows
    for f in range(FILES):
        lo, hi = f * n // FILES, (f + 1) * n // FILES
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(out_dir, f"part-{f:02d}.parquet"),
            row_group_size=row_group,
        )


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


# --- pages pool (filter_pages, scrub_longrun) -------------------------

_POOL_COLS = ["host", "warc_ts", "html", "text", "lang", "case",
              "keep", "drop_reason", "text_extracted", "scrubbed_text"]


def _label(pages: pd.DataFrame) -> pd.DataFrame:
    from eugl_spark.oracle import label_frame

    lab = label_frame(pages[["url", "html", "text"]])
    out = pages.reset_index(drop=True).copy()
    for c in ("keep", "drop_reason", "text_extracted", "scrubbed_text"):
        out[c] = lab[c].values
    return out


def _longrun_docs(n: int, base: pd.DataFrame) -> pd.DataFrame:
    """Clean English pages with one unbroken LONGRUN_CHARS run of
    local-part characters and a real address elsewhere."""
    rng = np.random.RandomState(7)
    hexd = np.array(list("0123456789abcdef"))
    rows = []
    for k in range(n):
        b = base.iloc[k % len(base)]
        run = "".join(hexd[rng.randint(16, size=LONGRUN_CHARS)])
        text = (
            f"{b.text}\nchecksum {run}\n"
            f"mail ops{k}@mail{k % 50}.example.org for access"
        )
        rows.append({"url": f"https://www.site{b.host}.example/longrun/{k}",
                     "host": b.host, "warc_ts": b.warc_ts, "html": None,
                     "text": text, "lang": "en", "case": "longrun"})
    return pd.DataFrame(rows)


def pages_pool() -> str:
    from eugl_spark.corpus import CASES, generate_pages

    need = {c: POOL_FACTOR * k for c, k in
            exact_counts(dict(CASES), PAGES_PER_PASS).items()}

    def build(tmp: str) -> None:
        parts, have, chunk = [], dict.fromkeys(need, 0), 0
        while any(have[c] < need[c] for c in need):
            df = generate_pages(8000, seed=9000 + chunk)
            df = df.rename(columns={"_case": "case"})
            df["host"] = df.url.str.extract(r"site(\d+)\.", expand=False).astype(int)
            # keep only the rows a class still needs
            keep = []
            for c, g in df.groupby("case", sort=False):
                take = min(len(g), need[c] - have[c])
                have[c] += take
                keep.extend(g.index[:take])
            parts.append(df.loc[sorted(keep)])
            chunk += 1
        pool = pd.concat(parts, ignore_index=True)
        pool["url"] = [f"https://pool.example/{i}" for i in range(len(pool))]
        clean = pool[(pool.case == "clean_en") & pool.text.notna()].head(64)
        n_long = POOL_FACTOR * PAGES_PER_PASS // LONGRUN_EVERY
        pool = pd.concat([pool, _longrun_docs(n_long, clean)], ignore_index=True)
        pool = _label(pool)
        pool[_POOL_COLS].to_parquet(os.path.join(tmp, "pool.parquet"), index=False)

    return os.path.join(_publish(f"pages-pool-{source_version()}", build),
                        "pool.parquet")


def pages_input(workload: str, seed: int) -> dict:
    """Per-seed pages table for ``filter_pages`` or ``scrub_longrun``."""
    from eugl_spark.corpus import CASES

    longrun = workload == "scrub_longrun"

    def build(tmp: str) -> None:
        pool = pd.read_parquet(pages_pool())
        rng = _rng(workload, seed)
        n_long = PAGES_PER_PASS // LONGRUN_EVERY if longrun else 0
        counts = exact_counts(dict(CASES), PAGES_PER_PASS - n_long)
        if longrun:
            counts["longrun"] = n_long
        picks = {
            c: rng.permutation(np.flatnonzero(pool.case.values == c))[:k]
            for c, k in counts.items()
        }
        idx = [picks[c][j] for c, j in spread_order(list(counts), counts)]
        rows = pool.iloc[idx].reset_index(drop=True)
        rows["url"] = [
            f"https://www.site{h}.example/p/{seed}/{i}"
            for i, h in enumerate(rows.host)
        ]
        table = pa.Table.from_pandas(
            rows[["url", "warc_ts", "html", "text", "lang"]],
            schema=pa.schema([("url", pa.string()),
                              ("warc_ts", pa.timestamp("us")),
                              ("html", pa.binary()), ("text", pa.string()),
                              ("lang", pa.string())]),
            preserve_index=False,
        )
        os.makedirs(os.path.join(tmp, "pages"))
        _write_parts(table, os.path.join(tmp, "pages"),
                     row_group=LONGRUN_EVERY)
        keys = (
            label_key(r.url, r.keep, r.drop_reason, r.text_extracted,
                      r.scrubbed_text)
            for r in rows.itertuples(index=False)
        )
        _write_json(os.path.join(tmp, "expected.json"),
                    {"docs": len(rows), "digest": digest(keys)})

    d = _publish(f"{workload}-{seed}-{PAGES_PER_PASS}-{source_version()}", build)
    meta = _read_json(os.path.join(d, "expected.json"))
    return {"path": os.path.join(d, "pages"), **meta}


# --- WARC drop pool (warc_to_buckets) ----------------------------------

_URI = re.compile(r"(?m)^WARC-Target-URI:[ \t]*(\S+)")
_TYPE = re.compile(r"(?m)^WARC-Type:[ \t]*(\S+)")
_TRUNC = re.compile(r"(?m)^WARC-Truncated:")
_STATUS = re.compile(rb"^HTTP/[0-9.]+[ \t]+([0-9]{3})")
_CHUNKED = re.compile(rb"(?im)^transfer-encoding:[ \t]*chunked")


def _dechunk(entity: bytes) -> bytes:
    out, i = [], 0
    while True:
        j = entity.index(b"\r\n", i)
        size = int(entity[i:j], 16)
        if size == 0:
            return b"".join(out)
        out.append(entity[j + 2 : j + 2 + size])
        i = j + 2 + size + 2


def expected_page(rec: bytes) -> dict | None:
    """What the ingest front must make of one WARC record, from the
    record format alone: None for a record it drops, else the page's
    url, html, text and ingest flag. Written for the record shapes
    ``corpus.generate_warc_blobs`` emits."""
    head_b, sep, body = rec.partition(b"\r\n\r\n")
    if not sep:
        return None
    head = head_b.decode("utf-8")
    uri, rtype = _URI.search(head), _TYPE.search(head)
    if uri is None or rtype is None:
        return None
    kind = rtype.group(1).lower()
    if kind == "conversion":
        return {"url": uri.group(1), "html": None,
                "text": body.decode("utf-8"), "flag": None}
    if kind != "response":
        return None
    flag = "truncated" if _TRUNC.search(head) else None
    entity = body
    status = _STATUS.match(body)
    if status is not None:
        if not 200 <= int(status.group(1)) <= 299:
            return None
        env, _, entity = body.partition(b"\r\n\r\n")
        if _CHUNKED.search(env):
            # the gzip-member splitter de-chunks before the parse
            entity = _dechunk(entity)
    return {"url": uri.group(1), "html": entity, "text": None, "flag": flag}


def warc_pool() -> str:
    from eugl_spark.corpus import generate_warc_blobs

    def build(tmp: str) -> None:
        recs = list(generate_warc_blobs(11 * POOL_FACTOR * WARC_PER_CASE,
                                        seed=11).content)
        pages = [expected_page(r) for r in recs]
        live = [i for i, p in enumerate(pages) if p is not None]
        lab = _label(pd.DataFrame([pages[i] for i in live]))
        keys: list[str | None] = [None] * len(recs)
        for i, r in zip(live, lab.itertuples(index=False)):
            if r.flag is not None:  # condemned before the kernel
                keys[i] = label_key(r.url, False, f"ingest_{r.flag}", None, None)
            else:
                keys[i] = label_key(r.url, r.keep, r.drop_reason,
                                    r.text_extracted, r.scrubbed_text)
        pd.DataFrame({
            "case": [i % 11 for i in range(len(recs))],
            "member": [gzip.compress(r + b"\r\n\r\n", mtime=0) for r in recs],
            "key": keys,
        }).to_parquet(os.path.join(tmp, "pool.parquet"), index=False)

    return os.path.join(_publish(f"warc-pool-{source_version()}", build),
                        "pool.parquet")


def warc_input(seed: int) -> dict:
    """Per-seed drop of per-record-gzip ``.warc.gz`` shards."""

    def build(tmp: str) -> None:
        pool = pd.read_parquet(warc_pool())
        rng = _rng("warc_to_buckets", seed)
        counts = dict.fromkeys(range(11), WARC_PER_CASE)
        picks = {
            c: rng.permutation(np.flatnonzero(pool.case.values == c))[:k]
            for c, k in counts.items()
        }
        idx = [picks[c][j] for c, j in spread_order(list(counts), counts)]
        members = pool.member.values[idx]
        drop = os.path.join(tmp, "drop")
        os.makedirs(drop)
        n = len(idx)
        for f in range(FILES):
            with open(os.path.join(drop, f"part-{f:02d}.warc.gz"), "wb") as fh:
                for m in members[f * n // FILES : (f + 1) * n // FILES]:
                    fh.write(m)
        keys = [k for k in pool.key.values[idx] if k is not None]
        _write_json(os.path.join(tmp, "expected.json"),
                    {"docs": n, "pages": len(keys), "digest": digest(keys)})

    d = _publish(f"warc-{seed}-{WARC_PER_CASE}-{source_version()}", build)
    meta = _read_json(os.path.join(d, "expected.json"))
    return {"path": os.path.join(d, "drop"), **meta}


# --- documents (corpus_build) -----------------------------------------

_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window small big order column join customer query "
    "filter data group stream vector of and to in is"
).split()
_LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))


def generate_documents(n: int, seed: int) -> pd.DataFrame:
    """A documents table (doc_id, text, lang, source, n_chars) with
    exact and near duplicates, so the dedup stages have clusters."""
    rng = _rng("corpus_build", seed)
    texts: list[str] = []
    originals: list[int] = []  # duplicates copy originals: star clusters
    for i in range(n):
        r = rng.rand()
        if originals and r < 0.05:
            texts.append(texts[originals[rng.randint(len(originals))]])
        elif originals and r < 0.15:
            words = texts[originals[rng.randint(len(originals))]].split()
            for _ in range(1 + rng.randint(3)):
                words[rng.randint(len(words))] = _VOCAB[rng.randint(len(_VOCAB))]
            texts.append(" ".join(words))
        else:
            k = 20 + rng.randint(75)
            texts.append(" ".join(_VOCAB[j] for j in rng.randint(len(_VOCAB), size=k)))
            originals.append(i)
    langs = [x for x, _ in _LANGS]
    counts = exact_counts(dict(_LANGS), n)
    lang = np.array([c for c, _ in spread_order(langs, counts)])
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang[rng.permutation(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def documents_input(seed: int) -> dict:
    def build(tmp: str) -> None:
        import duckdb

        from eugl_spark.plans.queries import REGISTRY

        path = os.path.join(tmp, "documents.parquet")
        pq.write_table(
            pa.Table.from_pandas(generate_documents(DOCS_PER_PASS, seed),
                                 preserve_index=False),
            path,
        )
        con = duckdb.connect()
        try:
            con.sql("SET threads=2")
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            rel = con.sql(REGISTRY["corpus_build_train"].sql)
            cols, rows = rel.columns, rel.fetchall()
        finally:
            con.close()
        if cols != ["doc_id", "source", "cum_tokens"]:
            raise RuntimeError(f"corpus_build_train oracle columns changed: {cols}")
        _write_json(os.path.join(tmp, "expected.json"),
                    {"docs": DOCS_PER_PASS,
                     "digest": digest(corpus_key(*r) for r in rows)})

    d = _publish(f"documents-{seed}-{DOCS_PER_PASS}-{source_version()}", build)
    meta = _read_json(os.path.join(d, "expected.json"))
    return {"path": d, **meta}


def workload_input(workload: str, seed: int) -> dict:
    if workload in ("filter_pages", "scrub_longrun"):
        return pages_input(workload, seed)
    if workload == "warc_to_buckets":
        return warc_input(seed)
    if workload == "corpus_build":
        return documents_input(seed)
    raise ValueError(workload)
