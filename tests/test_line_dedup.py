"""Cross-document line dedup (dedup.line_dedup) — differential + plan pins.

The spec (CCNet Wenzek et al. 2019 §4.1 / RefinedWeb Penedo et al. 2023
§3.2): a line whose trimmed, case-folded form appears in >= min_docs
distinct documents is boilerplate; EVERY occurrence is removed, blank
lines are structure and never removed, docs reassemble in line order.
Pinned against an independent pure-Python model on handcrafted edges and
seeded random corpora, and the 100 TB contract — full text crosses
exactly ONE exchange, zero Python eval nodes — is pinned on the plan.
"""

from __future__ import annotations

import random
import re
from collections import defaultdict

import pytest

from dhtmlparser3_spark.functions.dedup import (
    line_dedup,
    line_dup_stats,
    lined_corpus,
)


def model_line_dedup(docs: dict[int, str], min_docs: int):
    """Independent spec implementation (id -> (clean, n_lines, n_removed))."""
    docs_per: dict[str, set] = defaultdict(set)
    for d, t in docs.items():
        for ln in t.split("\n"):
            k = ln.strip().lower()
            if k:
                docs_per[k].add(d)
    dup = {k for k, s in docs_per.items() if len(s) >= min_docs}
    out = {}
    for d, t in docs.items():
        lines = t.split("\n")
        kept = [
            ln
            for ln in lines
            if not (ln.strip() and ln.strip().lower() in dup)
        ]
        out[d] = ("\n".join(kept), len(lines), len(lines) - len(kept))
    return out


HANDCRAFTED = {
    1: "footer\nunique one\n\nfooter",  # within-doc repeat: both go
    2: "Footer \nunique two",  # case/trim-normalized match
    3: "footer\nfooter",  # all lines removed -> ''
    4: "only here\n",  # trailing newline -> trailing blank kept
    5: "\n\n",  # blank-only doc untouched
    6: "FOOTER\nmid\nfooter",  # repeat w/ case variants
    7: "solo doc no dups at all",
}


def _run(spark, docs: dict[int, str], min_docs: int):
    df = spark.createDataFrame(
        list(docs.items()), "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in line_dedup(df, min_docs=min_docs).collect()
    }
    assert got == model_line_dedup(docs, min_docs)


@pytest.mark.spark
def test_line_dedup_handcrafted_edges(spark):
    for min_docs in (2, 3, 4, 99):
        _run(spark, HANDCRAFTED, min_docs)


@pytest.mark.spark
@pytest.mark.parametrize("seed", [7, 1234])
def test_line_dedup_random_corpus(spark, seed):
    """200 docs over a 12-line alphabet (high collision rate) + noise
    lines; seeded, one Spark job per corpus."""
    rng = random.Random(seed)
    alphabet = [
        "all rights reserved",
        "  All Rights Reserved ",  # normalizes onto the previous
        "subscribe now",
        "",  # blank lines sprinkled in
        "menu home about contact",
        "privacy policy",
        "terms of service",
        "cookie settings",
        "share on social",
        "back to top",
        "copyright 2026",
        "skip to content",
    ]
    docs = {}
    for d in range(200):
        n = rng.randint(0, 8)
        lines = [rng.choice(alphabet) for _ in range(n)]
        # unique-ish noise so most docs keep something
        lines.insert(rng.randint(0, len(lines)), f"doc {d} body {rng.random()}")
        docs[d] = "\n".join(lines)
    _run(spark, docs, min_docs=10)


@pytest.mark.spark
def test_line_dup_stats_model(spark):
    df = spark.createDataFrame(
        list(HANDCRAFTED.items()), "doc_id int, text string"
    )
    got = {
        r["sample_line"]: (r["n_docs"], r["n_occurrences"])
        for r in line_dup_stats(df, min_docs=2).collect()
    }
    # footer: docs 1(x2),2,3(x2),6(x2) -> 4 docs, 7 occurrences; min() of
    # the raw spellings is the exemplar ('FOOTER' < 'Footer ' < 'footer')
    assert got == {"FOOTER": (4, 7)}


@pytest.mark.spark
def test_lined_corpus_matches_python_recompute(spark):
    from dhtmlparser3_spark.functions import dedup as dd

    rows = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").orderBy("doc_id").limit(25).collect()
    got = {
        r["doc_id"]: r["text"]
        for r in lined_corpus(spark, "/root/testdata/sf0.001")
        .where("doc_id < 25")
        .collect()
    }
    for r in rows:
        toks = r["text"].strip().split()
        body = "\n".join(
            " ".join(toks[i : i + dd.LINE_TOKENS])
            for i in range(0, len(toks), dd.LINE_TOKENS)
        )
        want = body
        if r["doc_id"] % dd.HEADER_MOD == 0:
            want = dd.HEADER_LINE + "\n" + want
        if r["doc_id"] % dd.FOOTER_MOD == 0:
            want = want + "\n" + dd.FOOTER_LINE
        if r["doc_id"] % dd.PROMO_MOD == 0:
            want = want + "\n" + dd.PROMO_LINE
        assert got[r["doc_id"]] == want, r["doc_id"]


@pytest.mark.spark
def test_line_dedup_text_shuffles_once(spark):
    """The scale contract: the text column appears in exactly ONE Exchange
    (the final doc_id join) — line keys, not line text, feed the counting
    side — and the whole operator is codegen (no Python eval nodes)."""
    df = spark.createDataFrame(
        [(i, f"body {i}\nfooter") for i in range(50)],
        "doc_id int, text string",
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        line_dedup(df, min_docs=5).explain(mode="formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # formatted-mode node walk: each '(N) Exchange' section's 'Input'
    # block names the columns that cross that shuffle
    sections = re.split(r"\n(?=\(\d+\) )", plan)
    exch = [
        s
        for s in sections
        if re.match(r"\(\d+\) Exchange", s.splitlines()[0])
    ]
    carrying = [s for s in exch if re.search(r"\btext#\d+", s)]
    assert len(exch) >= 3, plan  # the counting pipeline is really there
    assert len(carrying) == 1, plan


@pytest.mark.spark
def test_curate_composition_line_stage(spark):
    """line_dedup plugs into curate_corpus between extract and quality:
    boilerplate lines stop counting toward n_tokens, and a doc that was
    ONLY boilerplate falls out at the quality floor."""
    import datetime

    from pyspark.sql import functions as F

    from dhtmlparser3_spark.pipeline.curate import curate_corpus

    ts = datetime.datetime(2024, 1, 1)
    footer = "subscribe to the footer newsletter"
    rows = []
    for i in range(12):
        body = f"<p>unique article text number {i} with words</p>"
        html = f"<html>{body}\n<p>{footer}</p></html>"
        rows.append((f"http://h/{i}", ts, html.encode(), None, "en"))
    # one page that is ONLY the footer
    rows.append(
        (
            "http://h/only-footer",
            ts,
            f"<html><p>{footer}</p></html>".encode(),
            None,
            "en",
        )
    )
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    base = {
        r["url"]: r["n_tokens"]
        for r in curate_corpus(pages, min_quality=1).collect()
    }
    got = {
        r["url"]: r["n_tokens"]
        for r in curate_corpus(
            pages, min_quality=1, line_dedup_min_docs=5
        ).collect()
    }
    n_footer_toks = len(footer.split())
    assert "http://h/only-footer" in base
    assert "http://h/only-footer" not in got  # '' text -> quality 0
    for i in range(12):
        u = f"http://h/{i}"
        assert got[u] == base[u] - n_footer_toks, u


@pytest.mark.spark
def test_line_dedup_idempotent(spark):
    """Removing boilerplate can't create boilerplate: remaining lines
    kept their (unchanged) doc counts < min_docs, so a second pass is a
    no-op — the fixpoint property a scheduled re-curation run relies on."""
    docs = dict(HANDCRAFTED)
    docs.update({10 + i: f"footer\npage {i}" for i in range(6)})
    df = spark.createDataFrame(list(docs.items()), "doc_id int, text string")
    once = line_dedup(df, min_docs=3)
    again = line_dedup(
        once.select("doc_id", once["clean_text"].alias("text")), min_docs=3
    ).collect()
    assert all(r["n_removed"] == 0 for r in again)
    first = {r["doc_id"]: r["clean_text"] for r in once.collect()}
    second = {r["doc_id"]: r["clean_text"] for r in again}
    assert first == second


@pytest.mark.spark
def test_line_dedup_broadcast_mode_agrees(spark):
    """broadcast_dups changes the physical join, never the rows."""
    df = spark.createDataFrame(
        list(HANDCRAFTED.items()), "doc_id int, text string"
    )
    a = sorted(map(tuple, line_dedup(df, min_docs=2).collect()))
    b = sorted(
        map(tuple, line_dedup(df, min_docs=2, broadcast_dups=True).collect())
    )
    assert a == b
    plan = (
        line_dedup(df, min_docs=2, broadcast_dups=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


@pytest.mark.spark
def test_curate_drops_null_url_pages(spark):
    """Policy: a page whose url is null is dropped in every configuration
    (its dedup drop-lists could never join back to it, so keeping it
    would let it through un-deduplicated)."""
    import datetime

    from dhtmlparser3_spark.pipeline.curate import curate_corpus

    ts = datetime.datetime(2024, 1, 1)
    body = "<html><p>plain readable words on this page</p></html>"
    rows = [
        (f"http://h/{i}", ts, body.replace("page", f"page {i}").encode(), None, "en")
        for i in range(4)
    ]
    rows.append((None, ts, b"<html><p>the page without any url</p></html>", None, "en"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    for kw in ({}, {"line_dedup_min_docs": 2, "dup_span_k": 8}):
        got = [r["url"] for r in curate_corpus(pages, min_quality=0, **kw).collect()]
        assert sorted(got) == [f"http://h/{i}" for i in range(4)], kw
