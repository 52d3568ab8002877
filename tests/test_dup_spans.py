"""Duplicate-span removal (dedup.dup_spans) — differential + plan pin.

Spec (Lee et al. 2021 ExactSubstr, deterministic remove-all variant):
hash the k-gram at every token position; a k-gram occurring >= min_occ
times corpus-wide marks its window [p, p+k); every token covered by a
marked window is dropped; output is the space-join of survivors.
"""

from __future__ import annotations

import contextlib
import io
import random
import re
import time
from collections import Counter

import pytest

from dhtmlparser3_spark.functions.dedup import dup_spans


def model_dup_spans(docs: dict[int, str], k: int, min_occ: int):
    """Independent spec implementation (id -> (clean, n, n_removed))."""
    grams = Counter()
    toks = {d: t.split() for d, t in docs.items()}
    for d, ts in toks.items():
        for p in range(len(ts) - k + 1):
            grams[" ".join(ts[p : p + k])] += 1
    dup = {g for g, c in grams.items() if c >= min_occ}
    out = {}
    for d, ts in toks.items():
        covered = set()
        for p in range(len(ts) - k + 1):
            if " ".join(ts[p : p + k]) in dup:
                covered.update(range(p, p + k))
        kept = [t for i, t in enumerate(ts) if i not in covered]
        out[d] = (" ".join(kept), len(ts), len(ts) - len(kept))
    return out


def _run(spark, docs, k, min_occ):
    df = spark.createDataFrame(list(docs.items()), "doc_id int, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in dup_spans(df, k=k, min_occ=min_occ).collect()
    }
    assert got == model_dup_spans(docs, k, min_occ)


HANDCRAFTED = {
    1: "a b c d e f g h unique one",  # shared 8-gram prefix with 2
    2: "z z a b c d e f g h tail two",  # ...at a different offset
    3: "all different words here indeed",
    4: "p q r p q r p q r p q r",  # within-doc repeats cover everything
    5: "",  # empty doc untouched
    6: "short doc",  # < k tokens -> no positions
}


@pytest.mark.spark
def test_dup_spans_handcrafted(spark):
    _run(spark, HANDCRAFTED, k=8, min_occ=2)
    got = {
        r["doc_id"]: r["clean_text"]
        for r in dup_spans(
            spark.createDataFrame(
                list(HANDCRAFTED.items()), "doc_id int, text string"
            ),
            k=8,
            min_occ=2,
        ).collect()
    }
    assert got[1] == "unique one" and got[2] == "z z tail two"
    assert got[4] == ""  # entirely duplicated text


@pytest.mark.spark
@pytest.mark.parametrize("seed,k", [(3, 4), (99, 6)])
def test_dup_spans_random_differential(spark, seed, k):
    """Small-vocab random corpora make k-gram collisions common; one
    Spark job per corpus vs the pure-Python model."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(6)]
    docs = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))
        for d in range(80)
    }
    _run(spark, docs, k=k, min_occ=2)
    _run(spark, docs, k=k, min_occ=4)


@pytest.mark.spark
def test_dup_spans_long_duplicate_doc_bounded(spark):
    """Marking cost is bounded per doc: two identical 20,000-token docs
    mark ~20,000 positions each, merged into one covered interval per
    doc instead of a per-token scan over every marked position."""
    text = " ".join(f"t{i}" for i in range(20_000))
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id int, text string")
    t0 = time.perf_counter()
    rows = dup_spans(df, k=8).collect()
    elapsed = time.perf_counter() - t0
    assert sorted(tuple(r) for r in rows) == [
        (1, "", 20_000, 20_000),
        (2, "", 20_000, 20_000),
    ]
    assert elapsed <= 30, elapsed


@pytest.mark.spark
def test_dup_spans_text_shuffles_once(spark):
    """Scale contract (same as line_dedup): positional hashes feed the
    counting shuffles, the text column crosses exactly ONE Exchange, and
    the operator is pure codegen."""
    df = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(40)],
        "doc_id int, text string",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dup_spans(df, k=8).explain(mode="formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    sections = re.split(r"\n(?=\(\d+\) )", plan)
    exch = [
        s for s in sections if re.match(r"\(\d+\) Exchange", s.splitlines()[0])
    ]
    carrying = [s for s in exch if re.search(r"\btext#\d+", s)]
    assert len(exch) >= 3, plan
    assert len(carrying) == 1, plan


@pytest.mark.spark
def test_curate_composition_span_stage(spark):
    """dup_spans plugs into curate_corpus after the line stage: a long
    sequence shared by two pages is cut from both before quality/dedup."""
    import datetime

    from dhtmlparser3_spark.pipeline.curate import curate_corpus

    ts = datetime.datetime(2024, 1, 1)
    shared = "one two three four five six seven eight"
    rows = [
        ("http://h/a", ts, f"<html><p>alpha opening words {shared}</p></html>".encode(), None, "en"),
        ("http://h/b", ts, f"<html><p>{shared} beta closing words</p></html>".encode(), None, "en"),
        ("http://h/c", ts, b"<html><p>entirely unrelated page body text</p></html>", None, "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    base = {
        r["url"]: r["n_tokens"]
        for r in curate_corpus(pages, min_quality=1).collect()
    }
    got = {
        r["url"]: r["n_tokens"]
        for r in curate_corpus(pages, min_quality=1, dup_span_k=8).collect()
    }
    n_shared = len(shared.split())
    assert got["http://h/a"] == base["http://h/a"] - n_shared
    assert got["http://h/b"] == base["http://h/b"] - n_shared
    assert got["http://h/c"] == base["http://h/c"]


@pytest.mark.spark
def test_dup_spans_broadcast_mode_agrees(spark):
    """broadcast_dups changes the physical join, never the rows."""
    df = spark.createDataFrame(
        list(HANDCRAFTED.items()), "doc_id int, text string"
    )
    a = sorted(map(tuple, dup_spans(df, k=8, min_occ=2).collect()))
    b = sorted(
        map(tuple, dup_spans(df, k=8, min_occ=2, broadcast_dups=True).collect())
    )
    assert a == b
    plan = (
        dup_spans(df, k=8, broadcast_dups=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
