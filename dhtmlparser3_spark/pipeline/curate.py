"""End-to-end corpus curation: the training-data pipeline composed.

    pages ──[robots filter (pre-parse host join)]───► allowed pages
          ──extract (salted, Arrow-batched parse)──► (url, main_text)
          ──drop null urls──────────────────────────► (url, text)
          ──[one url exchange, when any stage below is on]
          ──[cross-doc line dedup (opt-in)]─────────► boilerplate-free text
          ──[exact-substring span dedup (opt-in)]───► memorization-fuel cut
          ──[LM quality bucket filter (opt-in)]─────► prose-like docs
          ──quality scoring (pure columnar)────────► counters + score
          ──exact dedup (md5 window, keep 1st url)
            + quality floor (after the window)─────► curated corpus

Every stage is an operator that already has its own oracle; the composed
pipeline has a composed DuckDB oracle in ``__spark_entry__`` — the point
is that the stages CHAIN without materialization: one Python stage (the
parse), everything after it whole-stage-codegen.  In the default
configuration the md5-dedup window is the only extra shuffle, keyed on
the digest (uniform by construction — no skew).

The opt-in stages each reference their input several times (line and
span dedup join their keys-only counting branches back to the text; the
LM stage semi-joins its scores back), so nested they would hold the
parse nine times over.  Instead the parse output is routed through ONE
url exchange, ``spark.sql.shuffle.partitions`` wide: every branch reads
that same exchange, AQE reuses it, and the parse runs once per page.
Shuffle files carry the shared result — no persist, so no cache to own,
and a lost executor recomputes its part from lineage.  The width is
explicit because AQE would otherwise coalesce the few bytes of text into
one or two partitions and run the CPU-heavy dedup expressions on one or
two cores.  The explicit non-null url filter sits BELOW the exchange on
purpose: without it Catalyst infers ``isnotnull(url)`` from the dedup
joins and pushes it under one branch's exchange only, the branches stop
being identical, and the parse runs twice.  Downstream of the exchange
the counting sides move 16-byte keys only (functions/dedup.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dhtmlparser3_spark.functions.textops import with_quality
from dhtmlparser3_spark.pipeline.extract_job import extract_pages


def curate_corpus(
    pages: DataFrame,
    min_quality: int = 50,
    robots: DataFrame = None,
    agent: str = "*",
    line_dedup_min_docs: int = None,
    dup_span_k: int = None,
    lm_reference: DataFrame = None,
    lm_keep_buckets: Sequence[str] = ("head", "middle"),
    lm_thresholds: Sequence[int] = None,
    **extract_kw,
) -> DataFrame:
    """pages → curated (url, n_tokens, quality), deduped on exact text.

    Pages whose ``url`` is null are dropped in every configuration: the
    url is the id every dedup stage joins its drop-lists back on, so such
    a page could never be deduplicated.

    ``robots``: optional (url, body) robots.txt captures — when given,
    fetch-disallowed pages are dropped BEFORE the parse stage (the
    compliance filter is a host join over urls; running it first means
    a disallowed page never costs a parse, the right order at crawl
    scale).

    ``line_dedup_min_docs``: when set, lines appearing in >= that many
    docs are stripped from every doc AFTER extraction and BEFORE quality
    scoring / exact dedup — the order matters: boilerplate inflates
    token counts and makes near-identical articles hash differently, so
    removing it first improves both downstream stages (CCNet §4.1).

    ``dup_span_k``: when set, exact-substring dedup (Lee et al. 2021)
    cuts every >=k-token sequence occurring more than once corpus-wide,
    after the line stage — note its output is token-joined text
    (functions/dedup.py dup_spans), so it normalizes whitespace.

    ``lm_reference``: optional (doc_id, text) trusted corpus — when
    given, a bigram LM is trained on it and docs whose lm_bucket is not
    in ``lm_keep_buckets`` are dropped before the quality floor
    (functions/lm.py; the model broadcasts, the corpus does not move).
    ``lm_thresholds=(t_head, t_middle)`` overrides the module's
    corpus-calibrated bucket cuts — thresholds are model-relative, so a
    different reference corpus should pass its own.
    """
    if robots is not None:
        from dhtmlparser3_spark.functions.robots import (
            robots_filter,
            robots_rules,
        )

        pages = robots_filter(pages, robots_rules(robots, agent))
    ex = extract_pages(pages, with_metrics=False, **extract_kw)
    docs = ex.select("url", F.col("main_text").alias("text")).where(
        F.col("url").isNotNull()
    )
    if (
        line_dedup_min_docs is not None
        or dup_span_k is not None
        or lm_reference is not None
    ):
        # one url exchange that every branch of the stages below reuses,
        # at an explicit width AQE does not coalesce (module docstring)
        n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        docs = docs.repartition(n, "url")
    if line_dedup_min_docs is not None:
        from dhtmlparser3_spark.functions.dedup import line_dedup

        docs = line_dedup(
            docs, min_docs=line_dedup_min_docs, id_col="url"
        ).select("url", F.col("clean_text").alias("text"))
    if dup_span_k is not None:
        from dhtmlparser3_spark.functions.dedup import dup_spans

        docs = dup_spans(docs, k=dup_span_k, id_col="url").select(
            "url", F.col("clean_text").alias("text")
        )
    if lm_reference is not None:
        from dhtmlparser3_spark.functions.lm import bigram_model, lm_score

        model, total = bigram_model(lm_reference)
        kw = {}
        if lm_thresholds is not None:
            kw = {"t_head": lm_thresholds[0], "t_middle": lm_thresholds[1]}
        keep = (
            lm_score(docs, model, total, id_col="url", **kw)
            .where(F.col("lm_bucket").isin(list(lm_keep_buckets)))
            .select("url")
        )
        docs = docs.join(keep, "url", "left_semi")
    # the quality floor is applied after the md5 window, not before: rows
    # sharing a digest share their text and so their quality, which makes
    # the order irrelevant to the output, while a floor below the window
    # is pushed through every projection beneath it and re-evaluates the
    # dedup stages' text expressions inside the filter
    w = Window.partitionBy(F.md5("text")).orderBy("url")
    return (
        with_quality(docs)
        .withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") == 1) & (F.col("quality") >= min_quality))
        .select(
            "url",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("quality").cast("int").alias("quality"),
        )
    )
