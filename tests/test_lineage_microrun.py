"""The resumable extract job's micro-run: one scan of the input however
many buckets it writes, and a resume that never rewrites a completed
bucket (dynamic partition overwrite)."""

from __future__ import annotations

import os

import pytest

from dhtmlparser3_spark.pipeline import lineage as ln
from dhtmlparser3_spark.sources.pages import build_pages
from tests.test_lineage_resume import SF


@pytest.mark.spark
def test_micro_run_reads_input_once(spark, tmp_path):
    """Every input row passes through the scan exactly once per micro-run,
    not once per bucket."""
    pages = build_pages(spark, SF)
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for batch in batches:
            seen.add(batch.num_rows)
            yield batch

    counted = pages.mapInArrow(count_rows, schema=pages.schema)
    out = str(tmp_path / "out")
    r = ln.run_extract_job(spark, counted, out, str(tmp_path / "lineage"), n_buckets=4)
    assert r["processed"] == 4
    assert seen.value == 500
    assert spark.read.parquet(out).count() == 500


@pytest.mark.spark
def test_resume_never_rewrites_completed_buckets(spark, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    pages = build_pages(spark, SF)
    with pytest.raises(RuntimeError, match="simulated kill"):
        ln.run_extract_job(spark, pages, out, lin, n_buckets=8, fail_after_buckets=3)
    done = sorted(r.bucket for r in ln.completed_buckets(spark, lin).collect())
    assert len(done) == 3

    def committed_files():
        files = set()
        for b in done:
            d = os.path.join(out, f"bucket={b}")
            if os.path.isdir(d):
                for name in os.listdir(d):
                    mtime = os.stat(os.path.join(d, name)).st_mtime_ns
                    files.add((b, name, mtime))
        return files

    before = committed_files()
    assert {b for b, _, _ in before} == set(done)
    r = ln.run_extract_job(spark, pages, out, lin, n_buckets=8)
    assert (r["skipped"], r["processed"]) == (3, 5)
    assert committed_files() == before
    assert spark.read.parquet(out).count() == 500
    assert ln.verify_run(spark, out, lin).count() == 0
