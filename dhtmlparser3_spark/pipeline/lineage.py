"""Checkpointed, idempotently-resumable extraction runs.

North-star requirement: "each micro-run checkpoints per-partition watermarks
and lineage (input file, row range, digest) ... so a killed job resumes
idempotently".

Design (Iceberg-shaped, parquet-implemented — this sandbox has no Iceberg
catalog; the commit protocol below is exactly what an Iceberg snapshot
append gives for free, and `write_mode="iceberg"` would collapse to a
single `writeTo(...).append()` of output+lineage in one transaction):

* Work is split into deterministic BUCKETS: ``bucket = xxhash64(url, salt)
  % n_buckets``.  A bucket is the unit of both salting (uniform spread →
  no host-level skew) and resume.
* A micro-run takes the pending buckets (at most ``max_buckets_per_run``)
  and is ONE output job: scan the input once, keep the micro-run's
  buckets, extract (map-only, html never shuffles), write parquet
  partitioned by bucket under ``out/bucket=<b>/``.  Then ONE lineage
  append of a row ``(run_id, bucket, input_path, n_docs, digest, ts)`` per
  bucket.  The append runs ONLY after the output job committed (parquet
  _SUCCESS), so the lineage table is always an UNDER-estimate of completed
  work: a crash between the two leaves that micro-run's buckets as orphan
  dirs — the orphan window is bounded by ``max_buckets_per_run``.
* The output write uses DYNAMIC partition overwrite, which replaces only
  the bucket dirs the micro-run writes: an orphan bucket is re-written on
  resume (idempotent, never duplicated) and a completed bucket is never
  touched.  That is what keeps resume idempotent.
* Resume = the set difference of all bucket ids and the (tiny) set of
  bucket ids with a committed lineage row, taken in Python (no join).
* The digest (SUM of per-url crc32 of extracted text — order-free like
  xor, computed from the COMMITTED files here and again by verify_run)
  makes re-runs verifiable: re-extracting a completed bucket must
  reproduce its digest.

At 10^12 docs: buckets ≈ tens of thousands (each a few GB), lineage table
stays tiny, and every micro-run is a fixed number of Spark jobs with
bounded state — the scheduler never holds the whole corpus in one plan.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dhtmlparser3_spark.functions.extract import EXTRACT_SCHEMA
from dhtmlparser3_spark.pipeline.extract_job import extract_pages

LINEAGE_SCHEMA = (
    "run_id string, bucket int, input_path string, n_docs bigint, "
    "digest bigint, committed_at timestamp"
)


def with_bucket(pages: DataFrame, n_buckets: int, salt: int = 2024) -> DataFrame:
    return pages.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col("url"), F.lit(salt)), F.lit(n_buckets)).cast("int"),
    )


def _missing_locally(path: str) -> bool:
    # fast check for local paths only — on a remote FS (s3://, hdfs://)
    # os.path.exists is always False and must not be consulted
    return "://" not in path and not os.path.exists(path)


def completed_buckets(spark: SparkSession, lineage_path: str) -> DataFrame:
    """Buckets with a committed lineage row (empty frame if none yet).

    ONLY a missing path means "no lineage yet" — a corrupt lineage file,
    permission error, or transient storage failure must PROPAGATE:
    swallowing it would mark every bucket pending, silently re-extract
    the whole corpus, and append duplicate lineage rows that verify_run
    then flags as corruption."""
    from pyspark.errors.exceptions.captured import AnalysisException

    none = spark.range(0).select(F.col("id").cast("int").alias("bucket"))
    if _missing_locally(lineage_path):
        return none
    try:
        return spark.read.parquet(lineage_path).select("bucket").distinct()
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return none
        raise


def pending_buckets(
    spark: SparkSession, pages: DataFrame, lineage_path: str, n_buckets: int
) -> list[int]:
    if _missing_locally(lineage_path):
        return list(range(n_buckets))
    done = {r.bucket for r in completed_buckets(spark, lineage_path).collect()}
    return [b for b in range(n_buckets) if b not in done]


def _bucket_output(
    pages: DataFrame, buckets: Sequence[int], n_buckets: int
) -> DataFrame:
    """The extracted rows of ``buckets``, with their ``bucket`` column: one
    scan of ``pages``, a filter, the Arrow extract straight over the scan
    splits (no exchange), and the bucket re-attached from the output url
    (the same deterministic hash, so each row lands in its own bucket)."""
    part = with_bucket(pages, n_buckets).where(F.col("bucket").isin(list(buckets)))
    out = extract_pages(part, repartition="none", with_metrics=False)
    return with_bucket(out, n_buckets)


def _bucket_digests(
    spark: SparkSession, output_path: str, buckets: Sequence[int]
) -> dict:
    """{bucket: (n_docs, digest)} computed from the COMMITTED files, not
    the in-flight frame; a bucket with no rows is absent."""
    written = (
        spark.read.schema(f"{EXTRACT_SCHEMA}, bucket int")
        .parquet(output_path)
        .where(F.col("bucket").isin(list(buckets)))
    )
    rows = written.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum(F.crc32(F.concat_ws(" ", "url", "extracted_text"))).alias("digest"),
    ).collect()
    return {r.bucket: (r.n, r.digest) for r in rows}


def _lineage_frame(spark: SparkSession, rows: Sequence[tuple]) -> DataFrame:
    """Lineage rows as a JVM-side frame typed by LINEAGE_SCHEMA (literals
    under ``inline``: no Python-side parallelize, so no Python task)."""
    fields = [f.split() for f in LINEAGE_SCHEMA.split(", ")]
    structs = [
        F.struct(*[F.lit(v).cast(t).alias(n) for (n, t), v in zip(fields, row)])
        for row in rows
    ]
    return spark.range(1, numPartitions=1).select(F.inline(F.array(*structs)))


def _append_lineage(frame: DataFrame, lineage_path: str) -> None:
    frame.write.mode("append").parquet(lineage_path)


def run_extract_job(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    lineage_path: str,
    n_buckets: int = 16,
    input_path: str = "",
    max_buckets_per_run: Optional[int] = None,
    fail_after_buckets: Optional[int] = None,
) -> dict:
    """One resumable micro-run over the pending buckets (at most
    ``max_buckets_per_run``): one output job that writes every bucket of
    the micro-run with dynamic partition overwrite, then one lineage append
    with a row per bucket.  A kill between the two leaves at most the
    micro-run's buckets as orphans, which the next run rewrites; dynamic
    overwrite never touches a completed bucket, so resume is idempotent.
    ``fail_after_buckets`` simulates a kill (tests): the output commits,
    the first ``fail_after_buckets`` lineage rows are appended, then it
    raises.

    Returns {run_id, processed, skipped, total}.
    """
    run_id = uuid.uuid4().hex[:12]
    pending = pending_buckets(spark, pages, lineage_path, n_buckets)
    skipped = n_buckets - len(pending)
    if max_buckets_per_run is not None:
        pending = pending[:max_buckets_per_run]

    if pending:
        (
            _bucket_output(pages, pending, n_buckets)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(output_path)
        )
        digests = _bucket_digests(spark, output_path, pending)
        committed_at = datetime.now()
        rows = [
            (run_id, b, input_path, *digests.get(b, (0, 0)), committed_at)
            for b in pending
        ]
        k = len(rows) if fail_after_buckets is None else fail_after_buckets
        # append AFTER the output committed: lineage never over-claims
        if rows[:k]:
            _append_lineage(_lineage_frame(spark, rows[:k]), lineage_path)
        if k < len(rows):
            raise RuntimeError(f"simulated kill after {k} buckets")
    return {
        "run_id": run_id,
        "processed": len(pending),
        "skipped": skipped,
        "total": n_buckets,
    }


def verify_run(
    spark: SparkSession, output_path: str, lineage_path: str
) -> DataFrame:
    """Recompute each committed bucket's digest from its output files and
    join against the lineage claim — any mismatch row is corruption."""
    out = spark.read.parquet(output_path)
    # parquet partition discovery yields the bucket column from the path
    recomputed = out.groupBy("bucket").agg(
        F.count("*").alias("n_actual"),
        F.sum(F.crc32(F.concat_ws(" ", "url", "extracted_text"))).alias(
            "digest_actual"
        ),
    )
    lineage = spark.read.parquet(lineage_path).select("bucket", "n_docs", "digest")
    return (
        recomputed.join(lineage, "bucket")
        .where(
            (F.col("n_actual") != F.col("n_docs"))
            | (F.col("digest_actual") != F.col("digest"))
        )
    )
