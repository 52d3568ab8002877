"""Subprocess runner for the real-SIGKILL resume test.

Runs resumable extract micro-runs and SIGKILLs ITSELF (no Python cleanup,
no JVM shutdown hooks, no parquet-writer close) partway through — the
real "killed job" of the north-star contract, unlike the in-process
simulated RuntimeError the other tests use.

Usage: kill_runner.py <output_path> <lineage_path> <mode>
  Both modes first run one micro-run of 3 of the 8 buckets to completion.
  mode=cut     SIGKILL before the next micro-run (clean cut: 3 committed
               buckets, nothing in flight).
  mode=orphan  run a 1-bucket micro-run whose lineage append SIGKILLs:
               its output commits, its lineage row dies with the process
               — a kill landing in the window between the output commit
               and the lineage append (the orphan-bucket crash window
               pipeline/lineage.py documents).
"""
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dhtmlparser3_spark.pipeline import lineage as ln
from dhtmlparser3_spark.plans.session import get_spark
from dhtmlparser3_spark.sources.pages import build_pages


def kill(why: str) -> None:
    print(f"KILLING self {why}", flush=True)
    os.kill(os.getpid(), signal.SIGKILL)


def main() -> None:
    out, lin, mode = sys.argv[1], sys.argv[2], sys.argv[3]
    spark = get_spark(app_name="kill-runner", cpus=4)
    pages = build_pages(spark, "/root/testdata/sf0.001")

    r = ln.run_extract_job(spark, pages, out, lin, n_buckets=8, max_buckets_per_run=3)
    print(f"MICRO_RUN_DONE {r['processed']}", flush=True)
    if mode == "cut":
        kill("before the next micro-run")
    ln._append_lineage = lambda frame, lineage_path: kill("at the lineage append")
    ln.run_extract_job(spark, pages, out, lin, n_buckets=8, max_buckets_per_run=1)
    print("UNREACHABLE: job completed without being killed", flush=True)
    sys.exit(3)


if __name__ == "__main__":
    main()
