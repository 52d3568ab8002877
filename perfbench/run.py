#!/usr/bin/env python3
"""Seeded extraction benchmark: one command, four workloads.

    python3 perfbench/run.py --workload pages_large --seed 0 --seconds 3 --trace 0

Generates (or reuses) the workload's inputs for ``--seed``, sets the
program up through its public entry points with library defaults, runs
timed iterations for ``--seconds`` as a closed loop (one submitting process,
one Spark job at a time, ``local[nproc]``), checks every output, and prints the
end-to-end metrics (``--trace 0``) or the per-layer metrics of a traced
run (``--trace 1``).  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import time
import zlib


def _proc_start_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts as set-up too)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            up = float(f.read().split()[0])
        return up - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


_T_ENTRY = time.perf_counter() - _proc_start_s()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("pages_small", "pages_large", "warc_job", "curate")
N_SETUPS = 2
N_BUCKETS = 4
CURATE_KW = {"line_dedup_min_docs": 10, "dup_span_k": 12}
SAMPLE_DOCS = {"pages_small": 1000, "pages_large": 24, "warc_job": 60, "curate": 500}
PROBE_DOCS = 64
# timed iterations per run at least: pages_large iterations are short, so
# one run measures several of them
MIN_ITERS = {"pages_small": 2, "pages_large": 2, "warc_job": 1, "curate": 1}
CHECK_SAMPLE = 24


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# --- process tree: CPU, worker memory, window health ------------------------


def _children_map() -> dict:
    kids = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """utime+stime (+ reaped children) of this process and every
    descendant: this process, the JVM, the pyspark daemon and workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fld = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fld[11:15])
        except (OSError, ValueError, IndexError):
            continue
    return total / tick


def worker_hwm_mb() -> float:
    """Largest VmHWM of any Python process below the JVM."""
    best = 0
    for pid in _tree(os.getpid())[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        best = max(best, int(ln.split()[1]))
        except (OSError, ValueError):
            continue
    return best / 1024


def cpu_probe_ms() -> float:
    """Fixed stdlib-only CPU probe (zlib over fixed bytes): information
    about the window, never gated."""
    data = bytes(range(256)) * 8192
    t0 = time.perf_counter()
    zlib.compress(data, 6)
    return (time.perf_counter() - t0) * 1e3


# --- statistics ---------------------------------------------------------------


def summary(xs) -> dict:
    xs = list(xs)
    if len(xs) >= 2:
        q1, q2, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q2 = q3 = xs[0]
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs)}


# --- digests and the golden file ------------------------------------------------


def load_golden() -> dict:
    with open(os.path.join(HERE, "golden.json")) as f:
        g = json.load(f)
    if g.get("gen_version") != gen.GEN_VERSION:
        return {}
    return g


def py_digest(rows) -> list:
    """[count, Σ crc32(url ' ' text)] — Spark's concat_ws skips NULLs, so
    a NULL text digests the url alone."""
    n = s = 0
    for url, text in rows:
        key = url if text is None else f"{url} {text}"
        s += zlib.crc32(key.encode("utf-8"))
        n += 1
    return [n, s]


# --- workloads ------------------------------------------------------------------


class Workload:
    """One workload's set-up, timed iteration and checks.  Every call into
    the program goes through its public entry points with library
    defaults."""

    def __init__(self, name, wdir, props, seed, work_run):
        self.name, self.wdir, self.props, self.seed = name, wdir, props, seed
        self.work_run = work_run  # per-run scratch (outputs)
        self.input = os.path.join(wdir, "input")
        self.probe = os.path.join(wdir, "probe")
        self.seq = itertools.count()  # fresh output dirs for every iteration
        self.check_docs = self.sample_docs(CHECK_SAMPLE, random.Random(f"check-{seed}"))

    # registration: the lazily-planned input frames
    def register(self, spark):
        from dhtmlparser3_spark.sources.tables import read_pages

        if self.name == "warc_job":
            return  # the production path reads WARC inside the job
        self.pages = read_pages(spark, self.input)
        self.probe_pages = read_pages(spark, self.probe)

    def _warc_glob(self, probe=False):
        return os.path.join(self.probe if probe else self.wdir, "input", "*.warc.gz")

    @staticmethod
    def _extract_digest(ex, sample_urls=()):
        """The aggregate after ``extract_pages``: count, digest, error rows
        by class, and the rows of the sampled urls for the cross-check."""
        from pyspark.sql import functions as F

        err = F.col("error")
        picked = F.col("url").isin(list(sample_urls))
        return ex.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.crc32(F.concat_ws(" ", "url", "extracted_text"))), F.lit(0)).alias("d"),
            F.sum(F.when(err.startswith("ValueError"), 1).otherwise(0)).alias("ValueError"),
            F.sum(F.when(err.startswith("OverflowError"), 1).otherwise(0)).alias("OverflowError"),
            F.sum(F.when(err.isNotNull(), 1).otherwise(0)).alias("errors"),
            F.collect_list(F.when(picked, F.struct("url", "extracted_text", "error"))).alias("sample"),
        ).collect()[0]

    def warmup(self, spark) -> list:
        """The warm-up job: ``extract_pages`` over the fixed probe input;
        for warc_job the production path with one bucket over four probe
        shards, so the timed job finds as many Python workers as it runs
        at once.  Returns the probe's digest, pinned in golden.json
        whatever the seed."""
        from dhtmlparser3_spark.pipeline.extract_job import extract_pages

        if self.name == "warc_job":
            res = self._production(spark, self._warc_glob(probe=True), 1)
            return res["lineage_digest"] if res["mismatch_rows"] == 0 else [-1, -1]
        r = self._extract_digest(extract_pages(self.probe_pages))
        return [r.n, r.d]

    def _production(self, spark, glob, n_buckets, spans=None, parent=None) -> dict:
        """warc_pages → run_extract_job → verify_run into fresh dirs, as
        jobs/extract_job_main.py runs it."""
        import pyarrow.parquet as pq

        from dhtmlparser3_spark.pipeline.lineage import run_extract_job, verify_run
        from dhtmlparser3_spark.sources.warc import warc_pages

        out = os.path.join(self.work_run, f"it{next(self.seq)}")
        out_dir, lin_dir = os.path.join(out, "out"), os.path.join(out, "lineage")
        with spans.span("pipeline.lineage.run_extract_job", parent) if spans else contextlib.nullcontext():
            run_extract_job(spark, warc_pages(spark, glob), out_dir, lin_dir,
                            n_buckets=n_buckets, input_path=glob)
        t0 = time.perf_counter()
        with spans.span("pipeline.lineage.verify_run", parent) if spans else contextlib.nullcontext():
            bad = verify_run(spark, out_dir, lin_dir).count()
        verify_s = time.perf_counter() - t0
        lin = pq.read_table(lin_dir).to_pydict()
        return {"out": out, "mismatch_rows": bad, "verify_s": verify_s,
                "lineage_digest": [sum(lin["n_docs"]), sum(lin["digest"])],
                "buckets": len(lin["bucket"])}

    def iterate(self, spark, k, spans, parent) -> dict:
        """One timed iteration.  Returns the output facts the checks use;
        the wall time is taken by the caller."""
        from dhtmlparser3_spark.pipeline.curate import curate_corpus
        from dhtmlparser3_spark.pipeline.extract_job import extract_pages

        if self.name in ("pages_small", "pages_large"):
            with spans.span("pipeline.extract_job.extract_pages", parent):
                r = self._extract_digest(extract_pages(self.pages), [u for u, _ in self.check_docs])
            return {"n": r.n, "digest": [r.n, r.d],
                    "errors": {"ValueError": r.ValueError, "OverflowError": r.OverflowError},
                    "error_rows": r.errors,
                    "sample": {x.url: (x.extracted_text, x.error) for x in r.sample}}
        if self.name == "warc_job":
            return self._production(spark, self._warc_glob(), N_BUCKETS, spans, parent)
        out = os.path.join(self.work_run, f"it{next(self.seq)}")
        with spans.span("pipeline.curate.curate_corpus", parent):
            curate_corpus(self.pages, **CURATE_KW).write.mode("overwrite").parquet(out)
        return {"out": out}

    def check(self, res) -> dict:
        """Facts of one iteration's output: docs out, digest, error rows.
        Reads written outputs with pyarrow, not through the program."""
        import pyarrow.parquet as pq

        if self.name in ("pages_small", "pages_large"):
            return res
        if self.name == "curate":
            t = pq.read_table(res["out"]).to_pydict()
            d = py_digest(zip(t["url"], (f"{a} {b}" for a, b in zip(t["n_tokens"], t["quality"]))))
            return {**res, "n": d[0], "digest": d, "kept": d[0], "error_rows": 0, "errors": {}}
        t = pq.read_table(os.path.join(res["out"], "out"),
                          columns=["url", "extracted_text", "error"]).to_pydict()
        d = py_digest(zip(t["url"], t["extracted_text"]))
        return {**res, "n": d[0], "digest": d, "table": t,
                "error_rows": sum(e is not None for e in t["error"]), "errors": {}}

    def sample_docs(self, k: int, rng: random.Random, max_bytes: int = 200_000) -> list:
        """A seeded sample of (url, html bytes) from the generated input."""
        import pyarrow.parquet as pq

        if self.name == "warc_job":
            t = pq.read_table(os.path.join(self.wdir, "truth.parquet"))
        else:
            t = pq.read_table(self.input, columns=["url", "html"])
        idx = rng.sample(range(t.num_rows), min(2 * k, t.num_rows))
        t = t.take(idx).to_pydict()
        rows = [(u, h.encode("utf-8") if isinstance(h, str) else h)
                for u, h in zip(t["url"], t["html"])]
        return [r for r in rows if len(r[1]) <= max_bytes][:k]

    def cross_check(self, last) -> tuple:
        """The seeded sample ``check_docs`` of the last iteration's output
        vs ``engine.api.parse(html).content_str()`` (for warc_job the html
        is the payload the generator wrote).  Returns (checked, mismatched,
        notes)."""
        from dhtmlparser3_spark.engine.api import parse

        def expect(html: str):
            try:
                return parse(html).content_str(), None
            except Exception as e:  # noqa: BLE001 — the expected error row
                return None, type(e).__name__

        if self.name == "curate":
            # curate's output is (url, n_tokens, quality): check that kept
            # urls exist and that exact duplicates collapsed
            kept = last["kept"]
            bad = int(kept > self.props["docs"] - self.props["exact_dups"] or kept == 0)
            return 1, bad, [] if not bad else [f"kept={kept}"]
        if self.name == "warc_job":
            t = last["table"]
            got = {u: (x, e) for u, x, e in zip(t["url"], t["extracted_text"], t["error"])}
        else:
            got = last["sample"]
        bad, notes = 0, []
        for url, html in self.check_docs:
            want, werr = expect(html.decode("utf-8", errors="replace"))
            text, err = got.get(url, (None, "missing"))
            ok = text == want if werr is None else (err or "").startswith(werr)
            if not ok:
                bad += 1
                notes.append(url)
        return len(self.check_docs), bad, notes[:5]


# --- the run ---------------------------------------------------------------------


def get_session(cpus, eventlog_dir=None):
    from dhtmlparser3_spark.plans.session import get_spark

    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark writes inside the checkout; nothing here
    # changes a tuning default
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": eventlog_dir,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def shutdown(spark):
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        finally:
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program must be importable from the checkout; fail before any output
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import dhtmlparser3_spark.pipeline.lineage  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the program: {e}")
        return 2
    if not os.path.abspath(dhtmlparser3_spark.__file__).startswith(ROOT + os.sep):
        log(f"perfbench: the program is imported from outside the checkout: {dhtmlparser3_spark.__file__}")
        return 2
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import tempfile

    tempfile.tempdir = None

    cpus = os.cpu_count() or 1
    health = {"nproc": cpus, "loadavg_before": os.getloadavg(), "cpu_probe_ms": cpu_probe_ms()}
    t_excl = time.perf_counter()
    work_run = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_run, ignore_errors=True)
    os.makedirs(work_run)
    wdir = os.path.join(WORK, "inputs", f"{args.workload}-s{args.seed}-g{gen.GEN_VERSION}")
    props = gen.generate(args.workload, args.seed, wdir, PROBE_DOCS)
    wl = Workload(args.workload, wdir, props, args.seed, work_run)
    # input generation is cached by seed and the sample is the benchmark's
    # own bookkeeping: neither is set-up
    excluded_s = time.perf_counter() - t_excl

    spans = tracing.Spans()
    root = spans.add("workload", time.time_ns(), 0)
    golden = load_golden()
    failures, notes = 0, []
    spark = None
    eventlog_dir = os.path.join(work_run, "eventlog")
    setups, starts = [], []
    probe_digests = []
    iters_untraced, iters = [], []
    try:
        # set-up, N_SETUPS times: the first from process start (imports +
        # JVM launch), the rest a fresh SparkContext in the live JVM.  Traced
        # mode measures untraced iterations on the last of them, as the
        # timed mode does, then sets up once more with the event log on.
        n_setups = N_SETUPS + args.trace
        for i in range(n_setups):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            traced_ctx = args.trace and i == n_setups - 1
            spark, st = get_session(cpus, eventlog_dir if traced_ctx else None)
            starts.append(st)
            wl.register(spark)
            probe_digests.append(wl.warmup(spark))
            t1 = time.perf_counter()
            setups.append(t1 - _T_ENTRY - excluded_s if i == 0 else t1 - t0)
            if args.trace and i == n_setups - 2:
                iters_untraced = run_iterations(wl, spark, args.seconds / 2, spans, None)
        health["spark"] = spark.version
        health["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        import pyarrow

        health["pyarrow"] = pyarrow.__version__

        budget = args.seconds / 2 if args.trace else args.seconds
        iters = run_iterations(wl, spark, budget, spans, root)

        # checks -------------------------------------------------------------
        want_probe = golden.get("probe", {}).get(args.workload)
        for d in probe_digests:
            if d != want_probe:
                failures += PROBE_DOCS
                notes.append(f"probe digest {d} != golden {want_probe}")
        docs = props["docs"]
        planted = props.get("planted_errors", {})
        first = iters[0]["digest"]
        want_full = golden.get("full", {}).get(args.workload) if args.seed == gen.DEFAULT_SEED else None
        for it in iters + iters_untraced:
            missing = 0 if args.workload == "curate" else abs(docs - it["n"])
            unplanted = max(0, it["error_rows"] - sum(planted.values()))
            unplanted += sum(abs(it["errors"].get(c, 0) - v) for c, v in planted.items())
            wrong = 0
            if it["digest"] != first or (want_full is not None and it["digest"] != want_full):
                wrong = docs  # the whole output is unverified
            if args.workload == "warc_job" and (it["mismatch_rows"] or it["lineage_digest"] != it["digest"]):
                wrong = docs
            failures += missing + unplanted + wrong
            if missing or unplanted or wrong:
                notes.append(f"iteration: missing={missing} unplanted_errors={unplanted} wrong={wrong}")
        checked, bad, bad_urls = wl.cross_check(iters[-1])
        failures += bad
        if bad:
            notes.append(f"sample mismatch {bad}/{checked}: {bad_urls}")
        attempted = docs * len(iters + iters_untraced) + checked + PROBE_DOCS * len(probe_digests)
        health["loadavg_after"] = os.getloadavg()

        if args.trace:
            layer = traced_layers(wl, spark, iters, iters_untraced, starts, spans, root, eventlog_dir)
            spark = None  # stopped inside traced_layers (flushes the event log)
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layer.items()}
        else:
            metrics = e2e_metrics(iters, setups, docs)
        failed_frac = failures / attempted
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "props": {k: v for k, v in props.items()}, "health": health,
                  "setups_s": setups, "get_spark_s": starts, "probe_digests": probe_digests,
                  "iterations": [strip(it) for it in iters],
                  "failed_frac": failed_frac, "notes": notes}
        os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
        with open(os.path.join(WORK, "records", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump({**record, "metrics": metrics}, f, default=str)
        spans.items[root] = (root, "workload", spans.items[root][2], time.time_ns(), None, None)
        spans.dump(os.path.join(WORK, "records", f"{args.workload}-s{args.seed}-t{args.trace}.spans.json"))
        report(record, metrics, failed_frac, spans if args.trace else None)
        print(json.dumps({"correct": failures == 0, "attempted": attempted, "failed": failures,
                          "metrics": metrics}))
        return 0 if failures == 0 else 1
    finally:
        shutdown(spark)
        shutil.rmtree(work_run, ignore_errors=True)


def strip(it):
    return {k: v for k, v in it.items() if k not in ("table", "sample")}


def run_iterations(wl, spark, seconds, spans, root) -> list:
    """Closed loop: the next job starts when the previous one has
    returned; at least one iteration."""
    out = []
    t_end = time.perf_counter() + seconds
    while len(out) < MIN_ITERS[wl.name] or time.perf_counter() < t_end:
        k = len(out)
        cpu0, w0 = tree_cpu_s(), time.time()
        t0 = time.perf_counter()
        with spans.span("iteration", root, doc=k) as sid:
            res = wl.iterate(spark, k, spans, sid)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        res = wl.check(res)
        res.update(wall_s=wall, cpu_s=cpu, window_ms=(w0 * 1e3, time.time() * 1e3),
                   hwm_mb=worker_hwm_mb(), span=sid)
        if wl.name == "warc_job" and k > 0:
            shutil.rmtree(out[-1]["out"], ignore_errors=True)
        out.append(res)
    return out


# per-layer metric → unit; BENCHMARK.json's per_layer list mirrors this
UNITS = {
    "plans.session.start_s": "s",
    "sources.scan_ms": "ms",
    "sources.scan_mb": "MB",
    "sources.scan_amplification": "ratio",
    "sources.warc.gunzip_us_per_record": "us",
    "sources.warc.http_decode_us_per_record": "us",
    "sources.warc.charset_us_per_record": "us",
    "sources.warc.py_total_s": "s",
    "engine.lexer.us_per_doc": "us",
    "engine.lexer.tokens_per_doc": "count",
    "engine.dom.us_per_doc": "us",
    "engine.dom.nodes_per_doc": "count",
    "engine.serialize.us_per_doc": "us",
    "functions.extract.extract_one_us_per_doc": "us",
    "functions.extract.text_spans_us_per_doc": "us",
    "functions.extract.batch_overhead_us_per_doc": "us",
    "functions.extract.py_sent_mb": "MB",
    "functions.extract.py_received_mb": "MB",
    "functions.extract.py_boot_ms": "ms",
    "functions.extract.py_init_ms": "ms",
    "functions.extract.py_total_s": "s",
    "functions.extract.parses_per_doc": "ratio",
    "functions.extract.error_rows": "count",
    "functions.extract.error_rows_ValueError": "count",
    "functions.extract.error_rows_OverflowError": "count",
    "pipeline.extract_job.tasks": "count",
    "pipeline.extract_job.task_s_p50": "s",
    "pipeline.extract_job.task_s_max": "s",
    "pipeline.extract_job.task_skew": "ratio",
    "pipeline.extract_job.shuffle_mb": "MB",
    "pipeline.extract_job.gc_s": "s",
    "pipeline.extract_job.tasks_failed": "count",
    "pipeline.lineage.spark_jobs": "count",
    "pipeline.lineage.bucket_s_p50": "s",
    "pipeline.lineage.write_mb": "MB",
    "pipeline.lineage.commit_ms": "ms",
    "pipeline.lineage.verify_s": "s",
    "functions.dedup.shuffle_mb": "MB",
    "functions.dedup.stage_s": "s",
    "pipeline.curate.kept_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def e2e_metrics(iters, setups, docs) -> dict:
    return {
        "docs_per_s": {"value": statistics.median(docs / it["wall_s"] for it in iters), "unit": "1/s"},
        "cpu_us_per_doc": {"value": statistics.median(it["cpu_s"] * 1e6 / docs for it in iters), "unit": "us"},
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "worker_rss_peak_mb": {"value": max(it["hwm_mb"] for it in iters), "unit": "MB"},
    }


def traced_layers(wl, spark, iters, iters_untraced, starts, spans, root, eventlog_dir) -> dict:
    """Per-layer metrics of the traced iterations (event log), the
    single-core samples and the tracing overhead; adds the Spark job →
    stage → task spans under each iteration span."""
    median, sql_sum = tracing.median, tracing.sql_sum
    docs = wl.props["docs"]
    spark.stop()  # flushes and closes the event log
    ev = tracing.EventLog(os.path.join(eventlog_dir, os.listdir(eventlog_dir)[0]))
    per = []
    for it in iters:
        w = ev.window(*it["window_ms"])
        for jid, j in w["jobs"].items():
            js = spans.add("spark.job", j["start"] * 1e6, (j["end"] or j["start"]) * 1e6, it["span"], doc=jid)
            for sid_ in j["stages"]:
                for (sid, att), s in w["stages"].items():
                    if sid == sid_:
                        ss = spans.add("spark.stage", s["start"] * 1e6, s["end"] * 1e6, js, doc=sid)
                        for t in w["tasks"]:
                            if t["stage"] == (sid, att):
                                spans.add("spark.task", t["start"] * 1e6, t["end"] * 1e6, ss, doc=sid)
        per.append(w)
    tasks_all = [t for w in per for t in w["tasks"]]
    udf_by_stage = {}
    for t in tasks_all:
        if t["python"] and not t["failed"]:
            udf_by_stage.setdefault(t["stage"], []).append((t["end"] - t["start"]) / 1e3)
    udf_tasks = [d for ds in udf_by_stage.values() for d in ds]
    input_mb = _dir_bytes(wl.input)

    def per_iter(fn):
        return median(fn(w) for w in per)

    def py(metric):
        return per_iter(lambda w: sql_sum(w["tasks"], "extract", metric))

    scan = "scan_binaryFile" if wl.name == "warc_job" else "scan_parquet"
    layer = {
        # the same two set-ups setup_s combines (not the event-log one)
        "plans.session.start_s": median(starts[:N_SETUPS]),
        # tasks that scan input (for warc_job the decode and the bucket's
        # extract run inside the same tasks)
        "sources.scan_ms": per_iter(lambda w: sum(t["run_ms"] for t in w["tasks"]
                                                  if (scan, "number of output rows") in t["sql"])),
        "sources.scan_mb": per_iter(lambda w: w["driver"].get((scan, "size of files read"), 0) / 1e6),
    }
    layer["sources.scan_amplification"] = layer["sources.scan_mb"] * 1e6 / max(1, input_mb)
    layer["sources.warc.py_total_s"] = per_iter(
        lambda w: sql_sum(w["tasks"], "warc", "time to run Python workers")) / 1e3
    layer.update({
        "functions.extract.py_sent_mb": py("data sent to Python workers") / 1e6,
        "functions.extract.py_received_mb": py("data returned from Python workers") / 1e6,
        "functions.extract.py_boot_ms": py("time to start Python workers"),
        "functions.extract.py_init_ms": py("time to initialize Python workers"),
        "functions.extract.py_total_s": py("time to run Python workers") / 1e3,
        "functions.extract.parses_per_doc": py("number of output rows") / docs,
        "functions.extract.error_rows": median(it["error_rows"] for it in iters),
        "functions.extract.error_rows_ValueError": median(it["errors"].get("ValueError", 0) for it in iters),
        "functions.extract.error_rows_OverflowError": median(it["errors"].get("OverflowError", 0) for it in iters),
        "pipeline.extract_job.tasks": per_iter(lambda w: sum(1 for t in w["tasks"] if t["python"])),
        "pipeline.extract_job.task_s_p50": median(udf_tasks),
        "pipeline.extract_job.task_s_max": max(udf_tasks, default=0.0),
        "pipeline.extract_job.task_skew": median(max(ds) / max(1e-9, statistics.median(ds))
                                                 for ds in udf_by_stage.values()),
        "pipeline.extract_job.shuffle_mb": per_iter(lambda w: sum(t["shuffle_w"] for t in w["tasks"]) / 1e6),
        "pipeline.extract_job.gc_s": per_iter(lambda w: sum(t["gc_ms"] for t in w["tasks"]) / 1e3),
        "pipeline.extract_job.tasks_failed": sum(t["failed"] for t in tasks_all),
    })
    layer.update(lineage_layers(wl, per, iters))
    def dedup_stage_s(w):
        # stages with neither an input scan nor a Python node
        keys = {t["stage"] for t in w["tasks"] if not t["scan"] and not t["python"]}
        return sum((w["stages"][k]["end"] - w["stages"][k]["start"]) / 1e3
                   for k in keys if k in w["stages"])

    is_curate = wl.name == "curate"
    layer["functions.dedup.shuffle_mb"] = per_iter(
        lambda w: sum(t["shuffle_w"] for t in w["tasks"] if not t["scan"]) / 1e6) if is_curate else 0.0
    layer["functions.dedup.stage_s"] = per_iter(dedup_stage_s) if is_curate else 0.0
    layer["pipeline.curate.kept_frac"] = median(it["kept"] / docs for it in iters) if is_curate else 0.0

    # single-core samples (outside the timed windows)
    rng = random.Random(f"engine-{wl.seed}")
    with spans.span("engine.sample", root) as es:
        layer.update(tracing.engine_sample(wl.sample_docs(SAMPLE_DOCS[wl.name], rng), spans, es))
    if wl.name == "warc_job":
        shards = sorted(os.listdir(os.path.join(wl.wdir, "input")))[:2]
        with spans.span("sources.warc.sample", root) as ws:
            layer.update(tracing.warc_sample([os.path.join(wl.wdir, "input", s) for s in shards], spans, ws))
    else:
        layer.update({k: 0.0 for k in ("sources.warc.gunzip_us_per_record",
                                        "sources.warc.http_decode_us_per_record",
                                        "sources.warc.charset_us_per_record")})
    un = median(docs / it["wall_s"] for it in iters_untraced)
    tr = median(docs / it["wall_s"] for it in iters)
    layer["trace.overhead_frac"] = (un - tr) / un if un else 0.0
    info = {k: layer.pop(k) for k in [k for k in layer if k.startswith("_")]}
    log("perfbench: engine sample", json.dumps(info))
    drift = set(UNITS) ^ set(layer)
    if drift:
        raise RuntimeError(f"per-layer metrics out of sync with UNITS: {drift}")
    return layer


def lineage_layers(wl, per, iters) -> dict:
    median = tracing.median
    names = ("pipeline.lineage.spark_jobs", "pipeline.lineage.bucket_s_p50", "pipeline.lineage.write_mb",
             "pipeline.lineage.commit_ms", "pipeline.lineage.verify_s")
    if wl.name != "warc_job":
        return dict.fromkeys(names, 0.0)
    buckets, commits = [], []
    for w in per:
        # a bucket = its output write (a plan over the WARC scan), then the
        # digest read, then the lineage append (a plan over a local row)
        ex = sorted((x for x in w["execs"].values() if x["end"]), key=lambda x: x["start"])
        writes = [x for x in ex if "InsertIntoHadoopFsRelation" in x["plan"]]
        for a, b in zip(writes, writes[1:]):
            if "Scan binaryFile" in a["plan"] and "ExistingRDD" in b["plan"]:
                buckets.append((b["end"] - a["start"]) / 1e3)
                commits.append(b["end"] - a["end"])
    return {
        names[0]: median(len(w["jobs"]) for w in per),
        names[1]: median(buckets),
        names[2]: median(sum(t["out_bytes"] for t in w["tasks"]) / 1e6 for w in per),
        names[3]: median(commits),
        names[4]: median(it["verify_s"] for it in iters),
    }


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def report(record, metrics, failed_frac, spans):
    print(f"# perfbench {record['workload']} seed={record['seed']} trace={record['trace']}")
    p = record["props"]
    print(f"# input: docs={p['docs']} bytes={p['bytes']} size_q={p['size_q']} "
          f"dup_frac={p.get('dup_frac')} planted_errors={p.get('planted_errors')}")
    print(f"# health: {json.dumps(record['health'], default=str)}")
    its = record["iterations"]
    if not record["trace"]:
        docs = p["docs"]
        for name, xs in (("docs_per_s", [docs / it["wall_s"] for it in its]),
                         ("cpu_us_per_doc", [it["cpu_s"] * 1e6 / docs for it in its]),
                         ("setup_s", record["setups_s"])):
            s = summary(xs)
            print(f"# {name}: median={s['median']:.6g} q1={s['q1']:.6g} q3={s['q3']:.6g} n={s['n']}")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"failed_frac = {failed_frac:.6g} ratio")
    for n in record["notes"]:
        print(f"# FAIL {n}")
    if spans is not None:
        print("# self time per layer (s):")
        for name, row in sorted(spans.self_time().items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"#   {name:45s} n={row['n']:6d} total={row['total_s']:.4f} self={row['self_s']:.4f}")


if __name__ == "__main__":
    sys.exit(main())
