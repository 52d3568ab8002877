"""Outside-in tracing for the benchmark's traced mode.

Nothing here runs inside the program.  Three sources feed the per-layer
numbers:

* ``Spans``: the benchmark's own wrappers around calls into each layer's
  public functions (workload → iteration → public call, and the
  single-core engine sample: one span per layer call per doc, spans of one
  doc sharing a ``doc`` id).  Kept in memory, written once at the end.
* ``EventLog``: Spark's own event log — job → stage → task spans, task
  metrics (run time, GC, input/output/shuffle bytes) and the SQL metrics
  of every plan node (accumulator updates joined to the plan info of each
  SQL execution, AQE re-plans included).
* ``engine_sample`` / ``warc_sample``: single-core timings of the engine
  and WARC decode public functions on a fixed seeded sample.
"""

from __future__ import annotations

import gc
import json
import statistics
import time
from contextlib import contextmanager


class Spans:
    def __init__(self):
        self.items = []  # (id, name, start_ns, end_ns, parent, doc)

    def add(self, name, start_ns, end_ns, parent=None, doc=None) -> int:
        sid = len(self.items)
        self.items.append((sid, name, start_ns, end_ns, parent, doc))
        return sid

    @contextmanager
    def span(self, name, parent=None, doc=None):
        sid = len(self.items)
        self.items.append(None)  # reserve the id so children can point here
        t0 = time.time_ns()
        try:
            yield sid
        finally:
            self.items[sid] = (sid, name, t0, time.time_ns(), parent, doc)

    def self_time(self) -> dict:
        """Per span name: total duration and self time (duration minus the
        part of its interval that its children cover), in seconds."""
        kids = {}
        for s in self.items:
            if s[4] is not None:
                kids.setdefault(s[4], []).append((s[2], s[3]))
        out = {}
        for sid, name, t0, t1, _p, _d in self.items:
            covered, edge = 0, t0
            for a, b in sorted(kids.get(sid, ())):
                a, b = max(a, edge), min(b, t1)
                if b > a:
                    covered += b - a
                    edge = b
            row = out.setdefault(name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            row["n"] += 1
            row["total_s"] += (t1 - t0) / 1e9
            row["self_s"] += (t1 - t0 - covered) / 1e9
        return out

    def dump(self, path: str) -> None:
        keys = ("id", "name", "start_ns", "end_ns", "parent", "doc")
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(keys, s)) for s in self.items],
                       "self_time": self.self_time()}, f)


# --- Spark event log ---------------------------------------------------------

_PY_NODE_HINTS = ("MapInArrow", "MapInPandas", "Python", "ArrowEval", "BatchEval")


def _is_python_node(name: str) -> bool:
    return any(h in name for h in _PY_NODE_HINTS)


def _subtree_has(node, pred) -> bool:
    return any(pred(c) or _subtree_has(c, pred) for c in node.get("children", ()))


class EventLog:
    """One parsed event-log file.  ``acc`` maps every SQL-metric
    accumulator id to (node role, metric name); the node role
    is ``warc`` for the Python node that reads WARC bytes (a Python map
    straight over a binaryFile scan), ``extract`` for every other Python
    node, else the plan node name."""

    def __init__(self, path: str):
        self.acc = {}
        self.tasks = []
        self.stages = {}
        self.jobs = {}
        self.execs = {}
        self.driver = []  # (execution id, accumulator id, value)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        # SQL metric totals per task, keyed by role
        for t in self.tasks:
            py = {}
            for a in t.pop("accs"):
                meta = self.acc.get(a.get("ID"))
                if meta is None:
                    continue
                try:  # SQL-metric updates are logged as decimal strings
                    upd = float(a.get("Update"))
                except (TypeError, ValueError):
                    continue
                py[meta] = py.get(meta, 0) + upd
            t["sql"] = py
            t["python"] = any(r in ("warc", "extract") for r, _ in py)
            t["scan"] = any(r.startswith("scan_") for r, _ in py)

    def _plan(self, node):
        name = node.get("nodeName", "")
        role = name
        if name.startswith("Scan "):  # "Scan parquet ", "Scan binaryFile "
            role = "scan_" + name.split()[1]
        elif _is_python_node(name):
            binary = _subtree_has(
                node, lambda c: "binaryFile" in c.get("simpleString", "")
            )
            nested = _subtree_has(node, lambda c: _is_python_node(c.get("nodeName", "")))
            role = "warc" if binary and not nested else "extract"
        for m in node.get("metrics", ()):
            self.acc[m["accumulatorId"]] = (role, m["name"])
        for c in node.get("children", ()):
            self._plan(c)

    def _event(self, ev):
        e = ev["Event"]
        if e == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            self.tasks.append({
                "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                "start": info["Launch Time"], "end": info["Finish Time"],
                "failed": bool(info.get("Failed")) or info.get("Killed", False),
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "accs": info.get("Accumulables", ()),
            })
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            self.stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                "start": si.get("Submission Time"), "end": si.get("Completion Time"),
            }
        elif e == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "end": None,
                                       "stages": ev.get("Stage IDs", [])}
        elif e == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif e.endswith("SparkListenerSQLExecutionStart"):
            self.execs[ev["executionId"]] = {
                "start": ev["time"], "end": None,
                "plan": ev.get("physicalPlanDescription", ""),
            }
            self._plan(ev["sparkPlanInfo"])
        elif e.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(ev["sparkPlanInfo"])
        elif e.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, v in ev.get("accumUpdates", ()):
                self.driver.append((ev["executionId"], acc_id, v))
        elif e.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in self.execs:
                self.execs[ev["executionId"]]["end"] = ev["time"]

    def window(self, t0_ms: float, t1_ms: float) -> dict:
        """Everything that started inside one iteration's wall window."""
        inside = lambda x: x["start"] is not None and t0_ms <= x["start"] <= t1_ms  # noqa: E731
        execs = {k: x for k, x in self.execs.items() if inside(x)}
        driver = {}
        for ex, acc_id, v in self.driver:
            meta = self.acc.get(acc_id)
            if ex in execs and meta:
                driver[meta] = driver.get(meta, 0) + v
        return {
            "driver": driver,
            "tasks": [t for t in self.tasks if inside(t)],
            "stages": {k: s for k, s in self.stages.items() if inside(s)},
            "jobs": {k: j for k, j in self.jobs.items() if inside(j)},
            "execs": execs,
        }


def sql_sum(tasks, role, metric) -> float:
    return sum(t["sql"].get((role, metric), 0) for t in tasks)


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# --- single-core samples -----------------------------------------------------


@contextmanager
def _no_gc():
    # the program's batch loops run with the collector off; time the
    # per-doc calls the same way so their sum is comparable
    was = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        if was:
            gc.enable()


def engine_sample(docs, spans: Spans, parent: int) -> dict:
    """Single-core per-layer timings over ``docs`` (list of (url, html
    bytes)).  Each layer runs as its own pass over every doc through its
    public function; one span per call, spans of one doc share its index.
    Everything runs twice and only the second, warm pass is counted."""
    import pyarrow as pa

    from dhtmlparser3_spark.engine import serialize
    from dhtmlparser3_spark.engine.dom import build_arena, parse_arena, strip_bom
    from dhtmlparser3_spark.engine.lexer import lex
    from dhtmlparser3_spark.functions.extract import (
        decode_html,
        extract_one,
        make_extract_arrow_iterator,
    )

    strs = [decode_html(h) for _, h in docs]
    n = len(strs)
    acc = {k: 0 for k in ("lex", "dom", "ser", "parse", "one")}
    tokens = nodes = 0
    ok = [True] * len(strs)
    count = False

    def timed(layer, key, i, fn, *args):
        t0 = time.time_ns()
        try:
            return fn(*args)
        finally:
            if count:
                t1 = time.time_ns()
                acc[key] += t1 - t0
                spans.add(layer, t0, t1, parent, doc=i)

    rb = pa.RecordBatch.from_arrays(
        [pa.array([u for u, _ in docs]), pa.array([None] * len(docs), pa.timestamp("us")),
         pa.array([None] * len(docs), pa.string()), pa.array([h for _, h in docs], pa.binary())],
        ["url", "warc_ts", "lang", "html"],
    )
    it_ns = 0
    for count in (False, True):
        tokens = nodes = 0
        t0 = time.time_ns()
        list(make_extract_arrow_iterator()(iter([rb])))
        t1 = time.time_ns()
        if count:
            it_ns = t1 - t0
            spans.add("functions.extract.arrow_iterator", t0, t1, parent)
        with _no_gc():
            for i, s in enumerate(strs):
                try:
                    toks = timed("engine.lexer.lex", "lex", i, lex, strip_bom(s))
                    a = timed("engine.dom.build_arena", "dom", i, build_arena, toks)
                    timed("engine.serialize.content_str", "ser", i, serialize.content_str, a)
                    tokens += len(toks)
                    nodes += len(a.kind)
                    timed("engine.dom.parse_arena", "parse", i, parse_arena, s)
                except (ValueError, OverflowError):
                    ok[i] = False  # a planted poison doc: the layers stop here
                timed("functions.extract.extract_one", "one", i, extract_one, s)
    us = lambda ns: ns / 1e3 / n  # noqa: E731
    good = max(1, sum(ok))
    batch_over = us(it_ns - acc["one"])
    spans_us = us(acc["one"] - acc["parse"] - acc["ser"])
    covered = acc["lex"] + acc["dom"] + acc["ser"] + (acc["one"] - acc["parse"] - acc["ser"])
    return {
        "engine.lexer.us_per_doc": us(acc["lex"]),
        "engine.lexer.tokens_per_doc": tokens / good,
        "engine.dom.us_per_doc": us(acc["dom"]),
        "engine.dom.nodes_per_doc": nodes / good,
        "engine.serialize.us_per_doc": us(acc["ser"]),
        "functions.extract.extract_one_us_per_doc": us(acc["one"]),
        "functions.extract.text_spans_us_per_doc": spans_us,
        "functions.extract.batch_overhead_us_per_doc": batch_over,
        "_sample_docs": len(strs),
        "_iterator_us_per_doc": us(it_ns),
        # engine + batch-overhead spans as a share of the iterator span
        "_engine_coverage": (covered + (it_ns - acc["one"])) / it_ns if it_ns else 0.0,
    }


def warc_sample(paths, spans: Spans, parent: int) -> dict:
    """Single-core WARC decode timings per response record through
    ``split_gzip_members`` / ``http_response`` / ``transcode_utf8``
    (which runs ``detect_charset``)."""
    from dhtmlparser3_spark.sources.warc import (
        http_response,
        parse_warc_fields,
        split_gzip_members,
        transcode_utf8,
    )

    gz = http = cs = 0
    n = 0
    for p in paths:
        with open(p, "rb") as f:
            data = f.read()
        t0 = time.time_ns()
        members = list(split_gzip_members(data))
        t1 = time.time_ns()
        gz += t1 - t0
        spans.add("sources.warc.split_gzip_members", t0, t1, parent)
        for _off, raw in members:
            hdr, block = parse_warc_fields(raw)
            if hdr.get(b"warc-type") != b"response":
                continue
            n += 1
            t0 = time.time_ns()
            try:
                _st, body, ctype, _loc = http_response(block)
            except ValueError:
                continue  # planted undecodable record
            finally:
                t1 = time.time_ns()
                http += t1 - t0
                spans.add("sources.warc.http_response", t0, t1, parent, doc=f"{p}@{_off}")
            t2 = time.time_ns()
            transcode_utf8(body, ctype)
            t3 = time.time_ns()
            cs += t3 - t2
            spans.add("sources.warc.transcode_utf8", t2, t3, parent, doc=f"{p}@{_off}")
    n = max(n, 1)
    return {
        "sources.warc.gunzip_us_per_record": gz / 1e3 / n,
        "sources.warc.http_decode_us_per_record": http / 1e3 / n,
        "sources.warc.charset_us_per_record": cs / 1e3 / n,
    }
