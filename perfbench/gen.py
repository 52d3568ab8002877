"""Seeded input generators for the four benchmark workloads.

Only the stdlib and pyarrow are used, and the WARC framing and gzip members
are written here rather than through ``sources.warc``, so a change to the
program's own writer cannot change what the benchmark feeds it.  Every
generator is a pure function of ``(seed, GEN_VERSION)``; the caller caches
the output directory under that key.

Each generator returns a ``props`` dict (docs, bytes, size quantiles,
duplicate share, planted error count, ...) that is printed beside the
results, plus whatever the correctness check needs later.
"""

from __future__ import annotations

import gzip
import json
import math
import os
import random
import statistics
import zlib

GEN_VERSION = 3

# the fixed "probe" inputs that every run's warm-up job processes are cut
# from this seed, so their digest can be pinned whatever --seed is given
DEFAULT_SEED = 0

STOPWORDS = (
    "the a and of to in is it that for on with as was at by an be this are"
).split()
_SYL = (
    "ka lo mi nu re sa ti vo pe da ri mo lu ne fa gi po ta ve zu "
    "bar con der fin gal hom lin mar nor pol ser tan vir wel"
).split()
_LATIN1 = ["café", "naïve", "façade", "über", "straße", "señor", "déjà"]
_CHARSET_WORDS = {
    "windows-1252": _LATIN1,
    "shift_jis": ["日本語", "東京", "テスト", "ページ", "文字"],
    "koi8-r": ["привет", "мир", "текст", "страница", "язык"],
}
_ENTITIES = ["&amp;", "&lt;", "&gt;", "&quot;", "&copy;", "&nbsp;", "&#169;",
             "&#x263A;", "&mdash;", "&eacute;"]


def _vocab() -> list:
    r = random.Random(0x5EED)
    out = set()
    while len(out) < 3000:
        out.add("".join(r.choice(_SYL) for _ in range(r.randint(1, 3))))
    return sorted(out)


VOCAB = _vocab()


def words(r: random.Random, n: int, extra=()) -> str:
    out = []
    for _ in range(n):
        x = r.random()
        if x < 0.3:
            out.append(r.choice(STOPWORDS))
        elif extra and x < 0.36:
            out.append(r.choice(extra))
        else:
            out.append(r.choice(VOCAB))
    return " ".join(out)


def sentence(r: random.Random, lo: int = 6, hi: int = 16, extra=()) -> str:
    s = words(r, r.randint(lo, hi), extra)
    return s[:1].upper() + s[1:] + "."


def quantiles(xs) -> dict:
    xs = sorted(xs)
    pick = lambda q: xs[min(len(xs) - 1, int(q * len(xs)))]  # noqa: E731
    return {"min": xs[0], "p50": pick(0.5), "p90": pick(0.9),
            "p99": pick(0.99), "max": xs[-1]}


def lognormal_sizes(r: random.Random, n: int, median: float, sigma: float,
                    lo: int, hi: int) -> list:
    """Stratified lognormal draw: one size per quantile stratum, so every
    seed gets the same size distribution and only the content moves."""
    nd = statistics.NormalDist()
    sizes = [
        int(min(hi, max(lo, median * math.exp(sigma * nd.inv_cdf((i + r.random()) / n)))))
        for i in range(n)
    ]
    r.shuffle(sizes)
    return sizes


# --- HTML builders -----------------------------------------------------------


def small_page(r: random.Random, i: int) -> tuple:
    """A ~400 B template-shaped page (four templates, one host per 1/500)."""
    host = r.randrange(500)
    url = f"https://h{host}.example.com/a/{i}"
    t = i % 4
    title = words(r, r.randint(2, 5))
    body = sentence(r, 8, 18) + " " + sentence(r, 14, 26)
    if t == 0:
        html = (f"<html><head><title>{title}</title></head><body>"
                f"<div class=\"main\"><h1>{title}</h1><p>{body}</p>"
                f"<a href=\"/a/{i + 1}\">next</a></div></body></html>")
    elif t == 1:
        html = (f"<!DOCTYPE html><html><body><ul class=nav><li><a href=/>home</a>"
                f"<li><a href=/n>news</a></ul><article><p>{body} &amp; "
                f"{words(r, 4)}</p></article></body></html>")
    elif t == 2:
        html = (f"<html><head><meta charset=\"utf-8\"><title>{title}</title>"
                f"</head><body><table><tr><td>{body}</td><td>{words(r, 3)}"
                f"</td></tr></table><!-- generated --></body></html>")
    else:
        html = (f"<html><body><div id=c{i % 97}><span>{title}</span><br/>"
                f"<p>{body}</p><p>{sentence(r, 4, 8)}</p></div></body></html>")
    return url, html


def _open_tag(r: random.Random) -> tuple:
    name = r.choice(["div", "section", "span", "div", "article", "main"])
    attrs = [f'class="c{r.randrange(50)} k{r.randrange(9)}"']
    if r.random() < 0.5:
        attrs.append(f"id=n{r.randrange(10_000)}")
    if r.random() < 0.4:
        attrs.append(f"data-x='{r.randrange(999)}'")
    if r.random() < 0.2:
        attrs.append('style="margin:0;padding:1px"')
    return name, f"<{name} {' '.join(attrs)}>"


def _block(r: random.Random, extra=()) -> str:
    k = r.randrange(10)
    if k <= 3:
        return f"<p>{sentence(r, extra=extra)} {r.choice(_ENTITIES)} {sentence(r, extra=extra)}</p>\n"
    if k == 4:
        return (f'<a href="/p/{r.randrange(10**6)}" title=\'{words(r, 2)}\' '
                f"rel=nofollow>{words(r, 3)}</a> ")
    if k == 5:
        return f"<!-- {words(r, 5)} -->\n"
    if k == 6:
        items = "".join(f"<li>{words(r, 3, extra)}" for _ in range(r.randint(2, 6)))
        return f"<ul>{items}</ul>\n"  # unclosed <li>
    if k == 7:
        return (f"<script>var q{r.randrange(99)} = \"<div>\"; if (a < b && c > 0) "
                f"{{ f('{words(r, 2)}'); }}</script>\n")
    if k == 8:
        return (f"<table><tr><td>{words(r, 4, extra)}</td><td><img src=/i.png "
                f"alt=\"{words(r, 2)}\"></td></tr></table></span>\n")  # stray end
    return f"<style>.c{r.randrange(50)} {{ color: #{r.randrange(4096):03x}; }}</style><b>{words(r, 3, extra)}</b>\n"


def large_page(r: random.Random, target: int, extra=(), charset_meta=None) -> str:
    """Common-Crawl-shaped page of about ``target`` characters: deep
    nesting, many attributes, entities, comments, script/style, unclosed
    and stray tags."""
    head = "<!DOCTYPE html>\n<html lang=en><head>"
    if charset_meta:
        head += f'<meta charset="{charset_meta}">'
    head += (f"<title>{words(r, 4, extra)}</title><style>body {{ font: 12px; }}"
             f"</style><script>window.x = 1 < 2;</script></head>\n<body>\n")
    parts = [head]
    size = len(head)
    while size < target:
        depth = r.randint(3, 40)
        opened = [_open_tag(r) for _ in range(depth)]
        chunk = [t for _, t in opened]
        for _ in range(r.randint(2, 8)):
            chunk.append(_block(r, extra))
        # close the levels, now and then leaving the outermost one open
        for name, _ in reversed(opened[int(r.random() < 0.1):]):
            chunk.append(f"</{name}>")
        s = "".join(chunk) + "\n"
        parts.append(s)
        size += len(s)
    parts.append("</body></html>\n")
    return "".join(parts)


def curate_page(r: random.Random, host: int, boiler: list, lines: list, i: int) -> tuple:
    url = f"https://site{host}.example.org/post/{i}"
    nav, foot = boiler[:2], boiler[2:]
    body = "".join(f"<p>{ln}</p>\n" for ln in lines)
    html = ("<html><head><title>post</title><script>var t = 1;</script></head>"
            "<body>\n" + "".join(f"<div class=nav>{b}</div>\n" for b in nav)
            + f"<article>\n{body}</article>\n"
            + "".join(f"<div class=foot>{b}</div>\n" for b in foot)
            + "</body></html>")
    return url, html


# --- parquet pages tables ---------------------------------------------------

_TS0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def write_pages(dirpath: str, rows: list, n_files: int) -> None:
    """rows: (url, html str) → parquet in the input_hint pages schema
    (url string, warc_ts timestamp, html binary, text string, lang string)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dirpath, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * step:(f + 1) * step]
        tbl = pa.table({
            "url": pa.array([u for u, _ in part], pa.string()),
            "warc_ts": pa.array([_TS0 + (f * step + j) * 1_000_000 for j in range(len(part))],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([h.encode("utf-8") for _, h in part], pa.binary()),
            "text": pa.array([""] * len(part), pa.string()),
            "lang": pa.array([None] * len(part), pa.string()),
        })
        pq.write_table(tbl, os.path.join(dirpath, f"part-{f:03d}.parquet"))


def _props(rows: list, **kw) -> dict:
    sizes = [len(h.encode("utf-8")) for _, h in rows]
    return {"docs": len(rows), "bytes": sum(sizes), "size_q": quantiles(sizes), **kw}


def gen_pages_small(seed: int, n: int = 60_000) -> tuple:
    r = random.Random(f"small-{seed}")
    rows = [small_page(r, i) for i in range(n)]
    return rows, _props(rows, dup_frac=0.0, planted_errors={})


def gen_pages_large(seed: int, n: int = 240) -> tuple:
    r = random.Random(f"large-{seed}")
    sizes = lognormal_sizes(r, n, 30_000, 0.9, 1_500, 400_000)
    # the capped tail: two ~1 MB pages in every seed
    sizes += [int(s * (1 + 0.05 * r.random())) for s in (1_000_000, 1_250_000)]
    r.shuffle(sizes)
    rows = []
    planted = {"ValueError": 0, "OverflowError": 0}
    for i, s in enumerate(sizes):
        html = large_page(r, s)
        if i % 25 == 7:  # a known count of poisoned docs
            cls = "ValueError" if (i // 25) % 2 == 0 else "OverflowError"
            bad = "&#1114112;" if cls == "ValueError" else "&#99999999999;"
            cut = html.index("<body>") + 6  # text context, outside any tag or script
            html = html[:cut] + f"<p>{bad}</p>" + html[cut:]
            planted[cls] += 1
        rows.append((f"https://cc{r.randrange(60)}.example.net/{i}/{r.randrange(10**6)}", html))
    return rows, _props(rows, dup_frac=0.0, planted_errors=planted)


def gen_curate(seed: int, n: int = 3_000, hosts: int = 30) -> tuple:
    r = random.Random(f"curate-{seed}")
    boiler = {h: [f"{words(r, 3)} | {words(r, 2)} | contact the editors" for _ in range(2)]
              + [f"Copyright {2000 + h % 24} {words(r, 4)} all rights reserved",
                 "We use cookies to improve the site"] for h in range(hosts)}
    rows, articles = [], []
    n_exact = n_near = 0
    for i in range(n):
        host = r.randrange(hosts)
        x = r.random()
        if articles and x < 0.05:  # exact duplicate: same page, new url
            src_host, lines = r.choice(articles)
            host = src_host
            n_exact += 1
        elif articles and x < 0.10:  # near duplicate: same article, other host
            _, lines = r.choice(articles)
            n_near += 1
        else:
            lines = [sentence(r, 8, 20) for _ in range(r.randint(3, 9))]
            articles.append((host, lines))
        rows.append(curate_page(r, host, boiler[host], lines, i))
    return rows, _props(rows, dup_frac=(n_exact + n_near) / n, exact_dups=n_exact,
                        near_dups=n_near, hosts=hosts, planted_errors={})


# --- WARC shards (stdlib framing + per-record gzip members) ------------------

_CODINGS = ("identity", "gzip", "chunked", "deflate")


def _chunked(body: bytes, size: int) -> bytes:
    out = [b"%x\r\n%s\r\n" % (len(body[i:i + size]), body[i:i + size])
           for i in range(0, len(body), size)]
    return b"".join(out) + b"0\r\n\r\n"


def _warc_member(wtype: str, url: str, date: str, rid: str, block: bytes,
                 ctype: str) -> bytes:
    head = (f"WARC/1.0\r\nWARC-Type: {wtype}\r\nWARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"Content-Type: {ctype}\r\nContent-Length: {len(block)}\r\n\r\n")
    return gzip.compress(head.encode("utf-8") + block + b"\r\n\r\n", 6, mtime=0)


def gen_warc(seed: int, dirpath: str, shards: int = 8, per_shard: int = 25) -> dict:
    """``shards`` .warc.gz files; response records rotate the transfer /
    content codings, a few use non-UTF-8 charsets, a few are undecodable
    ``br`` or non-200 records (dropped by the status/error policy).
    Writes ``truth.parquet`` (url, html of every record the pipeline must
    keep) for the correctness check."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = random.Random(f"warc-{seed}")
    os.makedirs(dirpath, exist_ok=True)
    truth, sizes, dropped = [], [], {"br": 0, "status_404": 0}
    charsets = {}
    k = 0
    for s in range(shards):
        members = [_warc_member("warcinfo", "", "2024-03-01T00:00:00Z", f"info-{seed}-{s}",
                                b"software: perfbench\r\n", "application/warc-fields")]
        for j in range(per_shard):
            k += 1
            url = f"https://w{r.randrange(40)}.example.com/{s}/{j}/{r.randrange(10**6)}"
            date = f"2024-03-{1 + k % 28:02d}T{k % 24:02d}:{k % 60:02d}:00Z"
            cs = "utf-8"
            if k % 11 == 5:
                cs = ("windows-1252", "shift_jis", "koi8-r")[(k // 11) % 3]
            html = large_page(r, int(lognormal_sizes(r, 1, 8_000, 0.6, 1_000, 60_000)[0]),
                              extra=_CHARSET_WORDS.get(cs, ()),
                              charset_meta=cs if cs != "utf-8" and k % 2 else None)
            raw = html.encode("cp932" if cs == "shift_jis" else cs)
            status = "404 Not Found" if k % 37 == 0 else "200 OK"
            hdrs = [f"Content-Type: text/html; charset={cs}" if cs != "utf-8" and not k % 2
                    else "Content-Type: text/html"]
            coding = "br" if k % 53 == 0 else _CODINGS[k % 4]
            body = raw
            if coding == "gzip":
                body = gzip.compress(raw, 6, mtime=0)
                hdrs.append("Content-Encoding: gzip")
            elif coding == "deflate":
                c = zlib.compressobj(6, zlib.DEFLATED, -15)
                body = c.compress(raw) + c.flush()
                hdrs.append("Content-Encoding: deflate")
            elif coding == "chunked":
                body = _chunked(raw, 1 << 12)
                hdrs.append("Transfer-Encoding: chunked")
            elif coding == "br":
                body = r.randbytes(len(raw) // 3 + 10)
                hdrs.append("Content-Encoding: br")
            block = (f"HTTP/1.1 {status}\r\n" + "\r\n".join(hdrs) + "\r\n\r\n").encode() + body
            if j % 10 == 0:
                members.append(_warc_member(
                    "request", url, date, f"req-{seed}-{k}",
                    f"GET /{j} HTTP/1.1\r\nHost: x\r\n\r\n".encode(), "application/http; msgtype=request"))
            members.append(_warc_member("response", url, date, f"rsp-{seed}-{k}", block,
                                        "application/http; msgtype=response"))
            if coding == "br":
                dropped["br"] += 1
            elif status != "200 OK":
                dropped["status_404"] += 1
            else:
                truth.append((url, html))
                sizes.append(len(raw))
                charsets[cs] = charsets.get(cs, 0) + 1
        with open(os.path.join(dirpath, f"shard-{s:02d}.warc.gz"), "wb") as f:
            f.write(b"".join(members))
    pq.write_table(pa.table({"url": [u for u, _ in truth], "html": [h for _, h in truth]}),
                   os.path.join(os.path.dirname(dirpath), "truth.parquet"))
    warc_bytes = sum(os.path.getsize(os.path.join(dirpath, f)) for f in os.listdir(dirpath))
    return {"docs": len(truth), "bytes": sum(sizes), "warc_gz_bytes": warc_bytes,
            "size_q": quantiles(sizes), "shards": shards, "dropped": dropped,
            "charsets": charsets, "dup_frac": 0.0, "planted_errors": {}}


def generate(workload: str, seed: int, dirpath: str, probe_docs: int) -> dict:
    """Write the workload's inputs for ``seed`` under ``dirpath`` (input/,
    probe/) and return its props; idempotent via the props.json marker."""
    marker = os.path.join(dirpath, "props.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    tmp = dirpath + ".tmp"
    if os.path.exists(tmp):
        import shutil

        shutil.rmtree(tmp)
    if workload == "warc_job":
        props = gen_warc(seed, os.path.join(tmp, "input"))
        # four shards, so the warm-up runs as many Python tasks at once as
        # the timed job does
        gen_warc(DEFAULT_SEED, os.path.join(tmp, "probe", "input"), shards=4,
                 per_shard=probe_docs // 4)
    else:
        fn = {"pages_small": gen_pages_small, "pages_large": gen_pages_large,
              "curate": gen_curate}[workload]
        rows, props = fn(seed)
        write_pages(os.path.join(tmp, "input"), rows, n_files=4)
        probe_rows, _ = fn(DEFAULT_SEED, n=probe_docs)
        # keep the warm-up short: no tail pages
        probe_rows = [x for x in probe_rows if len(x[1]) < 100_000]
        write_pages(os.path.join(tmp, "probe"), probe_rows, n_files=1)
    props["gen_version"] = GEN_VERSION
    props["seed"] = seed
    with open(os.path.join(tmp, "props.json"), "w") as f:
        json.dump(props, f)
    os.makedirs(os.path.dirname(dirpath), exist_ok=True)
    os.rename(tmp, dirpath)
    return props
