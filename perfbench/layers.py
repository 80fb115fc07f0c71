"""The traced run (``--trace 1``): spans, plan counters, per-layer metrics.

Spans are kept in memory around each public-function call the benchmark
makes and written out when the run ends.  Each span carries the SQL
metrics of the queries that finished inside it (read from the AQE final
plan, query stages included) and the Spark jobs and tasks it ran.

Per-layer numbers come from calling each layer's public function on a
cached copy of its input, forced into the noop sink, so a layer's time
excludes its upstream.  The in-process layers (parse, clean, pdf split,
engine) run single-threaded in the driver.  The run also makes untraced
passes next to the traced ones, to state the tracing overhead, and sums
the isolated layer times to reconcile them with the untraced pass wall.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from pyspark.sql import functions as F

from extractor.cleaning import clean_stdout_output
from extractor.engine import SurrogateEngine, resolve_prompt
from extractor.html_extract import html_to_markdown
from extractor.pdf_extract import split_pdf_pages
from extractor.pipeline import (
    extract_html,
    extract_image,
    extract_pdf,
    reassemble_pages,
    route,
    run_extraction,
)
from extractor.testgen import make_page_record
from extractor.writer import read_extracted, resume_filter, write_snapshot

from gen import CFG
from passes import check_pass, dir_bytes, force, no_span, run_pass
from sparkenv import JobCounter, PlanCapture, plan_counters
from stats import median, self_times

OPERATORS = (
    "lsh_pairs", "simhash32_df", "gopher_rules", "html_outlinks",
    "pagerank_int", "page_metadata", "build_postings", "phash_pairs",
)
PAGE_GRAIN_SCHEMA = (
    "url string, warc_ts timestamp, page_number int, total_pages int, "
    "text string, success boolean, error string, latency_s double"
)
PASSES = 5  # untraced and traced passes each, after one cold pass
IN_PROCESS_DOCS = 200  # docs per in-process layer

# (name, unit, better) of every per-layer metric, in report order.
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("scan.s", "s", "lower"),
    ("scan.bytes", "bytes", "lower"),
    ("route.s", "s", "lower"),
    ("route.quarantined_rows", "count", "lower"),
    ("html_branch.s", "s", "lower"),
    ("html_branch.py_total_ms", "ms", "lower"),
    ("html_branch.py_init_ms", "ms", "lower"),
    ("html_branch.py_bytes_sent", "bytes", "lower"),
    ("html_branch.py_bytes_recv", "bytes", "lower"),
    ("html_extract.ms_per_doc", "ms/doc", "lower"),
    ("html_extract.docs", "count", "higher"),
    ("cleaning.ms_per_doc", "ms/doc", "lower"),
    ("cleaning.docs", "count", "higher"),
    ("pdf_extract.ms_per_doc", "ms/doc", "lower"),
    ("pdf_extract.docs", "count", "higher"),
    ("engine.ms_per_page", "ms/page", "lower"),
    ("engine.pages", "count", "higher"),
    ("pdf_branch.s", "s", "lower"),
    ("pdf_branch.explode_py_total_ms", "ms", "lower"),
    ("pdf_branch.explode_py_init_ms", "ms", "lower"),
    ("pdf_branch.shuffle_bytes", "bytes", "lower"),
    ("pdf_branch.shuffle_records", "count", "lower"),
    ("pdf_branch.ocr_py_total_ms", "ms", "lower"),
    ("pdf_branch.ocr_py_init_ms", "ms", "lower"),
    ("reassembly.s", "s", "lower"),
    ("reassembly.agg_ms", "ms", "lower"),
    ("reassembly.fallback_tasks", "count", "lower"),
    ("reassembly.tasks", "count", "lower"),
    ("reassembly.spill_bytes", "bytes", "lower"),
    ("image_branch.s", "s", "lower"),
    ("image_branch.py_total_ms", "ms", "lower"),
    ("writer.write_s", "s", "lower"),
    ("writer.bytes_written", "bytes", "lower"),
    ("writer.files_written", "count", "lower"),
    ("writer.write_amp", "ratio", "lower"),
    ("writer.read_s", "s", "lower"),
    ("writer.resume_s", "s", "lower"),
    ("writer.resume_rows", "count", "lower"),
    *[(f"operators.{fn}.{m}", u, "lower") for fn in OPERATORS
      for m, u in (("s", "s"), ("shuffle_bytes", "bytes"))],
    ("spark.py_init_ms", "ms", "lower"),
    ("spark.shuffle_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.jobs", "count", "lower"),
    ("trace.docs_per_s", "docs/s", "higher"),
    ("trace.untraced_docs_per_s", "docs/s", "higher"),
    ("trace.overhead", "ratio", "lower"),
    ("trace.layers_over_wall", "ratio", "lower"),
]


def valid_of_type(pages, doc_type: str):
    """Rows ``run_extraction`` hands to one branch: routed to it and not
    quarantined (non-empty, within the size cap)."""
    size = F.length("html")
    return route(pages).where(
        (F.col("doc_type") == doc_type) & (size > 0) & (size <= CFG.max_bytes)
    )


def operator_calls(snapshot, pages):
    """(name, thunk returning a DataFrame) for each curation operator, over
    the committed snapshot's successful rows and the html/image pages."""
    from extractor.operators.dedup import lsh_pairs, simhash32_df
    from extractor.operators.metadata import page_metadata
    from extractor.operators.multimodal import phash_pairs
    from extractor.operators.relevance import build_postings
    from extractor.operators.textstats import gopher_rules
    from extractor.operators.webgraph import html_outlinks, pagerank_int

    doc_id = F.regexp_extract("url", r"/(\d+)\.[A-Za-z]+$", 1).cast("long")
    docs = snapshot.where(F.col("success")).select(doc_id.alias("doc_id"), "text")
    html = valid_of_type(pages, "html").select("url", "html")
    images = valid_of_type(pages, "image").select(doc_id.alias("doc_id"), "html")

    def gopher():
        rules = gopher_rules(F.col("text"))
        return docs.select("doc_id", *[c.alias(k) for k, c in rules.items()])

    def pagerank():
        edges = html_outlinks(html).select(F.col("url").alias("src"), F.col("href").alias("dst"))
        return pagerank_int(edges)

    calls = {
        "lsh_pairs": lambda: lsh_pairs(docs),
        "simhash32_df": lambda: simhash32_df(docs, id_col="doc_id"),
        "gopher_rules": gopher,
        "html_outlinks": lambda: html_outlinks(html),
        "pagerank_int": pagerank,
        "page_metadata": lambda: page_metadata(html),
        "build_postings": lambda: build_postings(docs),
        "phash_pairs": lambda: phash_pairs(images, id_col="doc_id", payload_col="html"),
    }
    return [(name, calls[name]) for name in OPERATORS]


class Tracer:
    """In-memory spans: name, start, end, parent, workload, pass."""

    def __init__(self, workload: str, capture: PlanCapture, jobs: JobCounter):
        self.workload = workload
        self.pass_no = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._capture = capture
        self._jobs = jobs

    @contextlib.contextmanager
    def span(self, name: str):
        if not self._stack:  # a root span: drop what ran between spans
            self._capture.drain()
            self._jobs.take()
        rec = {
            "name": name,
            "workload": self.workload,
            "pass": self.pass_no,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            plans = self._capture.drain()
            rec["counters"] = plan_counters(n for plan in plans for n in plan)
            rec["counters"]["jobs"], rec["counters"]["tasks"] = self._jobs.take()
            # (depth, pythonTotalTime, pythonInitTime) of each Python node
            rec["python_nodes"] = sorted(
                (d, m["pythonTotalTime"], m.get("pythonInitTime", 0))
                for plan in plans for _n, d, m in plan if "pythonTotalTime" in m
            )
            rec["end"] = time.perf_counter()

    def total(self, idx: int, key: str) -> int:
        """Counter ``key`` summed over span ``idx`` and its descendants."""
        own = self.spans[idx]["counters"].get(key, 0)
        return own + sum(
            self.total(i, key) for i, s in enumerate(self.spans) if s["parent"] == idx
        )

    def finish(self) -> list[dict]:
        selfs = self_times([(s["start"], s["end"], s["parent"]) for s in self.spans])
        for s, self_s in zip(self.spans, selfs):
            s["self_s"] = self_s
        return self.spans


def _dur(rec) -> float:
    return rec["end"] - rec["start"]


def traced_run(spark, workload, docs, golden_rows, golden, shape, pages_path, work,
               session_s, tally):
    """Return ({metric: (value, unit)}, trace record) for one workload.

    A fixed sequence, not a timed loop: one cold pass, untraced and
    traced passes, then each layer once."""
    out_dir = os.path.join(work, "out")

    def one_pass(span=no_span):
        shutil.rmtree(out_dir, ignore_errors=True)
        wall, obs = run_pass(spark, workload, pages_path, out_dir, span)
        problems, extra = check_pass(spark, workload, obs, golden, pages_path, out_dir)
        tally(problems)
        return wall, extra

    one_pass()  # cold
    capture = PlanCapture(spark)
    tracer = Tracer(workload.name, capture, JobCounter(spark))
    untraced, traced, quarantined = [], [], []
    for i in range(PASSES):  # alternate, so warm-up favours neither side
        capture.enabled = False
        untraced.append(one_pass()[0])
        capture.enabled = True
        tracer.pass_no = i
        wall, extra = one_pass(tracer.span)
        traced.append(wall)
        quarantined.append(extra["quarantined"])
    tracer.pass_no = None
    pass_ids = [i for i, s in enumerate(tracer.spans) if s["name"] == "pass"]

    m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    layer = _layer_runner(spark, tracer)
    # The scan runs before anything is cached: a cached copy of the same
    # relation would stand in for the parquet scan.
    rec = layer("scan", lambda: spark.read.parquet(pages_path).select("url", "warc_ts", "html"))
    m["scan.s"] = (_dur(rec), "s")
    m["scan.bytes"] = (rec["counters"].get("scan_bytes", 0), "bytes")
    pages_c = spark.read.parquet(pages_path).cache()
    pages_c.count()
    m["route.s"] = (_dur(layer("route", lambda: route(pages_c))), "s")
    m["route.quarantined_rows"] = (median(quarantined), "count")

    branches = {}
    for doc_type, fn in (("html", extract_html), ("pdf", extract_pdf), ("image", extract_image)):
        inp = valid_of_type(pages_c, doc_type).cache()
        inp.count()
        branches[doc_type] = layer(f"{doc_type}_branch", lambda: fn(inp, CFG))
        inp.unpersist()
    c = branches["html"]["counters"]
    m["html_branch.s"] = (_dur(branches["html"]), "s")
    for k in ("py_total_ms", "py_init_ms"):
        m[f"html_branch.{k}"] = (c.get(k, 0), "ms")
    for k in ("py_bytes_sent", "py_bytes_recv"):
        m[f"html_branch.{k}"] = (c.get(k, 0), "bytes")
    pdf = branches["pdf"]
    # The deepest Python node is the page explode; those above the page
    # shuffle are the engine (OCR) stage.
    py_nodes = sorted(pdf["python_nodes"], reverse=True)
    explode, ocr = py_nodes[:1], py_nodes[1:]
    m["pdf_branch.s"] = (_dur(pdf), "s")
    m["pdf_branch.explode_py_total_ms"] = (sum(n[1] for n in explode), "ms")
    m["pdf_branch.explode_py_init_ms"] = (sum(n[2] for n in explode), "ms")
    m["pdf_branch.shuffle_bytes"] = (pdf["counters"]["shuffle_bytes"], "bytes")
    m["pdf_branch.shuffle_records"] = (pdf["counters"]["shuffle_records"], "count")
    m["pdf_branch.ocr_py_total_ms"] = (sum(n[1] for n in ocr), "ms")
    m["pdf_branch.ocr_py_init_ms"] = (sum(n[2] for n in ocr), "ms")

    page_grain = _page_grain_table(spark, docs, golden_rows).cache()
    page_grain.count()
    rec = layer("reassembly", lambda: reassemble_pages(page_grain))
    page_grain.unpersist()
    m["reassembly.s"] = (_dur(rec), "s")
    m["reassembly.agg_ms"] = (rec["counters"]["agg_ms"], "ms")
    m["reassembly.fallback_tasks"] = (rec["counters"]["fallback_tasks"], "count")
    m["reassembly.tasks"] = (rec["counters"]["tasks"], "count")
    m["reassembly.spill_bytes"] = (rec["counters"]["spill_bytes"], "bytes")
    m["image_branch.s"] = (_dur(branches["image"]), "s")
    m["image_branch.py_total_ms"] = (branches["image"]["counters"].get("py_total_ms", 0), "ms")

    m.update(_writer_and_operators(spark, tracer, layer, pages_c, pages_path, work, shape))
    pages_c.unpersist()
    m.update(_in_process(tracer, docs))

    def per_pass(key):
        return median([tracer.total(i, key) for i in pass_ids])

    m["spark.py_init_ms"] = (per_pass("py_init_ms"), "ms")
    m["spark.shuffle_bytes"] = (per_pass("shuffle_bytes"), "bytes")
    m["spark.spill_bytes"] = (per_pass("spill_bytes"), "bytes")
    m["spark.jobs"] = (per_pass("jobs"), "count")
    n = shape["docs"]
    m["trace.docs_per_s"] = (n / median(traced), "docs/s")
    m["trace.untraced_docs_per_s"] = (n / median(untraced), "docs/s")
    m["trace.overhead"] = (median(traced) / median(untraced) - 1, "ratio")
    parts = ["scan.s", "route.s", "html_branch.s", "pdf_branch.s", "image_branch.s"]
    if workload.writes:
        parts.append("writer.write_s")
    layer_sum = sum(m[p][0] for p in parts)
    m["trace.layers_over_wall"] = (layer_sum / median(untraced), "ratio")
    capture.enabled = False

    spans = tracer.finish()
    pass_self: dict[str, list[float]] = {}
    for s in spans:
        if s["pass"] is not None:
            pass_self.setdefault(s["name"], []).append(s["self_s"])
    trace = {
        "spans": spans,
        "reconciliation": {
            "untraced_pass_s": untraced,
            "traced_pass_s": traced,
            "traced_pass_self_s": {k: median(v) for k, v in pass_self.items()},
            "layer_s": {p: m[p][0] for p in parts},
            "layer_sum_s": layer_sum,
        },
    }
    return {name: m[name] for name, _u, _b in PER_LAYER}, trace


def _layer_runner(spark, tracer):
    def layer(name, make_df):
        with tracer.span(f"layer.{name}") as rec:
            force(make_df())
        return rec

    return layer


def _page_grain_table(spark, docs, golden_rows):
    """Page-grain rows (the shape ``reassemble_pages`` takes) of the
    workload's pdfs, as the oracle computes them."""
    rows = []
    for d in docs:
        rec = make_page_record(*d)
        g = golden_rows[rec["url"]]
        if g["doc_type"] != "pdf":
            continue
        if g["pages"] is None:  # doc-level error row
            rows.append((rec["url"], rec["warc_ts"], None, None, None, False, g["error"], 0.0))
            continue
        for p in g["pages"]:
            rows.append((rec["url"], rec["warc_ts"], p["page_number"], g["total_pages"],
                         p["text"], p["success"], p["error"], 0.0))
    return spark.createDataFrame(rows, PAGE_GRAIN_SCHEMA).repartition(spark.sparkContext.defaultParallelism)


def _writer_and_operators(spark, tracer, layer, pages_c, pages_path, work, shape):
    m = {}
    extracted = run_extraction(spark, pages_c, CFG).cache()
    extracted.count()
    wdir = os.path.join(work, "writer")
    with tracer.span("layer.writer.write_snapshot") as rec:
        write_snapshot(extracted, wdir)
    extracted.unpersist()
    m["writer.write_s"] = (_dur(rec), "s")
    size, files = dir_bytes(wdir)
    m["writer.bytes_written"] = (size, "bytes")
    m["writer.files_written"] = (files, "count")
    m["writer.write_amp"] = (size / shape["payload_bytes"], "ratio")
    m["writer.read_s"] = (_dur(layer("writer.read_extracted", lambda: read_extracted(spark, wdir))), "s")
    with tracer.span("layer.writer.resume_filter") as rec:
        resumed = resume_filter(spark.read.parquet(pages_path), wdir).count()
    m["writer.resume_s"] = (_dur(rec), "s")
    m["writer.resume_rows"] = (resumed, "count")

    snapshot = read_extracted(spark, wdir).cache()
    snapshot.count()
    for name, call in operator_calls(snapshot, pages_c):
        rec = layer(f"operators.{name}", call)
        m[f"operators.{name}.s"] = (_dur(rec), "s")
        m[f"operators.{name}.shuffle_bytes"] = (tracer.total(tracer.spans.index(rec), "shuffle_bytes"), "bytes")
    snapshot.unpersist()
    return m


def _in_process(tracer, docs):
    """Single-threaded per-doc cost of the pure-Python layers."""
    from extractor.oracle import doc_type_for

    m = {}
    recs = [make_page_record(*d) for d in docs]

    def payloads(doc_type):
        return [
            r["html"] for r in recs
            if doc_type_for(r["url"]) == doc_type and 0 < len(r["html"]) <= CFG.max_bytes
        ][:IN_PROCESS_DOCS]

    def timed(name, fn, items):
        out = []
        with tracer.span(f"layer.{name}"):
            t0 = time.perf_counter()
            for x in items:
                try:
                    out.append(fn(x))
                except ValueError:
                    pass  # a corrupt page or pdf: counted in the time, no output
            elapsed = time.perf_counter() - t0
        return out, elapsed * 1000 / max(len(items), 1)

    html = payloads("html")
    markdown, ms = timed("html_extract", html_to_markdown, html)
    m["html_extract.ms_per_doc"], m["html_extract.docs"] = (ms, "ms/doc"), (len(html), "count")
    pdfs = payloads("pdf")
    page_lists, ms = timed("pdf_extract", split_pdf_pages, pdfs)
    m["pdf_extract.ms_per_doc"], m["pdf_extract.docs"] = (ms, "ms/doc"), (len(pdfs), "count")
    engine, prompt = SurrogateEngine(), resolve_prompt(CFG.output_format)
    pages = [p for pl in page_lists for p in pl]
    raw, ms = timed("engine", lambda p: engine.infer_batch([p], prompt)[0], pages)
    m["engine.ms_per_page"], m["engine.pages"] = (ms, "ms/page"), (len(pages), "count")
    texts = markdown + raw
    _out, ms = timed(
        "cleaning", lambda t: clean_stdout_output(t, strip_grounding=CFG.strip_grounding), texts
    )
    m["cleaning.ms_per_doc"], m["cleaning.docs"] = (ms, "ms/doc"), (len(texts), "count")
    return m
