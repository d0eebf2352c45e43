"""The traced run: per-layer metrics measured from outside the program.

Two instruments, both recording spans in one :class:`spans.Tracer`:

* a **ladder** of Spark passes over the workload's inputs, each rung the
  one below plus one public call of the pipeline, ending in a noop sink
  (``scan``: ``read.parquet``; ``resume``: + ``committed_urls`` and the
  anti-join; ``shuffle``: + ``salted_repartition``; ``arrow``: + an
  identity ``mapInArrow``; ``extract``: ``extract_markdown`` in place of
  the identity) and then the full ``run_extraction`` pass, once untraced
  and once inside a span.  A layer's self time is its rung minus the rung
  below (medians over the rounds, rounds interleave the rungs);
* a **single-thread replay** of the pass's documents in this process,
  calling the kernel's public stages in ``extract_document``'s order
  (empty check, ``pdf_header_offset``, the routed ``extract_pages``,
  ``assemble_one``), one span per stage under one span per document
  whose trace id is the url.
"""

from __future__ import annotations

import pyarrow.parquet as pq

from spans import Tracer, ladder_self, median, percentile, tail_percentile

LADDER = [
    ("scan", None),
    ("resume", "scan"),
    ("shuffle", "resume"),
    ("arrow", "shuffle"),
    ("extract", "arrow"),
    ("pass", "extract"),
]
MIN_ROUNDS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity_arrow(df, batches_acc, rows_acc):
    """``mapInArrow`` that returns its input batches unchanged, counting
    them: the JVM-to-Python-and-back cost without the kernel."""

    def run(batches):
        for b in batches:
            batches_acc.add(1)
            rows_acc.add(b.num_rows)
            yield b

    return df.mapInArrow(run, df.schema)


def run_ladder(spark, pages_path: str, state_dir: str, do_pass, seconds: float, tracer: Tracer) -> dict:
    """Run the ladder rounds; returns the median seconds per rung, the
    identity rung's batch counts and the checked results of the passes.

    ``state_dir`` holds the committed state the resume rung lists;
    ``do_pass(tag, tracer)`` runs and checks one full pipeline pass, inside
    a span when ``tracer`` is given, and returns its record (the caller
    owns output directories and the correctness gate)."""
    from markmuse_spark.operators.extract import extract_markdown
    from markmuse_spark.plans.pipeline import committed_urls, salted_repartition

    parallelism = spark.sparkContext.defaultParallelism
    sc = spark.sparkContext
    batches_acc, rows_acc = sc.accumulator(0), sc.accumulator(0)

    def todo():
        pages = spark.read.parquet(pages_path)
        done = committed_urls(spark, state_dir)
        return pages if done is None else pages.join(done, "url", "left_anti")

    rungs = {
        "scan": lambda: _noop(spark.read.parquet(pages_path)),
        "resume": lambda: _noop(todo()),
        "shuffle": lambda: _noop(salted_repartition(todo(), parallelism)),
        "arrow": lambda: _noop(
            _identity_arrow(
                salted_repartition(todo(), parallelism).select("url", "html"),
                batches_acc,
                rows_acc,
            )
        ),
        "extract": lambda: _noop(extract_markdown(salted_repartition(todo(), parallelism))),
    }
    times: dict[str, list[float]] = {name: [] for name in (*rungs, "pass", "pass_traced")}
    checks = []
    rounds = 0
    while rounds < MIN_ROUNDS or sum(sum(v) for v in times.values()) < seconds:
        with tracer.span("ladder.round"):
            for name, fn in rungs.items():
                with tracer.span(f"rung.{name}") as sp:
                    fn()
                times[name].append(sp[3] - sp[2])
            for name, tr in (("pass", None), ("pass_traced", tracer)):
                rec = do_pass(f"{name}{rounds}", tr)
                times[name].append(rec["wall_s"])
                checks.append(rec)
        rounds += 1
    return {
        "rungs": {k: median(v) for k, v in times.items()},
        "arrow_batches": batches_acc.value / rounds,
        "arrow_rows": rows_acc.value / rounds,
        "checks": checks,
    }


def replay(pages_path: str, urls: set[str], golden: dict, tracer: Tracer) -> dict:
    """Single-thread kernel replay of ``urls`` (table order); returns
    per-document records and the number of rows that differ from the
    oracle."""
    from markmuse_spark.kernel import html_extract, pdf_extract
    from markmuse_spark.kernel.markdown_assembly import assemble_one

    table = pq.read_table(pages_path, columns=["url", "html"]).to_pylist()
    docs = [(r["url"], r["html"]) for r in table if r["url"] in urls]
    records = []
    mismatches = 0
    for url, payload in docs:
        rec = {"url": url, "route": None, "pages": 0, "images": 0, "error": None, "partial": False}
        with tracer.span("kernel.extract", trace_id=url) as doc_span:
            try:
                if payload is None or len(payload) == 0:
                    raise ValueError("empty payload")
                with tracer.span("kernel.sniff", trace_id=url):
                    is_pdf = pdf_extract.pdf_header_offset(payload) is not None
                rec["route"] = "pdf" if is_pdf else "html"
                with tracer.span(f"kernel.{rec['route']}", trace_id=url):
                    pages = (pdf_extract if is_pdf else html_extract).extract_pages(payload)
                with tracer.span("kernel.assembly", trace_id=url):
                    doc = assemble_one(url, pages)
                rec["pages"] = len(pages)
                rec["images"] = len(doc["image_manifest"])
                rec["partial"] = any(p.get("damage") for p in pages)
            except Exception as exc:  # the kernel's per-row error capture
                rec["error"] = type(exc).__name__
                doc = None
        rec["span"] = doc_span[0]
        want = golden[url]
        if doc is None:
            ok = want["markdown"] is None
        else:
            ok = (
                doc["markdown"] == want["markdown"]
                and doc["extracted_text"] == want["extracted_text"]
                and rec["images"] == want["n_images"]
                and rec["partial"] == (want["error_expected"] or "").startswith("PartialExtraction:")
            )
        mismatches += not ok
        records.append(rec)
    return {"records": records, "mismatches": mismatches}


def _route_stats(durations_ms: list[float]) -> tuple[float, float]:
    """(p50, tail) of a route's per-document times; 0.0 for a route no
    document took (the workload bypasses it)."""
    tail = tail_percentile(len(durations_ms))
    if tail is None:
        return 0.0, 0.0
    return percentile(durations_ms, 50.0), percentile(durations_ms, tail)


def kernel_metrics(tracer: Tracer, rep: dict) -> dict:
    """Per-layer kernel metrics from the replay's spans.  Also returns
    ``_kernel_s``, the replay's single-thread seconds (not reported)."""
    spans = tracer.spans
    route_ms: dict[int, float] = {}
    for sid, name, s, e, parent, _tid in spans:
        if name in ("kernel.pdf", "kernel.html"):
            route_ms[parent] = (e - s) * 1e3
    recs = rep["records"]
    doc_ms = [(spans[r["span"]][3] - spans[r["span"]][2]) * 1e3 for r in recs]
    total_s = sum(doc_ms) / 1e3
    n = len(recs)
    assembled = sum(1 for r in recs if r["error"] is None)
    out = {
        "kernel.docs_per_s_1t": n / total_s,
        "kernel.doc_ms_p50": percentile(doc_ms, 50.0),
        "kernel.doc_ms_tail": percentile(doc_ms, tail_percentile(n) or 50.0),
        "kernel.doc_ms_max": max(doc_ms),
        "kernel.errors.ValueError": sum(1 for r in recs if r["error"] == "ValueError"),
        "kernel.partial_docs": sum(1 for r in recs if r["partial"]),
        "kernel.sniff_us_per_doc": 1e6 * tracer.total_self("kernel.sniff") / n,
        "kernel.pdf.pages": sum(r["pages"] for r in recs if r["route"] == "pdf"),
        "kernel.assembly.self_s": tracer.total_self("kernel.assembly"),
        "kernel.assembly.ms_per_doc": 1e3 * tracer.total_self("kernel.assembly") / max(1, assembled),
        "kernel.assembly.images": sum(r["images"] for r in recs),
        "_kernel_s": total_s,
    }
    for route in ("pdf", "html"):
        ms = [route_ms[r["span"]] for r in recs if r["route"] == route]
        p50, tail = _route_stats(ms)
        out[f"kernel.{route}.docs"] = len(ms)
        out[f"kernel.{route}.self_s"] = tracer.total_self(f"kernel.{route}")
        out[f"kernel.{route}.ms_p50"] = p50
        out[f"kernel.{route}.ms_tail"] = tail
    return out


def layer_metrics(ladder: dict, kernel: dict, slots: int) -> dict:
    r = ladder["rungs"]
    self_s = ladder_self(r, LADDER)
    kernel_slot_s = kernel["_kernel_s"] / slots
    covered = (
        self_s["scan"] + self_s["resume"] + self_s["shuffle"] + self_s["arrow"]
        + kernel_slot_s + self_s["pass"]
    )
    return {
        "scan.self_s": self_s["scan"],
        "pipeline.resume.self_s": self_s["resume"],
        "pipeline.shuffle.self_s": self_s["shuffle"],
        "arrow.self_s": self_s["arrow"],
        "arrow.batches": ladder["arrow_batches"],
        "arrow.rows_per_batch": ladder["arrow_rows"] / max(1.0, ladder["arrow_batches"]),
        "operators.extract.self_s": self_s["extract"],
        "operators.extract.overhead_s": self_s["extract"] - kernel_slot_s,
        "pipeline.write.self_s": self_s["pass"],
        "trace.overhead_s": r["pass_traced"] - r["pass"],
        "trace.unaccounted_share": (r["pass"] - covered) / r["pass"],
    }
