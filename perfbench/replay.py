"""Kernel replay: time the extraction layers on a captured input batch,
single-threaded in the driver, away from Spark (the devUDF approach:
replay a batch the UDF really receives, locally, to cost its body apart
from its boundary).

Two passes over the same pages:

- the three stage functions as ``mapInPandas`` calls them
  (``detect_batch`` -> ``order_batch`` -> ``finish_batch``);
- each kernel on its own, column-wise over the batch, following the
  path ``finish_batch`` takes per page, so each kernel is one span.

Every time is reported in ms per replayed page (all kinds), so kernel
times add up to the stage time they belong to.
"""

from __future__ import annotations

import time

import pandas as pd

KERNEL_METRICS = (
    "charset.decode_ms", "html_extract.page_ms", "pdf_extract.spans_ms",
    "pdf_extract.blocks_ms", "stages.order_ms", "correction.span_merge_ms",
    "correction.ratio_ms", "rendering.compose_ms", "rendering.render_ms",
    "stages.detect_batch_ms", "stages.order_batch_ms", "stages.finish_batch_ms",
)

RENDERER = "plaintext"


def replay(batch: pd.DataFrame, tracer) -> dict[str, float]:
    from vlm_ocr_pipeline_spark.functions import (
        charset, correction, html_extract, pdf_extract, rendering,
    )
    from vlm_ocr_pipeline_spark.operators import stages

    n = len(batch)
    ms: dict[str, float] = {}

    def timed(metric: str, span: str, fn):
        with tracer.span(span):
            t0 = time.perf_counter()
            out = fn()
            ms[metric] = (time.perf_counter() - t0) * 1000.0 / n
        return out

    with tracer.span("perfbench.replay", pages=n):
        det = timed("stages.detect_batch_ms", "operators.stages.detect_batch",
                    lambda: stages.detect_batch(batch))
        ordd = timed("stages.order_batch_ms", "operators.stages.order_batch",
                     lambda: stages.order_batch(det))
        timed("stages.finish_batch_ms", "operators.stages.finish_batch",
              lambda: stages.finish_batch(ordd, renderer=RENDERER))

        payloads = list(batch["html"])
        kinds = [stages.sniff_kind(p) for p in payloads]
        html_idx = [i for i, k in enumerate(kinds) if k == "html"]
        pdf_idx = [i for i, k in enumerate(kinds) if k == "pdf"]
        blocks: list[list[dict]] = [[] for _ in payloads]

        texts = timed("charset.decode_ms", "functions.charset.decode_payload",
                      lambda: [charset.decode_payload(payloads[i])[0] for i in html_idx])
        pages = timed("html_extract.page_ms", "functions.html_extract.extract_html_page",
                      lambda: [html_extract.extract_html_page(t) for t in texts])
        spans = timed("pdf_extract.spans_ms", "functions.pdf_extract.extract_pdf_spans",
                      lambda: [pdf_extract.extract_pdf_spans(payloads[i]) for i in pdf_idx])
        pdf_blocks = timed("pdf_extract.blocks_ms", "functions.pdf_extract.spans_to_blocks",
                           lambda: [pdf_extract.spans_to_blocks(s) for s in spans])
        for i, page in zip(html_idx, pages):
            blocks[i] = page["blocks"]
        for i, b in zip(pdf_idx, pdf_blocks):
            blocks[i] = b

        # order_blocks = boilerplate drop + overlap dedup (dedup_blocks)
        # + reading order (ordering)
        ordered = timed("stages.order_ms", "operators.stages.order_blocks",
                        lambda: [stages.order_blocks(b, k) for b, k in zip(blocks, kinds)])

        def correct():
            for page, kind in zip(ordered, kinds):
                fix = correction.span_merge_correct if kind == "pdf" else correction.copy_correct
                for b in page:
                    if b.get("text") is not None:
                        b["corrected_text"] = fix(b["text"])

        timed("correction.span_merge_ms", "functions.correction.span_merge_correct", correct)

        def compose():
            pairs = []
            for page, kind in zip(ordered, kinds):
                raw = rendering.compose_page_text(page)
                if kind == "pdf":
                    view = [{**b, "text": b.get("corrected_text") or b.get("text")} for b in page]
                    pairs.append((raw, rendering.compose_page_text(view)))
                else:
                    pairs.append((raw, raw))
            return pairs

        pairs = timed("rendering.compose_ms", "functions.rendering.compose_page_text", compose)
        timed("correction.ratio_ms", "functions.correction.correction_ratio",
              lambda: [correction.correction_ratio(r, c) for r, c in pairs])
        timed("rendering.render_ms", "functions.rendering.render_plaintext",
              lambda: [rendering.render_plaintext(p) for p in ordered])
    return ms
