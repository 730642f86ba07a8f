"""Single-thread driver timings of the public page, extract and sentence
kernels (``functions.udfs``) over a sample of a workload's own pages."""

from __future__ import annotations

import statistics
import time

import pandas as pd

REPEATS = 3


def _per_item_us(fn, n: int) -> float:
    """Median of REPEATS timed calls of ``fn``, in microseconds per item."""
    fn()  # first call pays imports and caches
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / max(n, 1) * 1e6


def kernel_timings(spark, htmls: list[str], landing: list[bool], max_depth: int,
                   page_kernel: bool = True) -> dict[str, float]:
    """Median-of-3 microseconds per page for the fused fetch-stage page
    kernel (unless ``page_kernel`` is false), the document extractor and
    the sentence splitter."""
    from privacy_crawler_parser_tokenizer_spark.functions.udfs import (
        broadcast_dictionary,
        broadcast_ground_truth,
        extract_doc_udf,
        make_process_batch_fn,
        sentences_udf,
    )
    from privacy_crawler_parser_tokenizer_spark.sources.synth import (
        make_dictionary,
        make_ground_truth,
    )

    bc_gt = broadcast_ground_truth(spark, make_ground_truth())
    bc_dict = broadcast_dictionary(spark, make_dictionary())
    try:
        process = make_process_batch_fn(bc_gt, bc_dict, max_depth)
        pages = pd.DataFrame({
            "html": htmls,
            "phase": ["landing" if x else "expand" for x in landing],
            "depth_count": [0] * len(htmls),
        })
        html = pd.Series(htmls, dtype=object)
        no_text = pd.Series([None] * len(htmls), dtype=object)
        extract = extract_doc_udf.func
        texts = pd.Series(
            [t for t in extract(html, no_text)["stripped_text"] if t], dtype=object
        )
        out = {
            "kernel.extract_doc_us": _per_item_us(lambda: extract(html, no_text), len(htmls)),
            "kernel.sentences_us": _per_item_us(lambda: sentences_udf.func(texts), len(texts)),
        }
        if page_kernel:
            out["kernel.process_page_us"] = _per_item_us(lambda: process(pages), len(htmls))
        return out
    finally:
        bc_gt.destroy()
        bc_dict.destroy()
