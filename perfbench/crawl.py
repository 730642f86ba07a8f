"""``crawl`` workload: a polite frontier crawl, a zero-round resume of
its warehouse, and parse/tokenize over the crawled documents.

Inputs: ``sources.synth.gen_web(N_DOMAINS, seed)``, fetched through the
broadcast-dict ``PythonFetcher`` with the operator board's
``frontier_crawl`` configuration.  One iteration runs three phases, each
timed in wall-clock and process-tree CPU seconds:

1. ``FrontierCrawler.run()`` over a fresh warehouse.
2. Resume: a new crawler on the finished warehouse with ``max_rounds``
   equal to the committed round count.  It reloads state, rebuilds the
   seen filter from the whole ``seen`` table and returns.
3. ``pipeline.parse_tokenize`` over the crawl's ``documents()``, with the
   sentences table forced to the noop sink.

Outputs are checked outside the timed phases: the crawl against
``core.oracle.CrawlOracle`` on the same web, the resumed filter against
every seen href, and the sentences of a seeded sample of documents
against the ``core`` kernels run on the driver.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pandas as pd

from harness import Outcome, Tracer, median, run_op
from kernels import kernel_timings
from sqlprofile import summarize

N_DOMAINS = 600
CONFIG = {
    "threshold": 0.3,
    "max_depth": 2,
    "host_budget": 8,
    "bloom_capacity": 1 << 16,
    "delta_write_partitions": 4,
}
SAMPLE_DOCS = 300        # documents re-tokenized on the driver per check
FPP_PROBES = 20000       # never-seen hrefs probed against the final filter
ROUND_STEPS = ("fetch_agg", "stats_join", "admission", "write_wave", "commit_tail")


def _config(**overrides):
    from privacy_crawler_parser_tokenizer_spark.plans.frontier import FrontierConfig

    return FrontierConfig(**{**CONFIG, **overrides})


class CrawlWorkload:
    def __init__(self, seed: int, work_dir: str):
        from privacy_crawler_parser_tokenizer_spark.sources.synth import (
            make_dictionary,
            make_ground_truth,
        )

        self.seed = seed
        self.work_dir = work_dir
        self.spark = None
        self.tracer = None
        self.gt = make_ground_truth()
        self.dictionary = make_dictionary()
        self.web = None
        self.oracle = None
        self._bc = None
        self.iterations: list[dict] = []
        self._n_wh = 0

    # -- set-up ------------------------------------------------------------
    def generate(self) -> None:
        """Generate the synthetic web (driver-side Python, no Spark)."""
        from privacy_crawler_parser_tokenizer_spark.sources.synth import gen_web

        self.web = gen_web(n_domains=N_DOMAINS, seed=self.seed)

    def expected(self) -> None:
        """The sequential oracle's crawl of the same web."""
        from privacy_crawler_parser_tokenizer_spark.core import CrawlOracle

        pages, seeds, robots = self.web
        self.oracle = CrawlOracle(
            pages, seeds, ground_truth=self.gt, dictionary=self.dictionary,
            threshold=CONFIG["threshold"], max_depth=CONFIG["max_depth"],
            host_budget=CONFIG["host_budget"], robots=robots,
        ).run()

    def warm_up(self) -> None:
        """Broadcast the web to the fetchers.  Nothing else is warmed: the
        timed crawl is a crawl job in a fresh session, cold start included."""
        self._bc = self.spark.sparkContext.broadcast(self.web[0])

    # -- the timed iteration --------------------------------------------------
    def _new_wh(self) -> str:
        self._n_wh += 1
        return os.path.join(self.work_dir, f"warehouse-{self._n_wh}")

    def _crawler(self, wh, bc, seeds, robots, **overrides):
        from privacy_crawler_parser_tokenizer_spark.plans.frontier import (
            FrontierCrawler,
            PythonFetcher,
        )

        return FrontierCrawler(
            self.spark, wh,
            fetcher=PythonFetcher(lambda u: bc.value.get(u, "")),
            seeds=seeds, ground_truth=self.gt, dictionary=self.dictionary,
            robots=robots, config=_config(**overrides),
        )

    def _tokenize(self, fc):
        from privacy_crawler_parser_tokenizer_spark.pipeline import parse_tokenize

        tables = parse_tokenize(fc.documents().select("doc_id", "html"))
        tables["sentences"].write.format("noop").mode("overwrite").save()
        return tables

    def iterate(self, outcome: Outcome, penalty_s: float) -> dict:
        """One crawl + resume + tokenize; returns the phase timings."""
        _, seeds, robots = self.web
        it = {"wh": self._new_wh(), "fc": None, "fc2": None, "tables": None}

        def phase(name, fn, *args):
            it[f"{name}_s"], it[f"{name}_cpu_s"], out = run_op(
                self.tracer, outcome, penalty_s, name, fn, *args)
            return out

        def resume():
            fc2 = self._crawler(it["wh"], self._bc, seeds, robots, max_rounds=run.rounds)
            fc2.run()
            return fc2

        fc = self._crawler(it["wh"], self._bc, seeds, robots)
        run = phase("crawl", fc.run)
        if run is None:
            # nothing to resume or tokenize: both count as failed
            for name in ("resume", "tokenize"):
                phase(name, _crawl_failed)
        else:
            it["fc"] = fc
            it["fc2"] = phase("resume", resume)
            it["tables"] = phase("tokenize", self._tokenize, fc)
        self.iterations.append(it)
        return it

    # -- metrics -------------------------------------------------------------
    def end_to_end(self, it: dict) -> dict[str, float]:
        fc = it["fc"]
        fetched = sum(r.fetched for r in fc.metrics().collect()) if fc else 0
        n_docs = fc.documents().count() if fc else 0
        rounds = fc.round_seconds if fc else []
        it["fetched"] = fetched
        return {
            # bounded (CPU seconds of the process tree)
            "cpu_s": it["crawl_cpu_s"] + it["resume_cpu_s"] + it["tokenize_cpu_s"],
            "items_per_cpu_s": fetched / it["crawl_cpu_s"] if it["crawl_cpu_s"] else 0.0,
            "docs_per_cpu_s": n_docs / it["tokenize_cpu_s"] if it["tokenize_cpu_s"] else 0.0,
            # wall clock, printed only
            "run_s": it["crawl_s"] + it["resume_s"] + it["tokenize_s"],
            "crawl_s": it["crawl_s"],
            "resume_s": it["resume_s"],
            "tokenize_s": it["tokenize_s"],
            "crawl_urls_per_s": fetched / it["crawl_s"] if it["crawl_s"] else 0.0,
            "docs_per_s": n_docs / it["tokenize_s"] if it["tokenize_s"] else 0.0,
            "round_s_p50": median(rounds) if rounds else 0.0,
            "rounds": len(rounds),
        }

    # -- correctness -----------------------------------------------------------
    def check(self, outcome: Outcome) -> None:
        for it in self.iterations:
            fc = it["fc"]
            if fc is None:
                continue
            seen = {r.href: r.revisits for r in fc.seen().collect()}
            docs = sorted(tuple(r) for r in fc.documents().select(
                "doc_id", "url", "text", "html").collect())
            _check_crawl(outcome, fc, self.oracle, seen, docs)
            if it["fc2"] is not None:
                _check_resume(outcome, it["fc2"], list(seen))
            if it["tables"] is not None:
                rng = random.Random(self.seed)
                sample = rng.sample(docs, min(SAMPLE_DOCS, len(docs)))
                _check_tokenize(outcome, it["tables"], sample)

    # -- traced run --------------------------------------------------------------
    def layer_metrics(self, it: dict) -> dict[str, float]:
        tr, fc = self.tracer, it["fc"]
        phases = ("crawl", "resume", "tokenize")
        jobs = tr.jobs(*phases)
        m = {**summarize(tr.ops(*phases)),
             "spark.jobs": jobs["jobs"], "spark.tasks": jobs["tasks"]}
        rounds = len(fc.round_trace)
        crawl_jobs = tr.jobs("crawl")
        m["frontier.rounds"] = rounds
        m["frontier.round_s_p50"] = median(fc.round_seconds)
        m["frontier.jobs_per_round"] = crawl_jobs["jobs"] / rounds
        m["frontier.stages_per_round"] = crawl_jobs["stages"] / rounds
        for step in ROUND_STEPS:
            m[f"frontier.{step}_s"] = sum(r[step] for r in fc.round_trace)
        m["frontier.resume_s"] = it["resume_s"]
        m.update(_bloom_metrics(fc, tr, self.seed))
        m.update(_warehouse_metrics(it["wh"], it["fetched"]))
        m.update(self._pipeline_metrics(it["tables"]))
        m.update(self._kernels(fc))
        return m

    def _pipeline_metrics(self, tables) -> dict[str, float]:
        return {
            "pipeline.docs": tables["extracted"].count(),
            "pipeline.spans": tables["spans"].count(),
            "pipeline.sentences": tables["sentences"].count(),
            "pipeline.python_s": summarize(self.tracer.ops("tokenize"))["udf.python_s"],
        }

    def _kernels(self, fc) -> dict[str, float]:
        pages = self.web[0]
        urls = sorted(r.url for r in fc.crawl_log().filter("fetched").select("url").collect())
        rng = random.Random(self.seed)
        sample = rng.sample(urls, min(SAMPLE_DOCS, len(urls)))
        htmls = [pages.get(u, "") for u in sample]
        landing = [u.count("/") <= 2 for u in sample]
        return kernel_timings(self.spark, htmls, landing, CONFIG["max_depth"])

    def install_probes(self) -> None:
        """Traced run only: time ``build_filter_distributed`` calls (per
        round while crawling, and the seen-filter rebuild on resume) by
        wrapping the module function."""
        from privacy_crawler_parser_tokenizer_spark.plans import frontier

        inner = frontier.build_filter_distributed
        tr = self.tracer

        def traced_build(*args, **kwargs):
            with tr.span("build_filter_distributed"):
                return inner(*args, **kwargs)

        frontier.build_filter_distributed = traced_build



def _crawl_failed():
    raise RuntimeError("the crawl failed")


def _check_crawl(outcome: Outcome, fc, res, seen: dict, docs: list[tuple]) -> None:
    """The four crawl outputs against the oracle, as tests/test_frontier.py
    compares them."""
    got = [
        (r.seed_rank, r.url, r.discovery_rank, r.round, r.fetched, r.valid,
         r.duplicate, r.doc_id, round(r.sim, 9))
        for r in fc.crawl_log().collect()
    ]
    want = [
        (r.seed_rank, r.url, r.discovery_rank, r.round, r.fetched, r.valid,
         r.duplicate, r.doc_id, round(r.sim, 9))
        for r in res.crawl_log
    ]
    outcome.check("crawl_log", got == want, f"rows spark={len(got)} oracle={len(want)}")

    outcome.check("seen", seen == res.seen,
                  f"hrefs spark={len(seen)} oracle={len(res.seen)}")

    got_docs = {d[:3] for d in docs}
    want_docs = {(d[0], d[1], d[3]) for d in res.documents}
    outcome.check("documents", got_docs == want_docs,
                  f"docs spark={len(got_docs)} oracle={len(want_docs)}")

    got_m = [
        (m.round, m.granted, m.fetched, m.new_links, m.policies, m.active_domains)
        for m in fc.metrics().collect()
    ]
    want_m = [
        (m["round"], m["granted"], m["fetched"], m["new_links"], m["policies"],
         m["active_domains"])
        for m in res.metrics
    ]
    outcome.check("metrics", got_m == want_m, f"rounds spark={len(got_m)} oracle={len(want_m)}")


def _check_tokenize(outcome: Outcome, tables, sample) -> None:
    """Sentence rows of a seeded document sample must equal the core
    kernels' split of the same pages (parse gate included)."""
    from pyspark.sql import functions as F

    from privacy_crawler_parser_tokenizer_spark.core.sentencize import sent_tokenize
    from privacy_crawler_parser_tokenizer_spark.core.spans import (
        compare_parsed_text,
        extract_doc,
    )
    from privacy_crawler_parser_tokenizer_spark.pipeline import RESIDUAL_TOLERANCE

    want = set()
    for doc_id, _, _, html in sample:
        spans, stripped = extract_doc(html or "")
        residual = len(compare_parsed_text(spans, stripped)) if stripped else 0
        if not (html and stripped and residual <= RESIDUAL_TOLERANCE):
            continue
        for s in spans:
            if s.kind in ("p", "h"):
                for i, sent in enumerate(sent_tokenize(s.text) if s.text else []):
                    want.add((doc_id, s.offset, i, sent))
    got_rows = (
        tables["sentences"]
        .filter(F.col("doc_id").isin([d[0] for d in sample]))
        .select("doc_id", "seq_index", "sent_idx", "text")
        .collect()
    )
    got = {(r.doc_id, r.seq_index, r.sent_idx, r.text) for r in got_rows}
    outcome.check(
        "tokenize", got == want and len(got_rows) == len(got),
        f"sample sentences spark={len(got_rows)} kernel={len(want)}",
    )


def _check_resume(outcome: Outcome, fc2, hrefs: list[str]) -> None:
    """The zero-round resume runs no round, and its rebuilt filter
    reports every seen href as maybe-seen."""
    hits = fc2.bloom.might_contain(pd.Series(hrefs, dtype=object))
    outcome.check(
        "resume", not fc2.round_seconds and bool(hits.all()),
        f"rounds run={len(fc2.round_seconds)} misses={int((~hits).sum())}",
    )


def _bloom_metrics(fc, tr: Tracer, seed: int) -> dict[str, float]:
    bloom = fc.bloom
    probes = pd.Series(
        [f"http://never-seen-{seed}.invalid/p{i}" for i in range(FPP_PROBES)], dtype=object
    )
    bloom.might_contain(probes[:100])
    t0 = time.perf_counter()
    hits = bloom.might_contain(probes)
    probe_s = time.perf_counter() - t0
    if hasattr(bloom, "shards"):  # bit-array filter: share of bits set
        bits = [s.bits for s in bloom.shards]
        fill = (sum(int(np.unpackbits(b.view(np.uint8)).sum()) for b in bits)
                / sum(b.size * 64 for b in bits))
    else:  # cuckoo filter: share of fingerprint slots used
        fill = bloom.n_items / bloom.buckets.size
    return {
        "bloom.build_s": tr.seconds("build_filter_distributed", parent="resume"),
        "bloom.probe_us": probe_s / FPP_PROBES * 1e6,
        "bloom.nbytes": bloom.nbytes,
        "bloom.fill_ratio": fill,
        "bloom.fpp_observed": float(hits.mean()),
    }


def _warehouse_metrics(wh: str, fetched: int) -> dict[str, float]:
    files = snapshots = size = 0
    for dirpath, dirnames, filenames in os.walk(wh):
        snapshots += sum(d.startswith("snap=") for d in dirnames)
        files += len(filenames)
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return {
        "warehouse.files": files,
        "warehouse.snapshots": snapshots,
        "warehouse.bytes": size,
        "warehouse.bytes_per_url": size / fetched if fetched else 0.0,
    }
