"""``operator_board`` workload: one pass over the analytical operator
board, every query checked against its DuckDB oracle.

The board is the headline queries of ``bench.py`` without
``frontier_crawl`` (the ``crawl`` workload's subject) and ``sessionize``
(see QUERIES).  Inputs are the three tables of ``boarddata``, written
from the seed.  Each query is one operation: the timed
action is ``collect()`` of its result, and the collected rows are then
compared (row count, column names and an order-insensitive value hash,
as ``tools/check_oracles.py`` computes it) with the DuckDB oracle
evaluated on the same files.
"""

from __future__ import annotations

import os
import random
import sys

from boarddata import write_tables
from harness import Outcome, cores, median, run_op
from kernels import kernel_timings
from sqlprofile import summarize

# The queries run in this fixed order, so each one meets an equally warm
# JVM.  ``sessionize`` is left out: its Spark side measures gaps between
# whole-second ``unix_timestamp`` values while its DuckDB oracle uses
# microsecond ``epoch``, so an event gap in (1800, 1801) s opens a session
# on one side only, and the query fails its oracle check on seeds whose
# events have such a gap (seed 3 of a 20 000-event table does).
QUERIES = [
    "rule_hits", "quality_scores", "gopher_quality", "dup_ngram_fraction",
    "lang_id", "fingerprints", "token_counts", "verify_scores",
    "english_gate", "simhash", "minhash_bands", "lsh_candidate_pairs",
    "exact_dedup", "pii_scrub", "decontaminate", "training_keep_list",
    "sentence_pipeline", "pack_sequences", "exact_substring_dedup",
    "lang_rollup", "events_neighbor_context",
    "lm_bigram_score", "embedding_topk", "ivf_topk", "pq_topk",
    "embedding_neardup", "train_quality_perceptron", "mix_sample",
]
# queries that do not read the documents table
NON_DOCUMENT_QUERIES = {
    "events_neighbor_context", "embedding_topk", "ivf_topk", "pq_topk",
    "embedding_neardup",
}
TABLES = ("documents", "embeddings", "events")
SAMPLE_DOCS = 300


def _check_oracles_module(root: str):
    """``tools/check_oracles.py`` supplies norm_cell/value_hash."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.append(tools)
    import check_oracles

    return check_oracles


class BoardWorkload:
    def __init__(self, seed: int, work_dir: str, root: str):
        from privacy_crawler_parser_tokenizer_spark.queries import QUERIES as REGISTRY

        self.spark = None
        self.tracer = None
        self.seed = seed
        self.root = root
        self.data_dir = os.path.join(work_dir, "board-data")
        self.registry = REGISTRY
        self.counts: dict[str, int] = {}
        self.want: dict[str, tuple | Exception] = {}
        self.iterations: list[dict] = []

    def generate(self) -> None:
        self.counts = write_tables(self.data_dir, self.seed)

    def expected(self) -> None:
        """Row count, column names and value hash of every query's DuckDB
        oracle over the same files."""
        import duckdb

        from privacy_crawler_parser_tokenizer_spark.queries import ORACLE_SQL

        co = _check_oracles_module(self.root)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads={cores()}")
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for name in QUERIES:
                try:
                    res = con.execute(ORACLE_SQL[name])
                    cols = [d[0] for d in res.description]
                    rows = res.fetchall()
                    self.want[name] = (len(rows), sorted(cols), co.value_hash(rows, cols))
                except Exception as exc:  # reported as this query's failure
                    self.want[name] = exc
        finally:
            con.close()

    def warm_up(self) -> None:
        """Nothing is warmed: the timed pass is the board's first pass in a
        fresh session, as a user running it once sees it."""

    def iterate(self, outcome: Outcome, penalty_s: float) -> dict:
        """One pass: every query, in order, collected."""
        it = {"query_s": {}, "query_cpu_s": {}, "rows": {}, "cols": {}}
        for name in QUERIES:
            wall, cpu, res = run_op(self.tracer, outcome, penalty_s, name, self._collect, name)
            it["query_s"][name], it["query_cpu_s"][name] = wall, cpu
            if res is not None:
                it["cols"][name] = res[0]
                it["rows"][name] = [tuple(r) for r in res[1]]
        self.iterations.append(it)
        return it

    def _collect(self, name: str) -> tuple[list[str], list]:
        df = self.registry[name](self.spark, self.data_dir)
        return df.columns, df.collect()

    def end_to_end(self, it: dict) -> dict[str, float]:
        times, cpu = it["query_s"], it["query_cpu_s"]
        board_s = sum(times.values())
        # the bounded throughputs split the pass into two disjoint sets of
        # queries, so document operators and embedding/event operators
        # show apart; each document query takes the whole documents table
        doc_queries = [q for q in QUERIES if q not in NON_DOCUMENT_QUERIES]
        doc_inputs = self.counts["documents"] * len(doc_queries)
        return {
            # bounded (CPU seconds of the process tree)
            "cpu_s": sum(cpu.values()),
            "items_per_cpu_s": (len(NON_DOCUMENT_QUERIES)
                                / sum(cpu[q] for q in NON_DOCUMENT_QUERIES)),
            "docs_per_cpu_s": doc_inputs / sum(cpu[q] for q in doc_queries),
            # wall clock, printed only
            "run_s": board_s,
            "board_s": board_s,
            "queries_per_s": len(times) / board_s,
            "docs_per_s": doc_inputs / sum(times[q] for q in doc_queries),
            "query_s_p50": median(times.values()),
            "queries": len(times),
        }

    def check(self, outcome: Outcome) -> None:
        co = _check_oracles_module(self.root)
        for it in self.iterations:
            for name in QUERIES:
                if name not in it["rows"]:
                    continue  # already counted as failed
                w = self.want[name]
                if isinstance(w, Exception):
                    outcome.fail(name, w)
                    continue
                rows, cols = it["rows"][name], it["cols"][name]
                got = (len(rows), sorted(cols), co.value_hash(rows, cols))
                outcome.check(name, got == w, f"spark={got} oracle={w}")

    def layer_metrics(self, it: dict) -> dict[str, float]:
        tr = self.tracer
        jobs = tr.jobs(*QUERIES)
        m = {**summarize(tr.ops(*QUERIES)),
             "spark.jobs": jobs["jobs"], "spark.tasks": jobs["tasks"]}
        for name in QUERIES:
            m[f"query_s.{name}"] = it["query_s"].get(name, 0.0)
        m.update(self._kernels())
        return m

    def per_query_profiles(self) -> dict[str, dict]:
        out = {}
        for name in QUERIES:
            spans = self.tracer.find(name)
            if spans:
                out[name] = {**summarize(spans[-1]["ops"]),
                             **{f"spark.{k}": v for k, v in spans[-1]["jobs"].items()}}
        return out

    def _kernels(self) -> dict[str, float]:
        """The extract and sentence kernels, which ``sentence_pipeline``
        runs, over a seeded sample of the board's documents rendered as
        single-paragraph HTML pages.  No board query runs the fetch-stage
        page kernel, so it reports 0 here."""
        import html as htmllib

        import pyarrow.parquet as pq

        texts = pq.read_table(
            os.path.join(self.data_dir, "documents.parquet"), columns=["text"]
        ).column("text").to_pylist()
        rng = random.Random(self.seed)
        sample = rng.sample(texts, min(SAMPLE_DOCS, len(texts)))
        pages = [f"<html><body><p>{htmllib.escape(t, quote=False)}</p></body></html>"
                 for t in sample]
        return kernel_timings(self.spark, pages, [False] * len(pages), max_depth=2,
                              page_kernel=False)

    def install_probes(self) -> None:
        """Nothing to wrap: every board call is already a span."""
