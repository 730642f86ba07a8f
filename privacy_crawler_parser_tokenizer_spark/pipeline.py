"""Parse/tokenize batch pipeline (SURVEY.md §2.3, §3.2 rebuild).

One linear DataFrame dataflow replacing the reference's per-file
process-pool (src/parser-tokenizer.py:339-397):

    documents(doc_id, html[, auto_text])
      -> fused parse+split node (mapInArrow, ONE Python crossing per
         document: spans + stripped text + parse self-check +
         per-span sentences)                    [extracted table]
      -> array-local context (tag_index, prec_by/proc_by)
      -> explode_outer                          [spans table]
      -> filter parse_ok (same row, no join), kind in (p,h)
      -> posexplode(sentences)
      -> native rule expressions                [sentences table]
      -> explode(rule_hits) -> groupBy          [rule_counts tables]

(The extracted and spans tables run the node without the split.)

Scale notes: the only Python is the one Arrow-batched map node per
document batch; the context is computed inside each document's span
array (zero shuffles), and the aggregations are partial-agg hash
groupBys.  The parse-success gate (residual > 5 -> drop, reference
:306) is a row filter on the node's own output.  Expression UDFs
would not do here: Catalyst pushes the filters it infers for an
explode below the projection that computes them, which clones the
UDF (the HTML was parsed three times and every span split twice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .functions.text import (
    rule_hits_col,
    spans_context_col,
    spans_tagged_col,
    word_count_col,
)
from .functions.udfs import (
    SPAN_SENTS_FIELD,
    SPLIT_KINDS,
    make_parse_split_fn,
    parse_split_fields,
    split_spans_batch,
)

RESIDUAL_TOLERANCE = 5  # reference: src/parser-tokenizer.py:306

# fixed histogram bin edges (reference: src/statistics/sentences.py:207,215)
RULE_HIST_BINS = [0, 10, 20, 30, 40, 50, 60, 70, 80, 90, 100,
                  120, 140, 160, 180, 200, 250, 300, 350, 400]

def parse_split(docs: DataFrame, auto_text: bool = True,
                split: bool = True) -> DataFrame:
    """The fused parse+split stage: documents -> + (spans, stripped_text,
    residual_count[, sents], parse_ok) in one mapInArrow node
    (``functions.udfs.make_parse_split_fn``).  ``split`` adds the
    per-span sentence arrays the sentence table posexplodes."""
    at = "auto_text" if auto_text and "auto_text" in docs.columns else None
    out = docs.mapInArrow(
        make_parse_split_fn(at, split),
        StructType(docs.schema.fields + parse_split_fields(split)),
    )
    return out.withColumn(
        "parse_ok",
        (F.length(F.coalesce(F.col("html"), F.lit(""))) > 0)
        & (F.length(F.col("stripped_text")) > 0)
        & (F.col("residual_count") <= RESIDUAL_TOLERANCE),
    )


def extract_documents(docs: DataFrame, auto_text: bool = True) -> DataFrame:
    """documents(doc_id, html[, auto_text]) -> + (spans, stripped_text,
    residual_count, parse_ok).  Empty docs are kept with parse_ok=false
    (reference skips them at :256-263; downstream filters do the same)."""
    return parse_split(docs, auto_text, split=False)


def spans_with_context(extracted: DataFrame, keep=("doc_id",)) -> DataFrame:
    """One row per span: ``keep`` + the span and its array-local context
    (functions.text.spans_tagged_col), plus ``sents`` when the input
    carries it.  explode_outer + a null filter, not explode: an
    inner explode makes Catalyst infer ``size(_ctx) > 0`` and push it
    below the projection, which computes the O(n^2) context twice."""
    carry = [c for c in ("sents",) if c in extracted.columns]
    return (
        extracted
        .withColumn("_tagged", spans_tagged_col("spans", carry))
        .withColumn("_ctx", spans_context_col(carry))
        .select(*keep, F.explode_outer("_ctx").alias("s"))
        .filter(F.col("s").isNotNull())
        .select(*keep, *[F.col(f"s.{c}").alias(c) for c in [
            "kind", "text", "media_ref", "offset", "tag_index", "tag",
            "prec_by", "proc_by", *carry]])
    )


def spans_table(extracted: DataFrame,
                huge_span_threshold: int | None = None) -> DataFrame:
    """Explode spans with per-kind tag_index + neighbor context.

    tag label = kind || tag_index (reference 'p3' style,
    parser-tokenizer.py:87,225).  prec_by replicates the Python ``-1``
    wraparound (first span's predecessor is the LAST span, :87,211-213);
    proc_by is 'None' past the end (IndexError branch).

    Context is computed array-locally (functions.text.spans_tagged_col)
    BEFORE the explode — zero shuffles, vs 2-3 doc_id exchanges for the
    equivalent lag/lead window formulation.  The array-local tag_index
    is O(n^2) per document (size(filter(slice))) — harmless at real
    page sizes, pathological for a document with 10^5+ spans — so docs
    above ``huge_span_threshold`` spans route to the O(n log n)
    windowed twin and the two results union.  The guard is OPT-IN
    (``huge_span_threshold=None`` default): the union branch puts the
    window exchanges into every plan, and the zero-shuffle plan is the
    regression-tested common path."""
    base = extracted
    if huge_span_threshold is not None:
        base = extracted.filter(F.size("spans") <= F.lit(huge_span_threshold))
    small = spans_with_context(base)
    if huge_span_threshold is None:
        return small
    huge = spans_table_windowed(
        extracted.filter(F.size("spans") > F.lit(huge_span_threshold))
    ).select(*small.columns)
    return small.unionByName(huge)


def spans_table_windowed(extracted: DataFrame) -> DataFrame:
    """lag/lead window formulation of spans_table — SURVEY.md §2.3's
    direct mapping of the reference's prec_by/proc_by.  Semantically
    identical (asserted in tests); kept for the operator-inventory row
    and as the shape to use when spans arrive pre-exploded."""
    w_doc = Window.partitionBy("doc_id").orderBy("offset")
    w_kind = Window.partitionBy("doc_id", "kind").orderBy("offset")
    w_full = Window.partitionBy("doc_id").orderBy("offset").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    df = (
        extracted.select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
        .withColumn("tag_index", F.row_number().over(w_kind) - 1)
        .withColumn("tag", F.concat("kind", F.col("tag_index").cast("string")))
    )
    return (
        df.withColumn(
            "prec_by", F.coalesce(F.lag("tag").over(w_doc), F.last("tag").over(w_full))
        )
        .withColumn("proc_by", F.coalesce(F.lead("tag").over(w_doc), F.lit("None")))
    )


def sentences_table(spans: DataFrame, keep=("doc_id",)) -> DataFrame:
    """p/h spans -> sentence rows (FIXTURES.md §7 schema), keeping the
    ``keep`` columns.  Spans from the fused stage carry their sentences
    (``sents``); any other spans table is split by a map node
    (``split_spans_batch``) — never an expression UDF, which the filter
    Catalyst infers for the posexplode would clone."""
    df = spans.filter(F.col("kind").isin(*SPLIT_KINDS))
    if "sents" not in df.columns:
        df = df.select(*keep, "offset", "tag", "prec_by", "proc_by", "text")
        df = df.mapInArrow(
            split_spans_batch, StructType(df.schema.fields + [SPAN_SENTS_FIELD])
        )
    df = df.select(
        *keep,
        F.col("offset").alias("seq_index"),
        "tag",
        "prec_by",
        "proc_by",
        F.posexplode("sents").alias("sent_idx", "sentence"),
    )
    return df.select(
        *keep,
        "seq_index",
        "tag",
        "prec_by",
        "proc_by",
        "sent_idx",
        F.col("sentence").alias("text"),
        word_count_col(F.col("sentence")).alias("n_words"),
        rule_hits_col(F.col("sentence")).alias("rule_hits"),
    )


def rule_counts_table(sentences: DataFrame) -> DataFrame:
    """Per-doc rule hit counts (reference: parser-tokenizer.py:221-227)."""
    return (
        sentences.select("doc_id", F.explode("rule_hits").alias("rule"))
        .groupBy("doc_id", "rule")
        .agg(F.count("*").alias("cnt"))
    )


def corpus_rule_histogram(rule_counts: DataFrame) -> DataFrame:
    """Bucket per-doc hit counts into the reference's fixed bins
    (sentences.py:207): (rule, bucket, n_docs)."""
    edges = ",".join(str(b) for b in RULE_HIST_BINS)
    # bucket = number of edges <= value (1-based, 0 = below first edge);
    # engine-portable replacement for variable-width width_bucket
    bucket = F.expr(
        f"size(filter(array({edges}), e -> e <= cnt))"
    ).alias("bucket")
    return (
        rule_counts.select("rule", bucket)
        .groupBy("rule", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def save_reference_outputs(tables: dict[str, DataFrame], out_dir: str) -> None:
    """The reference's CSV sinks (src/parser-tokenizer.py:71-106,229-234)
    re-expressed as partitioned CSV datasets: per-kind span rows and the
    sentence table, partitioned by doc_id (one directory per document ==
    the reference's one-CSV-per-document layout), plus the corpus rule
    histogram.  Headers on; arrays joined with '-' as the reference
    does for rule hits."""
    spans = tables["spans"].select(
        "doc_id", "kind", "tag", "offset", "prec_by", "proc_by", "text"
    )
    spans.write.mode("overwrite").option("header", True).partitionBy(
        "doc_id"
    ).csv(f"{out_dir}/spans_csv")

    sentences = tables["sentences"].select(
        "doc_id", "seq_index", "tag", "prec_by", "proc_by", "sent_idx",
        "text", "n_words", F.array_join("rule_hits", "-").alias("rules"),
    )
    sentences.write.mode("overwrite").option("header", True).partitionBy(
        "doc_id"
    ).csv(f"{out_dir}/sentences_csv")

    tables["corpus_hist"].write.mode("overwrite").option("header", True).csv(
        f"{out_dir}/rule_histogram_csv"
    )


def parse_tokenize(docs: DataFrame) -> dict[str, DataFrame]:
    """Full §3.2 pipeline; returns the named output tables.  The
    sentences come from one fused parse+split node per document batch,
    gated on its own ``parse_ok`` (reference: parser-tokenizer.py:304-317)."""
    extracted = extract_documents(docs)
    sentences = sentences_table(spans_with_context(parse_split(docs).filter("parse_ok")))
    rc = rule_counts_table(sentences)
    return {
        "extracted": extracted,
        "spans": spans_table(extracted),
        "sentences": sentences,
        "rule_counts": rc,
        "corpus_hist": corpus_rule_histogram(rc),
    }
