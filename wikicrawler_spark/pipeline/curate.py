"""Composed corpus-curation pipeline: the operators this package provides
individually (quality scoring, language ID, exact dedup, MinHash-LSH
near-dup removal, fingerprinting), chained the way a training-data
curation job actually runs them. One call = one declarative plan; Catalyst
sees the whole chain, so filters push into the scans and each doc's text
is tokenized where needed rather than materialized between "steps".

Stage order follows the standard cheap-to-expensive funnel: per-doc
filters (quality, language) first so the pairwise near-dup stage only
sees survivors; exact dedup before MinHash so identical prefixes don't
waste candidate budget; fingerprints computed last, on the kept set only.

Survivor rules are deterministic so the DuckDB oracle can replay the
whole chain end-to-end: exact dedup keeps the min doc_id per content
hash; near-dup removal drops the GREATER id of every verified pair
(id_a < id_b ordering — chains collapse toward their smallest id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..staging import stage
from . import dedup as D
from . import text_quality as Q


def curate_kept(docs: DataFrame, *, min_quality: float = 0.5,
                lang: str = "en", near_threshold: float = 0.5,
                prefix_len: int = 30) -> DataFrame:
    """Everything in :func:`curate_corpus` EXCEPT the fingerprint stage:
    the survivor rows (doc_id, text, n_tokens, quality, __toks) after the
    quality/language funnel, exact prefix dedup and MinHash-LSH near-dup
    removal. Exposed so consumers that only need the survivor SET (the
    span-clean composition selects doc_ids and rejoins the raw text) skip
    the per-doc fingerprint fold and its join entirely.

    Funnel: quality >= min_quality AND detected language == lang, then
    exact dedup on md5 of the first ``prefix_len`` chars (keep min
    doc_id), then MinHash-LSH near-dup removal at ``near_threshold``
    (drop id_b of every verified pair), then fingerprint the kept docs.

    Tokenizes each doc once PER PLAN SEGMENT: the token array is aliased
    as an attribute and threaded through quality, language-ID, both
    MinHash shingle passes, and the fingerprint fold (HOF lambdas defeat
    codegen CSE, so without the shared attribute every stage re-split the
    text). Quality + langid are computed in the same projection — no
    doc_id self-joins in the per-doc stage.

    Two scale rules (both measured, 300k-doc corpus, BENCH/BASELINE.md):

    * The dedup-window shuffle is SLIM: ``__toks`` is dropped before the
      row_number exchange and re-derived from ``text`` after it — an
      array<string> the same size as the text doubles every shuffle and
      serialization the survivor set flows through (67 s -> 13 s for the
      survivor stage alone).
    * The survivor set is staged (``staging.stage``: a parquet write and
      read-back) before the pairwise section. The survivors feed FOUR
      downstream plan branches (both MinHash shingle passes, the
      anti-join left side, the fingerprint) and Spark has no
      cross-branch subplan CSE, so without a boundary the whole per-doc
      funnel re-executes once per branch (439 s -> ~120 s end-to-end).
      This is the production shape — a real pipeline stages the filtered
      corpus as a table between the per-doc and pairwise phases. The
      stage dir is unique per invocation and removed at process exit
      (lifetime contract: wikicrawler_spark.staging)."""
    toked = docs.select("doc_id", "text",
                        Q._tokens(F.col("text")).alias("__toks"))
    scored = toked.select(
        "doc_id", "text", "__toks",
        Q.quality_struct(F.col("text"), F.col("__toks")).alias("__q"),
        Q.langid_struct(F.col("text"), F.col("__toks")).alias("__l"),
    )
    base = (
        scored.filter((F.col("__q.quality") >= min_quality)
                      & (F.col("__l.lang_guess") == lang))
        .select("doc_id", "text",
                F.col("__q.n_tokens").alias("n_tokens"),
                F.col("__q.quality").alias("quality"))
    )
    w = Window.partitionBy(
        F.md5(F.substring("text", 1, prefix_len))).orderBy("doc_id")
    survivors = (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1).drop("__rn")
    )
    survivors = stage(survivors, "wcs_curate_surv")
    # re-derive the token attribute on the post-boundary segment: same
    # values as the pre-window tokens, one split per doc
    sv = survivors.select("doc_id", "text", "n_tokens", "quality",
                          Q._tokens(F.col("text")).alias("__toks"))
    pairs = D.minhash_near_duplicates(
        sv.select("doc_id", "text", "__toks"),
        threshold=near_threshold, tokens_col="__toks")
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return sv.join(dropped, "doc_id", "left_anti")


def curate_corpus(docs: DataFrame, *, min_quality: float = 0.5,
                  lang: str = "en", near_threshold: float = 0.5,
                  prefix_len: int = 30) -> DataFrame:
    """(doc_id, text) -> curated (doc_id, n_tokens, quality, fingerprint):
    :func:`curate_kept` plus the fingerprint of every kept doc."""
    kept = curate_kept(docs, min_quality=min_quality, lang=lang,
                       near_threshold=near_threshold, prefix_len=prefix_len)
    fp = Q.fingerprint(kept.select("doc_id", "__toks"), tokens_col="__toks")
    return (
        kept.select("doc_id", "n_tokens", "quality")
        .join(fp, "doc_id")
        .select("doc_id", F.col("n_tokens").cast("int").alias("n_tokens"),
                "quality", "fingerprint")
    )
