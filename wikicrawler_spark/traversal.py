"""Search + similarity-driven traversal (SURVEY.md §2.4 T1, T4-T6, T8).

The reference's ``search`` fetches Special:Search and routes three ways
(/root/reference/src/wikicrawler/core/seeker.py:70-106); its ``autosearch``
chains n hops, each hop moving to the page whose collocation is most
similar to the current page's highest-frequency word
(/root/reference/src/wikicrawler/arbiter/oracle.py:37-87). On a static
corpus both become queries against the extracted tables:

  search     predicate scan over titles/categories + the 3-way routing
             (direct article | disambiguation links | title-match results)
  autosearch driver loop: stats -> argmax freq -> most-similar colloc ->
             search -> hop. Each hop is one tiny batch job; a sequential
             chain is the width-1 special case of frontier expansion
             (SURVEY §2.4 T4).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window, functions as F

from .analytics import (
    argmax_freq,
    bigram_collocations,
    body_col,
    word_freq,
)
from .similarity import jaro_winkler, jaro_winkler_udf


def is_disambiguation(spans_df: DataFrame) -> DataFrame:
    """(doc_id, is_disambig) — category-title substring rule
    (seeker.py:98-99)."""
    return spans_df.select(
        "doc_id",
        F.exists(
            F.filter("spans", lambda s: s["kind"] == F.lit("category")),
            lambda s: s["text"].contains("Disambiguation"),
        ).alias("is_disambig"),
    )


def search(spans_df: DataFrame, phrase: str, max_results: int = 20) -> DataFrame:
    """Search the extracted corpus for ``phrase``; returns
    (rank, doc_id, title, via) where via ∈ {direct, disambig, title_match}.

    Routing mirrors seeker.py: an exact-title hit is the direct article; if
    that hit is a disambiguation page its outgoing links become the results;
    otherwise case-insensitive title containment ranks matches. Pure
    predicate scans — Catalyst pushes the title filter into the parquet
    scan of a persisted extracted table.
    """
    titles = spans_df.select(
        "doc_id",
        F.try_element_at(
            F.transform(F.filter("spans", lambda s: s["kind"] == F.lit("title")),
                        lambda s: s["text"]), F.lit(1),
        ).alias("title"),
    )
    dis = is_disambiguation(spans_df)
    t = titles.join(dis, "doc_id")

    exact = t.filter(F.lower(F.col("title")) == phrase.lower())
    exact_rows = exact.orderBy("doc_id").limit(2).collect()  # deterministic routing
    if len(exact_rows) == 1 and not exact_rows[0]["is_disambig"]:
        return exact.select(
            F.lit(1).alias("rank"), "doc_id", "title", F.lit("direct").alias("via")
        )
    if len(exact_rows) >= 1 and exact_rows[0]["is_disambig"]:
        hit = exact_rows[0]["doc_id"]
        links = (
            spans_df.filter(F.col("doc_id") == hit)
            .select(F.inline("spans"))
            .filter(F.col("kind") == "link")
            .select(F.col("text").alias("title"), F.col("media_ref"))
        )
        # order BEFORE limit: a disambig page with > max_results links must
        # yield a deterministic subset, not partition-order-dependent rows
        return links.orderBy("title", "media_ref").limit(max_results).select(
            F.row_number().over(Window.orderBy("title")).alias("rank"),
            # kernel disambig links carry RELATIVE hrefs ('/wiki/X'); strip
            # the leading slash so results are corpus doc_ids ('wiki/X')
            F.regexp_replace(F.col("media_ref"), "^/", "").alias("doc_id"),
            "title",
            F.lit("disambig").alias("via"),
        )
    ranked = (
        t.filter(F.lower(F.col("title")).contains(phrase.lower()))
        .orderBy(F.length("title"), "title")
        .limit(max_results)
    )
    return ranked.select(
        F.row_number().over(Window.orderBy(F.length("title"), "title")).alias("rank"),
        "doc_id", "title", F.lit("title_match").alias("via"),
    )


def found(results: DataFrame, idx: int) -> DataFrame:
    """T8: `st found [idx]` — the idx-th search result (0-based), via
    ORDER BY rank LIMIT 1 OFFSET idx on the (tiny) result set."""
    return results.orderBy("rank").offset(idx).limit(1)


@dataclass
class Hop:
    doc_id: str
    top_word: str | None = None
    best_colloc: str | None = None


@dataclass
class AutosearchResult:
    hops: list[Hop] = field(default_factory=list)


def autosearch(spark, spans_df: DataFrame, start_doc: str, n: int = 3,
               move: str = "colloc") -> AutosearchResult:
    """T4: n-hop similarity chain. Per hop (oracle.py:37-87):
      1. stats of the current doc: word freq (A5) + bigram collocations (A6)
      2. pointer: highest-frequency word (A13)
      3. cmov (move='colloc', oracle.py:79-87): most-similar collocation to
         that word (A14); fmov (move='freq', oracle.py:68-76): the word
         itself is the probe
      4. next doc = the one whose TITLE is most similar to the probe
         (stand-in for Special:Search over a static corpus)
    Driver-side loop over tiny per-doc results — each hop is one small job;
    the corpus-wide analogue is the frontier loop (frontier.py).
    """
    # every hop scans the title table: materialize it once per call. Not
    # cache(): a cached table outlives the call and the next chain reuses it
    titles = spans_df.select(
        "doc_id",
        F.try_element_at(
            F.transform(F.filter("spans", lambda s: s["kind"] == F.lit("title")),
                        lambda s: s["text"]), F.lit(1),
        ).alias("title"),
    ).localCheckpoint(eager=True)

    result = AutosearchResult()
    current = start_doc
    visited = {start_doc}
    for _ in range(n):
        hop = Hop(doc_id=current)
        doc = spans_df.filter(F.col("doc_id") == current)
        body = doc.select("doc_id", body_col(F.col("spans")).alias("body"))
        freq = word_freq(body)
        top = argmax_freq(freq).collect()
        if not top:
            result.hops.append(hop)
            break
        hop.top_word = top[0]["top_token"]
        if move == "colloc":
            collocs = bigram_collocations(body).collect()
            if collocs:
                scored = sorted(
                    ((jaro_winkler(f'{r["w1"]} {r["w2"]}', hop.top_word),
                      f'{r["w1"]} {r["w2"]}') for r in collocs),
                    key=lambda x: (-x[0], x[1]),
                )
                hop.best_colloc = scored[0][1]
        probe = hop.best_colloc or hop.top_word
        result.hops.append(hop)
        # next: most title-similar unvisited doc (search stand-in). Scored
        # IN Spark with the vectorized JW UDF; argmax via ORDER BY + LIMIT 1
        # so exactly one row crosses to the driver per hop (the round-1
        # collect() shipped the whole title table n times per chain).
        nxt = (
            titles.filter(~F.col("doc_id").isin(list(visited)))
            .withColumn("sim",
                        jaro_winkler_udf(probe)(F.coalesce("title", F.lit(""))))
            .orderBy(F.col("sim").desc(), F.col("doc_id").desc())
            .limit(1)
            .collect()
        )
        if not nxt:
            break
        current = nxt[0]["doc_id"]
        visited.add(current)
    return result
