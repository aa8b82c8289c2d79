"""Text-analytics operators A1-A17 (SURVEY.md §2.3) as composable native
DataFrame transforms.

The reference computes these per-page with nltk inside the REPL
(/root/reference/src/wikicrawler/core/sentiment/paragraph.py:67-97). Here
everything except similarity/sentiment scoring (see similarity.py,
sentiment.py) is pure Catalyst: higher-order functions on the nested span
arrays (zero shuffle) for per-doc transforms, hash aggregations + window
``lead`` for the corpus-shaped n-gram statistics.

Tokenizer parity note (SURVEY §4.3): nltk is not available in this runtime,
so sentence/word tokenization is a pinned regex spec (documented divergence
from punkt/Penn-Treebank), implemented with NATIVE regexp functions —
JVM-side, whole-stage-codegen, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# --------------------------------------------------------------- constants

# Blacklist replicated from the reference (paragraph.py:24-32): punctuation
# tokens + 41 filler words, matched case-insensitively; numerics dropped too.
FILLER_WORDS = [
    "at", "their", "been", "which", "on",
    "was", "also", "from", "we", "can", "the", "of",
    "and", "is", "a", "that", "to", "as", "in", "are",
    "or", "not", "by", "be", "it", "'s", "i", "for",
    "with", "an", "has", "have", "some", "were", "but",
    "this", "its", "such", "who", "his", "her",
]
PUNCT_TOKENS = ["!", "'", ":", "_", "\\", ",", ".", "(", ")", "{", "}",
                "``", "''", "[", "]"]
BLACKLIST = PUNCT_TOKENS + FILLER_WORDS

# Collocation word filter (paragraph.py:77): len(w) < 3 or w in english
# stopwords. nltk's english stopword list is replicated as data (public
# corpus); the reference loads it via stopwords.words('english').
ENGLISH_STOPWORDS = [
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "your", "yours", "yourself", "yourselves", "he", "him", "his",
    "himself", "she", "her", "hers", "herself", "it", "its", "itself",
    "they", "them", "their", "theirs", "themselves", "what", "which",
    "who", "whom", "this", "that", "these", "those", "am", "is", "are",
    "was", "were", "be", "been", "being", "have", "has", "had", "having",
    "do", "does", "did", "doing", "a", "an", "the", "and", "but", "if",
    "or", "because", "as", "until", "while", "of", "at", "by", "for",
    "with", "about", "against", "between", "into", "through", "during",
    "before", "after", "above", "below", "to", "from", "up", "down", "in",
    "out", "on", "off", "over", "under", "again", "further", "then",
    "once", "here", "there", "when", "where", "why", "how", "all", "any",
    "both", "each", "few", "more", "most", "other", "some", "such", "no",
    "nor", "not", "only", "own", "same", "so", "than", "too", "very",
    "s", "t", "can", "will", "just", "don", "should", "now",
]

# Pinned tokenizer spec: word = alnum run; everything else non-space is a
# single-char token (documented divergence from Penn Treebank).
TOKEN_PATTERN = "[A-Za-z0-9]+|[^\\sA-Za-z0-9]"
SENTENCE_SPLIT = "(?<=[.!?])\\s+"

# Tokenizer backend: 'regex' (default — native, codegen, what every golden
# and oracle is computed against), 'treebank' (r4: VENDORED exact Penn
# Treebank word cascade — nltk's word-level output with no library; see
# treebank.py — sentences stay on the pinned regex split), or 'nltk'
# (punkt + PTB via the real library; only selectable when nltk + punkt
# data are importable — see nltk_compat.py). Explicit opt-in, never
# autodetected.
_TOKENIZER_BACKEND = "regex"


def set_tokenizer_backend(backend: str) -> None:
    """Switch sentence/word tokenization between the pinned native regex
    spec, the vendored Treebank cascade, and nltk punkt/PTB (reference
    parity, paragraph.py:72-73)."""
    global _TOKENIZER_BACKEND
    if backend not in ("regex", "treebank", "nltk"):
        raise ValueError(f"unknown tokenizer backend {backend!r}")
    if backend == "nltk":
        from . import nltk_compat

        if not nltk_compat.HAS_NLTK:
            raise RuntimeError(
                "nltk backend requested but nltk (or its punkt model data) "
                "is not importable in this runtime; the pinned regex spec "
                "remains active"
            )
    _TOKENIZER_BACKEND = backend


def tokenizer_backend() -> str:
    return _TOKENIZER_BACKEND


# ------------------------------------------------- per-doc transforms (A1-A4)

def paragraphs_col(spans: Column) -> Column:
    """array<string> of paragraph texts from a nested span array."""
    return F.transform(
        F.filter(spans, lambda s: s["kind"] == F.lit("paragraph")),
        lambda s: s["text"],
    )


def body_col(spans: Column) -> Column:
    """A1: body = ''.join(paragraphs) (paragraph.py:71) — native, no shuffle."""
    return F.array_join(paragraphs_col(spans), "")


def sentences_col(body: Column) -> Column:
    """A2: sentence tokenization. Default: split on terminal punctuation
    (pinned native spec); with the 'nltk' backend: punkt via pandas UDF
    (reference-exact, paragraph.py:72)."""
    if _TOKENIZER_BACKEND == "nltk":
        from . import nltk_compat

        return nltk_compat.nltk_sentences(body)
    if _TOKENIZER_BACKEND == "treebank":
        from . import nltk_compat

        return nltk_compat.treebank_sentences(body)
    return F.filter(F.split(body, SENTENCE_SPLIT), lambda s: s != F.lit(""))


def tokens_col(body: Column) -> Column:
    """A3: word tokenization. Default: native regexp_extract_all (pinned
    spec); 'treebank': the vendored exact PTB cascade via pandas UDF
    (nltk's word-level output, no library — treebank.py); 'nltk':
    Penn-Treebank via the real library (reference-exact incl. punkt
    sentence boundaries, paragraph.py:73)."""
    if _TOKENIZER_BACKEND == "nltk":
        from . import nltk_compat

        return nltk_compat.nltk_word_tokens(body)
    if _TOKENIZER_BACKEND == "treebank":
        from . import nltk_compat

        return nltk_compat.treebank_word_tokens(body)
    return F.regexp_extract_all(body, F.lit(TOKEN_PATTERN), F.lit(0))


def filtered_tokens_col(tokens: Column) -> Column:
    """A4: drop blacklist (case-insensitive) and numeric tokens
    (paragraph.py:74)."""
    bl = F.array(*[F.lit(w) for w in BLACKLIST])
    return F.filter(
        tokens,
        lambda t: ~F.array_contains(bl, F.lower(t)) & ~t.rlike("^[0-9]+$"),
    )


# ------------------------------------------------------- frequencies (A5, A13)

def word_freq(doc_text_df: DataFrame, text_col: str = "body") -> DataFrame:
    """A5: per-doc token counts after the blacklist filter (FreqDist,
    paragraph.py:80-81). Hash aggregation with partial+final combine.
    Returns (doc_id, token, cnt)."""
    # explode_OUTER + null filter: a plain explode triggers
    # InferFiltersFromGenerate, whose `size(toks) > 0` guard inlines the
    # whole tokenize+blacklist expression into a pushed-down filter — every
    # doc then pays regexp_extract_all + the rlike blacklist scan twice
    # more, below any exchange (see pipeline.dedup.shingle_table). Tokens
    # are never NULL, so the null check drops exactly the empty-doc
    # padding rows.
    toks = filtered_tokens_col(tokens_col(F.col(text_col)))
    return (
        doc_text_df.select("doc_id", F.explode_outer(toks).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )


def argmax_freq(freq_df: DataFrame) -> DataFrame:
    """A13: highest-count token per doc (frequency.py:3-14). The reference
    keeps the first max in dict-insertion order; tie-break here is pinned to
    lexicographically-smallest token (deterministic under any partitioning).
    Returns (doc_id, top_token, top_cnt)."""
    rk = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("token"))
    return (
        freq_df.withColumn("__rk", F.row_number().over(rk))
        .filter(F.col("__rk") == 1)
        .select("doc_id", F.col("token").alias("top_token"),
                F.col("cnt").alias("top_cnt"))
    )


# ------------------------------------------------- collocations (A6-A8)

def _colloc_word_ok(c: Column) -> Column:
    """apply_word_filter(lambda w: len(w) < 3 or w in stopwords) — keep
    n-grams where EVERY word passes (paragraph.py:77,85)."""
    sw = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    return (F.length(c) >= 3) & ~F.array_contains(sw, F.lower(c))


def _llr(n_ii: Column, n_ix: Column, n_xi: Column, n_xx: Column) -> Column:
    """Dunning log-likelihood ratio over the 2x2 contingency table —
    2 * sum(obs * ln(obs / exp)) with 0*ln(0)=0 (the bigram
    likelihood_ratio measure the reference requests at paragraph.py:87).
    Native arithmetic only."""
    n_io = n_ix - n_ii          # w1 present, w2 absent
    n_oi = n_xi - n_ii
    n_oo = n_xx - n_ix - n_xi + n_ii

    def term(obs: Column, exp: Column) -> Column:
        return F.when(obs > 0, obs * (F.log(obs) - F.log(exp))).otherwise(F.lit(0.0))

    e_ii = n_ix * n_xi / n_xx
    e_io = n_ix * (n_xx - n_xi) / n_xx
    e_oi = (n_xx - n_ix) * n_xi / n_xx
    e_oo = (n_xx - n_ix) * (n_xx - n_xi) / n_xx
    return 2.0 * (term(n_ii, e_ii) + term(n_io, e_io) + term(n_oi, e_oi)
                  + term(n_oo, e_oo))


def _positioned_tokens(doc_text_df: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, pos, token) from UNfiltered tokens (collocations use raw
    token stream, paragraph.py:84)."""
    # posexplode_OUTER + pos-null filter: see word_freq — the inferred
    # generate guard would re-run regexp_extract_all per doc in a
    # pushed-down filter. Padding rows (empty docs) have NULL pos; real
    # tokens always carry one.
    return doc_text_df.select(
        "doc_id",
        F.posexplode_outer(tokens_col(F.col(text_col))).alias("pos", "token"),
    ).filter(F.col("pos").isNotNull())


def bigram_collocations(doc_text_df: DataFrame, text_col: str = "body",
                        top_k: int = 15) -> DataFrame:
    """A6: top-k bigrams per doc by LLR, word-filtered. Window ``lead`` forms
    the n-grams; hash aggs give contingency counts; rank() <= k per doc.
    Returns (doc_id, w1, w2, cnt, llr, rank)."""
    toks = _positioned_tokens(doc_text_df, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.withColumn("w2", F.lead("token").over(w))
        .withColumnRenamed("token", "w1")
        .filter(F.col("w2").isNotNull())
    )
    # ONE exchange total: the lead-window shuffles by doc_id; the counts
    # aggregation and all three contingency marginals are computed as
    # window sums whose partition keys are doc_id-prefixed, so
    # hashpartitioning(doc_id) already satisfies their clustering — no
    # further shuffle, no scan re-computation (a join-based formulation
    # re-ran the tokenize subtree 4x: 4 FileScans, 0 ReusedExchange).
    counts = bi.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("cnt"))
    n_ix = F.sum("cnt").over(Window.partitionBy("doc_id", "w1"))
    n_xi = F.sum("cnt").over(Window.partitionBy("doc_id", "w2"))
    n_xx = F.sum("cnt").over(Window.partitionBy("doc_id"))
    scored = (
        counts.withColumn("n_ix", n_ix)
        .withColumn("n_xi", n_xi)
        .withColumn("n_xx", n_xx)
        .withColumn("llr", F.round(_llr(F.col("cnt").cast("double"),
                                        F.col("n_ix").cast("double"),
                                        F.col("n_xi").cast("double"),
                                        F.col("n_xx").cast("double")), 6))
        .filter(_colloc_word_ok(F.col("w1")) & _colloc_word_ok(F.col("w2")))
    )
    # rank over the ROUNDED score: cross-engine (JVM vs C libm) log() can
    # differ in the last ulp; ranking on rounded values + lexicographic
    # tie-break is reproducible everywhere (oracle parity)
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("llr").desc(), F.col("w1"), F.col("w2")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "w1", "w2", "cnt", "llr", "rank")
    )


_NLTK_SMALL = 1e-20  # nltk.metrics.association._SMALL


def _llr_trigram_8cell(n_iii: Column, n_iix: Column, n_ixi: Column,
                       n_xii: Column, n_ixx: Column, n_xix: Column,
                       n_xxi: Column, n_xxx: Column) -> Column:
    """nltk ``TrigramAssocMeasures.likelihood_ratio`` natively (the measure
    the reference requests, paragraph.py:89-93): the 8-cell contingency
    cube from the seven marginals (nltk _contingency), independence-product
    expected values, score = 3 * sum(obs * ln(obs/(exp+1e-20) + 1e-20))
    (nltk scales by the ngram order, not 2). Cells with obs == 0 contribute
    0 exactly as in nltk (0 * ln(eps) == 0); a NEGATIVE cell (possible only
    because nltk's marginals mix word/bigram/trigram totals) contributes 0
    where nltk would raise ValueError — pinned, unreachable on the
    contiguous token streams this engine feeds."""
    n_oii = n_xii - n_iii
    n_ioi = n_ixi - n_iii
    n_iio = n_iix - n_iii
    n_ooi = n_xxi - n_iii - n_oii - n_ioi
    n_oio = n_xix - n_iii - n_oii - n_iio
    n_ioo = n_ixx - n_iii - n_ioi - n_iio
    n_ooo = n_xxx - n_iii - n_oii - n_ioi - n_iio - n_ooi - n_oio - n_ioo
    # per-dimension marginals recomputed from the cube (== n_ixx/n_xix/n_xxi
    # by construction; sum(cont) == n_xxx)
    m1_i, m2_i, m3_i = n_ixx, n_xix, n_xxi
    m1_o, m2_o, m3_o = n_xxx - n_ixx, n_xxx - n_xix, n_xxx - n_xxi
    cells = [  # (obs, m1, m2, m3) in nltk cont order: iii oii ioi ooi iio oio ioo ooo
        (n_iii, m1_i, m2_i, m3_i), (n_oii, m1_o, m2_i, m3_i),
        (n_ioi, m1_i, m2_o, m3_i), (n_ooi, m1_o, m2_o, m3_i),
        (n_iio, m1_i, m2_i, m3_o), (n_oio, m1_o, m2_i, m3_o),
        (n_ioo, m1_i, m2_o, m3_o), (n_ooo, m1_o, m2_o, m3_o),
    ]
    s = F.lit(0.0)
    for obs, a, b, c in cells:
        exp = a * b * c / (n_xxx * n_xxx)
        s = s + F.when(
            obs > 0,
            obs * F.log(obs / (exp + F.lit(_NLTK_SMALL)) + F.lit(_NLTK_SMALL)),
        ).otherwise(F.lit(0.0))
    return 3.0 * s


def trigram_collocations(doc_text_df: DataFrame, text_col: str = "body",
                         top_k: int = 10, min_freq: int = 3) -> DataFrame:
    """A7: top-k trigrams per doc, freq>=min_freq (apply_freq_filter(3),
    paragraph.py:92), word-filtered, scored with nltk's exact 8-cell
    trigram likelihood ratio.

    nltk's marginals come from FOUR different streams of one pass
    (TrigramCollocationFinder.from_words): word_fd (all N words), bigram_fd
    (N-1 adjacent pairs), wildcard_fd (N-2 (w1,_,w3) pairs), trigram_fd
    (N-2 trigrams) — so the marginals canNOT be window-sums over the
    trigram table (edge words would be dropped). Instead every row of the
    positioned token stream gets its group counts via doc_id-prefixed
    windows, and the pos+1/pos+2 words' counts arrive by lead()-ing those
    count columns — the row at pos+1 already knows freq(w2) and
    bigram(w2,w3). All windows and the final groupBy cluster by doc_id
    prefixes, so the whole thing still costs ONE exchange.
    Returns (doc_id, w1, w2, w3, cnt, llr, rank)."""
    toks = _positioned_tokens(doc_text_df, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    base = (
        toks.withColumn("w2", F.lead("token", 1).over(w))
        .withColumn("w3", F.lead("token", 2).over(w))
        .withColumn("c_tok",
                    F.count("*").over(Window.partitionBy("doc_id", "token")))
        .withColumn("c_big",
                    F.count("*").over(Window.partitionBy("doc_id", "token", "w2")))
        .withColumn("c_wild",
                    F.count("*").over(Window.partitionBy("doc_id", "token", "w3")))
        .withColumn("c_tri",
                    F.count("*").over(
                        Window.partitionBy("doc_id", "token", "w2", "w3")))
        .withColumn("n_all", F.count("*").over(Window.partitionBy("doc_id")))
    )
    en = (
        base.withColumn("n_xix", F.lead("c_tok", 1).over(w))
        .withColumn("n_xxi", F.lead("c_tok", 2).over(w))
        .withColumn("n_xii", F.lead("c_big", 1).over(w))
        .filter(F.col("w3").isNotNull())
    )
    counts = en.groupBy(
        "doc_id", F.col("token").alias("w1"), "w2", "w3"
    ).agg(
        F.min("c_tri").alias("cnt"),
        F.min("c_big").alias("n_iix"),
        F.min("c_wild").alias("n_ixi"),
        F.min("n_xii").alias("n_xii"),
        F.min("c_tok").alias("n_ixx"),
        F.min("n_xix").alias("n_xix"),
        F.min("n_xxi").alias("n_xxi"),
        F.min("n_all").alias("n_xxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    scored = (
        counts.filter(F.col("cnt") >= min_freq)
        .withColumn("llr", F.round(_llr_trigram_8cell(
            d("cnt"), d("n_iix"), d("n_ixi"), d("n_xii"),
            d("n_ixx"), d("n_xix"), d("n_xxi"), d("n_xxx")), 6))
        .filter(_colloc_word_ok(F.col("w1")) & _colloc_word_ok(F.col("w2"))
                & _colloc_word_ok(F.col("w3")))
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("llr").desc(), F.col("w1"), F.col("w2"), F.col("w3")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "w1", "w2", "w3", "cnt", "llr", "rank")
    )


def collocations(doc_text_df: DataFrame, text_col: str = "body") -> DataFrame:
    """A8: collocs = bigrams + trigrams (ordered concat, paragraph.py:95).
    Returns (doc_id, colloc array<string>, family, rank) with bigrams first."""
    bi = bigram_collocations(doc_text_df, text_col).select(
        "doc_id", F.array("w1", "w2").alias("colloc"),
        F.lit(0).alias("family"), "rank",
    )
    tri = trigram_collocations(doc_text_df, text_col).select(
        "doc_id", F.array("w1", "w2", "w3").alias("colloc"),
        F.lit(1).alias("family"), "rank",
    )
    return bi.unionByName(tri)


# --------------------------------------------- slicing & markdown (A11, A16-17)

def sentence_slices(doc_text_df: DataFrame, amount=0.1) -> DataFrame:
    """A11: summary slices (paragraph.py:114-132): first 5 sentences, the
    'pivot' window starting at int(.33*n), and the last 5."""
    df = doc_text_df.withColumn("sents", sentences_col(F.col("body")))
    n = F.size("sents")
    tp_idx = F.floor(n * 0.33).cast("int")
    if isinstance(amount, float) and amount <= 1.0:
        tp_len = F.floor(n * amount).cast("int")
    elif isinstance(amount, int):
        tp_len = F.lit(amount)
    else:
        tp_len = F.lit(10)
    return df.select(
        "doc_id",
        F.slice("sents", 1, 5).alias("first5"),
        F.slice("sents", tp_idx + 1, tp_len).alias("pivot"),
        F.when(n <= 5, F.col("sents"))
        .otherwise(F.expr("slice(sents, -5, 5)")).alias("last5"),
    )


def kept_paragraphs_expr(paragraphs: Column, top_collocs: Column) -> Column:
    """A16 (markdown.py:36-39): paragraphs containing ANY of the top-5
    collocation strings as a substring. THE single definition — the sink
    (sinks.markdown_doc) and markdown_paragraph_filter both use it."""
    return F.filter(paragraphs,
                    lambda p: F.exists(top_collocs, lambda c: p.contains(c)))


def markdown_paragraph_filter(spans_df: DataFrame, collocs_df: DataFrame) -> DataFrame:
    """A16: keep paragraphs containing any of the doc's top-5 collocations
    as a substring (markdown.py:36-39). Broadcast-joins the tiny top-5 set
    and filters with native HOFs — no UDF.
    Returns (doc_id, kept_paragraphs array<string>)."""
    top5 = (
        collocs_df.filter((F.col("family") == 0) & (F.col("rank") <= 5))
        .groupBy("doc_id")
        .agg(F.collect_list(F.array_join("colloc", " ")).alias("top5"))
    )
    return (
        spans_df.withColumn("paragraphs", paragraphs_col(F.col("spans")))
        .join(F.broadcast(top5), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("top5").isNull(), F.array().cast("array<string>"))
            .otherwise(kept_paragraphs_expr(F.col("paragraphs"), F.col("top5")))
            .alias("kept_paragraphs"),
        )
    )


def analyze(doc_text_df: DataFrame, level: int = 2, text_col: str = "body") -> dict:
    """A12: the reference computes only the stats the requested level asks
    for (paragraph.py:79-93: level>=1 freq, >=2 bigrams, >=3 trigrams).
    On Spark the gating is free — unrequested DataFrames are never built,
    and unconsumed ones never execute (lazy plans)."""
    out: dict = {}
    if level >= 1:
        out["word_freq"] = word_freq(doc_text_df, text_col)
    if level >= 2:
        out["bigrams"] = bigram_collocations(doc_text_df, text_col)
    if level >= 3:
        out["trigrams"] = trigram_collocations(doc_text_df, text_col)
    return out


def top5_stats(freq_df: DataFrame) -> DataFrame:
    """A17: per-doc top-5 tokens by count (markdown.py:42-48 truncation),
    deterministic tie-break on token."""
    rk = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("token"))
    return (
        freq_df.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "token", "cnt", "rank")
    )
