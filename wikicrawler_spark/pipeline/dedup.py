"""Deduplication operators for large-scale corpus curation.

Everything here is NATIVE Catalyst — no Python in the data path. The shared
hash primitive is ``conv(substring(md5(x),1,15),16,10)`` (60-bit int from
md5), chosen because DuckDB computes the identical value via
``('0x'||substring(md5(x),1,15))::UBIGINT`` — so the driver's SQL oracle can
replay every operator bit-for-bit.

Scale notes per operator:
  exact       one hash-groupBy shuffle; map-side partial agg collapses
              duplicates early.
  jaccard     exact pairwise via shingle inverted index (explode +
              self-join): the candidate join is the O(pairs-sharing-a-
              shingle) blowup — correct at verification scale, superseded
              by MinHash-LSH as the generation path at 10^12 docs.
  minhash     k hash-permutation signature per doc computed as k native MIN
              aggregations over shingle hashes (one shuffle); LSH banding
              explodes to (band_idx, band_hash) buckets; only intra-bucket
              pairs are candidates => join fan-out is bounded by bucket
              size, the classic Broder/LSH trade.
  simhash     64 weighted bit-sums per doc (one shuffle), packed to a
              bigint; near-dup = hamming distance via bit_count(xor) over
              band-blocked candidates (4x16-bit chunks, pigeonhole: any
              pair within hamming<=3 shares an identical chunk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..staging import stage


def _spread(df: DataFrame) -> DataFrame:
    """Give generation-heavy operators (shingle explode, token explode)
    enough input partitions to parallelize: a single-file corpus scans as
    ONE task, and since Spark 's broadcast-join planning can keep the whole
    explode+join pipeline on that task, the expensive generation runs
    serially (measured 4x on the sf0.1 single-file table). One slim
    round-robin shuffle of the raw docs fixes it; no-op when the scan is
    already spread (so a well-partitioned 100 TB table never pays it)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# 60-bit md5-derived hash — identical in DuckDB (see module doc)
def _h60(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Minhash permutation modulus: Mersenne-31. With h reduced mod p (< 2^31)
# and a < 2^31, a*h + b < 2^62 stays exact in long arithmetic — no overflow,
# and the identical expression is replayable in DuckDB BIGINTs.
_P31 = (1 << 31) - 1


def _perm_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _P31) | 1, rng.randrange(_P31)) for _ in range(k)]


def word_shingles(text_col, n: int = 3, toks=None):
    """Distinct word n-gram shingles of a text column (native). Guarded for
    short texts: Spark's sequence(0, -k) would DESCEND, so docs with fewer
    than n tokens yield an empty shingle set explicitly. Pass ``toks`` (a
    plan attribute holding the lowercased whitespace tokens) to reuse a
    token array computed once upstream — the expression references the
    token array three times and HOF lambdas defeat codegen CSE, so an
    inline tokenize here runs per reference."""
    if toks is None:
        toks = F.filter(F.split(F.lower(text_col), "\\s+"),
                        lambda t: t != F.lit(""))
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup via content hash. Returns (content_hash, n_docs, keeper)
    for groups with >1 member; keeper = min id (deterministic)."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


def shingle_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, with_size: bool = False,
                  tokens_col: str | None = None) -> DataFrame:
    """Exploded (id, shingle) rows; with_size=True also carries the doc's
    distinct-shingle count INLINE (F.size before the explode — codegen CSE
    computes the array once), so consumers never need the separate
    groupBy(id).count() pass + join that round-1 paid. ``tokens_col``
    reuses a precomputed token-array attribute (see word_shingles)."""
    arr = word_shingles(F.col(text_col), n,
                        toks=F.col(tokens_col) if tokens_col else None)
    # OUTER generate + post-filter ON PURPOSE (both branches): a plain
    # explode triggers InferFiltersFromGenerate, which guards the generate
    # with `size(arr) > 0 AND isnotnull(arr)` — and predicate pushdown then
    # INLINES the whole shingle-building expression into that filter and
    # pushes it below the _spread exchange, so every doc pays the full
    # tokenize+transform+distinct TWICE more, serially on the pre-shuffle
    # partitions (measured 15x on positional_shingles, same shape here).
    # explode_outer infers no such filter; the padding row an empty array
    # produces (NULL element) is dropped by a per-row null check after the
    # generate. Shingle strings are never NULL (array_join of non-null
    # tokens), so the null filter removes exactly the padding rows.
    tmp = df.select(F.col(id_col).alias("id"), arr.alias("__arr"))
    if with_size:
        # 'arr' as an attribute before size() and explode() both reference
        # it — CollapseProject keeps a multiply-referenced alias
        # un-inlined, so the shingle array is built once per DOC.
        return (tmp.select("id", F.size("__arr").alias("sz"),
                           F.explode_outer("__arr").alias("shingle"))
                .filter(F.col("shingle").isNotNull()))
    return (tmp.select("id", F.explode_outer("__arr").alias("shingle"))
            .filter(F.col("shingle").isNotNull()))


def _verify_jaccard(cands: DataFrame, shz: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact Jaccard on candidate (id_a, id_b) pairs via the shingle
    inverted index (``shz`` = shingle_table(with_size=True)) — streams,
    no per-doc collected shingle arrays, and sizes ride along with the
    index rows instead of needing their own aggregation + joins. Shared
    by the exact (prefix-filtered) path and the MinHash-LSH path."""
    a = shz.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"),
                   "shingle")
    b = shz.select(F.col("id").alias("__idb"), F.col("sz").alias("sz_b"),
                   F.col("shingle").alias("__shb"))
    inter = (
        cands.join(a, "id_a")
        .join(b, (F.col("id_b") == F.col("__idb"))
              & (F.col("shingle") == F.col("__shb")))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter
        .withColumn("jaccard", F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8,
                        scale_guard: int | None = 100_000,
                        prefix_filter: bool = False) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= t).
    Returns (id_a, id_b, jaccard).

    Default plan: ONE shingle generation per join side (sizes ride inline
    with the index rows — no separate size aggregation or joins), the
    inverted-index self-join with the size-ratio bound
    t*|A| <= |B| <= |A|/t as a join predicate, and intersection counting
    directly in the pair groupBy.

    ``prefix_filter=True`` adds AllPairs/PPJoin-style PREFIX FILTERING
    (Bayardo et al., WWW'07), which is also exact: under any consistent
    total order on shingles, two sets with J >= t MUST collide within
    their first (|S| - ceil(t*|S|) + 1) shingles, so only prefix rows
    enter the join, at the cost of a per-doc row_number window and a
    separate verify pass. Worth it when candidate fan-out (not shingle
    generation) dominates — i.e. high thresholds over corpora with heavy
    shingle sharing; the two paths are equality-tested.

    Either way the self-join is worst-case quadratic; ``scale_guard``
    (default 100k docs; None disables) counts the input once and, above
    the cap, routes through MinHash-LSH (same threshold, exact-verified
    candidates — probabilistic recall) with a loud warning."""
    if scale_guard is not None:
        n_docs = df.count()
        if n_docs > scale_guard:
            import warnings

            warnings.warn(
                f"ngram_jaccard_pairs: {n_docs} docs > scale_guard="
                f"{scale_guard}; routing through MinHash-LSH (exact-verified"
                " candidates, probabilistic recall). Pass scale_guard=None"
                " to force the exact all-pairs path.",
                stacklevel=2,
            )
            return minhash_near_duplicates(df, id_col, text_col, n=n,
                                           threshold=threshold)
    shz = shingle_table(_spread(df), id_col, text_col, n, with_size=True)
    size_bound = (
        (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz"))
        & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"))
    )
    if not prefix_filter:
        a, b = shz.alias("a"), shz.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.id") < F.col("b.id")) & size_bound)
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"))
            .agg(F.count("*").alias("inter"))
        )
        return (
            inter
            .withColumn("jaccard", F.col("inter")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
    # global shingle order = (xxhash64, shingle): any consistent total
    # order is correct; hashing first spreads the frequent shingles away
    # from every doc's prefix head so prefix buckets stay balanced
    w = Window.partitionBy("id").orderBy(F.xxhash64("shingle"), "shingle")
    pref = (
        shz.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn")
                <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("id", "shingle", "sz")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cands = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")) & size_bound)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates()
    )
    return _verify_jaccard(cands, shz, threshold)


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3, k: int = 16,
                       seed: int = 42,
                       tokens_col: str | None = None) -> DataFrame:
    """k-permutation MinHash signature per doc, fully native: shingle ->
    60-bit hash -> k MIN((a_i*h+b_i) mod p) aggregations in ONE shuffle.
    Returns (id, sig array<bigint> length k)."""
    params = _perm_params(k, seed)
    sh = (
        shingle_table(_spread(df), id_col, text_col, n, tokens_col=tokens_col)
        .withColumn("h", _h60(F.col("shingle")) % F.lit(_P31))
    )
    aggs = [
        F.min((F.lit(ai) * F.col("h") + F.lit(bi)) % F.lit(_P31)).alias(f"m{i}")
        for i, (ai, bi) in enumerate(params)
    ]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"m{i}" for i in range(k)]).alias("sig"))


def minhash_lsh_candidates(sig_df: DataFrame, k: int = 16, bands: int = 4) -> DataFrame:
    """LSH banding: split the k-long signature into ``bands`` rows of r=k/bands
    values each, hash each band, bucket-join. Returns candidate (id_a, id_b)
    pairs sharing >=1 band bucket."""
    assert k % bands == 0, "signature length must divide evenly into bands"
    r = k // bands
    # band hash = the shared md5-derived _h60 over 'band_idx|m_i|m_j|...' —
    # DuckDB computes the identical value, so the WHOLE LSH pipeline
    # (signatures -> banding -> bucket join -> exact verify) is replayable
    # by the driver's SQL oracle (round 1 had to leave it rows-only because
    # F.hash is Spark-internal murmur)
    band_hashes = F.array(*[
        _h60(F.concat_ws("|", F.lit(str(j)),
                         *[F.col("sig")[j * r + t].cast("string")
                           for t in range(r)]))
        for j in range(bands)
    ])
    b = sig_df.select("id", F.posexplode(band_hashes).alias("band_idx", "band_hash"))
    a = b.alias("a")
    c = b.alias("c")
    return (
        a.join(c, (F.col("a.band_idx") == F.col("c.band_idx"))
               & (F.col("a.band_hash") == F.col("c.band_hash"))
               & (F.col("a.id") < F.col("c.id")))
        .select(F.col("a.id").alias("id_a"), F.col("c.id").alias("id_b"))
        .dropDuplicates()
    )


def minhash_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3, k: int = 16,
                            bands: int = 4, threshold: float = 0.7,
                            seed: int = 42,
                            tokens_col: str | None = None) -> DataFrame:
    """MinHash-LSH near-dup pipeline: signatures -> band buckets ->
    candidate pairs -> EXACT jaccard verification on candidates only.
    Returns (id_a, id_b, jaccard >= threshold). ``tokens_col`` reuses a
    precomputed token-array attribute for both shingle passes."""
    df = _spread(df)
    sigs = minhash_signatures(df, id_col, text_col, n, k, seed,
                              tokens_col=tokens_col)
    cands = minhash_lsh_candidates(sigs, k, bands)
    # exact verification via the shingle inverted index restricted to
    # candidate pairs — no per-doc collect_set arrays (a giant doc would
    # otherwise materialize its whole shingle set in one row; the index
    # join streams instead, and shuffles only candidate docs' shingles)
    shz = shingle_table(df, id_col, text_col, n, with_size=True,
                        tokens_col=tokens_col)
    return _verify_jaccard(cands, shz, threshold)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc (Charikar): token-count weighted bit votes,
    fully native — 60 conditional SUM aggregations in ONE shuffle, packed
    with shiftleft/bitwise-or. Votes sum ±1 per token OCCURRENCE directly
    (identical integers to weighting distinct tokens by count), so the
    former (id, tok) pre-count exchange is gone: partial aggregation
    collapses each map partition to 60 longs per doc before the only
    shuffle. Returns (id, simhash bigint)."""
    toks = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), "\\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = toks.withColumn("h", _h60(F.col("tok")))
    votes = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                       F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"b{i}")
            for i in range(60)
        ]
    )
    packed = F.lit(0).cast("long")
    for i in range(60):
        packed = packed.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("id", packed.alias("simhash"))


def simhash_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dups: block on 4x15-bit chunks (pigeonhole guarantees a
    shared chunk for hamming<=3), verify with bit_count(xor).
    Returns (id_a, id_b, hamming <= max_hamming)."""
    sh = simhash(df, id_col, text_col)
    chunks = sh.select(
        "id", "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), 15 * i).bitwiseAND(F.lit((1 << 15) - 1))
                for i in range(4)
            ])
        ).alias("chunk_idx", "chunk"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def _ws_tokens(col, lower: bool = True):
    """Whitespace token array; ``lower`` controls case folding. The span
    pipeline's position consumers (positional_shingles, the verify stage,
    and remove_duplicate_spans' rebuild) MUST share this exact expression:
    token positions are only meaningful against one tokenization, and
    lowering never moves whitespace, so the lower=True and lower=False
    streams are position-aligned by construction."""
    base = F.lower(col) if lower else col
    return F.filter(F.split(base, "\\s+"), lambda t: t != F.lit(""))


def positional_shingles(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 8) -> DataFrame:
    """(id, pos, h) rows: the 60-bit hash of the n-token shingle STARTING at
    token position ``pos`` (0-based), for every position — NOT distinct
    (positions are the point: they let consumers merge adjacent matches
    into maximal duplicated runs). Narrow end-to-end: token array built
    once per doc (two-step projection, same CollapseProject reasoning as
    shingle_table), posexplode carries the position, and only the slim
    (id, pos, 8-byte hash) rows ever leave the stage — the n-token shingle
    strings themselves never shuffle."""
    tmp = _spread(df).select(F.col(id_col).cast("string").alias("id"),
                             _ws_tokens(F.col(text_col)).alias("__w"))
    idx = F.when(
        F.size("__w") >= n, F.sequence(F.lit(0), F.size("__w") - n)
    ).otherwise(F.array().cast("array<int>"))
    arr = F.transform(
        idx, lambda i: F.array_join(F.slice(F.col("__w"), i + 1, n), " "))
    staged = tmp.select("id", arr.alias("__sh"))
    # posexplode_OUTER + pos-null filter: see shingle_table — the inferred
    # generate guard would otherwise re-evaluate the whole shingle
    # construction twice per doc below the _spread exchange (measured 15x
    # on this function). The padding row of an empty array has NULL pos;
    # real elements always carry one.
    return staged.select(
        "id", F.posexplode_outer("__sh").alias("pos", "shingle")
    ).filter(F.col("pos").isNotNull()).select(
        "id", F.col("pos").cast("long").alias("pos"),
        _h60(F.col("shingle")).alias("h"))


def duplicate_token_spans(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 8,
                          max_docs_per_shingle: int = 50,
                          verify: bool = True) -> DataFrame:
    """Substring-level exact dedup (the Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better" capability, re-expressed as
    a bounded shingle equi-join instead of a suffix array): find every
    MAXIMAL run of >= n consecutive tokens shared verbatim between two
    documents. Returns (doc_a, doc_b, start_a, start_b, len_tokens) with
    doc_a < doc_b, start_* = 0-based token offsets, len_tokens = run length
    in tokens.

    Plan shape (all native, no Python):
      1. positional n-token shingle hashes per doc (narrow).
      2. one groupBy(h) shuffle keeps hashes seen in 2..max_docs_per_shingle
         DISTINCT docs — the >=2 side is the work filter (unique shingles,
         i.e. almost everything, never reach the join); the cap is the scale
         guard that kills degenerate boilerplate runs ("click here to
         subscribe" in 10^9 docs) whose pair fan-out is quadratic. Capped
         shingles are handled by boilerplate REMOVAL ops, not pairwise
         dedup.
      3. the hot-filtered match table (id, pos, h — 24 bytes/row, only
         occurrences of DUPLICATED shingles, tiny vs the corpus) is staged
         to parquet once (``staging.stage``, the training_corpus
         pattern): without the explicit boundary Catalyst re-derives it
         for BOTH self-join sides, i.e. three full corpus passes and the
         step-2 aggregate twice — measured in the r5 plan audit. Staged,
         the corpus is scanned exactly twice (agg pass + join-back pass).
      4. slim self-join of the staged matches on h => aligned match
         positions (doc_a, pa, doc_b, pb).
      5. gaps-and-islands merge per (pair, pa-pb diagonal): consecutive pa
         runs collapse via the row_number trick, one window shuffle keyed by
         (doc_a, doc_b, diag).
      6. exact verify (``verify=True``): both sides' verbatim token slices
         re-digested at 128 bits and compared, so 60-bit shingle-hash
         collisions cannot fake a span (see ``_verify_token_spans``).
    At 100 TB the dominant cost is step 4's join, bounded by
    sum_over_hot_shingles(occurrences^2) — explicitly capped by step 2.
    """
    sh = positional_shingles(df, id_col, text_col, n)
    hot = (
        sh.groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= max_docs_per_shingle))
        .select("h")
    )
    m = stage(sh.join(hot, "h"), "dup_span_matches")
    a = m.select(F.col("id").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = m.select(F.col("id").alias("doc_b"), F.col("pos").alias("pb"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("diag", F.col("pa") - F.col("pb"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = pairs.withColumn("grp", F.col("pa") - F.row_number().over(w))
    spans = (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.min("pa").alias("start_a"), F.min("pb").alias("start_b"),
             (F.count("*") + F.lit(n - 1)).cast("long").alias("len_tokens"))
        .select("doc_a", "doc_b", "start_a", "start_b", "len_tokens")
    )
    if verify:
        # the verify stage fans the span table into TWO union branches
        # (doc_a side, doc_b side) and Spark has no cross-branch subplan
        # CSE: without a boundary the whole self-join + gaps-and-islands
        # merge re-executes once per branch (seen in the r6 plan audit).
        # The merged span table is tiny (pairs of maximal runs): an eager
        # localCheckpoint (measured faster than stage()) materializes it once.
        spans = spans.localCheckpoint(eager=True)
        spans = _verify_token_spans(spans, df, id_col, text_col)
    return spans


def _verify_token_spans(spans: DataFrame, df: DataFrame, id_col: str,
                        text_col: str) -> DataFrame:
    """Guard against 60-bit shingle-hash collisions (the sibling ops'
    exact-verify stage, at span granularity): a colliding pair of distinct
    shingles would fake a duplicate span whose excision silently deletes
    real content, and at 10^12 distinct shingles the birthday bound makes
    that a certainty, not a tail risk. Keep only spans whose two verbatim
    (lowercased) token slices produce the same 128-bit digest — the
    space-join is injective (tokens cannot contain whitespace), so digest
    equality is slice equality modulo md5. A false-positive span verifies
    as a dropped span, never as a wrong excision; the conservative failure
    mode (a genuine run glued to a colliding neighbor on the same diagonal
    drops whole) is a missed dup, not deleted content.

    Plan shape: span endpoints fan to two slim (key, id, st) sides; ONE
    corpus-token projection streams past them (AQE builds the hash table
    on the endpoint side), the slice digest computes map-side, and the
    only new exchange is the tiny groupBy on the span key."""
    key = ["doc_a", "doc_b", "start_a", "start_b", "len_tokens"]
    sides = (
        spans.select(*key, F.col("doc_a").alias("id"),
                     F.col("start_a").alias("st"))
        .unionByName(spans.select(*key, F.col("doc_b").alias("id"),
                                  F.col("start_b").alias("st")))
    )
    toks = _spread(df).select(F.col(id_col).cast("string").alias("id"),
                              _ws_tokens(F.col(text_col)).alias("__w"))
    digest = F.md5(F.array_join(
        F.slice(F.col("__w"), F.col("st").cast("int") + 1,
                F.col("len_tokens").cast("int")), " "))
    return (
        sides.join(toks, "id")
        .select(*key, digest.alias("__d"))
        .groupBy(*key)
        # count("__d"), not count(*): count_distinct ignores NULLs, so a
        # span with one NULL-digest side (unreachable from the internal
        # pipeline, but this is the collision-safety guard and also runs
        # on forged input) must not pass with a single real digest
        # (ADVICE r5). Requiring two NON-NULL digests closes it.
        .agg(F.count_distinct("__d").alias("__nd"), F.count("__d").alias("__n"))
        .filter((F.col("__n") == 2) & (F.col("__nd") == 1))
        .select(*key)
    )


def remove_duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 8,
                           max_docs_per_shingle: int = 50,
                           spans: DataFrame | None = None) -> DataFrame:
    """The second half of the Lee et al. 2021 capability: REWRITE the
    corpus with every duplicated run excised from its junior copies.
    Keep policy is deterministic keep-minimum-id: ``duplicate_token_spans``
    emits pairs with ``doc_a < doc_b``, and every run is excised from the
    ``doc_b`` side of every pair it appears in, so exactly the
    lexicographically-smallest holder keeps its copy. Within-doc repeats
    (the same doc repeating its own run) are out of scope — the pair table
    is strictly cross-document.

    Returns one row per input document: (doc_id, clean_text,
    n_tokens_removed). ``clean_text`` is the surviving tokens of the
    whitespace token stream re-joined with single spaces (the rewrite is
    defined over the SAME token positions the spans are defined on; span
    matching lowercases, reconstruction keeps original case — lowercasing
    never changes where whitespace falls, so positions align).

    Plan shape: the excise set (junior-side intervals) is tiny relative to
    the corpus, so everything heavy stays on the slim side — one window +
    one groupBy over the interval rows keyed by doc (classic
    gaps-and-islands overlap merge, giving DISJOINT intervals so
    n_tokens_removed is exact), one groupBy packing intervals to an array
    per doc, then a join back to the corpus that AQE broadcasts (dup-doc
    side is small). The rebuild is narrow: a single indexed higher-order
    ``filter`` with an ``exists`` probe over each doc's (few) intervals —
    no explode, no per-token shuffle, no Python."""
    if spans is None:
        spans = duplicate_token_spans(df, id_col, text_col, n,
                                      max_docs_per_shingle)
    exc = spans.select(
        F.col("doc_b").alias("id"), F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("len_tokens") - 1).alias("e"))
    w = Window.partitionBy("id").orderBy("s", "e")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = exc.withColumn(
        "brk",
        F.when(F.col("s") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0))
    merged = (
        marked.withColumn("g", F.sum("brk").over(w))
        .groupBy("id", "g")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    iv = merged.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("__ivs"),
        F.sum(F.col("e") - F.col("s") + 1).alias("__removed"))
    base = _spread(df).select(
        F.col(id_col).cast("string").alias("doc_id"),
        _ws_tokens(F.col(text_col), lower=False).alias("__w"))
    joined = base.join(iv, base["doc_id"] == iv["id"], "left").drop("id")
    ivs = F.coalesce(F.col("__ivs"),
                     F.array().cast("array<struct<s:bigint,e:bigint>>"))
    kept = F.filter(
        F.col("__w"),
        lambda t, i: ~F.exists(ivs, lambda p: (i >= p["s"]) & (i <= p["e"])))
    return joined.select(
        "doc_id",
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("__removed"), F.lit(0)).cast("long")
        .alias("n_tokens_removed"))
