"""Bloom filter over a DataFrame column, built and probed in the JVM.

Role (SURVEY.md T9 / §4.2): the reference dedups fetches with a per-URL
SQLite probe (/root/reference/src/wikicrawler/core/grabber.py:169). At
frontier scale that becomes a Bloom filter over the visited set. ``tag``
marks each candidate ``maybe`` (possibly visited) or not (definitely new),
and the exact ``left_anti`` join stays the authority: it drops only rows
tagged ``maybe`` that match a visited doc_id. Bloom false positives would
otherwise DROP docs, so the filter is only ever used in the
"definitely-not-visited" direction.

Hashing is xxhash64 (stable across processes/seeds — Python's builtin
``hash`` is salted per process and must never be used for data-plane
hashing). k index functions derive from double hashing h1 + i*h2 (Kirsch &
Mitzenmacher 2006, public result).

Scale note: bits are sized from the expected visited count at ~1% FPR and
capped so the broadcast bitmap row stays bounded; past the cap the FPR
simply degrades (more candidates are tagged ``maybe``; the exact anti-join
still guarantees correctness). A production variant would shard the filter by
doc_id bucket and broadcast per-bucket.
"""

import math

import numpy as np


class NativeBloom:
    """Bloom filter whose BUILD and PROBE both run as native Catalyst
    expressions — the JVM-side design VERDICT r5 asked for (SURVEY §4.2
    item 3). Spark's own ``bloom_filter_agg`` / ``might_contain`` are not
    reachable from PySpark's public surface (they exist only for the
    optimizer's runtime-filter injection; the DataFrame-level builder is
    Scala-only), so the same machinery is expressed with public functions:

      build  xxhash64 double-hashing (Kirsch & Mitzenmacher 2006, like
             Spark's own Bloom filter) -> k bit indices per key -> one
             ``bit_or`` word aggregation (tree-aggregated in the JVM,
             partial aggregation collapses duplicates map-side) -> the
             driver collects only the SET words (sparse; bounded by
             n_bits/64 rows) and ORs them into the bitmap. No Python in
             the data path, no per-partition full-geometry bitsets.
      probe  k unrolled codegen bit-tests over the bitmap shipped as a
             one-row array<bigint> broadcast (an Arrow-built local
             relation) — whole-stage codegen, no Python worker, no
             broadcast variable plumbing. ``tag`` evaluates them once
             into a ``maybe`` column.

    The bitmap is capped at 16 MiB; past the cap the FPR degrades
    gracefully and the exact anti-join stays authoritative. Words are
    kept as uint64 on the driver and reinterpreted as signed bigints only
    when the probe row is built."""

    _MAX_NATIVE_BITS = 1 << 27  # 16 MiB as one array<bigint> row

    def __init__(self, n_items, fpr=0.01):
        n_items = max(n_items, 1)
        n_bits = int(-n_items * math.log(fpr) / (math.log(2) ** 2))
        n_bits = min(max(n_bits, 64), self._MAX_NATIVE_BITS)
        self.n_bits = (n_bits + 63) // 64 * 64  # whole words
        self.k = max(1, round(self.n_bits / n_items * math.log(2)))
        self.words = np.zeros(self.n_bits // 64, dtype=np.uint64)

    # h1/h2: two independent xxhash64 streams (the second seeded by an
    # extra literal), each reduced mod n_bits so the unrolled index
    # arithmetic h1 + i*h2 stays far below 2^63 (ANSI-safe). h2 is odd:
    # n_bits is a multiple of 64, so an even stride shortens the index
    # cycle (h2 = 0 sets one bit k times); h2 | 1 stays < n_bits.
    def _with_hashes(self, df, column):
        from pyspark.sql import functions as F

        return df.withColumn(
            "__h1", F.pmod(F.xxhash64(F.col(column)), F.lit(self.n_bits))
        ).withColumn(
            "__h2", F.pmod(F.xxhash64(F.col(column), F.lit(1)),
                           F.lit(self.n_bits)).bitwiseOR(F.lit(1)))

    def merge_from(self, df, column) -> "NativeBloom":
        """OR every value of ``df[column]`` into the bitmap: k exploded
        bit indices per key, one ``bit_or`` word aggregation, sparse
        word collect. One narrow JVM pass over the keys."""
        from pyspark.sql import functions as F

        idxs = ", ".join(
            f"pmod(__h1 + {i} * __h2, {self.n_bits})" for i in range(self.k))
        rows = (
            self._with_hashes(df.select(column), column)
            .selectExpr(f"explode(array({idxs})) AS __idx")
            .selectExpr("cast(__idx div 64 AS int) AS __w",
                        "shiftleft(cast(1 AS bigint), "
                        "cast(__idx % 64 AS int)) AS __b")
            .groupBy("__w").agg(F.expr("bit_or(__b)").alias("__or"))
            .collect()
        )
        for r in rows:
            # bit_or yields a signed bigint: keep its two's-complement bits
            self.words[r["__w"]] |= np.uint64(r["__or"] & (1 << 64) - 1)
        return self

    def _probe_expr(self):
        from pyspark.sql import functions as F

        tests = []
        for i in range(self.k):
            idx = f"pmod(__h1 + {i} * __h2, {self.n_bits})"
            tests.append(
                f"(shiftright(element_at(__bm, cast({idx} div 64 AS int) + 1),"
                f" cast({idx} % 64 AS int)) & 1) = 1")
        return F.expr(" AND ".join(tests))

    def _bitmap_df(self, spark):
        """The bitmap as a one-row ``__bm array<bigint>`` relation, built
        from an Arrow table: Spark plans it as a ``LocalRelation`` shipped
        once to the JVM. A Python row list would go through ``parallelize``
        into a ``LogicalRDD`` (about twice the probe's wall on a 10^4-word
        bitmap), and ``F.lit`` over the words would expand to one Literal
        child (one py4j call) per word."""
        import pyarrow as pa

        words = pa.array(self.words.view(np.int64))
        bm = pa.ListArray.from_arrays(pa.array([0, len(words)], pa.int32()), words)
        return spark.createDataFrame(pa.table({"__bm": bm}))

    def tag(self, df, column):
        """``df`` plus a boolean ``maybe`` column: false means ``column``'s
        value is definitely not in the filter, true means it may be (every
        merged key, plus about ``fpr`` of the others). One codegen
        projection over a cross join with the broadcast one-row bitmap; no
        Python crossing, and the cross join keeps ``df``'s partitioning."""
        from pyspark.sql import functions as F

        probed = self._with_hashes(df, column).crossJoin(
            F.broadcast(self._bitmap_df(df.sparkSession)))
        return (probed.withColumn("maybe", self._probe_expr())
                .drop("__h1", "__h2", "__bm"))

    def split(self, df, column):
        """(definitely_new, maybe_seen): the two filters over one ``tag``.
        maybe_seen (true positives + ~fpr false positives) still needs the
        exact anti-join. Each branch plans its own probe; a caller that
        needs both branches of one input should probe once with ``tag``."""
        from pyspark.sql import functions as F

        tagged = self.tag(df, column)
        return (tagged.filter(~F.col("maybe")).drop("maybe"),
                tagged.filter(F.col("maybe")).drop("maybe"))
