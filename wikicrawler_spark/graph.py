"""Link-graph analytics over the crawl's edge table.

The reference stubs its graph module (SURVEY §2.4 T13 — `oracle.py` keeps
history stacks but never materializes a graph); the engine's crawl already
emits an edges DataFrame (`extract_job.links_of`). This module adds the
iterative layer on top: PageRank as a driver-orchestrated power iteration
where every per-iteration quantity (out-degree contributions, dangling
mass, teleport) lives INSIDE the plan — zero per-iteration driver
actions, so a 1000-executor run has no serial section.

Scale design:
  * one `count()` up front (scalar), then `iterations` rounds of
    join + groupBy-sum — each round is ONE shuffle on dst plus a broadcast
    of the 1-row dangling-mass aggregate;
  * `localCheckpoint(eager=True)` after every round truncates the growing
    lineage (the classic iterative-algorithm failure mode: un-truncated
    plans re-execute the whole history per action and eventually blow the
    optimizer); production swaps this for a checkpoint dir / Iceberg table
    per SURVEY S11;
  * ranks stay double; the power iteration is a contraction (damping
    0.85), so cross-engine float-order differences stay ~1e-15 and the
    round-6 output is engine-stable — verified against an unrolled-CTE
    DuckDB replay of the identical expression shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(edges: DataFrame, *, iterations: int = 6, damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Standard PageRank with uniform teleport and dangling-mass
    redistribution. ``edges`` is a directed (src, dst) DataFrame (dedupe
    parallel edges upstream if each should count once). Returns
    (node, rank) with rank rounded to 6."""
    src = F.col(src_col)
    dst = F.col(dst_col)
    # every iteration re-reads edges/nodes/deg: materialize them ONCE
    # (localCheckpoint here; a checkpoint dir / Iceberg table on a real
    # cluster) instead of recomputing the upstream plan 2*iterations
    # times down the dangling + contribution subtrees
    e = (edges.select(src.alias("src"), dst.alias("dst"))
         .localCheckpoint(eager=True))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (e.groupBy("src").agg(F.count("*").cast("double").alias("outdeg"))
           .localCheckpoint(eager=True))
    n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(iterations):
        # dangling mass: total rank sitting on nodes with no out-edges —
        # a 1-row aggregate broadcast into the update (no driver action)
        dang = (
            ranks.join(deg, ranks["node"] == deg["src"], "left")
            .filter(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (F.lit((1.0 - damping) / n)
                 + F.lit(damping)
                 * (F.coalesce(F.col("s"), F.lit(0.0)) + F.col("dm") / n)
                 ).alias("rank"),
            )
        )
        if i + 1 < iterations:
            # eager per-iteration materialization: the next round consumes
            # `ranks` TWICE (dangling branch + contribution branch); an
            # un-materialized plan would recompute the whole history down
            # both subtrees, compounding 2x per round
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _star_checksum(e: DataFrame) -> tuple[int, int]:
    """Cheap order-insensitive identity of an edge set: (count, XOR of
    per-edge 60-bit hashes). Two aggregate scalars — no driver-side edge
    materialization, so the convergence check stays O(1) on the driver.

    The equality test is probabilistic: two *different* successive edge
    sets with equal count and colliding XOR would terminate early with
    wrong components — ~2^-60 per comparison, negligible."""
    # bit_xor, not sum: order-independent like sum but cannot overflow
    # (ANSI mode makes a long-sum of 60-bit hashes throw past ~8 edges)
    row = e.select(
        F.conv(F.substring(F.md5(F.concat_ws("|", "u", "v")), 1, 15),
               16, 10).cast("long").alias("h"),
    ).agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(h)"), F.lit(0).cast("long")).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"])


def connected_components(edges: DataFrame, *, src_col: str = "src",
                         dst_col: str = "dst",
                         max_iterations: int = 25) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log^2 n)-round formulation, NOT naive min-label
    propagation, whose round count is the component *diameter* (a
    transitive near-dup chain of length d needs d rounds; large/small-star
    halves path lengths every round, so a 10^12-doc corpus converges in
    ~tens of rounds regardless of chain shape).

    Each round is two groupBy-min shuffles + two joins on the *edge* table
    only (which contracts toward one edge per non-root node); per-round
    ``localCheckpoint`` truncates the iterative lineage exactly as in
    :func:`pagerank`. The reference keeps no graph layer at all (SURVEY
    §2.4 T13 stubs) — this is engine-added capability for near-dup cluster
    collapse (dedup keeps one canonical doc per component).

    Returns (node, component) for every node incident to an edge, where
    ``component`` is the minimum node id in the component. Node ids must be
    orderable (any comparable type; bigint at corpus scale).

    The per-round checkpoint is LAZY, which keeps each round at ONE Spark
    action: the localCheckpoint is materialized by the round's own
    convergence-checksum aggregate, instead of an eager materialization
    action followed by a separate checksum action (2 driver round-trips
    per round — measured as half the operator's wall at bench scale,
    where rounds are driver-latency-bound). Lineage truncation is
    identical.
    """
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    all_nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev = _star_checksum(
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    )
    for _ in range(max_iterations):
        # large-star: every neighbor v > u re-attaches to m(u) =
        # min(N(u) + {u}); neighborhoods over the symmetrized edge set
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        )
        e = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            # no distinct here: it only removed duplicate edges that the
            # small-star's own distinct collapses anyway — dropping it
            # saves one exchange per round (bag semantics are safe: every
            # groupBy-min below is multiplicity-insensitive)
        )
        # small-star: orient big->small, then every small neighbor (and u
        # itself) re-attaches to the minimum small neighbor
        d = e.select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
        mins2 = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        cur = _star_checksum(e)
        if cur == prev:
            break
        prev = cur
    # converged state is a star per component: (non-root -> root). Roots
    # appear only on the v side; every other node exactly once on u (the
    # groupBy-min is a no-op at convergence but keeps the result sound if
    # max_iterations ever cuts a pathological graph short).
    labels = (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .groupBy("node").agg(F.min("component").alias("component"))
    )
    return (
        all_nodes.join(labels, "node", "left")
        .select("node",
                F.coalesce(F.col("component"), F.col("node")).alias("component"))
    )


def pagerank_oracle_sql(edges_sql: str, *, iterations: int = 6,
                        damping: float = 0.85) -> str:
    """Generate the DuckDB replay of ``pagerank`` as an unrolled CTE chain
    (one CTE per iteration, same expression shape as the Spark plan).
    ``edges_sql`` must select columns (src, dst)."""
    d = damping
    parts = [
        f"WITH edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        ("deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges "
         "GROUP BY src)"),
        "r0 AS (SELECT node, (SELECT 1.0/n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        p = f"r{i - 1}"
        parts.append(f"""r{i} AS (
  SELECT nodes.node,
         (SELECT ({1.0 - d!r})/n FROM nn)
         + {d!r} * (COALESCE(c.s, 0.0)
                    + (SELECT dm FROM (SELECT COALESCE(sum(rank), 0.0) AS dm
                                       FROM {p} LEFT JOIN deg
                                       ON {p}.node = deg.src
                                       WHERE deg.outdeg IS NULL))
                      / (SELECT n FROM nn)) AS rank
  FROM nodes
  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / d.outdeg) AS s
             FROM edges e
             JOIN {p} r ON e.src = r.node
             JOIN deg d ON e.src = d.src
             GROUP BY e.dst) c USING (node))""")
    return (",\n".join(parts)
            + f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}")
