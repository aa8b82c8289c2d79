"""Replicates the driver's correctness gate locally: every queries() entry
runs at sf0.001, and every oracle_sql() entry is executed in DuckDB on the
same parquet tables; row counts, column sets, and order-insensitive values
must match.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, normalize(x)) for k, x in v.items()))
    return v


def df_to_multiset(cols, rows):
    out = {}
    for r in rows:
        key = tuple(normalize(r[c]) for c in cols)
        out[key] = out.get(key, 0) + 1
    return out


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "kind", "text", "media_ref", "offset"}


def test_every_query_runs(spark):
    """Queries WITHOUT an oracle still must run (the oracle-backed ones
    execute in test_query_matches_oracle — no need to run them twice)."""
    qs = entrymod.queries()
    oracled = set(entrymod.oracle_sql())
    assert len(qs) >= 20
    for name, fn in qs.items():
        if name in oracled:
            continue
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name


#: DuckDB result types that reach pandas as float64 or object while Spark
#: emits int64: a hash over the oracle's result would differ by dtype alone
WIDE_OR_UNSIGNED = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"}


def assert_matches_oracle(name, sdf, con):
    srows = sdf.collect()
    scols = sorted(sdf.columns)

    sql = entrymod.oracle_sql()[name]
    rel = con.sql(sql)
    wide = [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
            if t.upper() in WIDE_OR_UNSIGNED]
    assert not wide, f"{name}: oracle emits {wide}; cast to BIGINT or DOUBLE in its SQL"
    ores = con.execute(sql)
    ocols_all = [d[0] for d in ores.description]
    orows = ores.fetchall()
    ocols = sorted(ocols_all)

    assert scols == ocols, f"{name}: column sets differ: {scols} vs {ocols}"
    assert len(srows) == len(orows), f"{name}: row counts {len(srows)} vs {len(orows)}"

    s_ms = df_to_multiset(scols, [r.asDict() for r in srows])
    o_ms = df_to_multiset(ocols, [dict(zip(ocols_all, r)) for r in orows])
    if s_ms != o_ms:
        only_s = {k for k in s_ms if s_ms[k] != o_ms.get(k)}
        only_o = {k for k in o_ms if o_ms[k] != s_ms.get(k)}
        raise AssertionError(
            f"{name}: value mismatch; spark-only={list(only_s)[:3]} "
            f"oracle-only={list(only_o)[:3]}"
        )


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_oracle(spark, con, name):
    fn = entrymod.queries()[name]
    assert_matches_oracle(name, fn(spark, SF_DIR), con)


@pytest.mark.parametrize("name", ["stream_sessionize_replay",
                                  "stream_dedup_replay",
                                  "stream_windows_replay"])
def test_stream_replay_two_events(spark, tmp_path, name):
    """Two events leave one of the three replay batches empty; every
    replay must still run and match its oracle (the earliest and the
    latest event, so the windows replay's first window closes and is
    emitted)."""
    import pyarrow.parquet as pq

    events = pq.read_table(f"{SF_DIR}/events.parquet").sort_by(
        [("ts", "ascending"), ("event_id", "ascending")])
    path = str(tmp_path / "events.parquet")
    pq.write_table(events.take([0, events.num_rows - 1]), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    sdf = entrymod.queries()[name](spark, str(tmp_path))
    assert sdf.count() > 0
    assert_matches_oracle(name, sdf, con)


@pytest.mark.parametrize("name, tables", [
    ("pagerank_orders", ("lineitem", "orders")),
    ("ivf_ann_recall", ("embeddings",)),
])
def test_zero_row_inputs_match_oracle(spark, tmp_path, name, tables):
    """With every table it reads cut to zero rows (schema kept), a query
    returns the oracle's empty result: PageRank over no edges has no
    nodes to seed a rank (1/n with n = 0), and IVF over no vectors has no
    sample to train centroids on."""
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for t in tables:
        path = str(tmp_path / f"{t}.parquet")
        pq.write_table(pq.read_table(f"{SF_DIR}/{t}.parquet").slice(0, 0), path)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    sdf = entrymod.queries()[name](spark, str(tmp_path))
    assert_matches_oracle(name, sdf, con)
    assert sdf.count() == 0


def test_autosearch_chain_leaves_no_cached_tables(spark):
    """The autosearch title table is materialized per call, not cached: a
    cached table would outlive the query and serve the next call."""
    spark.catalog.clearCache()
    df = entrymod.queries()["autosearch_chain"](spark, SF_DIR)
    assert df.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_training_corpus_leaves_no_persisted_rdds(spark):
    """VERDICT r3 "What's wrong" #2: the extraction-body materialization
    boundary must not leak cached blocks into the rest of the session —
    it's now an explicit temp-table write, so the query must not ADD any
    persistent RDDs. Compare id sets, not counts: earlier tests' cached
    RDDs are unpersisted asynchronously by the ContextCleaner once their
    references are GC'd, so the pre-existing set can legitimately shrink
    while this query runs."""
    ids_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    df = entrymod.queries()["training_corpus"](spark, SF_DIR)
    assert df.count() > 0
    ids_after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    leaked = ids_after - ids_before
    assert not leaked, leaked
