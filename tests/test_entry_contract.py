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


def assert_matches_oracle(name, sdf, con):
    srows = sdf.collect()
    scols = sorted(sdf.columns)

    ores = con.execute(entrymod.oracle_sql()[name])
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


def test_stream_windows_replay_two_events(spark, tmp_path):
    """Two events leave the third replay batch empty; the replay must
    still run and match its oracle (the earliest and the latest event, so
    the first one's window closes and is emitted)."""
    import pyarrow.parquet as pq

    events = pq.read_table(f"{SF_DIR}/events.parquet").sort_by(
        [("ts", "ascending"), ("event_id", "ascending")])
    path = str(tmp_path / "events.parquet")
    pq.write_table(events.take([0, events.num_rows - 1]), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    sdf = entrymod.queries()["stream_windows_replay"](spark, str(tmp_path))
    assert sdf.count() > 0
    assert_matches_oracle("stream_windows_replay", sdf, con)


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
