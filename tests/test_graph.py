"""Graph operator tests: PageRank invariants, PageRank against its
DuckDB oracle on rewritten and degenerate inputs, and triangle counts
cross-checked against a driver-side brute force on the same edges."""

from __future__ import annotations

from itertools import combinations

import duckdb
import pytest

import __spark_entry__ as entrymod

from kinesis_s3_spark.operators.graph import transition_edges
from tests.conftest import SF_CORRECT, SF_SMOKE

Q = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_pagerank_is_a_distribution(spark):
    rows = Q["graph_pagerank"](spark, SF_CORRECT).collect()
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-3, total  # mass conserved (dangling handled)
    ranks = sorted(r["rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    by_rank = sorted(rows, key=lambda r: r["rank"])
    for a, b in zip(by_rank, by_rank[1:]):
        assert (a["pagerank"], b["event_type"]) >= (b["pagerank"], a["event_type"])


def test_triangles_match_bruteforce(spark):
    """Engine triangle counts vs a driver-side brute force over the
    same undirected edge set."""
    edges = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in transition_edges(spark, SF_CORRECT).collect()
        if r["src"] != r["dst"]
    }
    nodes = sorted({v for e in edges for v in e})
    expected = {v: 0 for v in nodes}
    for a, b, c in combinations(nodes, 3):
        if (a, b) in edges and (b, c) in edges and (a, c) in edges:
            for v in (a, b, c):
                expected[v] += 1
    got = {
        r["event_type"]: r["n_triangles"]
        for r in Q["graph_triangles"](spark, SF_CORRECT).collect()
    }
    for v in nodes:
        assert got.get(v, 0) == expected[v], (v, got.get(v), expected[v])


def _events(tmp_path, sql: str) -> str:
    """Writes ``sql`` over the sf0.001 events (a view named ``src``) as
    ``tmp_path/events.parquet``; returns the directory."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM '{SF_SMOKE}/events.parquet'")
    con.execute(f"COPY ({sql}) TO '{tmp_path}/events.parquet' (FORMAT parquet)")
    return str(tmp_path)


def _assert_is_oracle(spark, name: str, sf_dir: str) -> list:
    """Bit-exact, order-insensitive; returns the Spark rows."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    want = con.sql(ORACLES[name]).fetchall()
    rows = Q[name](spark, sf_dir).collect()
    assert sorted(map(tuple, rows), key=repr) == sorted(want, key=repr)
    return rows


@pytest.mark.parametrize("name", ["graph_pagerank", "graph_triangles"])
def test_pagerank_sees_a_rewritten_input(spark, tmp_path, name):
    """A second run in the same session after the events file is
    rewritten must answer for the new graph, not a cached copy of the
    old."""
    d = _events(tmp_path, "SELECT * FROM src")
    assert len(_assert_is_oracle(spark, name, d)) == 5
    _events(tmp_path, "SELECT * FROM src WHERE event_type NOT IN ('error', 'click')")
    rows = _assert_is_oracle(spark, name, d)
    assert sorted(r["event_type"] for r in rows) == ["purchase", "signup", "view"]


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT * FROM src WHERE false",
        "SELECT * REPLACE (CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS event_type) FROM src",
        # 'error' only as a user's last event: a node with no outgoing edge
        "SELECT * EXCLUDE (k) FROM (SELECT *, row_number() OVER ("
        "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS k FROM src) "
        "WHERE event_type <> 'error' OR k = 1",
        # about 66 nodes: ties, many dangling nodes and the NULL node
        "SELECT * REPLACE (CASE WHEN event_id % 97 = 0 THEN NULL "
        "ELSE event_type || '-' || (user_id % 13) END AS event_type) FROM src",
    ],
    ids=["empty", "null_types", "dangling", "many_nodes"],
)
def test_pagerank_matches_oracle_on_edge_inputs(spark, tmp_path, sql):
    _assert_is_oracle(spark, "graph_pagerank", _events(tmp_path, sql))


def test_pagerank_of_a_single_event_type_is_one(spark, tmp_path):
    d = _events(tmp_path, "SELECT * REPLACE ('view' AS event_type) FROM src")
    rows = _assert_is_oracle(spark, "graph_pagerank", d)
    assert [(r["event_type"], r["pagerank"], r["rank"]) for r in rows] == [("view", 1.0, 1)]
