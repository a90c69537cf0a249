"""The federation helper (``engine.registry.Federation``), without Spark.

A federation declares its union schema and each facet's column mapping
once; these tests pin what it generates from that: NULL padding in
schema order with the declared types, per-engine quoting of bare
column names, definition-time errors for a malformed spec, a facet
whose component is oracle SQL text rather than a registered query,
and an oracle that DuckDB binds to exactly the declared names and
types.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from engine.registry import _REGISTRY, Federation, QuerySpec

SCHEMA = (
    "facet STRING, k STRING, n BIGINT, x DOUBLE, t TIMESTAMP, ok BOOLEAN, i INT"
)
# What DuckDB reports for each declared type.
DUCK_TYPES = [
    "VARCHAR", "VARCHAR", "BIGINT", "DOUBLE", "TIMESTAMP", "BOOLEAN", "INTEGER",
]


class _Capture:
    """Stands in for a DataFrame: project() hands it the selectExpr list."""

    def selectExpr(self, *cols):
        return list(cols)


@pytest.fixture
def components(monkeypatch):
    oracles = {
        "toy_counts": "SELECT 'a' AS \"check\", CAST(3 AS BIGINT) AS \"value\"",
        "toy_scores": "SELECT 'p' AS grp, CAST(0.5 AS DOUBLE) AS x, "
                      "DATE '2024-01-02' AS day",
    }
    for name, oracle in oracles.items():
        monkeypatch.setitem(
            _REGISTRY, name, QuerySpec(name=name, fn=None, oracle=oracle)
        )


def _toy():
    return Federation(
        SCHEMA,
        [
            ("counts", "toy_counts", {"k": "check", "n": "value"}),
            ("scores", "toy_scores",
             {"facet": "concat('s_', grp)", "x": "x",
              "t": "CAST(day AS TIMESTAMP)"}),
            ("flags", "SELECT TRUE AS flag, CAST(7 AS INTEGER) AS i",
             {"ok": "flag", "i": "i"}),
        ],
    )


def test_unmapped_columns_are_padded_in_schema_order(components):
    fed = _toy()
    assert fed.project("counts", _Capture()) == [
        "'counts' AS facet",
        "`check` AS k",
        "`value` AS n",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS TIMESTAMP) AS t",
        "CAST(NULL AS BOOLEAN) AS ok",
        "CAST(NULL AS INT) AS i",
    ]
    branches = fed.oracle.split("\nUNION ALL\n")
    assert branches[1].splitlines()[0] == (
        "SELECT concat('s_', grp) AS facet, CAST(NULL AS STRING) AS k, "
        "CAST(NULL AS BIGINT) AS n, \"x\", CAST(day AS TIMESTAMP) AS t, "
        "CAST(NULL AS BOOLEAN) AS ok, CAST(NULL AS INT) AS i"
    )
    # an SQL-text component is padded alike and embedded as the subquery
    assert fed.project("flags", _Capture()) == [
        "'flags' AS facet",
        "CAST(NULL AS STRING) AS k",
        "CAST(NULL AS BIGINT) AS n",
        "CAST(NULL AS DOUBLE) AS x",
        "CAST(NULL AS TIMESTAMP) AS t",
        "`flag` AS ok",
        "`i`",
    ]
    assert branches[2].splitlines()[1] == (
        "FROM (SELECT TRUE AS flag, CAST(7 AS INTEGER) AS i) f2"
    )
    assert fed.components == {"counts": "toy_counts", "scores": "toy_scores"}


def test_a_spec_with_an_sql_text_component_cannot_run_its_components(components):
    """Only the caller can build an SQL-text facet's frame, so running
    the components would drop that facet: frames() and build() raise."""
    fed = _toy()
    with pytest.raises(ValueError, match="SQL text"):
        fed.frames(None, "")
    with pytest.raises(ValueError, match="SQL text"):
        fed.build(None, "")


def test_bare_names_are_quoted_per_engine(components):
    fed = Federation(
        "facet STRING, k STRING, n BIGINT",
        [("pair", "toy_counts",
          {"k": ("lower(`check`)", 'lower("check")'), "n": "value"})],
    )
    assert fed.project("pair", _Capture()) == [
        "'pair' AS facet", "lower(`check`) AS k", "`value` AS n",
    ]
    assert fed.oracle.startswith(
        "SELECT 'pair' AS facet, lower(\"check\") AS k, \"value\" AS n\n"
    )
    same = Federation("facet STRING, x DOUBLE", [("s", "toy_scores", {"x": "x"})])
    assert same.project("s", _Capture()) == ["'s' AS facet", "`x`"]
    assert same.oracle.startswith("SELECT 's' AS facet, \"x\"\n")


def test_a_facet_mapping_every_column_to_itself_is_not_projected(components):
    fed = Federation(
        "facet STRING, x DOUBLE", [("s", "toy_scores", {"facet": "facet", "x": "x"})]
    )
    frame = _Capture()
    assert fed.project("s", frame) is frame


@pytest.mark.parametrize(
    "facets, message",
    [
        ([("a", "toy_counts", {"nope": "value"})], r"maps \['nope'\]"),
        # a bare name is a registry name, never SQL text
        ([("a", "no_such_query", {})], "no oracled query 'no_such_query'"),
        ([("a", "toy_counts", {}), ("a", "toy_scores", {})], "duplicate facet tag"),
    ],
    ids=["unknown-column", "unregistered-component", "repeated-tag"],
)
def test_malformed_spec_raises_at_definition(components, facets, message):
    with pytest.raises(ValueError, match=message):
        Federation(SCHEMA, facets)


def test_toy_oracle_binds_to_the_declared_schema(components):
    con = duckdb.connect()
    rel = con.sql(_toy().oracle)  # binds; nothing runs until the fetch
    assert rel.columns == ["facet", "k", "n", "x", "t", "ok", "i"]
    assert [str(t) for t in rel.types] == DUCK_TYPES
    assert sorted(rel.fetchall(), key=lambda row: row[0]) == [
        ("counts", "a", 3, None, None, None, None),
        ("flags", None, None, None, None, True, 7),
        ("s_p", None, None, 0.5, dt.datetime(2024, 1, 2), None, None),
    ]
