"""Oracle result-TYPE gate (no Spark needed — binding only).

Round-4 post-mortem: ``pipeline_mix_funnel`` was driver-red for three
rounds with rows_match=true/schema_match=true/hash_match=false because
its DuckDB oracle's ``sum(CASE ...)`` returned HUGEINT, which a
fetch-layer value hash sees as float64 (pandas) or decimal128 (Arrow)
while Spark emits int64 — numerically equal, hash-divergent.  The local
value gate (``fetchall()`` → Python ints) was structurally blind to it.

This test closes that class: every registered oracle must BIND to a
result schema containing only driver-fetch-safe types — the types whose
pandas/Arrow fetch representation is identical to the matching Spark
type.  Anything DuckDB widens, narrows, or decimal-izes on fetch
(HUGEINT, DECIMAL, FLOAT, the small ints, sub-second timestamp
variants, ...) is rejected at bind time, before a single row runs.
"""

import importlib
import os

import duckdb
import pytest

from engine.io import TABLES, table_path
from engine.registry import (
    _OPERATOR_MODULES,
    Federation,
    all_queries_including_library,
)
from tests.conftest import SF_SMOKE
from tools.check_oracle import (
    _DUCK_FAMILY,
    _SPARK_FAMILY,
    _family,
    unsafe_type_tokens,
)

SPECS = all_queries_including_library()
_NAME_OF_ORACLE = {s.oracle: n for n, s in SPECS.items()}
FEDERATIONS = {
    _NAME_OF_ORACLE[v.oracle]: v
    for module in map(importlib.import_module, _OPERATOR_MODULES)
    for v in vars(module).values()
    if isinstance(v, Federation)
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(SF_SMOKE, t)
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con


@pytest.mark.parametrize(
    "name", sorted(n for n, s in SPECS.items() if s.oracle is not None)
)
def test_oracle_result_types_are_fetch_safe(duck, name):
    rel = duck.sql(SPECS[name].oracle)  # lazy: binds the plan, runs nothing
    bad = [
        (col, str(typ), unsafe_type_tokens(str(typ)))
        for col, typ in zip(rel.columns, rel.types)
        if unsafe_type_tokens(str(typ))
    ]
    assert not bad, (
        f"{name}: oracle result contains fetch-unsafe column types {bad} — "
        "a value hash over the fetched result will diverge from Spark even "
        "when every value is equal (the pipeline_mix_funnel failure mode). "
        "CAST the offending expression (e.g. sum(CASE ...) is HUGEINT → "
        "CAST(... AS BIGINT))."
    )


@pytest.mark.parametrize("name", sorted(FEDERATIONS))
def test_federation_oracle_binds_to_its_declared_schema(duck, name):
    """A federation's generated oracle must bind to exactly its declared
    column names, in order, each in the declared type's fetch family —
    so a spec whose schema drifted from its components fails here,
    without Spark and without running the oracle."""
    fed = FEDERATIONS[name]
    rel = duck.sql(fed.oracle)  # lazy: binds the plan, runs nothing
    assert rel.columns == [col for col, _ in fed.columns]
    drift = [
        (col, typ, str(duck_type))
        for (col, typ), duck_type in zip(fed.columns, rel.types)
        if _family(_SPARK_FAMILY, typ.lower()) != _family(_DUCK_FAMILY, str(duck_type))
    ]
    assert not drift, f"{name}: declared vs DuckDB type families differ: {drift}"


def test_gate_reports_timestamptz_as_one_token():
    """A session-tz oracle must fail with ONE clear verdict token
    (TIMESTAMPTZ), not a misleading WITH/TIME/ZONE shard list — and the
    type is deliberately fetch-UNSAFE (the driver hashes raw fetched
    values; a tz-aware datetime hashes differently from Spark's naive
    session-local timestamp): oracles must CAST to plain TIMESTAMP."""
    assert unsafe_type_tokens("TIMESTAMP WITH TIME ZONE") == ["TIMESTAMPTZ"]
    assert unsafe_type_tokens("TIMESTAMP WITH TIME ZONE[]") == ["TIMESTAMPTZ"]
    assert unsafe_type_tokens("TIMESTAMP") == []


def test_gate_would_catch_the_mix_funnel_regression(duck):
    """Self-test: the exact r2-r4 failure shape — an un-CAST
    sum(CASE...) promoted across a UNION ALL — must be flagged."""
    rel = duck.sql(
        "WITH f AS (SELECT sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)"
        " AS n FROM documents)"
        " SELECT count(*) AS n FROM documents UNION ALL SELECT n FROM f"
    )
    assert any(
        unsafe_type_tokens(str(t)) for t in rel.types
    ), "gate failed to flag a HUGEINT-promoted union column"
