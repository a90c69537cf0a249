"""Every library query is reachable from the exported surface.

A registry entry is either exported, a component of some ``Federation``
(so an exported union runs it and its oracle), or named in
``UNREACHED_ALLOWED`` with the reason it stays. A library query that
none of these reach is an oracle case that only the local gate ever
runs: delete it, federate it, or list it here with a reason. Registry
import only; no Spark.
"""

from tests.test_oracle_types import FEDERATIONS, SPECS

# Library queries that no exported query or Federation reaches, and why
# each one stays.
UNREACHED_ALLOWED = {
    "store_composite_partition": (
        "perfbench/wl_store.py and perfbench/README.md model the "
        "store_refresh workload on it"
    ),
    "events_daily_rollup": (
        "the batch reference that tests/test_streaming.py::"
        "test_tumbling_counts_match_batch compares the streaming twin against"
    ),
    "q2_min_cost_supplier": "the only TPC-H q2 shape (COVERAGE.md's q1-q22 row)",
    "layout_zorder_skipping": (
        "COVERAGE.md's logical z-order skipping proof; tests/test_layout.py "
        "checks it"
    ),
}


def _components() -> set[str]:
    return {c for fed in FEDERATIONS.values() for c in fed.components.values()}


def test_every_library_query_is_reached():
    reached = _components()
    unreached = sorted(
        name
        for name, spec in SPECS.items()
        if not spec.exported and name not in reached
        and name not in UNREACHED_ALLOWED
    )
    assert unreached == [], (
        "library queries that nothing exported reaches: delete each, make "
        "it a Federation component, or add it to UNREACHED_ALLOWED with a "
        f"reason: {unreached}"
    )


def test_allowlist_names_only_unreached_registered_queries():
    reached = _components()
    stale = sorted(
        name
        for name in UNREACHED_ALLOWED
        if name not in SPECS or SPECS[name].exported or name in reached
    )
    assert stale == [], f"UNREACHED_ALLOWED entries to drop: {stale}"
    assert all(reason.strip() for reason in UNREACHED_ALLOWED.values())
