"""Layout tests: the Morton math must be the textbook interleave (two
and N dimensions), and the audits' simulated layouts must show the
z-order skipping win. The physical half, footer statistics of
z-ordered files, is tested on the versioned store
(tests/test_versioning.py::test_zorder_compaction_clusters_files) and
on the published corpus (tests/test_corpus_build.py)."""

from pyspark.sql import functions as F

from engine.operators.layout import layout_zorder_skipping, with_zorder
from tests.conftest import SF_SMOKE


def _interleave(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_matches_textbook_interleave(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321)],
        "x long, y long",
    )
    rows = with_zorder(df, "x", "y").collect()
    for r in rows:
        # full-range corners pin the grid to identity here
        assert r.z == _interleave(r.gx, r.gy)
    corner = {(r.gx, r.gy): r.z for r in rows}
    assert corner[(65535, 65535)] == (1 << 32) - 1


def test_audit_shows_zorder_skipping_win(spark):
    got = {
        r.layout: r
        for r in layout_zorder_skipping(spark, SF_SMOKE).collect()
        if r.facet == "zo2"
    }
    assert set(got) == {"linear", "zorder"}
    lin, zo = got["linear"], got["zorder"]
    assert lin.n_rows == zo.n_rows  # same data, different layout
    # the whole point: mixed-dimension probes scan far fewer z-files
    assert zo.files_hit < lin.files_hit
    assert zo.rows_hit < lin.rows_hit


def test_morton_n_dims_matches_reference_interleave(spark):
    """The N-dim fold must place bit i of dim d at position i*N+d, and
    a 3-dim z-sort must cluster all three dimensions (each dim's
    neighborhood shrinks vs a random order)."""
    from engine.operators.layout import morton_n_expr

    def ref_z(vals, bits):
        z = 0
        for i in range(bits):
            for d, v in enumerate(vals):
                z |= ((v >> i) & 1) << (i * len(vals) + d)
        return z

    df = spark.createDataFrame(
        [(1, 2, 3), (7, 0, 5), (2**21 - 1, 2**21 - 1, 2**21 - 1), (0, 0, 0)],
        "a long, b long, c long",
    )
    rows = df.withColumn(
        "z", F.expr(morton_n_expr(["a", "b", "c"])).cast("bigint")
    ).collect()
    for r in rows:
        assert r.z == ref_z((r.a, r.b, r.c), 21), r
    # 63-bit safety: the all-max corner is the largest 63-bit value
    assert max(r.z for r in rows) == (1 << 63) - 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        morton_n_expr(["a"])
    with _pytest.raises(ValueError):
        morton_n_expr(["a", "b", "c"], bits=22)


def test_three_dim_audit_serves_all_dimensions(spark):
    from engine.operators.layout import layout_zorder3_skipping

    got = {
        r.layout: r
        for r in layout_zorder3_skipping(spark, SF_SMOKE).collect()
    }
    assert set(got) == {"linear", "zorder3"}
    lin, zo = got["linear"], got["zorder3"]
    assert lin.n_rows == zo.n_rows
    # 12 single-dimension probes: the single-key layout answers only
    # its own dimension's 4; the 3-dim z-order answers all 12
    assert zo.files_hit < lin.files_hit
    assert zo.rows_hit < lin.rows_hit
