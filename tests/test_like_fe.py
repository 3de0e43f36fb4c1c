"""LIKE through the CQL FE: SASI is the only index class admitting it
(kind-faithful gate split vs SAI), prefix form pushes into the scan.
"""

from __future__ import annotations

import pytest

from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession
from tests.conftest import SF_SMOKE


def test_sasi_admits_like_sai_does_not(spark):
    s = CqlSession(spark, None)
    s.execute("CREATE TABLE lk (k int PRIMARY KEY, a text, b text, c text)")
    s.execute(
        "CREATE CUSTOM INDEX ON lk (a) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex' "
        "WITH OPTIONS = {'mode': 'CONTAINS'}"
    )
    s.execute("CREATE CUSTOM INDEX ON lk (b) USING 'StorageAttachedIndex'")
    s.execute("CREATE INDEX ON lk (c)")
    s.execute("INSERT INTO lk (k, a, b, c) VALUES (1, 'apple', 'x', 'y')")
    s.execute("INSERT INTO lk (k, a, b, c) VALUES (2, 'banana', 'x', 'y')")
    # SASI CONTAINS mode: prefix and infix forms both admitted
    assert s.execute(
        "SELECT k FROM lk WHERE a LIKE 'app%'"
    ).collect()[0].k == 1
    assert s.execute(
        "SELECT k FROM lk WHERE a LIKE '%nan%'"
    ).collect()[0].k == 2
    # SAI and plain 2i: LIKE demands ALLOW FILTERING
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        s.execute("SELECT k FROM lk WHERE b LIKE 'x%'")
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        s.execute("SELECT k FROM lk WHERE c LIKE 'y%'")
    # ALLOW FILTERING runs them anyway (the reference's escape hatch)
    assert s.execute(
        "SELECT k FROM lk WHERE b LIKE 'x%' ALLOW FILTERING"
    ).count() == 2
    # SAI keeps its own kinds: equality and range still pass on b
    assert s.execute("SELECT k FROM lk WHERE b = 'x'").count() == 2
    assert s.execute("SELECT k FROM lk WHERE b >= 'x'").count() == 2


def test_sasi_rejects_collections_and_drops_clean(spark):
    s = CqlSession(spark, None)
    s.execute("CREATE TABLE lc (k int PRIMARY KEY, tags set<text>, t text)")
    with pytest.raises(CQLError, match="collection"):
        s.execute(
            "CREATE CUSTOM INDEX ON lc (tags) USING "
            "'org.apache.cassandra.index.sasi.SASIIndex'"
        )
    s.execute(
        "CREATE CUSTOM INDEX ts ON lc (t) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex'"
    )
    s.execute("INSERT INTO lc (k, t) VALUES (1, 'zebra')")
    assert s.execute("SELECT k FROM lc WHERE t LIKE 'ze%'").count() == 1
    s.execute("DROP INDEX ts")
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        s.execute("SELECT k FROM lc WHERE t LIKE 'ze%'")


def test_prefix_like_pushes_into_parquet_scan(spark):
    """The 100 TB posture: Catalyst compiles LIKE 'pre%' to StartsWith
    and pushes it into the parquet source, so the scan prunes on column
    statistics instead of post-filtering every row."""
    sess = CqlSession(spark, SF_SMOKE)
    sess.execute(
        "CREATE CUSTOM INDEX ON documents (text) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex'"
    )
    df = sess.execute(
        "SELECT doc_id FROM documents WHERE text LIKE 'key %'"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "StartsWith(text,key )" in plan.replace("'", ""), plan
    assert "PushedFilters: [" in plan and "StringStartsWith" in plan, plan


def test_sasi_mode_bounds_like_shapes(spark):
    """SASI index MODE faithfulness: PREFIX (default) serves only
    'pre%'; CONTAINS serves infix/suffix too; SPARSE serves no LIKE."""
    s = CqlSession(spark, None)
    s.execute(
        "CREATE TABLE lm (k int PRIMARY KEY, p text, c text, n bigint)"
    )
    s.execute(
        "CREATE CUSTOM INDEX ON lm (p) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex'"
    )
    s.execute(
        "CREATE CUSTOM INDEX ON lm (c) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex' "
        "WITH OPTIONS = {'mode': 'CONTAINS'}"
    )
    s.execute(
        "CREATE CUSTOM INDEX ON lm (n) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex' "
        "WITH OPTIONS = {'mode': 'SPARSE'}"
    )
    s.execute("INSERT INTO lm (k, p, c, n) VALUES (1, 'alpha', 'beta', 7)")
    # PREFIX mode: prefix passes, infix/suffix raise the mode error
    assert s.execute("SELECT k FROM lm WHERE p LIKE 'al%'").count() == 1
    for bad in ("'%pha'", "'%lph%'", "'%'"):
        with pytest.raises(CQLError, match="PREFIX"):
            s.execute(f"SELECT k FROM lm WHERE p LIKE {bad}")
    # CONTAINS mode: all shapes pass
    assert s.execute("SELECT k FROM lm WHERE c LIKE '%et%'").count() == 1
    assert s.execute("SELECT k FROM lm WHERE c LIKE '%ta'").count() == 1
    # SPARSE mode: no LIKE at all, but ranges still index-admitted
    with pytest.raises(CQLError, match="SPARSE"):
        s.execute("SELECT k FROM lm WHERE n LIKE '7%'")
    assert s.execute("SELECT k FROM lm WHERE n >= 7").count() == 1
    # unknown mode rejected at DDL
    s.execute("ALTER TABLE lm ADD z text")
    with pytest.raises(CQLError, match="unknown SASI mode"):
        s.execute(
            "CREATE CUSTOM INDEX ON lm (z) USING "
            "'org.apache.cassandra.index.sasi.SASIIndex' "
            "WITH OPTIONS = {'mode': 'FUZZY'}"
        )


def test_prefix_like_probes_segment_string_ranges(spark, tmp_path):
    """SASI prefix LIKE is index-SERVED on session tables: segments
    whose lexicographic [min, max] string range cannot hold the prefix
    are skipped without reading data, and the candidate-pk reconcile
    returns exactly the matching partitions."""
    s = CqlSession(spark, None, spill_dir=str(tmp_path), spill_threshold=4)
    s.execute("CREATE TABLE sg (k int PRIMARY KEY, t text)")
    s.execute(
        "CREATE CUSTOM INDEX ON sg (t) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex'"
    )
    words = ["apple", "apricot", "banana", "cherry", "date", "elder",
             "fig", "grape", "avocado", "berry", "cedar", "dew"]
    for i, w in enumerate(words):
        s.execute(f"INSERT INTO sg (k, t) VALUES ({i}, '{w}')")
    tbl = s.table("sg")
    assert len(tbl._segments) >= 2, "fixture must flush multiple segments"
    tbl.index_stats.update(checked=0, range_skipped=0)
    got = {r.k for r in s.execute(
        "SELECT k FROM sg WHERE t LIKE 'ap%'"
    ).collect()}
    assert got == {0, 1}
    assert tbl.index_stats["checked"] > 0
    assert tbl.index_stats["range_skipped"] > 0, (
        "segments outside the 'ap' prefix interval must be stat-skipped"
    )
    # '_' wildcard patterns bypass the probe but stay correct
    assert {r.k for r in s.execute(
        "SELECT k FROM sg WHERE t LIKE 'a_ple%'"
    ).collect()} == {0}
    # unflushed (log-resident) rows are probed too
    s.execute("INSERT INTO sg (k, t) VALUES (99, 'apogee')")
    got2 = {r.k for r in s.execute(
        "SELECT k FROM sg WHERE t LIKE 'ap%'"
    ).collect()}
    assert got2 == {0, 1, 99}


def test_index_options_roundtrip_describe_and_snapshot(spark, tmp_path):
    """SASI mode and SAI similarity survive DESCRIBE re-emission AND
    snapshot/restore — a restored CONTAINS-mode index keeps admitting
    infix LIKE (pre-round-12 manifests revert to defaults, documented)."""
    s = CqlSession(spark, None)
    s.execute("CREATE TABLE io (k int PRIMARY KEY, t text, e list<float>)")
    s.execute(
        "CREATE CUSTOM INDEX ti ON io (t) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex' "
        "WITH OPTIONS = {'mode': 'CONTAINS'}"
    )
    s.execute(
        "CREATE CUSTOM INDEX ei ON io (e) USING 'StorageAttachedIndex' "
        "WITH OPTIONS = {'similarity_function': 'DOT_PRODUCT'}"
    )
    s.execute("INSERT INTO io (k, t) VALUES (1, 'middle')")
    ddls = {
        r.name: r.create_statement
        for r in s.execute("DESCRIBE TABLE io").collect()
        if r.type == "index"
    }
    assert "WITH OPTIONS = {'mode': 'CONTAINS'}" in ddls["ti"]
    assert (
        "WITH OPTIONS = {'similarity_function': 'dot_product'}"
        in ddls["ei"]
    )
    d = str(tmp_path / "snap")
    s.snapshot_keyspace(d)
    s2 = CqlSession(spark, None)
    s2.restore_keyspace(d)
    # infix LIKE still admitted after restore (CONTAINS mode survived)
    assert s2.execute("SELECT k FROM io WHERE t LIKE '%ddl%'").count() == 1
    assert s2.index_names["ei"] == ("session.io", "e", "sai", "dot_product")
