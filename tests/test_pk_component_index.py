"""Secondary indexes on composite partition-key COMPONENTS (round 13;
`[C* cql3/statements/CreateIndexStatement — rejects only the sole
partition-key column, unverified]`): an indexed component admits a lone
equality restriction without ALLOW FILTERING."""

import pytest

from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession


def _sess(spark):
    s = CqlSession(spark, None)
    s.execute(
        "CREATE TABLE pki (region text, bucket int, ck int, v int, "
        "PRIMARY KEY ((region, bucket), ck))"
    )
    for region, bucket, ck, v in [
        ("eu", 1, 1, 10), ("eu", 2, 1, 20), ("us", 1, 1, 30),
        ("us", 2, 1, 40), ("eu", 1, 2, 50),
    ]:
        s.execute(
            f"INSERT INTO pki (region, bucket, ck, v) VALUES "
            f"('{region}', {bucket}, {ck}, {v})"
        )
    return s


def test_component_index_admits_lone_equality(spark):
    s = _sess(spark)
    # unindexed: a partial partition restriction demands ALLOW FILTERING
    with pytest.raises(CQLError, match="partially restricted"):
        s.execute("SELECT v FROM pki WHERE region = 'eu'")
    s.execute("CREATE INDEX pki_region ON pki (region)")
    got = {
        (r.bucket, r.ck, r.v)
        for r in s.execute(
            "SELECT bucket, ck, v FROM pki WHERE region = 'eu'"
        ).collect()
    }
    assert got == {(1, 1, 10), (2, 1, 20), (1, 2, 50)}
    assert s.index_names["pki_region"] == ("session.pki", "region", "values", None)
    # full-key queries still work as point reads
    got = s.execute(
        "SELECT v FROM pki WHERE region = 'eu' AND bucket = 1 AND ck = 2"
    ).collect()
    assert [r.v for r in got] == [50]


def test_component_index_gates(spark):
    s = _sess(spark)
    s.execute("CREATE INDEX ON pki (bucket)")
    # a RANGE on the indexed component still demands filtering (plain-2i
    # kind rule: equality only)
    with pytest.raises(CQLError):
        s.execute("SELECT v FROM pki WHERE bucket > 0")
    assert s.execute(
        "SELECT v FROM pki WHERE bucket > 0 ALLOW FILTERING"
    ).count() == 5
    # the sole partition-key column of a non-composite table is not
    # indexable (the reference's only rejection)
    s.execute("CREATE TABLE solo (pk int PRIMARY KEY, v int)")
    with pytest.raises(CQLError, match="only.*partition key"):
        s.execute("CREATE INDEX ON solo (pk)")
    # custom index classes still reject partition components
    with pytest.raises(CQLError, match="partition key"):
        s.execute(
            "CREATE CUSTOM INDEX ON pki (region) "
            "USING 'StorageAttachedIndex'"
        )
    # KEYS()/ENTRIES() kinds make no sense on a scalar component
    with pytest.raises(CQLError, match="plain column target"):
        s.execute("CREATE INDEX ON pki (KEYS(region))")


def test_component_index_eq_on_both_components(spark):
    """Both components indexed: each admits a lone equality; restricting
    both (the full key, via indexes) is just the full-key path."""
    s = _sess(spark)
    s.execute("CREATE INDEX ON pki (region)")
    s.execute("CREATE INDEX ON pki (bucket)")
    got = {
        (r.region, r.ck)
        for r in s.execute(
            "SELECT region, ck FROM pki WHERE bucket = 1"
        ).collect()
    }
    assert got == {("eu", 1), ("eu", 2), ("us", 1)}
    # DROP INDEX restores the gate
    s.execute("DROP INDEX pki_region_idx")
    with pytest.raises(CQLError, match="partially restricted"):
        s.execute("SELECT v FROM pki WHERE region = 'eu'")
