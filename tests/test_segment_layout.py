"""The driver partition read's segment side: ``_mut_rows`` decodes a
pyarrow mutation table into exactly the tuples ``to_pylist`` gives (same
values, same Python types), and the per-segment open file and token
summary (``CqlTable._seg_files``) and every other per-segment cache live
exactly as long as the segment does."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from cassandra_spark.cql_dml import _MUT_COLS, _mut_rows, _mut_table, mut_row
from cassandra_spark.cql_session import CqlSession


def _pylist_rows(tbl) -> list[tuple]:
    return list(zip(*(tbl.column(c).to_pylist() for c in _MUT_COLS)))


def _assert_exact(tbl) -> None:
    got, want = _mut_rows(tbl), _pylist_rows(tbl)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w
        # a float ttl or a NaN for NULL compares wrong by type
        assert [type(v) for v in g] == [type(v) for v in w]


def test_mut_rows_matches_to_pylist_exactly(tmp_path):
    rows = [
        mut_row("a", "x", "v", "1", "cell", 10, 0, 1),
        mut_row("a", "x", "v", "2", "cell", 11, 30, 2),
        mut_row("a", None, None, None, "part_tomb", 12, None, 3),
        mut_row("b", "x", None, None, "range_tomb", 13, None, 4,
                lo="x", hi=None, lo_incl=True, hi_incl=None),
        mut_row("b", "y", None, None, "range_tomb", 14, 5, 5,
                lo=None, hi="z", lo_incl=None, hi_incl=False),
        mut_row(None, "z", "m", None, "cell_tomb", 2**62, None, 6),
    ]
    tbl = _mut_table(rows)
    assert tbl.column("ttl").null_count and tbl.column("lo_incl").null_count
    assert tbl.column("elem").null_count == tbl.num_rows  # all-null column
    _assert_exact(tbl)
    assert _mut_rows(tbl) == rows
    # multi-chunk columns, as a read of several row groups returns them
    path = str(tmp_path / "s.parquet")
    pq.write_table(tbl, path, row_group_size=2)
    _assert_exact(pq.ParquetFile(path).read_row_groups([0, 2]))
    # no nulls in any int column, and zero rows
    _assert_exact(_mut_table(rows[:2]))
    _assert_exact(tbl.slice(0, 0))
    empty = pa.table({c: pa.chunked_array([], tbl.schema.field(c).type)
                      for c in _MUT_COLS})
    assert _mut_rows(empty) == []


def test_segment_handles_go_with_their_segments(spark, tmp_path):
    """A compaction retires its inputs' handles, purge_retired deletes
    the files, and a pinned read and an LWT afterwards see the merged
    segment only; TRUNCATE drops every handle and cache entry."""
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute("CREATE TABLE t (k text, c int, v int, PRIMARY KEY (k, c))")
    t = sess.table("t")
    for f in range(3):
        for i in range(20):
            sess.execute(
                f"INSERT INTO t (k, c, v) VALUES ('k{i % 7}', {i}, {f})"
            )
        t.flush()
    point = "SELECT c, v FROM t WHERE k = 'k3'"
    want = [tuple(r) for r in sess.execute(point).collect()]
    assert want == [(3, 2), (10, 2), (17, 2)]
    assert set(t._seg_files) == set(t._segments)
    t.compact_segments()
    assert not set(t._seg_files) & set(t._retired)
    assert t.purge_retired() == 3
    assert [tuple(r) for r in sess.execute(point).collect()] == want
    assert sess.execute(
        "UPDATE t SET v = 9 WHERE k = 'k3' AND c = 10 IF v = 2"
    ) is True
    assert sess.execute(
        "UPDATE t SET v = 8 WHERE k = 'k3' AND c = 10 IF v = 2"
    ) is False
    assert [tuple(r) for r in sess.execute(point).collect()] == [
        (3, 2), (10, 9), (17, 2)
    ]
    assert set(t._seg_files) <= set(t._segments)
    sess.execute("TRUNCATE t")
    for cache in (t._seg_files, t._blooms, t._seg_tokens, t._seg_level,
                  t._value_blooms, t._value_ranges):
        assert cache == {}
    assert t._segments == [] and t._retired == []
    assert sess.execute(point).collect() == []
