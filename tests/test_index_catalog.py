"""The index catalog: each index is one ``CqlSession.index_names`` entry
(table, column, kind, option), and the restriction gate (``_meta``),
``system_schema.indexes``, DESCRIBE and snapshots all read it."""

from __future__ import annotations

import json
import os
import re
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession

SASI = "'org.apache.cassandra.index.sasi.SASIIndex'"
SAI = "'StorageAttachedIndex'"
_DDL_RE = re.compile(
    r"CREATE (CUSTOM )?INDEX (\w+) ON ([\w.]+) \((\w+)(?:\((\w+)\))?\)"
    r"(?: USING '([^']*)')?(?: WITH OPTIONS = \{'\w+': '(\w+)'\})?;"
)


def _views(s: CqlSession) -> tuple[set, dict, dict]:
    """The three readers' views of ``s``'s indexes: the gate's
    (table, column, kind, option) entries, ``system_schema.indexes``
    name → (table, target, kind class) and DESCRIBE's index lines
    name → (table, column, kind, option)."""
    gate = {
        (key, *e)
        for key, t in s.tables.items()
        for e in s._meta(t.schema, key).indexes
    }
    rows = {
        r.index_name: (f"{r.keyspace_name}.{r.table_name}", r.target, r.kind)
        for r in s.execute("SELECT * FROM system_schema.indexes").collect()
    }
    described = {}
    for key in s.tables:
        for r in s.execute(f"DESCRIBE TABLE {key}").collect():
            if r.type != "index":
                continue
            m = _DDL_RE.fullmatch(r.create_statement)
            assert m, r.create_statement
            custom, name, tbl, head, inner, cls, opt = m.groups()
            kind = (
                ("sasi" if "SASI" in cls else "sai") if custom
                else head.lower() if inner else "values"
            )
            described[name] = (tbl, inner or head, kind, opt)
    return gate, rows, described


def _assert_views_match(s: CqlSession, model: dict) -> None:
    gate, rows, described = _views(s)
    assert described == model
    assert gate == set(model.values())
    assert rows == {
        n: (t, f"{k.upper()}({c})" if k in ("keys", "entries", "full") else c,
            "CUSTOM" if k in ("sai", "sasi") else "COMPOSITES")
        for n, (t, c, k, _) in model.items()
    }


def test_create_index_if_not_exists_on_a_taken_name_is_a_noop(spark):
    s = CqlSession(spark, None)
    s.execute("CREATE TABLE t (k text PRIMARY KEY, v int, w int)")
    s.execute("CREATE INDEX a_idx ON t (v)")
    s.execute("CREATE INDEX IF NOT EXISTS a_idx ON t (v)")
    s.execute("CREATE INDEX IF NOT EXISTS a_idx ON t (w)")
    with pytest.raises(CQLError, match="already exists"):
        s.execute("CREATE INDEX a_idx ON t (w)")
    assert s.index_names == {"a_idx": ("session.t", "v", "values", None)}


def test_create_index_rejects_a_duplicate_target(spark):
    s = CqlSession(spark, None)
    s.execute("CREATE TABLE t (k text PRIMARY KEY, v int, m map<text, int>)")
    s.execute("CREATE INDEX a_idx ON t (v)")
    with pytest.raises(CQLError, match="duplicate of existing index 'a_idx'"):
        s.execute("CREATE INDEX b_idx ON t (v)")
    s.execute("CREATE INDEX IF NOT EXISTS ON t (v)")
    s.execute(f"CREATE CUSTOM INDEX sa ON t (v) USING {SAI}")
    with pytest.raises(CQLError, match="duplicate of existing index 'sa'"):
        s.execute(f"CREATE CUSTOM INDEX sb ON t (v) USING {SAI}")
    # another kind on the same column is another target
    s.execute("CREATE INDEX mk ON t (KEYS(m))")
    s.execute("CREATE INDEX mv ON t (VALUES(m))")
    with pytest.raises(CQLError, match="duplicate of existing index 'mk'"):
        s.execute("CREATE INDEX mk2 ON t (KEYS(m))")
    assert sorted(s.index_names) == ["a_idx", "mk", "mv", "sa"]
    # dropping one index leaves the gate and the listings agreeing
    s.execute("DROP INDEX a_idx")
    _assert_views_match(s, {
        "sa": ("session.t", "v", "sai", None),
        "mk": ("session.t", "m", "keys", None),
        "mv": ("session.t", "m", "values", None),
    })


# One DDL script covering every index kind and option. _PARENT_INDEXES is
# the index part of the snapshot manifest the script wrote before the
# index catalog became one registry; the manifest format is unchanged.
_SCRIPT = [
    "CREATE TABLE ix (k int, b int, c int, v text, n int, m map<text, int>, "
    "fl frozen<list<int>>, e list<float>, PRIMARY KEY ((k, b), c))",
    "CREATE INDEX ix_b ON ix (b)",
    "CREATE INDEX ix_v ON ix (v)",
    "CREATE INDEX ix_mv ON ix (VALUES(m))",
    "CREATE INDEX ix_mk ON ix (KEYS(m))",
    "CREATE INDEX ix_me ON ix (ENTRIES(m))",
    "CREATE INDEX ix_fl ON ix (FULL(fl))",
    f"CREATE CUSTOM INDEX ix_n ON ix (n) USING {SAI}",
    f"CREATE CUSTOM INDEX ix_e ON ix (e) USING {SAI} "
    "WITH OPTIONS = {'similarity_function': 'EUCLIDEAN'}",
    f"CREATE CUSTOM INDEX ix_vs ON ix (v) USING {SASI} "
    "WITH OPTIONS = {'mode': 'CONTAINS'}",
    f"CREATE CUSTOM INDEX ix_c ON ix (c) USING {SASI} "
    "WITH OPTIONS = {'mode': 'SPARSE'}",
    "CREATE TABLE ix2 (k int PRIMARY KEY, t text, u text)",
    f"CREATE CUSTOM INDEX ON ix2 (t) USING {SASI}",
    f"CREATE CUSTOM INDEX ix2_u ON ix2 (u) USING {SASI} "
    "WITH OPTIONS = {'mode': 'PREFIX'}",
    "INSERT INTO ix (k, b, c, v, n, m, fl, e) VALUES "
    "(1, 1, 1, 'abc', 5, {'a': 1}, [1, 2], [1.0, 0.0])",
    "INSERT INTO ix (k, b, c, v, n, m, fl, e) VALUES "
    "(2, 1, 2, 'xbz', 9, {'b': 2}, [3], [3.0, 4.0])",
    "INSERT INTO ix2 (k, t, u) VALUES (1, 'xy', 'xz')",
]
_PARENT_INDEXES = {
    "indexes": {
        "ix_b": ["session.ix", "b", "values"],
        "ix_v": ["session.ix", "v", "values"],
        "ix_mv": ["session.ix", "m", "values"],
        "ix_mk": ["session.ix", "m", "keys"],
        "ix_me": ["session.ix", "m", "entries"],
        "ix_fl": ["session.ix", "fl", "full"],
        "ix_n": ["session.ix", "n", "sai"],
        "ix_e": ["session.ix", "e", "sai"],
        "ix_vs": ["session.ix", "v", "sasi"],
        "ix_c": ["session.ix", "c", "sasi"],
        "ix2_t_idx": ["session.ix2", "t", "sasi"],
        "ix2_u": ["session.ix2", "u", "sasi"],
    },
    "index_options": {
        "sai_similarity": {"session.ix": {"e": "euclidean"}},
        "sasi_modes": {"session.ix": {"v": "CONTAINS", "c": "SPARSE"}},
    },
}
# reads whose outcome (rows or the gate's error) depends on the indexes
_GATED = [
    "SELECT k FROM ix WHERE b = 1",
    "SELECT k FROM ix WHERE v = 'abc'",
    "SELECT k FROM ix WHERE v LIKE '%b%'",
    "SELECT k FROM ix WHERE m CONTAINS 2",
    "SELECT k FROM ix WHERE m CONTAINS KEY 'a'",
    "SELECT k FROM ix WHERE m['a'] = 1",
    "SELECT k FROM ix WHERE fl = [1, 2]",
    "SELECT k FROM ix WHERE n > 6",
    "SELECT k FROM ix WHERE c LIKE '1%'",
    "SELECT k FROM ix WHERE c > 1",
    "SELECT k FROM ix ORDER BY e ANN OF [3.0, 4.0] LIMIT 1",
    "SELECT k FROM ix2 WHERE t LIKE 'x%'",
    "SELECT k FROM ix2 WHERE t LIKE '%y'",
    "SELECT k FROM ix2 WHERE u LIKE '%z'",
]


def _gate_outcomes(s: CqlSession) -> list:
    out = []
    for q in _GATED:
        try:
            out.append(sorted(r.k for r in s.execute(q).collect()))
        except CQLError as exc:
            out.append(str(exc))
    return out


def test_manifest_format_and_parent_manifest_restore(spark, tmp_path):
    s = CqlSession(spark, None)
    for stmt in _SCRIPT:
        s.execute(stmt)
    d = str(tmp_path / "snap")
    s.snapshot_keyspace(d)
    path = os.path.join(d, "manifest.json")
    with open(path) as f:
        mf = json.load(f)
    assert {k: mf[k] for k in _PARENT_INDEXES} == _PARENT_INDEXES
    before = _gate_outcomes(s)
    assert before[0] == [1, 2]  # the indexed partition-key component
    assert "SPARSE" in before[8] and "PREFIX" in before[12]
    assert before[10] == [2]  # euclidean ranks [3, 4] first
    # the index part as the parent wrote it restores to the same rows
    # and gate decisions
    mf.update(_PARENT_INDEXES)
    with open(path, "w") as f:
        json.dump(mf, f)
    s2 = CqlSession(spark, None)
    s2.restore_keyspace(d)
    rows = "SELECT * FROM system_schema.indexes"
    assert sorted(map(tuple, s2.execute(rows).collect())) == sorted(
        map(tuple, s.execute(rows).collect())
    )
    assert _gate_outcomes(s2) == before
    assert s2.index_names == s.index_names


# --- one state test: random DDL sequences against a model ------------------

_COLS = {  # column → its type, as (re-)added
    "v": "text", "n": "int", "m": "map<text, int>",
    "fl": "frozen<list<int>>", "e": "list<float>",
}
# (kind, column, DDL target, USING class, WITH OPTIONS text, option)
_TARGETS = [
    ("values", "b", "b", None, None, None),
    ("values", "v", "v", None, None, None),
    ("values", "c", "c", None, None, None),
    ("values", "m", "VALUES(m)", None, None, None),
    ("keys", "m", "KEYS(m)", None, None, None),
    ("entries", "m", "ENTRIES(m)", None, None, None),
    ("full", "fl", "FULL(fl)", None, None, None),
    ("sai", "n", "n", SAI, None, None),
    ("sai", "e", "e", SAI, "{'similarity_function': 'DOT_PRODUCT'}",
     "dot_product"),
    ("sasi", "v", "v", SASI, None, None),
    ("sasi", "v", "v", SASI, "{'mode': 'CONTAINS'}", "CONTAINS"),
    ("sasi", "n", "n", SASI, "{'mode': 'SPARSE'}", "SPARSE"),
]
_TABLE_DDL = (
    "CREATE TABLE {t} (k int, b int, c int, v text, n int, "
    "m map<text, int>, fl frozen<list<int>>, e list<float>, "
    "PRIMARY KEY ((k, b), c))"
)
_table = st.sampled_from(["t1", "t1", "t1", "t2"])
_create = st.tuples(
    st.just("create"), _table, st.sampled_from(_TARGETS),
    st.sampled_from([None, "i1", "i2"]), st.booleans(),
)
_op = st.one_of(
    _create,
    st.tuples(st.just("alter_drop"), _table, st.sampled_from(sorted(_COLS))),
    st.tuples(st.just("snapshot_restore")),
    st.tuples(
        st.just("drop_index"), st.sampled_from(["i1", "i2", "t1_v_idx"]),
        st.booleans(),
    ),
    st.tuples(st.just("alter_add"), _table, st.sampled_from(sorted(_COLS))),
    st.tuples(st.just("rename"), _table),
    st.tuples(st.just("drop_table"), _table),
    st.tuples(st.just("create_table"), _table),
)


def _step(s: CqlSession, op: tuple, model: dict, cols: dict) -> CqlSession:
    """Apply ``op`` to ``s`` and to the model (index name → entry; table
    → its current columns); returns the session to continue with."""
    kind = op[0]
    if kind == "snapshot_restore":
        s2 = CqlSession(s.spark, None)
        with tempfile.TemporaryDirectory() as d:
            s.snapshot_keyspace(d)
            s2.restore_keyspace(d)
        return s2
    key = None if kind == "drop_index" else f"session.{op[1]}"
    if kind == "create":
        _, t, (ikind, col, target, cls, opts, opt), name, ine = op
        stmt = (
            f"CREATE {'CUSTOM ' if cls else ''}INDEX "
            f"{'IF NOT EXISTS ' if ine else ''}{name or ''} ON {t} ({target})"
            f"{f' USING {cls}' if cls else ''}"
            f"{f' WITH OPTIONS = {opts}' if opts else ''}"
        )
        iname = name or f"{t}_{col}_idx"
        taken = iname in model or any(
            e[:3] == (key, col, ikind) for e in model.values()
        )
        missing = key not in cols or col not in cols[key]
        fails = missing or (taken and not ine)
        if not (missing or taken):
            model[iname] = (key, col, ikind, opt)
    elif kind == "drop_index":
        _, name, ie = op
        stmt = f"DROP INDEX {'IF EXISTS ' if ie else ''}{name}"
        fails = name not in model and not ie
        model.pop(name, None)
    elif kind == "alter_drop":
        col = op[2]
        stmt = f"ALTER TABLE {op[1]} DROP {col}"
        fails = key not in cols or col not in cols[key]
        if not fails:
            cols[key].discard(col)
            for n in [n for n, e in model.items() if e[:2] == (key, col)]:
                del model[n]
    elif kind == "alter_add":
        col = op[2]
        stmt = f"ALTER TABLE {op[1]} ADD {col} {_COLS[col]}"
        fails = key not in cols or col in cols[key]
        if not fails:
            cols[key].add(col)
    elif kind == "rename":
        # the clustering column toggles between c and c2; an indexed
        # column cannot be renamed
        src, dst = ("c", "c2") if key in cols and "c" in cols[key] \
            else ("c2", "c")
        stmt = f"ALTER TABLE {op[1]} RENAME {src} TO {dst}"
        fails = key not in cols or any(
            e[:2] == (key, src) for e in model.values()
        )
        if not fails:
            cols[key] = (cols[key] - {src}) | {dst}
    elif kind == "drop_table":
        stmt = f"DROP TABLE IF EXISTS {op[1]}"
        fails = False
        cols.pop(key, None)
        for n in [n for n, e in model.items() if e[0] == key]:
            del model[n]
    else:  # create_table
        stmt = _TABLE_DDL.format(t=op[1]).replace(
            "CREATE TABLE", "CREATE TABLE IF NOT EXISTS"
        )
        fails = False
        cols.setdefault(key, {"b", "c", *_COLS})
    if fails:
        with pytest.raises(CQLError):
            s.execute(stmt)
    else:
        s.execute(stmt)
    return s


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    setup=st.lists(_create, min_size=2, max_size=6),
    ops=st.lists(_op, min_size=1, max_size=8),
)
@example(setup=[], ops=[
    ("create", "t1", _TARGETS[8], None, False),
    ("create", "t1", _TARGETS[10], "i1", False),
    ("create", "t1", _TARGETS[4], "i2", True),
    ("snapshot_restore",),
    ("alter_drop", "t1", "m"),
    ("create", "t1", _TARGETS[9], None, True),
    ("rename", "t1"),
    ("drop_table", "t1"),
])
def test_index_views_agree_over_random_ddl(spark, setup, ops):
    """Random index DDL (``setup``, so the catalog starts non-empty),
    then random index, column and table DDL and snapshot restores
    (``ops``): after every step the gate, system_schema.indexes and
    DESCRIBE describe the model's indexes."""
    s = CqlSession(spark, None)
    s.execute(_TABLE_DDL.format(t="t1"))
    model: dict = {}
    cols = {"session.t1": {"b", "c", *_COLS}}
    for op in setup + ops:
        s = _step(s, op, model, cols)
        _assert_views_match(s, model)
