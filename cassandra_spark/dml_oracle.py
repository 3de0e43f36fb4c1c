"""DuckDB oracle generator for the CQL DML front-end.

``dml_oracle_sql(schema, log, asof)`` emits ANSI SQL (DuckDB dialect) that
reconciles a pinned mutation-log VALUES literal with EXACTLY the rules
:meth:`cassandra_spark.cql_dml.CqlTable.snapshot` implements on Spark:
per-cell LWW (writetime desc, tombstone beats write, arrival seq), TTL
expiry at ``asof``, row / range / partition / collection tombstone
shadowing, static-column reconciliation, typed key columns, and collection
assembly (lists by position, sets sorted-distinct, maps as key-sorted
entries). Collection columns are rendered ``to_json`` so both engines emit
byte-identical strings; the Spark-side replay queries project the same
form (``to_json(col)`` / ``to_json(map_entries(col))``).

The replay tests pin parser-output ≡ VALUES literal, so a green driver
check proves both engines reconciled identical inputs identically.
"""

from __future__ import annotations

import re

from cassandra_spark.cql_dml import ColumnTable, TableSchema, parse_struct_type

_DUCK_TYPES = {
    "tinyint": "TINYINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "long": "BIGINT",
    "float": "DOUBLE",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
}


def _dt(typ: str) -> str:
    dm = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", typ.lower())
    if dm:
        return f"DECIMAL({dm.group(1)},{dm.group(2)})"
    try:
        return _DUCK_TYPES[typ.lower()]
    except KeyError:
        raise ValueError(f"no DuckDB mapping for type {typ!r}")


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def _values(log) -> str:
    return ",\n        ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in log
    )


def _range_cover_sql(schema: TableSchema) -> str:
    """Join predicate: range tombstone t covers row key k (the rule
    cql_dml._range_covers states in Python). ck arrays are 1-based in
    DuckDB."""
    branches = []
    for i, col in enumerate(schema.clustering):
        t = _dt(schema.key_type(col))
        v = f"CAST(k.ck_arr[{i + 1}] AS {t})"
        lo_ok = (
            f"(t.lo IS NULL OR (CASE WHEN t.lo_incl "
            f"THEN {v} >= CAST(t.lo AS {t}) "
            f"ELSE {v} > CAST(t.lo AS {t}) END))"
        )
        hi_ok = (
            f"(t.hi IS NULL OR (CASE WHEN t.hi_incl "
            f"THEN {v} <= CAST(t.hi AS {t}) "
            f"ELSE {v} < CAST(t.hi AS {t}) END))"
        )
        branches.append(f"(len(t.pref) = {i} AND {lo_ok} AND {hi_ok})")
    per_k = " OR ".join(branches) if branches else "FALSE"
    return (
        "k.ck_arr[1:len(t.pref)] = t.pref "
        f"AND ((t.lo IS NULL AND t.hi IS NULL) OR {per_k})"
    )


def dml_oracle_sql(schema: TableSchema, log, asof: int) -> str:
    """Full reconcile of ``log`` (13-column mutation rows) into the visible
    table. Output columns: partition key, clustering columns (typed),
    scalar regulars (typed), collection regulars as JSON strings, static
    columns (typed) — matching ``snapshot()`` projected the same way."""
    s = schema
    ct = ColumnTable(s)
    scalars = ct.scalar_regular
    colls = ct.coll_regular

    scalar_pivots = []
    for c, typ in scalars.items():
        if c in s.nonfrozen:
            # NON-FROZEN UDT (round 13): per-FIELD cells, merged by the
            # shared (pk, ck, col, elem) LWW window like map entries;
            # the canonical JSON assembles in declared field order with
            # dead fields omitted — byte-identical to Spark's
            # to_json(named_struct(...)) of the snapshot's struct
            fields = parse_struct_type(typ)
            parts = []
            for fn, ftype in fields:
                fval = (
                    f"max(CASE WHEN col = '{c}' AND elem = '{fn}' "
                    f"THEN val END)"
                )
                if parse_struct_type(ftype) is not None:
                    rendered = fval  # nested frozen struct: raw JSON
                elif _dt(ftype) == "VARCHAR":
                    rendered = f"to_json({fval})"  # quoted + escaped
                else:
                    rendered = f"CAST(CAST({fval} AS {_dt(ftype)}) AS VARCHAR)"
                parts.append(
                    f"CASE WHEN {fval} IS NOT NULL "
                    f"THEN '\"{fn}\":' || {rendered} END"
                )
            joined = ", ".join(parts)
            scalar_pivots.append(
                f"CASE WHEN count(CASE WHEN col = '{c}' THEN 1 END) > 0 "
                f"THEN '{{' || concat_ws(',', {joined}) || '}}' END AS {c}"
            )
        elif parse_struct_type(typ) is not None:
            # struct cells carry canonical JSON; the Spark replay query
            # projects to_json(col), so both sides compare the same string
            scalar_pivots.append(
                f"max(CASE WHEN col = '{c}' THEN val END) AS {c}"
            )
        else:
            scalar_pivots.append(
                f"CAST(max(CASE WHEN col = '{c}' THEN val END) AS {_dt(typ)}) AS {c}"
            )
    coll_pivots = []
    for c, (ckind, t1, t2) in colls.items():
        # casts live inside CASE: the aggregate argument is evaluated before
        # FILTER prunes other columns' rows, and their values need not cast
        guard = f"col = '{c}'"
        if ckind == "list":
            coll_pivots.append(
                f"to_json(list(CASE WHEN {guard} "
                f"THEN CAST(val AS {_dt(t1)}) END ORDER BY elem) "
                f"FILTER (WHERE {guard})) AS {c}"
            )
        elif ckind == "set":
            coll_pivots.append(
                f"to_json(list_sort(list_distinct("
                f"list(CASE WHEN {guard} THEN CAST(val AS {_dt(t1)}) END) "
                f"FILTER (WHERE {guard})))) AS {c}"
            )
        else:  # map → key-sorted entry structs, same shape as map_entries()
            coll_pivots.append(
                f"to_json(list(CASE WHEN {guard} THEN "
                f"struct_pack(key := CAST(elem AS {_dt(t1)}), "
                f"value := CAST(val AS {_dt(t2)})) END "
                f"ORDER BY CASE WHEN {guard} THEN CAST(elem AS {_dt(t1)}) END) "
                f"FILTER (WHERE {guard})) AS {c}"
            )

    key_select = [f"r.pk AS {s.partition_key}"] if s.partition_key != "pk" else ["r.pk"]
    for i, c in enumerate(s.clustering):
        key_select.append(
            f"CAST(string_split(r.ck, chr(31))[{i + 1}] AS "
            f"{_dt(s.key_type(c))}) AS {c}"
        )
    body_select = [f"r.{c}" for c in scalars] + [f"r.{c}" for c in colls]

    static_sql = ""
    static_select = []
    lonely_sql = ""
    if s.static:
        static_pivots = ", ".join(
            (
                f"max(CASE WHEN col = '{c}' THEN val END) AS {c}"
                if parse_struct_type(t) is not None
                else f"CAST(max(CASE WHEN col = '{c}' THEN val END) "
                f"AS {_dt(t)}) AS {c}"
            )
            for c, t in s.static.items()
        )
        static_sql = f""",
swin AS (
    SELECT *, row_number() OVER (
        PARTITION BY pk, col
        ORDER BY writetime DESC, (kind = 'cell_tomb') DESC, seq DESC
    ) AS rn
    FROM log WHERE ck IS NULL AND kind IN ('cell', 'cell_tomb')
),
stat AS (
    SELECT w.pk, {static_pivots}
    FROM swin w
    LEFT JOIN part_tombs p ON w.pk = p.pk
    WHERE w.rn = 1 AND w.kind <> 'cell_tomb'
      AND (w.ttl = 0 OR w.writetime + w.ttl > {asof})
      AND (p.pt IS NULL OR w.writetime > p.pt)
    GROUP BY w.pk
)"""
        static_select = [f"st.{c}" for c in s.static]
        null_keys = ", ".join(
            f"CAST(NULL AS {_dt(s.key_type(c))}) AS {c}" for c in s.clustering
        )
        null_body = ", ".join(
            [
                f"CAST(NULL AS "
                f"{'VARCHAR' if parse_struct_type(t) is not None else _dt(t)}"
                f") AS {c}"
                for c, t in scalars.items()
            ]
            + [f"CAST(NULL AS VARCHAR) AS {c}" for c in colls]
        )
        pk_alias = (
            f"st.pk AS {s.partition_key}" if s.partition_key != "pk" else "st.pk"
        )
        lonely_parts = [pk_alias]
        if null_keys:
            lonely_parts.append(null_keys)
        if null_body:
            lonely_parts.append(null_body)
        lonely_parts += [f"st.{c}" for c in s.static]
        lonely_sql = f"""
UNION ALL
SELECT {', '.join(lonely_parts)}
FROM stat st
WHERE st.pk NOT IN (SELECT pk FROM rows_wide)"""

    join_static = "LEFT JOIN stat st ON r.pk = st.pk" if s.static else ""
    select_list = ", ".join(key_select + body_select + static_select)
    pivots = ", ".join(scalar_pivots + coll_pivots) or "1 AS __dummy"

    return f"""
WITH log(pk, ck, col, elem, val, kind, writetime, ttl, seq,
         lo, hi, lo_incl, hi_incl) AS (
    VALUES
        {_values(log)}
),
part_tombs AS (
    SELECT pk, max(writetime) AS pt FROM log
    WHERE kind = 'part_tomb' GROUP BY pk
),
row_tombs AS (
    SELECT pk, ck, max(writetime) AS rt FROM log
    WHERE kind = 'row_tomb' GROUP BY pk, ck
),
coll_tombs AS (
    SELECT pk, ck, col, max(writetime) AS gt FROM log
    WHERE kind = 'coll_tomb' GROUP BY pk, ck, col
),
range_tombs AS (
    SELECT pk,
           CASE WHEN ck = '' THEN CAST([] AS VARCHAR[])
                ELSE string_split(ck, chr(31)) END AS pref,
           lo, hi, lo_incl, hi_incl, writetime
    FROM log WHERE kind = 'range_tomb'
),
rkeys AS (
    SELECT DISTINCT pk, ck, string_split(ck, chr(31)) AS ck_arr
    FROM log
    WHERE ck IS NOT NULL AND kind IN ('cell', 'marker', 'cell_tomb')
),
rcov AS (
    SELECT k.pk, k.ck, max(t.writetime) AS rg
    FROM rkeys k JOIN range_tombs t
      ON k.pk = t.pk AND {_range_cover_sql(s)}
    GROUP BY k.pk, k.ck
),
winners AS (
    SELECT *, row_number() OVER (
        PARTITION BY pk, ck, col, elem
        ORDER BY writetime DESC, (kind = 'cell_tomb') DESC, seq DESC
    ) AS rn
    FROM log
    WHERE ck IS NOT NULL AND kind IN ('cell', 'marker', 'cell_tomb')
),
live AS (
    SELECT w.* FROM winners w
    LEFT JOIN part_tombs p ON w.pk = p.pk
    LEFT JOIN row_tombs r ON w.pk = r.pk AND w.ck = r.ck
    LEFT JOIN rcov g ON w.pk = g.pk AND w.ck = g.ck
    LEFT JOIN coll_tombs ct
      ON w.pk = ct.pk AND w.ck = ct.ck AND w.col = ct.col
    WHERE w.rn = 1 AND w.kind <> 'cell_tomb'
      AND (w.ttl = 0 OR w.writetime + w.ttl > {asof})
      AND (p.pt IS NULL OR w.writetime > p.pt)
      AND (r.rt IS NULL OR w.writetime > r.rt)
      AND (g.rg IS NULL OR w.writetime > g.rg)
      AND (ct.gt IS NULL OR w.writetime > ct.gt)
),
rows_wide AS (
    SELECT pk, ck, {pivots}
    FROM live GROUP BY pk, ck
){static_sql}
SELECT {select_list}
FROM rows_wide r {join_static}{lonely_sql}
"""
