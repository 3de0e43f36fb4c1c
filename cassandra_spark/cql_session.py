"""CqlSession: one CQL endpoint over the whole engine.

A user of the reference talks to a session: DDL declares tables, DML
mutates them, SELECT reads them. This module stitches the engine's three
front-ends into that single surface:

- ``CREATE TABLE`` (subset: composite partition keys, composite
  clustering, STATIC columns, collection/tuple/UDT types, counter
  tables) compiles to a :class:`cassandra_spark.cql_dml.TableSchema`;
- INSERT / UPDATE / DELETE / BATCH route to the table's
  :class:`~cassandra_spark.cql_dml.CqlTable` mutation log (LWT flags
  returned as in the reference);
- SELECT compiles through :func:`cassandra_spark.cql.cql_select`, reading
  EITHER a session-created table's visible snapshot (whose native
  ``__writetime_*`` shadow columns make ``WRITETIME()``/``TTL()``
  selectors real data, not synthesis) OR the parquet fixture catalog.

Statement lifecycle mirrors SURVEY.md §3.1 entry points 1+2 with Catalyst
as the entire back half — parse/validate here, plan/optimize/execute in
Spark.

Scale posture: the session object holds only schemas and driver-side
mutation logs (inherently row-at-a-time arrivals); every read plan is
distributed. A 100 TB deployment swaps the log for a stream + compacted
table (streaming/jobs.py, operators/compaction.py) behind the same
surface.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_spark.catalog import TableMeta
from cassandra_spark.cql import CQLError, cql_select
from cassandra_spark.cql_dml import (
    _BATCH_RE,
    DURATION_STRUCT,
    CqlTable,
    TableSchema,
    is_coll_type,
    parse_coll_type,
    parse_struct_type,
)

# CQL type → engine (Spark-cast) type. Keys/values of collections map the
# same way. blob arrives as its hex/string form (documented simplification:
# the mutation log carries canonical strings).
_CQL_TYPES = {
    "ascii": "string",
    "text": "string",
    "varchar": "string",
    "uuid": "string",
    "timeuuid": "string",
    "inet": "string",
    "blob": "string",
    "tinyint": "tinyint",
    "smallint": "smallint",
    "int": "int",
    "bigint": "bigint",
    "varint": "decimal(38,0)",
    "counter": "bigint",
    "float": "float",
    "double": "double",
    "decimal": "decimal(38,18)",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    # deliberately ABSENT: `time`. A text mapping looks right until
    # mixed-precision literals ('09:00:00' vs '09:00:00.000' — equal
    # instants in the reference's int64-nanos encoding) mis-compare;
    # faithful support needs literal canonicalization at every parse
    # site (INSERT/UPDATE, DML WHERE, LWT IF, SELECT WHERE). Until that
    # lands, the type errors out clearly instead of behaving subtly
    # differently from the reference.
}


def _map_type(cql_type: str, udts: dict[str, str] | None = None) -> str:
    """CQL type text → Spark type text. ``udts`` maps CREATE TYPE names to
    their struct types; tuples map to struct<c0:..,c1:..> (always frozen in
    the reference) and duration to the (months, days, nanos) struct
    `[C* cql3/Duration, unverified]`."""
    t = cql_type.strip().lower()
    t = re.sub(r"^frozen\s*<(.+)>$", r"\1", t).strip()  # frozen-ness: none
    if t == "duration":
        return DURATION_STRUCT
    m = re.fullmatch(r"tuple\s*<(.+)>", t)
    if m:
        inner = _split_generics(m.group(1))
        fields = ", ".join(
            f"c{i}: {_map_type(p, udts)}" for i, p in enumerate(inner)
        )
        return f"struct<{fields}>"
    m = re.fullmatch(r"vector\s*<\s*(\w+)\s*,\s*\d+\s*>", t)
    if m:
        # Cassandra 5 vector<T, n> (`[C* db/marshal/VectorType,
        # unverified]`): fixed dimension enforced at write time by the
        # reference; the engine maps to list<T> (dimension is metadata)
        return f"list<{_map_type(m.group(1), udts)}>"
    m = re.fullmatch(r"(list|set|map)\s*<(.+)>", t)
    if m:
        inner = _split_generics(m.group(2))
        mapped = ", ".join(_map_type(i, udts) for i in inner)
        return f"{m.group(1)}<{mapped}>"
    if udts and t in udts:
        return udts[t]
    if t not in _CQL_TYPES:
        raise CQLError(f"unsupported CQL type {cql_type!r}")
    return _CQL_TYPES[t]


def _validate_nested_frozen(
    raw: str, col: str, udts: dict[str, str] | None = None
) -> None:
    """Enforce the reference's nesting rule on a RAW CQL collection type:
    a collection directly inside a non-frozen collection must be spelled
    ``frozen<...>`` (`[C* cql3/CQL3Type.Raw — "Non-frozen collections
    are not allowed inside collections", unverified]`). A frozen OUTER
    collection freezes everything inside it, so no inner spelling is
    required there."""
    t = raw.strip()
    if re.fullmatch(r"frozen\s*<.+>", t, re.IGNORECASE | re.DOTALL):
        return  # inside frozen, everything is frozen
    m = re.fullmatch(
        r"\s*(list|set|map)\s*<(.+)>\s*", t, re.IGNORECASE | re.DOTALL
    )
    if not m:
        return
    for p in _split_generics(m.group(2)):
        p = p.strip()
        if re.match(r"^(list|set|map)\s*<", p, re.IGNORECASE):
            raise CQLError(
                f"non-frozen collections are not allowed inside "
                f"collections: column {col!r} ({t}) — wrap the inner "
                "collection in frozen<>"
            )


def _split_generics(text: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in text:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    out.append("".join(cur))
    return [t.strip() for t in out if t.strip()]


_CREATE_HEAD_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?:\w+\.)?(?P<name>\w+)\s*\(",
    re.IGNORECASE,
)


def _create_parts(stmt: str):
    """(name, body) with the column list extracted by balanced-paren scan —
    a greedy regex would swallow the WITH clause's parentheses."""
    hm = _CREATE_HEAD_RE.match(stmt)
    if not hm:
        return None
    depth, start = 1, hm.end()
    for i in range(start, len(stmt)):
        if stmt[i] == "(":
            depth += 1
        elif stmt[i] == ")":
            depth -= 1
            if depth == 0:
                rest = stmt[i + 1 :].strip().rstrip(";").strip()
                if rest and not re.match(r"^WITH\b", rest, re.IGNORECASE):
                    return None
                return hm.group("name").lower(), stmt[start:i], rest
    return None


def parse_create_table(
    stmt: str, udts: dict[str, str] | None = None
) -> TableSchema:
    """CREATE TABLE subset → TableSchema. Composite partition keys
    (``PRIMARY KEY ((a, b), c)`` — the mutation log keys them on the
    SEP-joined component serialization, the analogue of the reference's
    CompositeType key bytes), composite clustering, STATIC columns,
    collections, UDT/tuple/duration columns (``udts``: CREATE TYPE
    registry), counter tables (any counter column makes the table
    counter-only)."""
    parts = _create_parts(stmt)
    if not parts:
        raise CQLError(f"unsupported or malformed CREATE TABLE: {stmt!r}")
    name, body, with_rest = parts
    # table options: default_time_to_live is the one WITH option with
    # write-path semantics (`[C* schema/TableParams defaultTimeToLive,
    # unverified]`); everything else (compaction, caching, ...) is
    # physical-layout advice this engine's parquet/memtable model owns
    # shared WITH-option families (also the ALTER TABLE ... WITH parser)
    topts = _parse_table_options(with_rest or "")
    default_ttl = topts.get("default_ttl", 0)
    compression = topts.get("compression", "")
    compaction = topts.get("compaction", "")
    min_threshold = topts.get("compaction_min_threshold", 4)
    window_us = topts.get("compaction_window_us", 86_400_000_000)
    sstable_mb = topts.get("compaction_sstable_size_mb", 160)
    ucs_scaling = topts.get("compaction_scaling", "T4")
    ucs_target = topts.get("ucs_target_bytes", 1 << 30)
    ucs_shards = topts.get("ucs_base_shards", 1)
    cdc = topts.get("cdc", False)
    gc_grace = topts.get("gc_grace_seconds", 864_000)
    # WITH CLUSTERING ORDER BY (c ASC|DESC, ...): retain the DESC set
    clustering_desc: tuple[str, ...] = ()
    co_ = re.search(
        r"CLUSTERING\s+ORDER\s+BY\s*\((?P<body>[^)]*)\)",
        with_rest or "", re.IGNORECASE,
    )
    if co_:
        desc_cols = []
        for item in co_.group("body").split(","):
            im = re.fullmatch(
                r"\s*(\w+)\s+(ASC|DESC)\s*", item, re.IGNORECASE
            )
            if not im:
                raise CQLError(f"bad CLUSTERING ORDER item: {item!r}")
            if im.group(2).upper() == "DESC":
                desc_cols.append(im.group(1).lower())
        clustering_desc = tuple(desc_cols)
    cols: dict[str, str] = {}
    statics: set[str] = set()
    masks: dict[str, str] = {}
    inline_pk: str | None = None
    pk_spec: str | None = None
    for item in _split_generics(body):
        pk_m = re.fullmatch(
            r"PRIMARY\s+KEY\s*\((?P<spec>.+)\)", item, re.IGNORECASE | re.DOTALL
        )
        if pk_m:
            if pk_spec is not None:
                raise CQLError("duplicate PRIMARY KEY specification")
            pk_spec = pk_m.group("spec")
            continue
        _mask_re = (
            r"\s+MASKED\s+WITH\s+(?:FUNCTION\s+)?\w+\s*\([^)]*\)"
        )
        cm = re.fullmatch(
            r"(?P<col>\w+)\s+(?P<type>.+?)"
            rf"(?P<m1>{_mask_re})?"
            r"(?P<static>\s+STATIC)?"
            rf"(?P<m2>{_mask_re})?"  # the reference grammar puts the mask
            r"(?P<inline>\s+PRIMARY\s+KEY)?",  # after STATIC; accept both
            item,
            re.IGNORECASE | re.DOTALL,
        )
        if not cm:
            raise CQLError(f"bad column definition: {item!r}")
        col = cm.group("col").lower()
        cols[col] = cm.group("type").strip()
        masked = cm.group("m1") or cm.group("m2")
        if masked:
            # Cassandra 5 inline column mask: store the call with the
            # implicit column argument made explicit, the same shape
            # ALTER ... MASKED WITH registers; the function name is
            # validated HERE, at DDL time, like the ALTER path
            mm = re.match(
                r"\s+MASKED\s+WITH\s+(?:FUNCTION\s+)?(\w+)\s*\(([^)]*)\)",
                masked,
                re.IGNORECASE,
            )
            fn, fargs = mm.group(1).lower(), mm.group(2).strip()
            if fn not in (
                "mask_null", "mask_default", "mask_replace",
                "mask_inner", "mask_outer", "mask_hash",
            ):
                raise CQLError(f"unknown masking function {fn!r}")
            masks[col] = f"{fn}({col}, {fargs})" if fargs else f"{fn}({col})"
        if cm.group("static"):
            statics.add(col)
        if cm.group("inline"):
            if inline_pk is not None:
                raise CQLError("duplicate inline PRIMARY KEY")
            inline_pk = col

    if pk_spec is not None and inline_pk is not None:
        raise CQLError("PRIMARY KEY declared twice")
    if pk_spec is None and inline_pk is None:
        raise CQLError("missing PRIMARY KEY")
    if pk_spec is not None:
        parts = _split_generics(pk_spec)
        first = parts[0]
        if first.startswith("("):
            inner = _split_generics(first[1:-1])
            pk_cols = tuple(c.strip().lower() for c in inner)
            if not pk_cols or any(not c for c in pk_cols):
                raise CQLError(f"bad partition key spec: {first!r}")
        else:
            pk_cols = (first.lower(),)
        clustering = tuple(p.lower() for p in parts[1:])
    else:
        pk_cols, clustering = (inline_pk,), ()
    if len(set(pk_cols)) != len(pk_cols):
        raise CQLError("duplicate partition key column")

    for c in (*pk_cols, *clustering):
        if c not in cols:
            raise CQLError(f"PRIMARY KEY column {c!r} is not declared")
    if set(pk_cols) & set(clustering):
        raise CQLError("a column cannot be both partition and clustering key")
    key_types = {
        c: _map_type(cols[c], udts) for c in (*pk_cols, *clustering)
    }
    for c, t in key_types.items():
        if parse_coll_type(t):
            raise CQLError(f"key column {c!r} cannot be a collection")
        if parse_struct_type(t) is not None:
            raise CQLError(f"key column {c!r} cannot be a UDT/tuple/duration")
    regular = {}
    static = {}
    nonfrozen: set[str] = set()
    vector_dims: dict[str, int] = {}
    counter_cols = 0
    for c, t in cols.items():
        if c in pk_cols or c in clustering:
            continue
        mapped = _map_type(t, udts)
        vm = re.fullmatch(
            r"vector\s*<\s*\w+\s*,\s*(\d+)\s*>", t.strip().lower()
        )
        if vm and c not in statics:
            vector_dims[c] = int(vm.group(1))
        # a BARE UDT spelling is the multi-cell (non-frozen) form since
        # 3.6; frozen<udt> keeps the single-cell JSON convention. Tuples
        # and durations are always frozen; statics stay single-cell
        # (pinned simplification — the per-field path is row-scoped).
        if (
            udts
            and t.strip().lower() in udts
            and c not in statics
        ):
            nonfrozen.add(c)
        coll_p = (
            parse_coll_type(mapped)
            if re.match(r"^\s*(list|set|map)\s*<", mapped, re.IGNORECASE)
            else None
        )
        if coll_p is not None:
            # nested collections must be spelled frozen<...> (the
            # reference's rule — non-frozen collections are not allowed
            # inside collections `[C* cql3/CQL3Type.Raw, unverified]`);
            # a frozen nested element stores as one canonical-JSON
            # element cell, the round-11 struct convention (round 12)
            _validate_nested_frozen(t, c, udts)
        if coll_p is not None and coll_p[0] == "map" and (
            parse_struct_type(coll_p[1]) is not None
            or is_coll_type(coll_p[1])
        ):
            raise CQLError(
                f"map column {c!r} must have a scalar key type "
                "(UDT/tuple/collection map keys unsupported by the DML "
                "front-end)"
            )
        if t.strip().lower() == "counter":
            counter_cols += 1
        if c in statics:
            static[c] = mapped
        else:
            regular[c] = mapped
    if counter_cols and counter_cols != len(regular):
        raise CQLError(
            "counter tables must have only counter regular columns"
        )
    if default_ttl and counter_cols:
        raise CQLError(
            "default_time_to_live is not supported on counter tables"
        )
    bad_desc = [c for c in clustering_desc if c not in (clustering or ())]
    if bad_desc:
        raise CQLError(
            f"CLUSTERING ORDER BY names non-clustering columns: {bad_desc}"
        )
    return TableSchema(
        name=name,
        partition_key=pk_cols[0],
        partition_cols=pk_cols,
        clustering=clustering,
        regular=regular,
        nonfrozen=nonfrozen,
        vector_dims=vector_dims,
        counter=bool(counter_cols),
        static=static,
        key_types=key_types,
        default_ttl=default_ttl,
        masks=masks,
        clustering_desc=clustering_desc,
        compression=compression,
        compaction=compaction,
        compaction_min_threshold=min_threshold,
        compaction_window_us=window_us,
        compaction_sstable_size_mb=sstable_mb,
        compaction_scaling=ucs_scaling,
        ucs_target_bytes=ucs_target,
        ucs_base_shards=ucs_shards,
        cdc=cdc,
        gc_grace_seconds=gc_grace,
        comment=topts.get("comment", ""),
    )


_DML_TABLE_RE = re.compile(
    r"\b(?:INSERT\s+INTO|UPDATE|DELETE(?:\s+[^;]*?)?\s+FROM)\s+([\w.]+)",
    re.IGNORECASE,
)


_CREATE_INDEX_RE = re.compile(
    r"^\s*CREATE\s+(?P<custom>CUSTOM\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?:(?P<name>\w+)\s+)?"
    r"ON\s+(?P<table>[\w.]+)\s*\(\s*"
    r"(?:(?P<kind>KEYS|VALUES|ENTRIES|FULL)\s*\(\s*(?P<icol>\w+)\s*\)"
    r"|(?P<col>\w+))\s*\)\s*"
    r"(?:USING\s+'(?P<using>[^']*)'\s*)?"
    r"(?:WITH\s+OPTIONS\s*=\s*\{(?P<opts>[^}]*)\}\s*)?;?\s*$",
    re.IGNORECASE,
)
_DROP_TABLE_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ine>IF\s+EXISTS\s+)?(?P<table>[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_FUNCTION_RE = re.compile(
    r"^\s*CREATE\s+(?P<repl>OR\s+REPLACE\s+)?FUNCTION\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s*"
    r"\((?P<args>[^)]*)\)\s*"
    r"(?:(?:CALLED|RETURNS\s+NULL)\s+ON\s+NULL\s+INPUT\s+)?"
    r"RETURNS\s+(?P<ret>\w+(?:\s*<[^>]*>)?)\s+"
    r"LANGUAGE\s+(?P<lang>\w+)\s+"
    r"AS\s+'(?P<body>(?:[^']|'')*)'\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FUNCTION_RE = re.compile(
    r"^\s*DROP\s+FUNCTION\s+(?P<ine>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_AGGREGATE_RE = re.compile(
    r"^\s*CREATE\s+(?P<repl>OR\s+REPLACE\s+)?AGGREGATE\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s*"
    r"\(\s*(?P<argt>\w+(?:\s*<[^>]*>)?)\s*\)\s*"
    r"SFUNC\s+(?P<sfunc>\w+)\s+"
    r"STYPE\s+(?P<stype>\w+(?:\s*<[^>]*>)?)\s*"
    r"(?:FINALFUNC\s+(?P<final>\w+)\s*)?"
    r"INITCOND\s+(?P<init>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_AGGREGATE_RE = re.compile(
    r"^\s*DROP\s+AGGREGATE\s+(?P<ine>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
# names a UDF must not shadow (front-end-recognized function surfaces)
_RESERVED_FN_NAMES = frozenset(
    "count min max sum avg writetime ttl token similarity_cosine "
    "similarity_euclidean similarity_dot_product "
    "mask_null mask_default mask_replace mask_inner mask_outer "
    "mask_hash".split()
)
_DROP_INDEX_RE = re.compile(
    r"^\s*DROP\s+INDEX\s+(?P<ine>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_TRIGGER_RE = re.compile(
    r"^\s*CREATE\s+TRIGGER\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s+"
    r"ON\s+(?P<table>[\w.]+)\s+USING\s+'(?P<cls>[^']+)'\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_TRIGGER_RE = re.compile(
    r"^\s*DROP\s+TRIGGER\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>\w+)\s+"
    r"ON\s+(?P<table>[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?P<table>[\w.]+)\s*;?\s*$", re.IGNORECASE
)
_COPY_RE = re.compile(
    r"^\s*COPY\s+(?P<table>[\w.]+)\s*(?:\((?P<cols>[^)]*)\))?\s+"
    r"(?P<dir>TO|FROM)\s+'(?P<path>[^']+)'"
    r"(?:\s+WITH\s+FORMAT\s*=\s*'(?P<fmt>\w+)')?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[\w.]+)\s+"
    r"(?:ADD\s+(?P<addcol>\w+)\s+(?P<addtype>.+?)(?P<static>\s+STATIC)?"
    r"|ALTER\s+(?P<unmaskcol>\w+)\s+DROP\s+MASKED"
    r"|ALTER\s+(?P<maskcol>\w+)\s+MASKED\s+WITH\s+(?:FUNCTION\s+)?"
    r"(?P<maskfn>\w+)\s*\((?P<maskargs>[^)]*)\)"
    r"|DROP\s+(?P<dropcol>\w+)"
    r"(?:\s+USING\s+TIMESTAMP\s+(?P<dropts>-?\d+))?"
    r"|RENAME\s+(?P<renfrom>\w+)\s+TO\s+(?P<rento>\w+)"
    r"|WITH\s+(?P<withopts>.+?))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UNMASK_RE = re.compile(
    # every UNMASK spelling routes HERE (incl. qualified tables and the
    # PERMISSION keyword) so the grant always lands in the session's
    # unmasked set — the generic role_perms path records entries
    # _apply_masks never consults
    r"^\s*(?P<verb>GRANT|REVOKE)\s+UNMASK(?:\s+PERMISSIONS?)?\s+ON\s+"
    r"(?:TABLE\s+)?(?P<table>[\w.]+)\s+(?:TO|FROM)\s+\w+\s*;?\s*$",
    re.IGNORECASE,
)
# --- auth statements (`[C* auth/CassandraAuthorizer, CassandraRoleManager,
# cql3/statements/Create/Drop/Grant/Revoke/ListRoles/ListPermissions,
# unverified]`) --------------------------------------------------------------
_CREATE_ROLE_RE = re.compile(
    r"^\s*CREATE\s+ROLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)"
    r"(?:\s+WITH\s+(?P<opts>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_ROLE_RE = re.compile(
    r"^\s*DROP\s+ROLE\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_ROLE_RE = re.compile(
    r"^\s*ALTER\s+ROLE\s+(?P<name>\w+)\s+WITH\s+(?P<opts>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_PERMS = (
    "ALL", "SELECT", "MODIFY", "CREATE", "ALTER", "DROP",
    "AUTHORIZE", "DESCRIBE", "EXECUTE", "UNMASK",
)
_GRANT_PERM_RE = re.compile(
    r"^\s*(?P<verb>GRANT|REVOKE)\s+(?P<perm>"
    + "|".join(_PERMS)
    + r")(?:\s+PERMISSIONS?)?\s+ON\s+(?P<res>ALL\s+KEYSPACES"
    r"|ALL\s+ROLES|ROLE\s+\w+"
    r"|KEYSPACE\s+\w+|(?:TABLE\s+)?[\w.]+)\s+(?:TO|FROM)\s+(?P<role>\w+)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_GRANT_ROLE_RE = re.compile(
    r"^\s*(?P<verb>GRANT|REVOKE)\s+(?P<granted>\w+)\s+"
    r"(?:TO|FROM)\s+(?P<role>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_LIST_ROLES_RE = re.compile(
    r"^\s*LIST\s+ROLES(?:\s+OF\s+(?P<role>\w+))?\s*;?\s*$", re.IGNORECASE
)
_LIST_PERMS_RE = re.compile(
    r"^\s*LIST\s+(?:ALL\s+PERMISSIONS|(?P<perm>" + "|".join(_PERMS)
    + r")(?:\s+PERMISSIONS?)?)"
    r"(?:\s+ON\s+(?P<res>ALL\s+KEYSPACES|KEYSPACE\s+\w+|(?:TABLE\s+)?\w+))?"
    r"(?:\s+OF\s+(?P<role>\w+)(?P<norec>\s+NORECURSIVE)?)?\s*;?\s*$",
    re.IGNORECASE,
)
# CQL compressor class -> parquet codec (`[C* io/compress/*, unverified]`)
_COMPRESSORS = {
    "LZ4Compressor": "lz4",
    "SnappyCompressor": "snappy",
    "ZstdCompressor": "zstd",
    "DeflateCompressor": "gzip",
}

_CREATE_KS_RE = re.compile(
    r"^\s*CREATE\s+KEYSPACE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>\w+)\s+WITH\s+replication\s*=\s*\{(?P<rep>[^}]*)\}"
    r"(?:\s+AND\s+durable_writes\s*=\s*(?:true|false))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_KS_RE = re.compile(
    r"^\s*DROP\s+KEYSPACE\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>\w+)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_USE_RE = re.compile(r"^\s*USE\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE)

_CREATE_MV_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w.]+)\s+AS\s+SELECT\s+(?P<cols>[\w\s,*]+?)\s+FROM\s+"
    r"(?P<base>[\w.]+)\s+WHERE\s+(?P<where>.+?)\s+"
    r"PRIMARY\s+KEY\s*\((?P<pk>.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_MV_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?P<ie>IF\s+EXISTS\s+)?"
    r"(?P<name>[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)

_ALTER_TYPE_RE = re.compile(
    r"^\s*ALTER\s+TYPE\s+(?P<name>\w+)\s+ADD\s+(?P<field>\w+)\s+"
    r"(?P<type>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_CREATE_TYPE_RE = re.compile(
    r"^\s*CREATE\s+TYPE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s*"
    r"\((?P<body>.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_TYPE_RE = re.compile(
    r"^\s*DROP\s+TYPE\s+(?P<ine>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)


def _render_param(v) -> str:
    """Python bind value → CQL literal text (the inverse of the literal
    parsers in cql_dml). Strings escape embedded quotes; collections render
    recursively; None → NULL."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (list, tuple)):
        inner = ", ".join(_render_param(x) for x in v)
        return f"[{inner}]" if isinstance(v, list) else f"({inner})"
    if isinstance(v, (set, frozenset)):
        return "{" + ", ".join(sorted(_render_param(x) for x in v)) + "}"
    if isinstance(v, dict):
        return (
            "{"
            + ", ".join(
                f"{_render_param(k)}: {_render_param(x)}"
                for k, x in sorted(v.items())
            )
            + "}"
        )
    raise CQLError(f"unsupported bind value type {type(v).__name__}")


class PreparedStatement:
    """A statement with ``?`` bind markers, split once at prepare time
    (markers inside string literals are text, not markers — the split is
    quote-aware). ``bind`` renders values as CQL literals into the slots;
    the session re-plans the bound text, so preparation here buys marker
    validation + injection-safe binding, not plan caching (planning is
    Catalyst's job and is O(statement), never O(data))."""

    def __init__(self, session: "CqlSession", text: str):
        self.session = session
        self.text = text
        segs: list[str] = []
        cur: list[str] = []
        quoted = False
        for ch in text:
            if ch == "'":
                quoted = not quoted
            if ch == "?" and not quoted:
                segs.append("".join(cur))
                cur = []
                continue
            cur.append(ch)
        segs.append("".join(cur))
        self._segments = segs

    @property
    def n_params(self) -> int:
        return len(self._segments) - 1

    def bind(self, *params) -> str:
        if len(params) != self.n_params:
            raise CQLError(
                f"expected {self.n_params} bind values, got {len(params)}"
            )
        out = [self._segments[0]]
        for seg, v in zip(self._segments[1:], params):
            out.append(_render_param(v))
            out.append(seg)
        return "".join(out)

    def execute(self, *params):
        return self.session.execute(self.bind(*params))


class PagedResult:
    """One page of a paged SELECT: ``df`` is the lazy page plan;
    ``paging_state()`` materializes the page tail (a page-size-bounded
    driver action — exactly the state a driver holds between pages) and
    returns the opaque resume token, or None when the walk is done."""

    def __init__(
        self,
        df: DataFrame,
        keys: list[str],
        page_size: int,
        descs: list[bool] | None = None,
    ):
        self.df = df
        self._keys = keys
        self._page_size = page_size
        self._descs = descs or [False] * len(keys)

    def paging_state(self) -> str | None:
        import base64
        import json

        if not any(self._descs):
            # all-ascending keys: the page's last row is the max of the
            # key tuple — one aggregate job, O(1) rows to the driver
            agg = self.df.select(
                F.count(F.lit(1)).alias("n"),
                F.max(F.struct(*self._keys)).alias("last"),
            ).head()
            if agg["n"] < self._page_size:
                return None
            last = agg["last"]
        else:
            # DESC clustering: struct-max is not page order, but the
            # page's LAST row is the FIRST row under every direction
            # flipped — one TakeOrderedAndProject job, 1 row to the
            # driver (plus a 1-row count), mirroring the ASC branch's
            # O(1)-row contract instead of collecting the whole page.
            n = self.df.select(
                F.count(F.lit(1)).alias("n")
            ).head()["n"]
            if n < self._page_size:
                return None
            flipped = [
                F.col(k).asc() if d else F.col(k).desc()
                for k, d in zip(self._keys, self._descs)
            ]
            last = (
                self.df.select(*self._keys).orderBy(*flipped).limit(1)
            ).head()
        return base64.b64encode(
            json.dumps([_encode_cursor_val(last[k]) for k in self._keys]).encode()
        ).decode()


def _encode_cursor_val(v):
    """Typed, lossless cursor serialization: ints/floats/bools ride as
    native JSON (json round-trips floats via repr, bit-exact);
    datetime/date go ISO-format; everything else is a plain string. A
    lossy str() here would make a resumed page skip or duplicate rows on
    float/timestamp keys."""
    import datetime
    import decimal

    if v is None:
        raise CQLError("NULL in a paging cursor key is not supported")
    if isinstance(v, (bool, int, float)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return {"t": "iso", "v": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"t": "dec", "v": str(v)}
    return str(v)


def _cursor_lit(v, dtype: str):
    """Resume-side twin of _encode_cursor_val: native numerics become
    typed literals directly (no string parse); ISO datetimes and decimals
    cast from their exact text form."""
    if isinstance(v, dict):
        return F.lit(v.get("v")).cast(dtype)
    return F.lit(v).cast(dtype)


def _decode_state(state: str) -> list:
    import base64
    import json

    try:
        vals = json.loads(base64.b64decode(state.encode()).decode())
        if not isinstance(vals, list):
            raise ValueError
        return vals
    except Exception:
        raise CQLError("invalid paging state") from None


_SIM_FNS = ("cosine", "euclidean", "dot_product")


def _parse_sai_options(
    opts: str | None, col: str, is_vector: bool
) -> str | None:
    """``similarity_function`` from CREATE CUSTOM INDEX ... WITH OPTIONS
    (`[C* index/sai/disk/vector — VectorSimilarityFunction, unverified]`).
    Only vector columns accept it (the reference validates the option
    set per column type); value set is the reference's three. Other
    OPTIONS keys (SASI mode/analyzer etc.) are layout advice this
    engine's model owns — accepted and ignored, like table options."""
    if not opts:
        return None
    sm = re.search(
        r"'similarity_function'\s*:\s*'(\w+)'", opts, re.IGNORECASE
    )
    if not sm:
        return None
    fn = sm.group(1).lower()
    if fn not in _SIM_FNS:
        raise CQLError(
            f"unknown similarity_function {sm.group(1)!r} "
            "(COSINE | EUCLIDEAN | DOT_PRODUCT)"
        )
    if not is_vector:
        raise CQLError(
            f"similarity_function applies only to vector columns "
            f"({col!r} is not one)"
        )
    return fn


def _parse_sasi_mode(opts: str | None) -> str | None:
    """``mode`` from CREATE CUSTOM INDEX ... WITH OPTIONS on a SASI
    index (`[C* index/sasi/conf/IndexMode, unverified]`): PREFIX (the
    default, returned as None so un-optioned indexes stay tagless),
    CONTAINS, or SPARSE. Other values are rejected like the reference."""
    if not opts:
        return None
    sm = re.search(r"'mode'\s*:\s*'(\w+)'", opts, re.IGNORECASE)
    if not sm:
        return None
    mode = sm.group(1).upper()
    if mode not in ("PREFIX", "CONTAINS", "SPARSE"):
        raise CQLError(
            f"unknown SASI mode {sm.group(1)!r} (PREFIX | CONTAINS | SPARSE)"
        )
    return None if mode == "PREFIX" else mode


def _parse_table_options(with_text: str) -> dict:
    """The WITH option families with retained semantics (shared by
    CREATE TABLE and ALTER TABLE ... WITH): default_time_to_live,
    compression, compaction. Returns only the options present."""
    out: dict = {}
    unquoted = re.sub(r"'[^']*'", "''", with_text)
    dm = re.search(
        r"default_time_to_live\s*=\s*(\d+)", unquoted, re.IGNORECASE
    )
    if dm:
        out["default_ttl"] = int(dm.group(1))
    cdcm = re.search(r"\bcdc\s*=\s*(true|false)\b", unquoted, re.IGNORECASE)
    if cdcm:
        out["cdc"] = cdcm.group(1).lower() == "true"
    gm = re.search(r"gc_grace_seconds\s*=\s*(\d+)", unquoted, re.IGNORECASE)
    if gm:
        out["gc_grace_seconds"] = int(gm.group(1))
    # comment keeps its QUOTED text ('' = escaped quote), so it must be
    # extracted from the original, not the literal-masked copy
    cmt = re.search(
        r"comment\s*=\s*'((?:[^']|'')*)'", with_text, re.IGNORECASE
    )
    if cmt:
        out["comment"] = cmt.group(1).replace("''", "'")
    cm_ = re.search(
        r"compression\s*=\s*\{[^}]*'class'\s*:\s*'(\w+)'[^}]*\}",
        with_text, re.IGNORECASE,
    )
    if cm_:
        if cm_.group(1) not in _COMPRESSORS:
            raise CQLError(f"unsupported compressor {cm_.group(1)!r}")
        out["compression"] = cm_.group(1)
    km_ = re.search(
        r"compaction\s*=\s*\{(?P<body>[^}]*)\}", with_text, re.IGNORECASE
    )
    if km_:
        kcls = re.search(
            r"'class'\s*:\s*'(\w+)'", km_.group("body"), re.IGNORECASE
        )
        cls_name = kcls.group(1) if kcls else None
        if cls_name not in (
            "SizeTieredCompactionStrategy",
            "TimeWindowCompactionStrategy",
            "LeveledCompactionStrategy",
            "UnifiedCompactionStrategy",
        ):
            raise CQLError(
                "only SizeTieredCompactionStrategy, "
                "TimeWindowCompactionStrategy, "
                "LeveledCompactionStrategy and "
                "UnifiedCompactionStrategy are supported "
                f"(got {cls_name!r})"
            )
        out["compaction"] = cls_name
        if cls_name == "UnifiedCompactionStrategy":
            from cassandra_spark.cql_dml import parse_ucs_scaling

            sp = re.search(
                r"'scaling_parameters'\s*:\s*'([^']*)'", km_.group("body"),
                re.IGNORECASE,
            )
            if sp:
                parse_ucs_scaling(sp.group(1))  # validate; raises CQLError
                out["compaction_scaling"] = sp.group(1)
            ts = re.search(
                r"'target_sstable_size'\s*:\s*'(\d+)\s*([KMG]i?B)'",
                km_.group("body"), re.IGNORECASE,
            )
            if ts:
                unit = ts.group(2).upper()
                if unit in ("KB", "MB", "GB"):
                    # the reference's data-storage spec only accepts
                    # binary units; silently aliasing KB->KiB would
                    # round-trip through DESCRIBE as a different string
                    raise CQLError(
                        "target_sstable_size accepts binary units "
                        f"(KiB/MiB/GiB); got {ts.group(1)}{ts.group(2)!r}"
                    )
                shift = {"KIB": 10, "MIB": 20, "GIB": 30}[unit]
                out["ucs_target_bytes"] = int(ts.group(1)) << shift
                if out["ucs_target_bytes"] < 1024:
                    raise CQLError("target_sstable_size must be >= 1KiB")
            bs = re.search(
                r"'base_shard_count'\s*:\s*'?(\d+)'?", km_.group("body"),
                re.IGNORECASE,
            )
            if bs:
                if int(bs.group(1)) < 1:
                    raise CQLError("base_shard_count must be >= 1")
                out["ucs_base_shards"] = int(bs.group(1))
        if cls_name == "LeveledCompactionStrategy":
            sz = re.search(
                r"'sstable_size_in_mb'\s*:\s*'?(\d+)'?", km_.group("body"),
                re.IGNORECASE,
            )
            if sz:
                if int(sz.group(1)) < 1:
                    raise CQLError("sstable_size_in_mb must be >= 1")
                out["compaction_sstable_size_mb"] = int(sz.group(1))
        mt = re.search(
            r"'min_threshold'\s*:\s*'?(\d+)'?", km_.group("body"),
            re.IGNORECASE,
        )
        if mt:
            if int(mt.group(1)) < 2:
                raise CQLError("min_threshold must be >= 2")
            out["compaction_min_threshold"] = int(mt.group(1))
        if cls_name == "TimeWindowCompactionStrategy":
            unit_us = {
                "MINUTES": 60_000_000,
                "HOURS": 3_600_000_000,
                "DAYS": 86_400_000_000,
            }
            um = re.search(
                r"'compaction_window_unit'\s*:\s*'(\w+)'",
                km_.group("body"), re.IGNORECASE,
            )
            unit = (um.group(1).upper() if um else "DAYS")
            if unit not in unit_us:
                raise CQLError(
                    f"bad compaction_window_unit {unit!r} "
                    "(MINUTES | HOURS | DAYS)"
                )
            sm = re.search(
                r"'compaction_window_size'\s*:\s*'?(\d+)'?",
                km_.group("body"), re.IGNORECASE,
            )
            size = int(sm.group(1)) if sm else 1
            if size < 1:
                raise CQLError("compaction_window_size must be >= 1")
            out["compaction_window_us"] = size * unit_us[unit]
    return out


def _replication_text(params: dict) -> str:
    items = [("class", params["class"])] + sorted(
        (k, str(v)) for k, v in params.items() if k != "class"
    )
    return "{" + ", ".join(f"'{k}': '{v}'" for k, v in items) + "}"


def _parse_replication(body: str) -> dict:
    """The replication map of CREATE KEYSPACE: SimpleStrategy needs
    replication_factor; NetworkTopologyStrategy takes per-DC factors."""
    pairs = dict(
        re.findall(r"'([\w]+)'\s*:\s*'?([\w]+)'?", body)
    )
    cls = pairs.pop("class", None)
    if cls == "SimpleStrategy":
        rf = pairs.get("replication_factor")
        if rf is None or not rf.isdigit() or int(rf) < 1:
            raise CQLError(
                "SimpleStrategy needs a positive replication_factor"
            )
        return {"class": cls, "replication_factor": int(rf)}
    if cls == "NetworkTopologyStrategy":
        dcs = {}
        for dc, v in pairs.items():
            if not v.isdigit() or int(v) < 0:
                raise CQLError(f"bad replication factor for DC {dc!r}")
            dcs[dc] = int(v)
        if not dcs:
            raise CQLError(
                "NetworkTopologyStrategy needs at least one DC factor"
            )
        return {"class": cls, **dcs}
    raise CQLError(f"unsupported replication class {cls!r}")


class CqlSession:
    """DDL + DML + SELECT behind one ``execute()`` — the engine's session
    surface. SELECT returns a DataFrame; conditional DML returns the LWT
    ``[applied]`` flag; everything else returns None. ``prepare()`` gives
    bind-marker statements; ``execute_paged()`` drives keyset paging with
    an opaque resume token (Snk/R9 through the front door)."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        spill_dir: str | None = None,
        spill_threshold: int | None = 50_000,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        # bounded driver memory BY DEFAULT: every table flushes its
        # memtable to parquet segments past the threshold, into spill_dir
        # when given, else an auto-provisioned temp dir per table;
        # spill_threshold=None opts out (see CqlTable._maybe_flush)
        self.spill_dir = spill_dir
        self.spill_threshold = spill_threshold
        self.tables: dict[str, CqlTable] = {}
        # CQL UDFs: name → (arg names, SQL-expression body). The reference
        # executes java/javascript bodies in a sandbox; this engine pins a
        # documented deviation — LANGUAGE sql with a Spark-SQL expression
        # body — and inlines calls by macro expansion, so UDF evaluation is
        # whole-stage-codegen'd instead of a per-row interpreter.
        self.functions: dict[str, tuple[list[str], str]] = {}
        # CQL UDAs: name → fully-expanded fold template with {col} hole
        self.aggregates: dict[str, str] = {}
        self.indexes: dict[str, set[str]] = {}  # table → value-indexed cols
        self.key_indexes: dict[str, set[str]] = {}  # table → KEYS-indexed maps
        self.sai_indexes: dict[str, set[str]] = {}  # table → SAI-indexed cols
        # table → SASI-indexed cols (CREATE CUSTOM INDEX .. USING
        # '..SASIIndex'): the only index class admitting LIKE through the
        # restriction gate (`[C* index/sasi/SASIIndex, unverified]`)
        self.sasi_indexes: dict[str, set[str]] = {}
        # table → {col → SASI mode} from WITH OPTIONS = {'mode': ...}:
        # PREFIX (default) admits LIKE 'pre%' only, CONTAINS admits
        # prefix/contains/suffix, SPARSE (dense numerics) admits no LIKE
        # (`[C* index/sasi/conf/IndexMode, unverified]`). Like
        # sai_similarity, not persisted in snapshots — a restored SASI
        # index reverts to the PREFIX default (documented convention).
        self.sasi_modes: dict[str, dict[str, str]] = {}
        # table → {vector col → persisted bucket-layout artifact dir}
        self.sai_vector_index: dict[str, dict[str, str]] = {}
        # table → {vector col → ANN similarity function} from the SAI
        # index's WITH OPTIONS (cosine when absent, the reference default)
        self.sai_similarity: dict[str, dict[str, str]] = {}
        # guardrails (`[C* db/guardrails/Guardrails — the 4.1 framework,
        # unverified]`): name → (warn, fail); shared by reference with
        # every table (see create_table). Empty = all disabled, the
        # reference default. Client warnings accumulate here and drain
        # via pop_warnings() (the protocol's warning frame).
        self.guardrails: dict[str, tuple] = {}
        self.client_warnings: list[str] = []
        self.entry_indexes: dict[str, set[str]] = {}  # table → ENTRIES maps
        self.full_indexes: dict[str, set[str]] = {}  # table → FULL frozen
        # name → (table, col, kind), kind in {"values","keys","entries",
        # "full","sai"}
        self.index_names: dict[str, tuple[str, str, str]] = {}
        self.types: dict[str, str] = {}  # UDT name → Spark struct type
        # Cassandra 5 dynamic data masking (`[C* cql3/functions/masking/*,
        # schema/ColumnMetadata masking, unverified]`): table → col →
        # mask-call text "mask_inner(4, 2)" (column arg implicit, as in
        # the reference's ALTER ... MASKED WITH syntax). Applied to SELECT
        # *results* — WHERE filters see clear values, matching the
        # reference's documented inference caveat.
        self.masks: dict[str, dict[str, str]] = {}
        # tables this session holds UNMASK permission on (GRANT UNMASK)
        self.unmasked: set[str] = set()
        # full-query log (None = disabled; enable_fql() starts recording)
        self._fql: list[str] | None = None
        self._audit: dict | None = None  # enabled config + record list
        # triggers (`[C* triggers/ITrigger, CreateTriggerStatement,
        # unverified]`): table -> {trigger name -> class name}. The
        # "class" resolves in trigger_classes — the ITrigger registry:
        # fn(session, table, cells) -> list of CQL statements applied
        # with the triggering statement (the augment() contract). A
        # rejected LWT appends no cells, so its triggers see no work.
        self.triggers: dict[str, dict[str, str]] = {}
        self.trigger_classes: dict[str, object] = {}
        self._trigger_depth = 0  # cascade guard (augments may augment)
        # --- role-based auth (`[C* auth/*, unverified]`): the default
        # superuser role exists and is logged in, so an un-configured
        # session behaves exactly like the reference's fresh cluster
        # (cassandra/cassandra) — enforcement only bites after login()
        # as a non-superuser role
        self.roles: dict[str, dict] = {
            "cassandra": {"can_login": True, "is_superuser": True}
        }
        # role → roles granted TO it (member_of; transitive for perms)
        self.role_grants: dict[str, set[str]] = {}
        # role → {(canonical resource, permission)}; resources use the
        # reference's internal form: data, data/session, data/session/<t>
        self.role_perms: dict[str, set[tuple[str, str]]] = {}
        self.current_role: str = "cassandra"
        # the DC this session's "connection" lands in — the network
        # authorizer's enforcement point (ring.TOPOLOGY's first DC)
        self.local_dc: str = "dc1"
        # materialized views (`[C* db/view/View, cql3/statements/
        # CreateViewStatement, unverified]`): qualified "ks.view" ->
        # (base registry key, view partition key, clustering tuple,
        # selected cols or None for *); a view must live in its base's
        # keyspace, like the reference
        self.mat_views: dict[str, tuple] = {}
        # keyspaces (`[C* schema/KeyspaceParams, locator/
        # AbstractReplicationStrategy, unverified]`): name -> parsed
        # replication params. Since round 11 the table registry keys by
        # the QUALIFIED "keyspace.table" name, so ks1.t and ks2.t
        # coexist — the reference's per-keyspace schema (the earlier
        # flat-namespace reduction is lifted).
        self.keyspaces: dict[str, dict] = {
            "session": {"class": "SimpleStrategy", "replication_factor": 1}
        }
        self.current_ks: str | None = "session"
        # --- query tracing (`[C* tracing/Tracing, TraceKeyspace,
        # unverified]`): recorded (session_row, [event_rows]) pairs
        # persist after TRACING OFF, as system_traces rows do
        self._traces: list[tuple] = []
        self._tracing_on = False

    GUARDRAIL_NAMES = (
        "items_per_collection",
        "partition_keys_in_select",
        "columns_per_table",
        "tombstones_per_read",
        # round-10 additions (`[C* db/guardrails — collectionSize,
        # inSelectCartesianProduct, allowFiltering, unverified]`):
        # collection SIZE in serialized bytes; the cartesian product of
        # key-column IN lists one SELECT may expand to; and ALLOW
        # FILTERING itself — the reference's boolean enable maps onto
        # this warn/fail framework as thresholds over actual=1 per use
        # (warn=0 -> client warning each use, fail=0 -> rejected)
        "collection_size",
        "in_select_cartesian_product",
        "allow_filtering",
    )

    def set_guardrail(
        self, name: str, warn: int | None = None, fail: int | None = None
    ) -> None:
        """Configure one guardrail's warn/fail thresholds (`[C* db/
        guardrails — cassandra.yaml guardrails section, unverified]`;
        the reference configures them node-wide, settable live via JMX —
        this engine's analogue is session-wide). ``None`` leaves that
        threshold disabled; both None removes the guardrail."""
        if name not in self.GUARDRAIL_NAMES:
            raise CQLError(
                f"unknown guardrail {name!r} "
                f"(supported: {', '.join(self.GUARDRAIL_NAMES)})"
            )
        if warn is not None and fail is not None and warn > fail:
            raise CQLError("guardrail warn threshold must be <= fail")
        if warn is None and fail is None:
            self.guardrails.pop(name, None)
        else:
            self.guardrails[name] = (warn, fail)

    def pop_warnings(self) -> list[str]:
        """Drain accumulated client warnings (the protocol warning
        frame: cqlsh prints these after the result)."""
        out = list(self.client_warnings)
        self.client_warnings.clear()
        return out

    # --- registry keys (round 11): tables key by the QUALIFIED
    # "keyspace.table" name, so ks1.t and ks2.t coexist like the
    # reference's per-keyspace schema. Every per-table side registry
    # (indexes, masks, triggers, MVs, SAI artifacts) uses the same key.

    @staticmethod
    def _key_ks(key: str) -> str:
        """Keyspace component of a registry key."""
        return key.partition(".")[0]

    @staticmethod
    def _key_bare(key: str) -> str:
        """Bare table name of a registry key."""
        return key.partition(".")[2]

    def create_table(
        self, schema: TableSchema, keyspace: str | None = None
    ) -> CqlTable:
        ks = keyspace or self.current_ks
        if ks is None:
            raise CQLError("no keyspace selected (USE <keyspace> first)")
        key = f"{ks}.{schema.name}"
        if key in self.mat_views:
            raise CQLError(
                f"{schema.name!r} is a materialized view"
            )
        if key in self.tables:
            raise CQLError(
                f"table {schema.name!r} already exists in keyspace {ks!r}"
            )
        spill = (
            os.path.join(self.spill_dir, f"{ks}_{schema.name}")
            if self.spill_dir is not None
            else None
        )
        t = CqlTable(
            self.spark, schema,
            spill_dir=spill, spill_threshold=self.spill_threshold,
        )
        # guardrails are session-scoped: share the live dict + warning
        # sink BY REFERENCE so set_guardrail() governs every table;
        # columns_per_table rejects BEFORE any registration side effect
        t.guardrails = self.guardrails
        t.client_warnings = self.client_warnings
        t._check_guardrail(
            "columns_per_table",
            len(schema.regular) + len(schema.static) + len(schema.key_cols),
            f"columns in table {schema.name!r}",
        )
        if schema.masks:
            self.masks.setdefault(key, {}).update(schema.masks)
        self.tables[key] = t
        return t

    def _resolve(self, name: str) -> str:
        """Bare or ``ks.table`` qualified name -> the qualified registry
        key, validating the keyspace tag. Bare names scope to the
        current keyspace (USE)."""
        n = name.lower()
        if "." in n:
            ks, _, t = n.partition(".")
            if ks in ("system", "system_schema", "system_auth",
                      "system_traces", "system_views"):
                return n  # virtual keyspaces pass through
            if ks not in self.keyspaces:
                raise CQLError(f"unknown keyspace {ks!r}")
            return n
        if self.current_ks is None:
            raise CQLError(
                "no keyspace selected (USE <keyspace> first)"
            )
        return f"{self.current_ks}.{n}"

    def table(self, name: str) -> CqlTable:
        key = self._resolve(name)
        try:
            return self.tables[key]
        except KeyError:
            raise CQLError(f"unknown table {name!r}") from None

    def _meta(self, schema: TableSchema, key: str | None = None) -> TableMeta:
        """TableMeta for a session table; ``key`` is the qualified
        registry key the index registries are filed under (defaults to
        the current keyspace's key for the schema's name)."""
        if key is None:
            key = f"{self.current_ks or 'session'}.{schema.name}"
        return TableMeta(
            name=schema.name,
            partition_key=tuple(schema.partition_cols),
            clustering=tuple(
                ("-" + c) if c in schema.clustering_desc else c
                for c in schema.clustering
            ),
            indexed=tuple(sorted(self.indexes.get(key, ()))),
            indexed_keys=tuple(sorted(self.key_indexes.get(key, ()))),
            indexed_sai=tuple(sorted(self.sai_indexes.get(key, ()))),
            indexed_entries=tuple(
                sorted(self.entry_indexes.get(key, ()))
            ),
            indexed_full=tuple(sorted(self.full_indexes.get(key, ()))),
            indexed_sasi=tuple(sorted(self.sasi_indexes.get(key, ()))),
            sasi_mode=tuple(sorted(self.sasi_modes.get(key, {}).items())),
            statics=tuple(sorted(schema.static)),
            sai_similarity=tuple(
                sorted(self.sai_similarity.get(key, {}).items())
            ),
        )

    def register_trigger_class(self, name: str, fn) -> None:
        """Install an ITrigger implementation under ``name`` (the
        reference loads trigger JARs into a class registry; here the
        registry holds Python callables). ``fn(session, table, cells)``
        receives the canonical mutation-log cells the triggering
        statement appended and returns extra CQL statements to apply
        with it — the ``augment()`` contract."""
        if not callable(fn):
            raise CQLError("trigger class must be callable")
        self.trigger_classes[name] = fn

    def _create_trigger(self, m: re.Match) -> None:
        """CREATE TRIGGER name ON table USING 'Class' (`[C* cql3/
        statements/CreateTriggerStatement, unverified]`). Reference
        rule: only superusers may create triggers (a trigger is
        arbitrary server-side code)."""
        roles = self._role_closure(self.current_role)
        if not any(
            self.roles.get(r, {}).get("is_superuser") for r in roles
        ):
            raise CQLError("only superusers are allowed to CREATE TRIGGER")
        table = self._resolve(m.group("table"))
        if table not in self.tables:
            raise CQLError(f"unknown table {m.group('table')!r}")
        cls = m.group("cls")
        if cls not in self.trigger_classes:
            raise CQLError(
                f"trigger class {cls!r} is not registered "
                "(register_trigger_class)"
            )
        name = m.group("name").lower()
        existing = self.triggers.setdefault(table, {})
        if name in existing:
            if m.group("ine"):
                return None
            raise CQLError(f"trigger {name!r} already exists on {table!r}")
        existing[name] = cls
        return None

    def _drop_trigger(self, m: re.Match) -> None:
        # same superuser gate as CREATE TRIGGER: the reference requires
        # superuser for DROP TRIGGER too — without it any logged-in role
        # could drop another role's trigger
        roles = self._role_closure(self.current_role)
        if not any(
            self.roles.get(r, {}).get("is_superuser") for r in roles
        ):
            raise CQLError("only superusers are allowed to DROP TRIGGER")
        table = self._resolve(m.group("table"))
        name = m.group("name").lower()
        if name not in self.triggers.get(table, {}):
            if m.group("ie"):
                return None
            raise CQLError(f"unknown trigger {name!r} on {table!r}")
        del self.triggers[table][name]
        if not self.triggers[table]:
            del self.triggers[table]
        return None

    def _create_index(self, m: re.Match) -> None:
        """CREATE INDEX ON t (col) / (KEYS|VALUES|ENTRIES|FULL(col)):
        registers ``col`` as secondary-indexed, which relaxes the SELECT
        restriction gate — equality / CONTAINS for a plain (values) index,
        CONTAINS KEY for a KEYS index, map-subscript equality
        (col['k'] = v) for an ENTRIES index, whole-value equality for a
        FULL index on a (frozen — the DDL normalizer strips the wrapper)
        collection. The scan strategy itself stays
        Spark's — an index here changes semantics, not physical access
        (SURVEY §2.1 R5/R6: Z-order / bucketing is the perf analogue)."""
        raw = m.group("table").lower()
        try:
            tname = self._resolve(raw)
        except CQLError:
            tname = raw
        if tname not in self.tables:
            # catalog (parquet-corpus) tables register under their bare
            # names — keyspace-less, so no key collision with the
            # qualified session registry
            return self._create_catalog_index(m, raw)
        # the reference requires ALTER on the table to manage its indexes
        self._check_perm("ALTER", tname)
        table = self.tables[tname]
        kind = (m.group("kind") or "").upper()
        col = (m.group("icol") or m.group("col")).lower()
        s = table.schema
        using = (m.group("using") or "").lower()
        if m.group("custom"):
            # CREATE CUSTOM INDEX ... USING 'StorageAttachedIndex'/'...SAI...'
            # (Cassandra 5 SAI) or '...SASIIndex' (legacy SASI DDL). The two
            # classes register DISTINCT kinds because their admitted
            # predicate sets differ: SAI = equality / range / CONTAINS,
            # SASI = equality / range / LIKE (`[C* index/sasi/SASIIndex;
            # index/sai, unverified]`). Other custom classes are rejected
            # honestly.
            is_sasi = "sasi" in using
            if not is_sasi and "sai" not in using \
                    and "storageattachedindex" not in using:
                raise CQLError(
                    f"unsupported custom index class {m.group('using')!r} "
                    "(StorageAttachedIndex/SASI accepted)"
                )
            if kind:
                raise CQLError("custom indexes take a plain column target")
            if s.counter:
                # the reference rejects ALL index DDL on counter tables —
                # the plain-2i branch below already does; SAI/SASI must too
                raise CQLError(
                    "secondary indexes are not supported on counters"
                )
            # clustering columns ARE indexable (`[C* cql3/statements/
            # CreateIndexStatement, unverified]` — only partition-key
            # components are rejected); the index admits a
            # partition-free restriction through the gate
            if col in s.partition_cols:
                raise CQLError(f"cannot index partition key column {col!r}")
            if (
                col not in s.regular
                and col not in s.static
                and col not in s.clustering
            ):
                raise CQLError(f"unknown column {col!r} in {s.name!r}")
            name = (m.group("name") or f"{s.name}_{col}_idx").lower()
            if name in self.index_names:
                raise CQLError(f"index {name!r} already exists")
            if is_sasi:
                # SASI indexes scalar (text/numeric) columns only — the
                # reference never supported collections under SASI
                if parse_coll_type((s.regular | s.static).get(col, "")):
                    raise CQLError(
                        "SASI does not support collection columns "
                        f"({col!r}); use SAI or a 2i kind index"
                    )
                self.sasi_indexes.setdefault(tname, set()).add(col)
                self.index_names[name] = (tname, col, "sasi")
                mode = _parse_sasi_mode(m.group("opts"))
                if mode:
                    self.sasi_modes.setdefault(tname, {})[col] = mode
                return
            self.sai_indexes.setdefault(tname, set()).add(col)
            self.index_names[name] = (tname, col, "sai")
            # vector<T, n> maps to list<T> in the session schema; the
            # float/double element bound is the vector-typed subset
            typ = (s.regular | s.static).get(col, "")
            fn = _parse_sai_options(
                m.group("opts"),
                col,
                bool(re.match(r"(list|array)<(float|double)", typ)),
            )
            if fn:
                self.sai_similarity.setdefault(tname, {})[col] = fn
            return
        if col in s.partition_cols:
            # a COMPONENT of a composite partition key is indexable
            # (`[C* cql3/statements/CreateIndexStatement — rejects only
            # the sole partition-key column, unverified]`); the gate
            # then admits a lone equality restriction on it without
            # ALLOW FILTERING. Only the plain-2i kind, like the
            # reference's 2i-on-key support.
            if len(s.partition_cols) == 1:
                raise CQLError(
                    f"cannot create secondary index on the only "
                    f"partition key column {col!r}"
                )
            if kind:
                raise CQLError(
                    "partition-key component indexes take a plain "
                    "column target"
                )
            name = (m.group("name") or f"{s.name}_{col}_idx").lower()
            if name in self.index_names:
                raise CQLError(f"index {name!r} already exists")
            self.indexes.setdefault(tname, set()).add(col)
            self.index_names[name] = (tname, col, "values")
            return
        if (
            col not in s.regular
            and col not in s.static
            and col not in s.clustering
        ):
            raise CQLError(f"unknown column {col!r} in {s.name!r}")
        if s.counter:
            raise CQLError("secondary indexes are not supported on counters")
        coll = parse_coll_type((s.regular | s.static).get(col, ""))
        if kind == "KEYS":
            if coll is None or coll[0] != "map":
                raise CQLError(
                    f"KEYS() index needs a map column, {col!r} is not one"
                )
        elif kind == "ENTRIES":
            if coll is None or coll[0] != "map":
                raise CQLError(
                    f"ENTRIES() index needs a map column, {col!r} is not one"
                )
        elif kind == "FULL":
            if coll is None:
                raise CQLError(
                    f"FULL() index needs a frozen collection, {col!r} "
                    "is not one"
                )
        elif kind == "VALUES" and coll is None:
            raise CQLError(
                f"VALUES() index needs a collection column, {col!r} is not one"
            )
        name = (m.group("name") or f"{s.name}_{col}_idx").lower()
        if name in self.index_names:
            raise CQLError(f"index {name!r} already exists")
        if kind == "KEYS":
            self.key_indexes.setdefault(tname, set()).add(col)
            self.index_names[name] = (tname, col, "keys")
        elif kind == "ENTRIES":
            self.entry_indexes.setdefault(tname, set()).add(col)
            self.index_names[name] = (tname, col, "entries")
        elif kind == "FULL":
            self.full_indexes.setdefault(tname, set()).add(col)
            self.index_names[name] = (tname, col, "full")
        else:
            self.indexes.setdefault(tname, set()).add(col)
            self.index_names[name] = (tname, col, "values")

    def _create_catalog_index(self, m: re.Match, tname: str) -> None:
        """CREATE CUSTOM INDEX on a CATALOG (parquet-corpus) table — the
        Cassandra-5 SAI-on-analytics-table shape: `CREATE CUSTOM INDEX ON
        embeddings (embedding) USING 'StorageAttachedIndex'` makes later
        `ORDER BY .. ANN OF` statements route through the LSH bucket probe
        instead of brute-force scoring (cql.py:_compile_ann). Only the
        custom (SAI/SASI) form applies here: plain 2i semantics on
        immutable corpora are the restriction-gate flags the Catalog
        already carries."""
        if self.sf_dir is None:
            raise CQLError(f"unknown table {tname!r}")
        # the reference requires ALTER on the table for ALL index DDL —
        # catalog tables included (DROP INDEX on the same index already
        # gates on ALTER; CREATE must be symmetric, and an SAI build here
        # writes a persisted artifact, hardly a read-only act)
        self._check_perm("ALTER", tname)
        from cassandra_spark.catalog import Catalog

        cat = Catalog(self.spark, self.sf_dir)
        try:
            df, meta = cat.table(tname), cat.meta(tname)
        except KeyError:
            raise CQLError(f"unknown table {tname!r}") from None
        if not m.group("custom"):
            raise CQLError(
                f"{tname!r} is a catalog table: only CREATE CUSTOM INDEX "
                "(StorageAttachedIndex/SASI) is supported on corpora"
            )
        using = (m.group("using") or "").lower()
        if ("sai" not in using and "storageattachedindex" not in using
                and "sasi" not in using):
            raise CQLError(
                f"unsupported custom index class {m.group('using')!r} "
                "(StorageAttachedIndex/SASI accepted)"
            )
        if m.group("kind"):
            raise CQLError("custom indexes take a plain column target")
        col = (m.group("icol") or m.group("col")).lower()
        cols = {c.lower() for c in df.columns}
        if col not in cols:
            raise CQLError(f"unknown column {col!r} in {tname!r}")
        if col in meta.partition_key:
            raise CQLError(f"cannot index partition key column {col!r}")
        name = (m.group("name") or f"{tname}_{col}_idx").lower()
        if name in self.index_names:
            raise CQLError(f"index {name!r} already exists")
        dtypes = {c.lower(): t for c, t in df.dtypes}
        if "sasi" in using:
            # SASI on a corpus text/numeric column: registers the LIKE-
            # admitting kind; no persisted artifact (SASI's value is the
            # gate relaxation — the scan strategy stays Spark's)
            if dtypes.get(col, "").startswith(("array", "map", "struct")):
                raise CQLError(
                    f"SASI does not support collection columns ({col!r})"
                )
            self.sasi_indexes.setdefault(tname, set()).add(col)
            self.index_names[name] = (tname, col, "sasi")
            mode = _parse_sasi_mode(m.group("opts"))
            if mode:
                self.sasi_modes.setdefault(tname, {})[col] = mode
            return
        self.sai_indexes.setdefault(tname, set()).add(col)
        self.index_names[name] = (tname, col, "sai")
        fn = _parse_sai_options(
            m.group("opts"), col, dtypes.get(col, "").startswith("array")
        )
        if fn:
            self.sai_similarity.setdefault(tname, {})[col] = fn
        if dtypes.get(col, "").startswith("array"):
            # vector column: build the persisted SAI artifact NOW (the
            # reference builds SAI at index DDL time) — later ANN probes
            # scan only their buckets' partitions instead of recomputing
            # the LSH hash over the whole corpus per query
            from cassandra_spark.operators.vector_index import (
                build_lsh_bucket_index,
            )

            self.sai_vector_index.setdefault(tname, {})[col] = (
                build_lsh_bucket_index(self.spark, self.sf_dir, tname, col)
            )

    def _check_in_guardrail(self, stmt: str, key: str) -> None:
        """partition_keys_in_select guardrail (`[C* db/guardrails ::
        partitionKeysInSelect, unverified]`): the size of a partition-key
        IN list bounds the multi-partition fan-out one SELECT may ask a
        coordinator for. Quote-masked so commas inside string literals
        never miscount."""
        if "partition_keys_in_select" not in self.guardrails:
            return
        if key in self.tables:
            pk_cols = self.tables[key].schema.partition_cols
        else:
            from cassandra_spark.catalog import SCHEMA

            # catalog tables are keyspace-less: fall back to the bare name
            meta = SCHEMA.get(self._key_bare(key) if "." in key else key)
            if meta is None:
                return
            pk_cols = meta.partition_key
        masked = re.sub(
            r"'(?:[^']|'')*'",
            lambda m: "'" + "_" * (len(m.group(0)) - 2) + "'",
            stmt,
        )
        # the guardrail bounds SELECTED PARTITIONS: with a composite key,
        # per-component IN lists multiply (the reference's fan-out is the
        # cartesian product of the component restrictions)
        fanout = 1
        hit = False
        for pk_col in pk_cols:
            im = re.search(
                rf"\b{re.escape(pk_col)}\s+IN\s*\(([^)]*)\)", masked,
                re.IGNORECASE,
            )
            if im:
                hit = True
                fanout *= im.group(1).count(",") + 1
        if not hit:
            return
        from cassandra_spark.cql_dml import check_guardrail

        check_guardrail(
            self.guardrails, self.client_warnings,
            "partition_keys_in_select", fanout,
            f"partition keys in IN on {key!r}",
        )

    def _select_key_cols(self, key: str) -> set[str]:
        if key in self.tables:
            s = self.tables[key].schema
            return {c.lower() for c in s.key_cols}
        from cassandra_spark.catalog import SCHEMA

        meta = SCHEMA.get(self._key_bare(key) if "." in key else key)
        if meta is None:
            return set()
        return {
            c.lower() for c in (*meta.partition_key, *meta.clustering)
        }

    def _check_select_guardrails(self, stmt: str, key: str) -> None:
        """The round-10 SELECT-side guardrails, enforced at the same
        choke point as partition_keys_in_select:

        - ``allow_filtering`` (`[C* db/guardrails :: allowFiltering,
          unverified]` — a boolean enable in the reference, mapped here
          to warn/fail thresholds over actual=1 per use);
        - ``in_select_cartesian_product`` (`[C* db/guardrails ::
          inSelectCartesianProduct, unverified]`): the product of the
          statement's key-column IN-list sizes — the number of
          (partition, clustering) combinations one SELECT fans out to.
          String literals are masked so commas inside them never
          miscount."""
        from cassandra_spark.cql_dml import check_guardrail

        if "allow_filtering" in self.guardrails and re.search(
            r"\bALLOW\s+FILTERING\b", stmt, re.IGNORECASE
        ):
            check_guardrail(
                self.guardrails, self.client_warnings,
                "allow_filtering", 1, "ALLOW FILTERING use",
            )
        if "in_select_cartesian_product" not in self.guardrails:
            return
        key_cols = self._select_key_cols(key)
        if not key_cols:
            return
        masked = re.sub(
            r"'(?:[^']|'')*'",
            lambda m: "'" + "_" * (len(m.group(0)) - 2) + "'",
            stmt,
        )
        product, found = 1, False
        for im in re.finditer(
            r"\b(\w+)\s+IN\s*\(([^)]*)\)", masked, re.IGNORECASE
        ):
            if im.group(1).lower() in key_cols:
                found = True
                product *= im.group(2).count(",") + 1
        if found:
            check_guardrail(
                self.guardrails, self.client_warnings,
                "in_select_cartesian_product", product,
                f"IN cartesian product on {key!r}",
            )

    def _masked_conjunctive_where(self, stmt: str):
        """(where_text, offset_into_stmt) for a statement whose WHERE is
        a pure conjunction, with string-literal CONTENT masked out
        (length-preserving '_' runs, quotes kept) so structural regexes
        are quote-aware — keywords INSIDE a quoted string can neither
        truncate the WHERE extent nor hide an OR. None when there is no
        WHERE or the clause carries OR/NOT/IN (an indexed conjunct is
        not a safe partition pruner under those). Literal text must be
        recovered from the ORIGINAL stmt by offset (lengths match)."""
        masked = re.sub(
            r"'(?:[^']|'')*'",
            lambda m: "'" + "_" * (len(m.group(0)) - 2) + "'",
            stmt,
        )
        wm = re.search(
            r"\bWHERE\b(.*?)(?:\bGROUP\s+BY\b|\bORDER\s+BY\b|"
            r"\bPER\s+PARTITION\s+LIMIT\b|\bLIMIT\b|"
            r"\bALLOW\s+FILTERING\b|$)",
            masked,
            re.IGNORECASE | re.DOTALL,
        )
        if not wm:
            return None
        where = wm.group(1)
        if re.search(r"\b(OR|NOT|IN)\b", where, re.IGNORECASE):
            return None
        return where, wm.start(1)

    def _indexed_eq_prune(self, tname: str, stmt: str):
        """(col, canonical literal) when the statement's WHERE carries a
        conjunct an index can serve as a partition pruner: ``col = lit``
        on a values- or SAI-indexed scalar, or ``col CONTAINS lit`` on a
        values-indexed collection (elements and map values log as
        individual cells, so the same value Bloom covers them). Only
        types that normalize losslessly qualify (INDEX_EQ_TYPES via
        index_probe_type); None otherwise — full-scan filter, still
        correct. Only pure conjunctions qualify: under OR/NOT/IN an
        indexed conjunct is not a safe partition pruner.

        The statement text is examined with string-literal contents
        masked out (same-length placeholders), so keywords INSIDE a
        quoted string ('no LIMIT here') can neither truncate the WHERE
        extent nor hide an OR; and the literal must be a COMPLETE
        conjunct RHS — followed by AND / end of clause — so expression
        RHS like ``v = 5 + 1`` or ``v = 5e2`` never prunes on the
        leading '5' while Catalyst evaluates the real expression.
        Pruning is an optimization: whenever in doubt, return None and
        the full-scan filter stays correct."""
        from cassandra_spark.cql_dml import (
            _parse_literal,
            index_probe_type,
            parse_coll_type,
        )

        eq_cols = (
            set(self.indexes.get(tname, ()))
            | set(self.sai_indexes.get(tname, ()))
            | set(self.sasi_indexes.get(tname, ()))
        )
        if not eq_cols:
            return None
        mw = self._masked_conjunctive_where(stmt)
        if mw is None:
            return None
        where, w_off = mw
        schema = self.tables[tname].schema
        lit_re = (
            r"('(?:[^']|'')*'|-?\d+|[Tt][Rr][Uu][Ee]|[Ff][Aa][Ll][Ss][Ee])"
        )
        # a prunable conjunct starts at the WHERE clause or after AND,
        # and its literal RHS runs to AND / ';' / end of the clause —
        # anything else (arithmetic, float tail, function call) means the
        # '=' RHS is an expression, which only Catalyst may evaluate
        head_re = r"(?:^\s*|\b[Aa][Nn][Dd]\s+)"
        tail_re = r"(?=\s*(?:[Aa][Nn][Dd]\b|;|$))"
        for col in sorted(eq_cols):
            if index_probe_type(schema, col) is None:
                continue
            typ = schema.regular.get(col) or schema.static.get(col) or ""
            is_coll = parse_coll_type(typ) is not None
            if is_coll:
                # values index on a collection admits CONTAINS (value-side
                # for maps) — element cells make it the same probe
                m = re.search(
                    rf"{head_re}{re.escape(col)}\s+CONTAINS\s+(?!KEY\b)"
                    rf"{lit_re}{tail_re}",
                    where,
                    re.IGNORECASE,
                )
            else:
                m = re.search(
                    rf"{head_re}{re.escape(col)}\s*(?<![!<>=\]])=(?!=)\s*"
                    rf"{lit_re}{tail_re}",
                    where,
                )
            if not m:
                continue
            try:
                # group offsets are positions in the MASKED text; lengths
                # are preserved, so the same span in stmt is the literal
                lit = _parse_literal(
                    stmt[w_off + m.start(1) : w_off + m.end(1)]
                )
            except CQLError:
                continue
            if lit is not None:
                return col, lit
        return None

    def _indexed_like_prune(self, tname: str, stmt: str):
        """(col, prefix) when the statement's WHERE carries a
        prefix-shaped ``col LIKE 'prefix%'`` conjunct on a SASI-indexed
        string column — SASI serves prefix searches from its index
        (`[C* index/sasi, unverified]`); contains/suffix shapes and
        patterns with '_' wildcards fall back to the full-scan filter
        (correct, just unaccelerated). Same soundness rules as the
        equality prune: quote-aware masking, pure conjunctions only."""
        sasi_cols = set(self.sasi_indexes.get(tname, ()))
        if not sasi_cols:
            return None
        mw = self._masked_conjunctive_where(stmt)
        if mw is None:
            return None
        where, w_off = mw
        schema = self.tables[tname].schema
        head_re = r"(?:^\s*|\b[Aa][Nn][Dd]\s+)"
        tail_re = r"(?=\s*(?:[Aa][Nn][Dd]\b|;|$))"
        for col in sorted(sasi_cols):
            typ = schema.regular.get(col) or schema.static.get(col) or ""
            if typ != "string":
                continue
            m = re.search(
                rf"{head_re}{re.escape(col)}\s+[Ll][Ii][Kk][Ee]\s+"
                rf"('(?:[^']|'')*'){tail_re}",
                where,
            )
            if not m:
                continue
            pat = stmt[w_off + m.start(1) + 1 : w_off + m.end(1) - 1]
            pat = pat.replace("''", "'")
            # prefix-shaped, no LIKE wildcards inside the prefix itself
            if not re.fullmatch(r"[^%_]+%", pat):
                continue
            return col, pat[:-1]
        return None

    def _indexed_range_prune(self, tname: str, stmt: str):
        """(col, lo, hi, lo_incl, hi_incl) when the statement's WHERE
        carries numeric RANGE conjuncts (``col > lit``, ``>=``, ``<``,
        ``<=``) on an SAI-indexed column of a range-orderable type —
        SAI serves ranges from its index (`[C* index/sai, unverified]`),
        a plain values index does not. Multiple conjuncts on the column
        intersect into one [lo, hi] interval (literals compared as exact
        Decimal). Same soundness rules as the equality prune: quote-
        aware masking, pure conjunctions only, literal must be a
        complete conjunct RHS. None → full-scan filter, still correct."""
        from decimal import Decimal

        from cassandra_spark.cql_dml import index_range_type

        sai_cols = set(self.sai_indexes.get(tname, ())) | set(
            self.sasi_indexes.get(tname, ())
        )
        if not sai_cols:
            return None
        mw = self._masked_conjunctive_where(stmt)
        if mw is None:
            return None
        where, _w_off = mw
        schema = self.tables[tname].schema
        num_re = r"(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
        head_re = r"(?:^\s*|\b[Aa][Nn][Dd]\s+)"
        tail_re = r"(?=\s*(?:[Aa][Nn][Dd]\b|;|$))"
        for col in sorted(sai_cols):
            if index_range_type(schema, col) is None:
                continue
            lo = hi = None  # (Decimal, literal str, inclusive)
            found = False
            # `col BETWEEN a AND b` (CQL 5.0) normalizes to the same
            # inclusive bound pair the <=/>= conjuncts feed below
            rels = [
                (m.group(1), m.group(2))
                for m in re.finditer(
                    rf"{head_re}{re.escape(col)}\s*(<=|>=|<|>)\s*"
                    rf"{num_re}{tail_re}",
                    where,
                )
            ]
            for m in re.finditer(
                rf"{head_re}{re.escape(col)}\s+[Bb][Ee][Tt][Ww][Ee][Ee][Nn]"
                rf"\s+{num_re}\s+[Aa][Nn][Dd]\s+{num_re}{tail_re}",
                where,
            ):
                rels += [(">=", m.group(1)), ("<=", m.group(2))]
            for op, lit in rels:
                d = Decimal(lit)
                found = True
                if op in (">", ">="):
                    incl = op == ">="
                    if (
                        lo is None
                        or d > lo[0]
                        or (d == lo[0] and lo[2] and not incl)
                    ):
                        lo = (d, lit, incl)
                else:
                    incl = op == "<="
                    if (
                        hi is None
                        or d < hi[0]
                        or (d == hi[0] and hi[2] and not incl)
                    ):
                        hi = (d, lit, incl)
            if found:
                return (
                    col,
                    lo[1] if lo else None,
                    hi[1] if hi else None,
                    lo[2] if lo else True,
                    hi[2] if hi else True,
                )
        return None

    def _catalog_overrides(self) -> dict:
        """(df, meta) entries for catalog tables this session has indexed:
        SELECT compilation must see the session's index flags (e.g. SAI →
        ANN probe routing), which the static Catalog metadata lacks."""
        out: dict = {}
        if self.sf_dir is None:
            return out
        import dataclasses

        from cassandra_spark.catalog import Catalog

        cat = Catalog(self.spark, self.sf_dir)
        indexed = (
            set(self.indexes) | set(self.key_indexes)
            | set(self.sai_indexes) | set(self.sasi_indexes)
        )
        for tname in indexed - set(self.tables):
            if "." in tname:
                continue  # qualified session keys are never catalog tables
            try:
                df, meta = cat.table(tname), cat.meta(tname)
            except KeyError:
                continue
            out[tname] = (
                df,
                dataclasses.replace(
                    meta,
                    indexed=tuple(
                        sorted(
                            set(meta.indexed) | self.indexes.get(tname, set())
                        )
                    ),
                    indexed_keys=tuple(
                        sorted(
                            set(meta.indexed_keys)
                            | self.key_indexes.get(tname, set())
                        )
                    ),
                    indexed_sai=tuple(
                        sorted(
                            set(meta.indexed_sai)
                            | self.sai_indexes.get(tname, set())
                        )
                    ),
                    indexed_sasi=tuple(
                        sorted(
                            set(meta.indexed_sasi)
                            | self.sasi_indexes.get(tname, set())
                        )
                    ),
                    sasi_mode=tuple(
                        sorted(self.sasi_modes.get(tname, {}).items())
                    ),
                    vector_index=tuple(
                        sorted(self.sai_vector_index.get(tname, {}).items())
                    ),
                    sai_similarity=tuple(
                        sorted(self.sai_similarity.get(tname, {}).items())
                    ),
                ),
            )
        return out

    def _alter_table(self, m: re.Match) -> None:
        """ALTER TABLE ADD/DROP: live schema evolution. ADD declares a new
        regular or STATIC column (readable immediately, NULL until
        written); DROP removes the column and eagerly purges its cells
        from the log — pinned simplification of the reference's
        dropped-column timestamp machinery, which exists to make a
        re-added name not resurrect old cells; eager purge gives the same
        visible behavior."""
        key = self._resolve(m.group("table"))
        table = self.table(m.group("table"))
        s = table.schema
        # ALTER mutates the TableSchema object in place — the memoized
        # snapshot plan cannot see that through its state key
        table.bump_schema_version()
        if s.counter:
            raise CQLError("ALTER is not supported on counter tables")
        if m.group("withopts"):
            # ALTER TABLE ... WITH: the reference's live table-option
            # change. New settings govern FUTURE activity (new segments
            # use the new codec, the new strategy picks the next
            # compaction, the new TTL applies to subsequent writes);
            # existing segments are untouched, as on a real cluster.
            opts = _parse_table_options(m.group("withopts"))
            if not opts:
                raise CQLError(
                    f"unsupported ALTER TABLE options: "
                    f"{m.group('withopts')!r}"
                )
            for k, v in opts.items():
                setattr(s, k, v)
            return
        if m.group("maskcol") or m.group("unmaskcol"):
            col = (m.group("maskcol") or m.group("unmaskcol")).lower()
            if (
                col not in s.regular
                and col not in s.static
                and col not in s.key_cols
            ):
                raise CQLError(f"unknown column {col!r} in {s.name!r}")
            if m.group("unmaskcol"):
                self.masks.get(key, {}).pop(col, None)
                return
            fn = m.group("maskfn").lower()
            if fn not in (
                "mask_null", "mask_default", "mask_replace",
                "mask_inner", "mask_outer", "mask_hash",
            ):
                raise CQLError(f"unknown masking function {fn!r}")
            args = m.group("maskargs").strip()
            self.masks.setdefault(key, {})[col] = (
                f"{fn}({col}, {args})" if args else f"{fn}({col})"
            )
            return
        if m.group("renfrom"):
            # ALTER TABLE ... RENAME (`[C* cql3/statements/
            # AlterTableStatement :: RENAME, unverified]`): ONLY primary-
            # key columns are renamable — regular column names are baked
            # into stored cells (this engine's mutation log stores them
            # in the `col` column, the same physical reason the
            # reference's cell paths give), while key names are pure
            # metadata (pk/ck store VALUES). Indexed columns and tables
            # with materialized views are rejected like the reference.
            src = m.group("renfrom").lower()
            dst = m.group("rento").lower()
            if src in s.regular or src in s.static:
                raise CQLError(
                    f"cannot rename non PRIMARY KEY column {src!r}"
                )
            if src not in s.key_cols:
                raise CQLError(f"unknown column {src!r} in {s.name!r}")
            if dst in s.regular or dst in s.static or dst in s.key_cols:
                raise CQLError(f"column {dst!r} already exists")
            for idx in (
                self.indexes, self.key_indexes, self.entry_indexes,
                self.full_indexes, self.sai_indexes, self.sasi_indexes,
            ):
                if src in idx.get(key, set()):
                    raise CQLError(f"cannot rename indexed column {src!r}")
            if any(v[0] == key for v in self.mat_views.values()):
                raise CQLError(
                    "cannot rename a column on a table with "
                    "materialized views (they select its key columns)"
                )
            if src in s.partition_cols:
                s.partition_cols = tuple(
                    dst if c == src else c for c in s.partition_cols
                )
                s.partition_key = s.partition_cols[0]
            else:
                s.clustering = tuple(
                    dst if c == src else c for c in s.clustering
                )
            if src in s.key_types:
                s.key_types[dst] = s.key_types.pop(src)
            s.clustering_desc = tuple(
                dst if c == src else c for c in s.clustering_desc
            )
            return
        if m.group("addcol"):
            col = m.group("addcol").lower()
            if col in s.regular or col in s.static or col in s.key_cols:
                raise CQLError(f"column {col!r} already exists")
            mapped = _map_type(m.group("addtype"), self.types)
            prior = s.dropped.get(col)
            if prior is not None:
                # re-adding a previously dropped name (`[C*
                # cql3/statements/AlterTableStatement re-add validation,
                # unverified]`): the type must match the dropped type
                # and the kind (STATIC vs regular) may not flip —
                # stored pre-drop cells were serialized under them
                if mapped != prior[1]:
                    raise CQLError(
                        f"cannot re-add previously dropped column "
                        f"{col!r} of type {m.group('addtype').strip()}, "
                        f"incompatible with previous type {prior[1]}"
                    )
                if bool(m.group("static")) != bool(prior[2]):
                    raise CQLError(
                        f"cannot re-add previously dropped column "
                        f"{col!r} of a different kind (was "
                        f"{'STATIC' if prior[2] else 'regular'})"
                    )
            if is_coll_type(mapped):
                _validate_nested_frozen(m.group("addtype"), col, self.types)
                p = parse_coll_type(mapped)
                if p and p[0] == "map" and (
                    parse_struct_type(p[1]) is not None
                    or is_coll_type(p[1])
                ):
                    raise CQLError(
                        f"map column {col!r} must have a scalar key type"
                    )
            if m.group("static"):
                if parse_coll_type(mapped):
                    raise CQLError("static collection columns are not supported")
                s.static[col] = mapped
            else:
                s.regular[col] = mapped
                if m.group("addtype").strip().lower() in self.types:
                    s.nonfrozen.add(col)  # bare UDT: multi-cell form
                vm = re.fullmatch(
                    r"vector\s*<\s*\w+\s*,\s*(\d+)\s*>",
                    m.group("addtype").strip().lower(),
                )
                if vm:
                    s.vector_dims[col] = int(vm.group(1))
            return
        col = m.group("dropcol").lower()
        if col in s.key_cols:
            raise CQLError(f"cannot drop primary key column {col!r}")
        was_static = col in s.static
        s.nonfrozen.discard(col)
        s.vector_dims.pop(col, None)
        if col in s.regular:
            typ = s.regular.pop(col)
        elif col in s.static:
            typ = s.static.pop(col)
        else:
            raise CQLError(f"unknown column {col!r} in {s.name!r}")
        # the drop time (`ALTER ... DROP col USING TIMESTAMP t`,
        # CASSANDRA-7784; default = the table's statement clock, so
        # pinned-timestamp workloads pass their own wall-µs): cells at
        # or below it are purged, FUTURE-stamped cells survive to
        # reappear on re-add, and the registry shadows late re-writes
        drop_ts = (
            int(m.group("dropts"))
            if m.group("dropts")
            else max(table._clock, s.dropped.get(col, [0])[0])
        )
        s.dropped[col] = [drop_ts, typ, was_static]
        table.drop_column_cells(col, horizon_us=drop_ts)
        self.indexes.get(key, set()).discard(col)
        self.key_indexes.get(key, set()).discard(col)
        self.sai_indexes.get(key, set()).discard(col)
        self.sasi_indexes.get(key, set()).discard(col)
        self.entry_indexes.get(key, set()).discard(col)
        self.full_indexes.get(key, set()).discard(col)
        self.index_names = {
            n: v
            for n, v in self.index_names.items()
            if not (v[0] == key and v[1] == col)
        }

    def prepare(self, text: str) -> PreparedStatement:
        """Prepare a statement with ``?`` bind markers (`[C* cql3/
        QueryProcessor#prepare, unverified]`). Works for every statement
        kind the session accepts (SELECT / DML / BATCH)."""
        return PreparedStatement(self, text)

    def execute_paged(
        self, stmt: str, page_size: int, paging_state: str | None = None
    ) -> PagedResult:
        """Keyset-paged SELECT (`[C* service/pager/QueryPagers,
        unverified]`): returns one page of ``page_size`` rows in primary-key
        order (honoring DESC clustering), plus an opaque resume token.
        State lives entirely in the token — each page is an independent
        pushdown-able range scan + TakeOrderedAndProject, the property that
        makes paging free at 100 TB.

        Constraints (the reference's too): plain SELECT only — LIMIT /
        GROUP BY / DISTINCT / ORDER BY / ANN / PER PARTITION LIMIT don't
        page; the projection must retain the primary-key columns (use *
        or name them) since they carry the cursor."""
        from cassandra_spark.cql import _parse

        if page_size < 1:
            raise CQLError("page_size must be positive")
        s = _parse(stmt)
        if (
            s.limit is not None
            or s.group_by is not None
            or s.distinct
            or s.ann
            or s.order_by
            or s.per_partition_limit is not None
            or s.json
        ):
            raise CQLError(
                "paged execution supports plain SELECT ... [WHERE ...] only"
            )
        df = self.execute(stmt)
        tkey = self._resolve(s.table)
        if tkey in self.tables:
            meta = self._meta(self.tables[tkey].schema, tkey)
        else:
            from cassandra_spark.catalog import SCHEMA

            meta = SCHEMA[s.table]
        keys = list(meta.partition_key) + [
            c.lstrip("-") for c in meta.clustering
        ]
        descs = [False] * len(meta.partition_key) + [
            c.startswith("-") for c in meta.clustering
        ]
        have = {c.lower() for c in df.columns}
        missing = [k for k in keys if k not in have]
        if missing:
            raise CQLError(
                f"paged SELECT must project the primary key; missing {missing}"
            )
        dtypes = dict(df.dtypes)
        if paging_state is not None:
            vals = _decode_state(paging_state)
            if len(vals) != len(keys):
                raise CQLError("paging state does not match the table's key")
            typed = [
                _cursor_lit(v, dtypes[k]) for k, v in zip(keys, vals)
            ]
            pred = None
            for i, k in enumerate(keys):
                eq = None
                for j in range(i):
                    term = F.col(keys[j]) == typed[j]
                    eq = term if eq is None else (eq & term)
                nxt = (
                    F.col(k) < typed[i] if descs[i] else F.col(k) > typed[i]
                )
                clause = nxt if eq is None else (eq & nxt)
                pred = clause if pred is None else (pred | clause)
            df = df.filter(pred)
        page = df.orderBy(
            *[
                F.col(k).desc() if d else F.col(k).asc()
                for k, d in zip(keys, descs)
            ]
        ).limit(page_size)
        return PagedResult(page, keys, page_size, descs)

    def _create_type(self, m: re.Match) -> None:
        """CREATE TYPE name (f1 t1, ...) → registered struct type; columns
        may then declare ``name`` / ``frozen<name>``. Frozen semantics only
        (whole-cell replace) — the pinned simplification documented in
        operators/typed_replay.py."""
        name = m.group("name").lower()
        if name in self.types:
            if re.match(
                r"^\s*CREATE\s+TYPE\s+IF\s+NOT\s+EXISTS", m.string, re.IGNORECASE
            ):
                return
            raise CQLError(f"type {name!r} already exists")
        fields = []
        for item in _split_generics(m.group("body")):
            fm = re.fullmatch(r"(?P<f>\w+)\s+(?P<t>.+)", item, re.DOTALL)
            if not fm:
                raise CQLError(f"bad field definition in CREATE TYPE: {item!r}")
            fields.append(
                f"{fm.group('f').lower()}: {_map_type(fm.group('t'), self.types)}"
            )
        if not fields:
            raise CQLError("CREATE TYPE needs at least one field")
        self.types[name] = f"struct<{', '.join(fields)}>"

    def execute(self, stmt: str) -> DataFrame | bool | None:
        """Execute one statement; when full-query logging is enabled
        (:meth:`enable_fql`), the statement text is recorded AFTER it
        succeeds (failed statements are not logged — they mutated nothing,
        so a faithful replay must not re-raise them). Prepared executions
        arrive here with values already bound, so the log is replayable
        verbatim — the `fqltool replay` contract
        (`[C* fql/FullQueryLogger, tools/fqltool, unverified]`)."""
        tm = re.match(r"^\s*TRACING\s+(ON|OFF)\s*;?\s*$", stmt, re.IGNORECASE)
        if tm:
            self._tracing_on = tm.group(1).upper() == "ON"
            return None
        if not self._tracing_on:
            try:
                result = self._execute_stmt(stmt)
            except Exception as exc:
                self._audit_record_stmt(stmt, error=str(exc))
                raise
            self._audit_record_stmt(stmt)
            if self._fql is not None:
                self._fql.append(stmt)
            return result
        # traced execution: one sessions row + phase events per statement,
        # the system_traces shape every driver's trace() call reads.
        # elapsed is wall micros (real), event ordering/activities are
        # deterministic — oracle checks pin the latter only
        import time as _time

        sid = len(self._traces) + 1
        t0 = _time.perf_counter()
        kind = stmt.strip().split()[0].upper()
        command = "QUERY" if kind in ("SELECT", "LIST") else kind
        events = [(sid, 1, "Parsing " + kind, 0)]
        try:
            result = self._execute_stmt(stmt)
        except Exception as exc:
            # the reference records traces for failed requests too, and a
            # dropped trace would let the next statement reuse this id
            events.append(
                (sid, 2, "Request failed",
                 int((_time.perf_counter() - t0) * 1e6))
            )
            self._traces.append(
                ((sid, command, stmt.strip(),
                  int((_time.perf_counter() - t0) * 1e6)), events)
            )
            self._audit_record_stmt(stmt, error=str(exc))
            raise
        events.append(
            (sid, 2, "Executing statement",
             int((_time.perf_counter() - t0) * 1e6))
        )
        self._traces.append(
            ((sid, command, stmt.strip(),
              int((_time.perf_counter() - t0) * 1e6)), events)
        )
        self._audit_record_stmt(stmt)
        if self._fql is not None:
            self._fql.append(stmt)
        return result

    # --- audit logging (the reference's 4.0 audit log, `[C* audit/
    # AuditLogManager, AuditLogEntryType, unverified]`) -------------------
    #
    # Distinct from FQL: FQL records replayable successful statements;
    # the audit log records WHO did WHAT (including failures and auth
    # events) with category/keyspace filtering. Records are in-memory
    # rows (the binlog analogue) served as a DataFrame; entries carry
    # the session's deterministic sequence number, not wall time.

    _AUDIT_TYPES = {
        "SELECT": ("QUERY", "SELECT"),
        "INSERT": ("DML", "UPDATE"),  # the reference logs INSERT as UPDATE
        "UPDATE": ("DML", "UPDATE"),
        "DELETE": ("DML", "DELETE"),
        "BEGIN": ("DML", "BATCH"),
        "TRUNCATE": ("DDL", "TRUNCATE"),
        "CREATE": ("DDL", "CREATE"),
        "ALTER": ("DDL", "ALTER"),
        "DROP": ("DDL", "DROP"),
        "USE": ("OTHER", "USE_KEYSPACE"),
        "GRANT": ("DCL", "GRANT"),
        "REVOKE": ("DCL", "REVOKE"),
        "LIST": ("DCL", "LIST"),
        "DESCRIBE": ("OTHER", "DESCRIBE"),
        "COPY": ("DML", "COPY"),
    }

    _AUDIT_DCL_TARGETS = frozenset({"ROLE", "ROLES", "PERMISSIONS"})

    def enable_audit_log(
        self,
        included_categories=None,
        excluded_categories=None,
        included_keyspaces=None,
        excluded_keyspaces=None,
    ) -> None:
        """`nodetool enableauditlog` analogue with the reference's four
        filter knobs (category and keyspace allow/deny lists)."""
        norm = lambda xs: (  # noqa: E731
            None if xs is None else {x.upper() for x in xs}
        )
        ks = lambda xs: (  # noqa: E731
            None if xs is None else {x.lower() for x in xs}
        )
        self._audit = {
            "inc_cat": norm(included_categories),
            "exc_cat": norm(excluded_categories),
            "inc_ks": ks(included_keyspaces),
            "exc_ks": ks(excluded_keyspaces),
            "log": [],
        }

    def disable_audit_log(self) -> None:
        self._audit = None

    def _audit_classify(self, stmt: str):
        """(category, type, keyspace, scope) of a statement — best-effort
        target extraction (table after FROM/INTO/UPDATE/TRUNCATE/ON, or
        the DDL object name)."""
        words = stmt.strip().split()
        head = words[0].upper() if words else ""
        cat, typ = self._AUDIT_TYPES.get(head, ("OTHER", head or "EMPTY"))
        if head in ("CREATE", "ALTER", "DROP") and len(words) > 1:
            obj = words[1].upper()
            if obj in self._AUDIT_DCL_TARGETS:
                cat = "DCL"
            typ = f"{head}_{obj}"
        m = re.search(
            r"\b(?:FROM|INTO|UPDATE|TRUNCATE|TABLE|ON)\s+([\w.]+)",
            stmt,
            re.IGNORECASE,
        )
        keyspace = scope = None
        if m:
            name = m.group(1).lower()
            if "." in name:
                keyspace, scope = name.split(".", 1)
            else:
                scope = name
                if (
                    self.current_ks is not None
                    and f"{self.current_ks}.{name}" in self.tables
                ):
                    keyspace = self.current_ks
        return cat, typ, keyspace, scope

    def _audit_passes(self, category: str, keyspace) -> bool:
        a = self._audit
        if a is None:
            return False
        if a["inc_cat"] is not None and category not in a["inc_cat"]:
            return False
        if a["exc_cat"] is not None and category in a["exc_cat"]:
            return False
        if keyspace is not None:
            if a["inc_ks"] is not None and keyspace not in a["inc_ks"]:
                return False
            if a["exc_ks"] is not None and keyspace in a["exc_ks"]:
                return False
        return True

    def _audit_append(
        self, category, typ, keyspace, scope, operation, error
    ) -> None:
        if self._audit is None:
            return
        if error is not None:
            category = "ERROR"  # failed requests log under ERROR
        if not self._audit_passes(category, keyspace):
            return
        log = self._audit["log"]
        log.append(
            (
                len(log) + 1,
                self.current_role,
                category,
                typ,
                keyspace,
                scope,
                operation.strip(),
                error,
            )
        )

    def _audit_record_stmt(self, stmt: str, error: str | None = None) -> None:
        if self._audit is None:
            return
        cat, typ, keyspace, scope = self._audit_classify(stmt)
        self._audit_append(cat, typ, keyspace, scope, stmt, error)

    def audit_log(self) -> DataFrame:
        """The audit log as a queryable DataFrame."""
        rows = list(self._audit["log"]) if self._audit else []
        return self.spark.createDataFrame(
            rows,
            "seq long, user string, category string, type string, "
            "keyspace string, scope string, operation string, error string",
        )

    def enable_fql(self) -> None:
        """Start full-query logging on this session (DDL + DML + SELECT,
        in execution order)."""
        if self._fql is None:
            self._fql = []

    def trace_sessions(self) -> DataFrame:
        """``system_traces.sessions`` analogue: one row per traced
        statement (session_id, command, request, duration_micros)."""
        rows = [t[0] for t in self._traces]
        return self.spark.createDataFrame(
            rows,
            "session_id long, command string, request string, "
            "duration_micros long",
        ) if rows else self.spark.createDataFrame(
            [],
            "session_id long, command string, request string, "
            "duration_micros long",
        )

    def trace_events(self) -> DataFrame:
        """``system_traces.events`` analogue: the per-phase activity rows
        (session_id, event_id, activity, source_elapsed_micros)."""
        rows = [e for t in self._traces for e in t[1]]
        schema = (
            "session_id long, event_id long, activity string, "
            "source_elapsed_micros long"
        )
        return (
            self.spark.createDataFrame(rows, schema)
            if rows
            else self.spark.createDataFrame([], schema)
        )

    def tablestats(self) -> DataFrame:
        """``nodetool tablestats`` analogue: per-table physical stats —
        memtable rows, flushed segment count, Bloom-filter effectiveness
        (checked/skipped point-read probes), and since round 8 the 2i
        read path's value-Bloom probe counters (segments consulted /
        skipped by indexed-equality reads)."""
        rows = [
            (self._key_ks(key), self._key_bare(key),
             len(t._log), len(t._segments),
             t.bloom_stats["checked"], t.bloom_stats["skipped"],
             t.index_stats["checked"], t.index_stats["skipped"])
            for key, t in sorted(self.tables.items())
        ]
        schema = (
            "keyspace_name string, table_name string, memtable_rows long, "
            "sstable_count long, bloom_checked long, bloom_skipped long, "
            "index_checked long, index_skipped long"
        )
        return (
            self.spark.createDataFrame(rows, schema)
            if rows
            else self.spark.createDataFrame([], schema)
        )

    def fql_log(self) -> DataFrame:
        """The recorded log as a queryable DataFrame (seq, stmt)."""
        log = self._fql or []
        return self.spark.createDataFrame(
            [(i + 1, s) for i, s in enumerate(log)], "seq long, stmt string"
        )

    def fql_replay(self, target: "CqlSession") -> int:
        """Re-execute the recorded log, in order, against ``target`` — the
        upgrade-validation / traffic-mirroring workflow. Logical clocks are
        per-table and deterministic, so an unpinned-timestamp workload
        reproduces bit-identical state. Returns the statement count."""
        log = list(self._fql or [])
        for stmt in log:
            target.execute(stmt)
        return len(log)

    # --- auth ---------------------------------------------------------------

    def _parse_role_opts(self, text: str | None, opts: dict) -> None:
        """Shared CREATE/ALTER ROLE option parser: LOGIN / SUPERUSER /
        PASSWORD (accepted, unmodeled) and the 4.0 network authorizer's
        `ACCESS TO DATACENTERS {'dc1', ...}` / `ACCESS TO ALL
        DATACENTERS` (`[C* auth/CassandraNetworkAuthorizer —
        CASSANDRA-13985, unverified]`). Mutates ``opts`` in place (ALTER
        merges into the existing role)."""
        for part in re.split(
            r"\s+AND\s+", text or "", flags=re.IGNORECASE
        ):
            om = re.match(
                r"\s*(LOGIN|SUPERUSER)\s*=\s*(true|false)\s*$",
                part, re.IGNORECASE,
            )
            dm = re.match(
                r"\s*ACCESS\s+TO\s+(?:(?P<all>ALL\s+DATACENTERS)"
                r"|DATACENTERS\s*\{(?P<dcs>[^}]*)\})\s*$",
                part, re.IGNORECASE,
            )
            if om:
                key = (
                    "can_login"
                    if om.group(1).upper() == "LOGIN"
                    else "is_superuser"
                )
                opts[key] = om.group(2).lower() == "true"
            elif dm:
                if dm.group("all"):
                    opts.pop("datacenters", None)
                else:
                    dcs = sorted(
                        t.strip().strip("'\"").lower()
                        for t in dm.group("dcs").split(",")
                        if t.strip()
                    )
                    if not dcs:
                        raise CQLError(
                            "ACCESS TO DATACENTERS requires at least one "
                            "datacenter (use ACCESS TO ALL DATACENTERS)"
                        )
                    from cassandra_spark.operators.ring import TOPOLOGY

                    known = {dc for dc, _ in TOPOLOGY.values()}
                    bad = [d for d in dcs if d not in known]
                    if bad:
                        raise CQLError(
                            f"unknown datacenter(s) {bad} (cluster has "
                            f"{sorted(known)})"
                        )
                    opts["datacenters"] = dcs
            elif part and not re.match(
                r"\s*PASSWORD\s*=", part, re.IGNORECASE
            ):
                raise CQLError(f"unsupported role option: {part!r}")

    def login(self, role: str, datacenter: str | None = None) -> None:
        """Switch the session's active role (the driver's auth handshake
        reduced to its authorization effect). LOGIN=false roles are
        rejected, as the reference's role manager does; a role whose
        network permissions exclude the connecting datacenter
        (``datacenter``, default = this session's local DC) is rejected
        by the network authorizer the way a restricted connection is —
        superusers hold implicit ALL-datacenter access."""
        r = role.lower()
        dc = (datacenter or self.local_dc).lower()
        try:
            if r not in self.roles:
                raise CQLError(f"unknown role {role!r}")
            if not self.roles[r]["can_login"]:
                raise CQLError(f"role {role!r} is not permitted to log in")
            dcs = self.roles[r].get("datacenters")
            if (
                dcs is not None
                and not self.roles[r]["is_superuser"]
                and dc not in dcs
            ):
                raise CQLError(
                    f"role {role!r} has no access to datacenter {dc!r} "
                    f"(granted: {dcs})"
                )
        except CQLError as exc:
            self._audit_append(
                "AUTH", "LOGIN_ERROR", None, None, f"login {role}", str(exc)
            )
            raise
        self.current_role = r
        self._audit_append(
            "AUTH", "LOGIN_SUCCESS", None, None, f"login {role}", None
        )

    def _role_closure(self, role: str) -> set[str]:
        """role + everything reachable through GRANT role TO role."""
        seen: set[str] = set()
        todo = [role]
        while todo:
            r = todo.pop()
            if r in seen:
                continue
            seen.add(r)
            todo.extend(self.role_grants.get(r, ()))
        return seen

    def _check_perm(self, perm: str, table: str | None = None) -> None:
        """Authorization gate: the active role (or any role it holds,
        transitively) must hold ``perm`` (or ALL) on the table, its
        OWNING keyspace, or ALL KEYSPACES; superusers bypass. Mirrors the
        resource hierarchy of the reference's CassandraAuthorizer."""
        if self._trigger_depth:
            # trigger augments apply server-side with the triggering
            # mutation (the reference's ITrigger path), not as the
            # client role — they bypass client authorization
            return
        roles = self._role_closure(self.current_role)
        if any(self.roles.get(r, {}).get("is_superuser") for r in roles):
            return
        resources = {"data"}
        if table is not None:
            key = table.lower()
            if "." not in key and self.current_ks is not None:
                key = f"{self.current_ks}.{key}"
            tks, tname = self._key_ks(key), self._key_bare(key)
            resources.add(f"data/{tks}")
            resources.add(f"data/{tks}/{tname}")
        elif self.current_ks is not None:
            resources.add(f"data/{self.current_ks}")
        for r in roles:
            for res, p in self.role_perms.get(r, ()):
                if p in (perm, "ALL") and res in resources:
                    return
        target = f"table {table}" if table else "this resource"
        raise CQLError(
            f"role {self.current_role!r} has no {perm} permission on {target}"
        )

    def _check_perm_on(self, perm: str, resource: str) -> None:
        """Authorization gate against an explicit canonical resource
        (``data`` / ``data/ks`` / ``data/ks/table``): the active role must
        hold ``perm`` (or ALL) on the resource or any ancestor in the data
        hierarchy. GRANT/REVOKE route here so AUTHORIZE is required on the
        *granted* resource, not merely anywhere (round-6 ADVICE: a role
        with AUTHORIZE on its own keyspace must not grant on others)."""
        roles = self._role_closure(self.current_role)
        if any(self.roles.get(r, {}).get("is_superuser") for r in roles):
            return
        parts = resource.split("/")
        ancestors = {"/".join(parts[: i + 1]) for i in range(len(parts))}
        for r in roles:
            for res, p in self.role_perms.get(r, ()):
                if p in (perm, "ALL") and res in ancestors:
                    return
        raise CQLError(
            f"role {self.current_role!r} has no {perm} permission on "
            f"<{resource}>"
        )

    def _canon_resource(self, res: str) -> str:
        r = re.sub(r"\s+", " ", res.strip())
        up = r.upper()
        if up == "ALL KEYSPACES":
            return "data"
        if up == "ALL ROLES":
            return "roles"
        if up.startswith("ROLE "):
            name = r.split()[1].lower()
            if name not in self.roles:
                raise CQLError(f"unknown role {name!r}")
            return f"roles/{name}"
        if up.startswith("KEYSPACE "):
            ks = r.split()[1].lower()
            if ks not in self.keyspaces:
                # a typo'd grant would otherwise be recorded but never
                # match in _check_perm — dead and silent
                raise CQLError(f"unknown keyspace {ks!r}")
            return f"data/{ks}"
        t = r.split()[-1].lower()
        key = self._resolve(t)
        if key not in self.tables:
            # catalog (parquet-corpus) tables are grantable resources too
            # — index DDL on them is ALTER-gated, so ALTER must be
            # grantable on them (symmetry with the check)
            if self.sf_dir is not None and "." not in t:
                from cassandra_spark.catalog import Catalog

                try:
                    Catalog(self.spark, self.sf_dir).meta(t)
                except KeyError:
                    raise CQLError(f"unknown table {t!r}") from None
                return f"data/session/{t}"
            raise CQLError(f"unknown table {t!r}")
        return f"data/{self._key_ks(key)}/{self._key_bare(key)}"

    def _auth_stmt(self, stmt: str) -> DataFrame | None:
        cm = _CREATE_ROLE_RE.match(stmt)
        if cm:
            # authorize FIRST: an unprivileged role must not be able to
            # probe the role namespace through existence errors
            self._check_perm("CREATE")
            name = cm.group("name").lower()
            if name in self.roles:
                if cm.group("ine"):
                    return None
                raise CQLError(f"role {name!r} already exists")
            opts = {"can_login": False, "is_superuser": False}
            self._parse_role_opts(cm.group("opts"), opts)
            self.roles[name] = opts
            return None
        am = _ALTER_ROLE_RE.match(stmt)
        if am:
            # the reference lets a role ALTER itself (password) but any
            # other target needs ALTER on roles — this engine's option
            # set is authorization-bearing, so gate uniformly
            self._check_perm("ALTER")
            name = am.group("name").lower()
            if name not in self.roles:
                raise CQLError(f"unknown role {name!r}")
            self._parse_role_opts(am.group("opts"), self.roles[name])
            return None
        dm = _DROP_ROLE_RE.match(stmt)
        if dm:
            self._check_perm("DROP")
            name = dm.group("name").lower()
            if name not in self.roles:
                if dm.group("ie"):
                    return None
                raise CQLError(f"unknown role {name!r}")
            if name == self.current_role:
                raise CQLError("cannot drop the role you are logged in as")
            del self.roles[name]
            self.role_perms.pop(name, None)
            self.role_grants.pop(name, None)
            for g in self.role_grants.values():
                g.discard(name)
            return None
        lm = _LIST_ROLES_RE.match(stmt)
        if lm:
            names = (
                sorted(self._role_closure(lm.group("role").lower()))
                if lm.group("role")
                else sorted(self.roles)
            )
            for n in names:
                if n not in self.roles:
                    raise CQLError(f"unknown role {n!r}")
            return self.spark.createDataFrame(
                [
                    (n, self.roles[n]["is_superuser"],
                     self.roles[n]["can_login"], "{}")
                    for n in names
                ],
                "role string, super boolean, login boolean, options string",
            )
        pm = _LIST_PERMS_RE.match(stmt)
        if pm:
            roles = (
                sorted(self.roles)
                if not pm.group("role")
                else (
                    [pm.group("role").lower()]
                    if pm.group("norec")
                    else sorted(self._role_closure(pm.group("role").lower()))
                )
            )
            want_perm = pm.group("perm") and pm.group("perm").upper()
            want_res = pm.group("res") and self._canon_resource(
                pm.group("res")
            )
            rows = []
            for r in roles:
                if r not in self.roles:
                    raise CQLError(f"unknown role {r!r}")
                for res, p in sorted(self.role_perms.get(r, ())):
                    if want_perm and p != want_perm:
                        continue
                    if want_res and res != want_res:
                        continue
                    rows.append((r, r, f"<{res}>", p))
            return self.spark.createDataFrame(
                rows,
                "role string, username string, resource string, "
                "permission string",
            )
        gm = _GRANT_PERM_RE.match(stmt)
        if gm:
            role = gm.group("role").lower()
            if role not in self.roles:
                raise CQLError(f"unknown role {role!r}")
            res = self._canon_resource(gm.group("res"))
            self._check_perm_on("AUTHORIZE", res)
            entry = (res, gm.group("perm").upper())
            if gm.group("verb").upper() == "GRANT":
                self.role_perms.setdefault(role, set()).add(entry)
            else:
                self.role_perms.get(role, set()).discard(entry)
            return None
        rm = _GRANT_ROLE_RE.match(stmt)
        if rm:
            granted = rm.group("granted").lower()
            role = rm.group("role").lower()
            for n in (granted, role):
                if n not in self.roles:
                    raise CQLError(f"unknown role {n!r}")
            # the reference requires AUTHORIZE on the GRANTED role
            # (`GRANT AUTHORIZE ON ROLE r`), not merely anywhere — the
            # same resource-scoping rule as data-permission grants
            self._check_perm_on("AUTHORIZE", f"roles/{granted}")
            if rm.group("verb").upper() == "GRANT":
                if granted == role or role in self._role_closure(granted):
                    raise CQLError("circular role grant")
                self.role_grants.setdefault(role, set()).add(granted)
            else:
                self.role_grants.get(role, set()).discard(granted)
            return None
        raise CQLError(f"unsupported auth statement: {stmt!r}")

    def _create_mat_view(self, stmt: str) -> None:
        """CREATE MATERIALIZED VIEW with the reference's validation rules
        (`[C* cql3/statements/CreateViewStatement, unverified]`): the view
        primary key must contain every base primary-key column plus AT
        MOST ONE other column, every view key column needs an
        ``IS NOT NULL`` restriction, and the view is read-only — it
        re-keys the base table so queries can filter on the new partition
        key with full restriction semantics. Maintenance is by
        construction: view reads snapshot the base at query time (the
        same LWW state a synchronously-maintained view would serve)."""
        m = _CREATE_MV_RE.match(stmt)
        if not m:
            raise CQLError(f"unsupported CREATE MATERIALIZED VIEW: {stmt!r}")
        name = self._resolve(m.group("name"))
        if name in self.mat_views:
            if re.search(r"IF\s+NOT\s+EXISTS", stmt, re.IGNORECASE):
                return None
            raise CQLError(f"materialized view {name!r} already exists")
        if name in self.tables:
            raise CQLError(f"{name!r} is a table")
        # resolve: a qualified base must key (and permission-check) the
        # same registry entry the bare name does
        base = self._resolve(m.group("base"))
        if self._key_ks(name) != self._key_ks(base):
            raise CQLError(
                "a materialized view must be in the same keyspace as "
                "its base table"
            )
        bt = self.tables.get(base)
        if bt is None:
            raise CQLError(f"unknown table {m.group('base')!r}")
        self._check_perm("ALTER", base)
        bs = bt.schema
        base_keys = [*bs.partition_cols, *bs.clustering]
        all_cols = set(base_keys) | set(bs.regular) | set(bs.static)
        # view key: first component = partition key (composites rejected,
        # like base tables), rest clustering
        pk_body = m.group("pk").strip()
        gm_ = re.match(r"^\(([^)]*)\)\s*(?:,(.*))?$", pk_body, re.DOTALL)
        if gm_:
            inner = gm_.group(1)
            if "," in inner:
                raise CQLError(
                    "composite view partition keys are not supported "
                    "(single-column partition keys only, like base tables)"
                )
            vpk = inner.strip().lower()
            rest = gm_.group(2) or ""
        else:
            parts0 = pk_body.split(",", 1)
            vpk = parts0[0].strip().lower()
            rest = parts0[1] if len(parts0) > 1 else ""
        vck = tuple(
            p.strip().lower() for p in rest.split(",") if p.strip()
        )
        vkeys = [vpk, *vck]
        for c in vkeys:
            if c not in all_cols:
                raise CQLError(f"unknown column {c!r} in view key")
        missing = [c for c in base_keys if c not in vkeys]
        if missing:
            raise CQLError(
                f"view key must include every base key column: {missing}"
            )
        extra = [c for c in vkeys if c not in base_keys]
        if len(extra) > 1:
            raise CQLError(
                "view key may include at most ONE non-key base column "
                f"(got {extra})"
            )
        # IS NOT NULL on every view key column (the reference's rule)
        where = m.group("where")
        for c in vkeys:
            if not re.search(
                rf"\b{c}\s+IS\s+NOT\s+NULL", where, re.IGNORECASE
            ):
                raise CQLError(
                    f"view key column {c!r} needs an IS NOT NULL restriction"
                )
        cols_txt = m.group("cols").strip()
        if cols_txt == "*":
            sel = None
        else:
            sel = [c.strip().lower() for c in cols_txt.split(",")]
            for c in sel:
                if c not in all_cols:
                    raise CQLError(f"unknown column {c!r} in view select")
            for c in vkeys:
                if c not in sel:
                    raise CQLError(
                        f"view select must include key column {c!r}"
                    )
        self.mat_views[name] = (base, vpk, vck, sel)
        return None

    def _mv_snapshots(self) -> dict:
        """(df, meta) per materialized view: the base snapshot re-keyed to
        the view's primary key, IS NOT NULL filters applied, projection
        restricted to the selected columns."""
        from cassandra_spark.catalog import TableMeta

        out = {}
        for name, (base, vpk, vck, sel) in self.mat_views.items():
            df = self.tables[base].snapshot()
            for c in (vpk, *vck):
                df = df.filter(F.col(c).isNotNull())
            if sel is not None:
                df = df.select(*sel)
            out[name] = (
                df,
                TableMeta(self._key_bare(name), (vpk,), tuple(vck)),
            )
        return out

    def _copy(self, m: re.Match) -> int:
        """cqlsh-style COPY (`[C* tools cqlsh copyutil, unverified]`):
        TO streams the table's reconciled snapshot to one CSV file
        (header row, cqlsh's format) via toLocalIterator — driver memory
        stays O(row), like cqlsh itself, which also funnels every row
        through the client. FROM streams CSV rows back through the
        session's normal INSERT path so LWW/clock semantics apply
        (cqlsh COPY FROM issues batched INSERTs the same way). Empty
        cells are skipped columns (unset), not empty strings — the same
        NULL-representation ambiguity cqlsh's default NULL='' has.
        Scalar columns only (collections/UDTs rejected up front).
        Returns the row count moved.

        ``WITH FORMAT = 'PARQUET'`` is this engine's scale extension
        (cqlsh has no parquet path): TO writes the reconciled snapshot
        executor-side; FROM routes through :meth:`CqlTable.bulk_load`
        (the sstableloader path) — neither funnels rows through the
        driver, which is the only sane shape at 100 TB."""
        import csv

        # resolve once: qualified names must permission-check and insert
        # against the same registry key the bare name does
        name = self._resolve(m.group("table"))
        t = self.tables.get(name)
        if t is None:
            raise CQLError(f"unknown table {m.group('table')!r}")
        sch = t.schema
        fmt = (m.group("fmt") or "CSV").upper()
        if fmt not in ("CSV", "PARQUET"):
            raise CQLError(f"COPY FORMAT must be CSV or PARQUET, got {fmt!r}")
        if fmt == "PARQUET":
            if m.group("cols"):
                raise CQLError(
                    "COPY ... WITH FORMAT='PARQUET' copies full rows; "
                    "project columns in the parquet instead"
                )
            # symmetric up-front rejection (like the CSV branch): TO must
            # never emit an artifact FROM cannot load — bulk_load takes
            # scalar regular columns only, no statics
            complex_cols = sorted(
                set(sch.regular) - set(sch.scalar_regular)
            ) + sorted(sch.static)
            if complex_cols:
                raise CQLError(
                    "COPY WITH FORMAT='PARQUET' supports scalar-only "
                    f"tables (complex/static columns: {complex_cols})"
                )
            path = m.group("path")
            if m.group("dir").upper() == "TO":
                self._check_perm("SELECT", name)
                df = t.snapshot()
                drop = [c for c in df.columns if c.startswith("__writetime_")]
                # overwrite like the CSV branch's open(path, 'w') — a
                # re-export must not raise path-exists
                df.drop(*drop).write.mode("overwrite").parquet(path)
                # count from the written files, not a second reconcile
                return self.spark.read.parquet(path).count()
            self._check_perm("MODIFY", name)
            return t.bulk_load(self.spark.read.parquet(path))
        cols = (
            [c.strip().lower() for c in m.group("cols").split(",")]
            if m.group("cols")
            else [*sch.partition_cols, *sch.clustering]
            + sorted(sch.static) + sorted(sch.regular)
        )
        # scalar columns only: collection/UDT literals don't round-trip
        # through CSV in this engine (name the scalar columns explicitly
        # to copy a table that has complex columns)
        for c in cols:
            typ = sch.regular.get(c) or sch.static.get(c) or ""
            if any(typ.startswith(k) for k in
                   ("list<", "set<", "map<", "struct<", "array<")):
                raise CQLError(
                    f"COPY supports scalar columns only ({c!r} is {typ})"
                )
        path = m.group("path")
        if m.group("dir").upper() == "TO":
            # executor-side sharded export + byte-stream header stitch
            # (round-6): the old toLocalIterator funnel re-serialized
            # every row through a driver Python loop — O(rows) driver CPU
            # and Arrow batches held alive; this shape writes shards in
            # the executors and the driver only concatenates BYTES
            # (O(1) memory), so a 100x export leaves driver RSS flat.
            # cqlsh parity is preserved: one CSV file, header row,
            # RFC-4180 quoting (escape='"' doubles embedded quotes).
            import glob
            import shutil
            import tempfile

            self._check_perm("SELECT", name)
            df = t.snapshot().select(*cols)
            n = df.count()
            tmp = tempfile.mkdtemp(prefix="copy_to_")
            try:
                shard_dir = os.path.join(tmp, "shards")
                (
                    df.write.option("escape", '"')
                    .option("nullValue", "")
                    .option("emptyValue", "")
                    # µs precision: the previous str(datetime) path kept
                    # microseconds; truncating to seconds silently loses
                    # data on a COPY TO → COPY FROM round trip
                    .option(
                        "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
                    )
                    .option("dateFormat", "yyyy-MM-dd")
                    .mode("overwrite")
                    .csv(shard_dir)
                )
                with open(path, "wb") as out:
                    # header uses the same LF terminator as the Spark
                    # data shards (no mixed line endings)
                    out.write((",".join(cols) + "\n").encode())
                    for part in sorted(
                        glob.glob(os.path.join(shard_dir, "part-*"))
                    ):
                        with open(part, "rb") as fh:
                            shutil.copyfileobj(fh, out)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            return n
        self._check_perm("MODIFY", name)
        text_like = {"string", "text", "date", "timestamp"}

        int_types = {"tinyint", "smallint", "int", "bigint", "varint",
                     "counter", "long"}
        float_types = {"float", "double", "decimal"}

        def render(col: str, v: str) -> str:
            typ = (
                sch.key_types.get(col)
                or sch.regular.get(col)
                or sch.static.get(col)
                or "string"
            )
            if typ in text_like or typ.startswith("varchar"):
                return "'" + v.replace("'", "''") + "'"
            # validate non-text cells BEFORE splicing into the INSERT: a
            # malformed numeric must surface as a CSV validation error with
            # the row/column named, not a mid-import CQL parse error
            # (round-6 ADVICE)
            s = v.strip()
            if typ in int_types:
                try:
                    int(s)
                except ValueError:
                    raise CQLError(f"invalid {typ} value {v!r}") from None
            elif typ in float_types:
                try:
                    float(s)
                except ValueError:
                    raise CQLError(f"invalid {typ} value {v!r}") from None
            elif typ == "boolean":
                if s.lower() not in ("true", "false"):
                    raise CQLError(f"invalid boolean value {v!r}")
                return s.lower()
            return s

        # two-phase: validate and render EVERY row first, then apply —
        # a bad cell anywhere aborts before any row mutates the table
        inserts = []
        with open(path, newline="") as fh:
            rd = csv.reader(fh)
            header = [c.strip().lower() for c in next(rd)]
            for lineno, row in enumerate(rd, start=2):
                pairs = []
                for c, v in zip(header, row):
                    if v == "":
                        continue
                    try:
                        pairs.append((c, render(c, v)))
                    except CQLError as e:
                        raise CQLError(
                            f"COPY FROM {path!r}: line {lineno}, "
                            f"column {c!r}: {e}"
                        ) from None
                # fully qualify: the generated INSERT must resolve to the
                # SAME table regardless of the session's current keyspace
                qname = name if "." in name else f"{self.current_ks}.{name}"
                inserts.append(
                    f"INSERT INTO {qname} "
                    f"({', '.join(c for c, _ in pairs)}) "
                    f"VALUES ({', '.join(v for _, v in pairs)})"
                )
        for ins in inserts:
            self.execute(ins)
        return len(inserts)

    def _execute_stmt(self, stmt: str) -> DataFrame | bool | None:
        head = stmt.lstrip()[:12].upper()
        if head.startswith("DESC"):
            return self._describe(stmt)
        if (
            head.startswith("CREATE ROLE")
            or head.startswith("DROP ROLE")
            or head.startswith("LIST ")
        ):
            return self._auth_stmt(stmt)
        um_ = _USE_RE.match(stmt)
        if um_ and head.startswith("USE"):
            name = um_.group("name").lower()
            if name not in self.keyspaces:
                raise CQLError(f"unknown keyspace {name!r}")
            self.current_ks = name
            return None
        if head.startswith("CREATE KEYSP"):
            km = _CREATE_KS_RE.match(stmt)
            if not km:
                raise CQLError(f"unsupported CREATE KEYSPACE: {stmt!r}")
            self._check_perm("CREATE")
            name = km.group("name").lower()
            if name in self.keyspaces:
                if km.group("ine"):
                    return None
                raise CQLError(f"keyspace {name!r} already exists")
            self.keyspaces[name] = _parse_replication(km.group("rep"))
            return None
        if head.startswith("ALTER KEYSPA"):
            am_ = re.match(
                r"^\s*ALTER\s+KEYSPACE\s+(?P<name>\w+)\s+WITH\s+"
                r"replication\s*=\s*\{(?P<rep>[^}]*)\}"
                r"(?:\s+AND\s+durable_writes\s*=\s*(?:true|false))?"
                r"\s*;?\s*$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if not am_:
                raise CQLError(f"unsupported ALTER KEYSPACE: {stmt!r}")
            self._check_perm("ALTER")
            name = am_.group("name").lower()
            if name not in self.keyspaces:
                raise CQLError(f"unknown keyspace {name!r}")
            self.keyspaces[name] = _parse_replication(am_.group("rep"))
            return None
        if head.startswith("DROP KEYSPAC"):
            km = _DROP_KS_RE.match(stmt)
            if not km:
                raise CQLError(f"unsupported DROP KEYSPACE: {stmt!r}")
            self._check_perm("DROP")
            name = km.group("name").lower()
            if name not in self.keyspaces:
                if km.group("ie"):
                    return None
                raise CQLError(f"unknown keyspace {name!r}")
            owned = [
                k for k in self.tables if self._key_ks(k) == name
            ]
            for k in owned:
                # qualified: bare names resolve against current_ks, so
                # dropping a non-current keyspace's tables would raise
                # "unknown table" (round-6 ADVICE)
                self._execute_stmt(f"DROP TABLE {k}")
            self.mat_views = {
                v: spec
                for v, spec in self.mat_views.items()
                if spec[0] not in owned
            }
            del self.keyspaces[name]
            if self.current_ks == name:
                self.current_ks = None
            return None
        if head.startswith("CREATE MATER"):
            return self._create_mat_view(stmt)
        if head.startswith("DROP MATERIA"):
            dm = _DROP_MV_RE.match(stmt)
            if not dm:
                raise CQLError(f"unsupported DROP MATERIALIZED VIEW: {stmt!r}")
            name = self._resolve(dm.group("name"))
            if name not in self.mat_views:
                if dm.group("ie"):
                    return None
                raise CQLError(f"unknown materialized view {name!r}")
            self._check_perm("ALTER", self.mat_views[name][0])
            del self.mat_views[name]
            return None
        if head.startswith("CREATE TYPE"):
            tm = _CREATE_TYPE_RE.match(stmt)
            if not tm:
                raise CQLError(f"unsupported CREATE TYPE: {stmt!r}")
            self._check_perm("CREATE")
            self._create_type(tm)
            return None
        if head.startswith("DROP TYPE"):
            tm = _DROP_TYPE_RE.match(stmt)
            if not tm:
                raise CQLError(f"unsupported DROP TYPE: {stmt!r}")
            name = tm.group("name").lower()
            if name not in self.types:
                if tm.group("ine"):
                    return None
                raise CQLError(f"unknown type {name!r}")
            self._check_perm("DROP")
            struct = self.types[name]
            # containment, not equality: the struct text also appears inside
            # collection types (list<struct<...>>) and inside other
            # registered UDTs that embed this one
            in_use = any(
                struct in typ
                for t in self.tables.values()
                for typ in (t.schema.regular | t.schema.static).values()
            ) or any(
                struct in other
                for n, other in self.types.items()
                if n != name
            )
            if in_use:
                raise CQLError(f"type {name!r} is in use")
            del self.types[name]
            return None
        if head.startswith("CREATE INDEX") or head.startswith("CREATE CUSTO"):
            im = _CREATE_INDEX_RE.match(stmt)
            if not im:
                raise CQLError(f"unsupported CREATE INDEX: {stmt!r}")
            self._create_index(im)
            return None
        if head.startswith("CREATE TRIGG"):
            tg = _CREATE_TRIGGER_RE.match(stmt)
            if not tg:
                raise CQLError(f"unsupported CREATE TRIGGER: {stmt!r}")
            return self._create_trigger(tg)
        if head.startswith("DROP TRIGGER"):
            tg = _DROP_TRIGGER_RE.match(stmt)
            if not tg:
                raise CQLError(f"unsupported DROP TRIGGER: {stmt!r}")
            return self._drop_trigger(tg)
        if head.startswith("DROP TABLE"):
            dm = _DROP_TABLE_RE.match(stmt)
            if not dm:
                raise CQLError(f"unsupported DROP TABLE: {stmt!r}")
            try:
                name = self._resolve(dm.group("table"))
            except CQLError:
                if dm.group("ine"):
                    return None
                raise
            if name not in self.tables:
                if dm.group("ine"):
                    return None
                raise CQLError(f"unknown table {name!r}")
            self._check_perm("DROP", name)
            dependents = [
                v for v, spec in self.mat_views.items() if spec[0] == name
            ]
            if dependents:
                raise CQLError(
                    f"cannot drop table {name!r}: materialized views "
                    f"depend on it: {sorted(dependents)}"
                )
            self.tables[name].clear_data()  # drops flushed segments too
            del self.tables[name]
            self.triggers.pop(name, None)
            self.masks.pop(name, None)
            self.unmasked.discard(name)
            self.indexes.pop(name, None)
            self.key_indexes.pop(name, None)
            self.sai_indexes.pop(name, None)
            self.sasi_indexes.pop(name, None)
            self.entry_indexes.pop(name, None)
            self.full_indexes.pop(name, None)
            self.index_names = {
                n: v for n, v in self.index_names.items() if v[0] != name
            }
            return None
        if head.startswith("DROP INDEX"):
            dm = _DROP_INDEX_RE.match(stmt)
            if not dm:
                raise CQLError(f"unsupported DROP INDEX: {stmt!r}")
            name = dm.group("name").lower()
            if name not in self.index_names:
                if dm.group("ine"):
                    return None
                raise CQLError(f"unknown index {name!r}")
            # the reference requires ALTER on the indexed table
            self._check_perm("ALTER", self.index_names[name][0])
            t, c, kind = self.index_names.pop(name)
            target = {
                "keys": self.key_indexes,
                "sai": self.sai_indexes,
                "sasi": self.sasi_indexes,
                "entries": self.entry_indexes,
                "full": self.full_indexes,
            }.get(kind, self.indexes)
            target.get(t, set()).discard(c)
            if kind == "sai":
                self.sai_similarity.get(t, {}).pop(c, None)
            if kind == "sasi":
                self.sasi_modes.get(t, {}).pop(c, None)
            return None
        if head.startswith("TRUNCATE"):
            tm = _TRUNCATE_RE.match(stmt)
            if not tm:
                raise CQLError(f"unsupported TRUNCATE: {stmt!r}")
            # discard all data; clocks stay monotonic so post-truncate
            # writes are strictly newer than anything discarded.
            # Resolve FIRST: qualified names must truncate (and be
            # permission-checked against) the same registry key the
            # bare name does.
            tkey = self._resolve(tm.group("table"))
            t_ = self.tables.get(tkey)
            if t_ is None:
                raise CQLError(f"unknown table {tm.group('table')!r}")
            self._check_perm("MODIFY", tkey)
            t_.clear_data()
            return None
        if head.startswith("ALTER TYPE"):
            tm = _ALTER_TYPE_RE.match(stmt)
            if not tm:
                raise CQLError(f"unsupported ALTER TYPE: {stmt!r}")
            name = tm.group("name").lower()
            if name not in self.types:
                raise CQLError(f"unknown type {name!r}")
            self._check_perm("ALTER")
            field = tm.group("field").lower()
            old_struct = self.types[name]
            # TOP-LEVEL fields only (a nested embedded struct may well
            # share a field name)
            top_fields = [
                item.split(":", 1)[0].strip()
                for item in _split_generics(old_struct[len("struct<"):-1])
            ]
            if field in top_fields:
                raise CQLError(
                    f"field {field!r} already exists in type {name!r}"
                )
            # struct text is the identity of an expanded UDT; if another
            # registered type has the IDENTICAL shape, text substitution
            # could not tell their embeddings apart — pinned reduction:
            # reject the ambiguous evolution instead of guessing
            twins = [
                tn for tn, other in self.types.items()
                if tn != name and other == old_struct
            ]
            if twins:
                raise CQLError(
                    f"cannot evolve type {name!r}: type(s) {twins} have an "
                    "identical shape and embeddings are tracked by shape"
                )
            mapped = _map_type(tm.group("type"), self.types)
            new_struct = (
                old_struct[:-1] + f", {field}: {mapped}>"
            )
            # UDT evolution is append-only (`[C* cql3/statements/
            # AlterTypeStatement, unverified]`): widen the registered
            # struct and every embedding of it — other UDTs, table
            # column types (incl. inside collections). Existing cells
            # carry canonical JSON; from_json on the widened struct
            # reads the new field as NULL for old rows, exactly the
            # reference's visible behavior.
            self.types[name] = new_struct
            for tn, other in list(self.types.items()):
                if tn != name and old_struct in other:
                    self.types[tn] = other.replace(old_struct, new_struct)
            for t in self.tables.values():
                sch = t.schema
                sch.regular = {
                    c: typ.replace(old_struct, new_struct)
                    for c, typ in sch.regular.items()
                }
                sch.static = {
                    c: typ.replace(old_struct, new_struct)
                    for c, typ in sch.static.items()
                }
            return None
        if head.startswith("ALTER"):
            if re.match(r"\s*ALTER\s+ROLE\b", stmt, re.IGNORECASE):
                return self._auth_stmt(stmt)
            am = _ALTER_RE.match(stmt)
            if not am:
                raise CQLError(f"unsupported ALTER TABLE: {stmt!r}")
            # resolve before the permission check: a qualified name must
            # authorize against its OWNING keyspace's resource, not a
            # never-matching 'ks.t' literal (the r6 tablestats shape)
            self._check_perm("ALTER", self._resolve(am.group("table")))
            self._alter_table(am)
            return None
        if head.startswith("DROP FUNCTIO"):
            dm = _DROP_FUNCTION_RE.match(stmt)
            if not dm:
                raise CQLError(f"unsupported DROP FUNCTION: {stmt!r}")
            name = dm.group("name").lower()
            if name not in self.functions:
                if dm.group("ine"):
                    return None
                raise CQLError(f"unknown function {name!r}")
            self._check_perm("DROP")
            del self.functions[name]
            return None
        if head.startswith("DROP AGGREGA"):
            dm = _DROP_AGGREGATE_RE.match(stmt)
            if not dm:
                raise CQLError(f"unsupported DROP AGGREGATE: {stmt!r}")
            name = dm.group("name").lower()
            if name not in self.aggregates:
                if dm.group("ine"):
                    return None
                raise CQLError(f"unknown aggregate {name!r}")
            self._check_perm("DROP")
            del self.aggregates[name]
            return None
        if head.startswith("CREATE"):
            fm = _CREATE_FUNCTION_RE.match(stmt)
            if fm:
                # the reference gates function DDL on the functions
                # resource; the pinned single-keyspace reduction maps it
                # to the CREATE permission (same gate as CREATE TABLE)
                self._check_perm("CREATE")
                self._create_function(fm)
                return None
            am_ = _CREATE_AGGREGATE_RE.match(stmt)
            if am_:
                self._check_perm("CREATE")
                self._create_aggregate(am_)
                return None
            if re.match(
                r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:FUNCTION|AGGREGATE)",
                stmt, re.IGNORECASE,
            ):
                raise CQLError(f"unsupported CREATE FUNCTION/AGGREGATE: {stmt!r}")
            qm_ = re.match(
                r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                r"(\w+)\s*\.", stmt, re.IGNORECASE,
            )
            target_ks = qm_.group(1).lower() if qm_ else None
            if target_ks is not None and target_ks not in self.keyspaces:
                raise CQLError(f"unknown keyspace {target_ks!r}")
            schema = parse_create_table(stmt, self.types)
            if re.match(
                r"^\s*CREATE\s+TABLE\s+IF\s+NOT\s+EXISTS", stmt, re.IGNORECASE
            ) and f"{target_ks or self.current_ks}.{schema.name}" in self.tables:
                return None
            self._check_perm("CREATE")
            self.create_table(schema, keyspace=target_ks)
            return None
        if head.startswith("SELECT"):
            snapshots = self._catalog_overrides()
            snapshots.update(
                (key, (t.snapshot(), self._meta(t.schema, key)))
                for key, t in self.tables.items()
            )
            snapshots.update(self._mv_snapshots())
            # system.* / system_schema.* virtual tables: built only when
            # the statement actually names a system keyspace — assembling
            # the 8 reflection DataFrames costs ~0.4 s of createDataFrame
            # round-trips, far too much plan construction to pay on every
            # ordinary SELECT (same rule as size_estimates below)
            if re.search(r"\bsystem\w*\s*\.", stmt, re.IGNORECASE):
                snapshots.update(self._system_views())
            if "size_estimates" in stmt:
                # built only when referenced: the estimate assembles one
                # snapshot + token-classify plan PER TABLE, which is far
                # too much plan construction to pay on every SELECT
                snapshots["system.size_estimates"] = (
                    self._size_estimates(),
                    TableMeta(
                        "system.size_estimates",
                        ("keyspace_name",),
                        ("table_name", "range_start", "range_end"),
                    ),
                )
            # bare aliases for CURRENT-keyspace tables/views, so
            # SELECT ... FROM t resolves under USE scoping (registry
            # keys are qualified since round 11)
            for key in list(snapshots):
                if (
                    "." in key
                    and self._key_ks(key) == self.current_ks
                ):
                    snapshots[self._key_bare(key)] = snapshots[key]
            fm_ = re.search(r"\bFROM\s+([\w.]+)", stmt, re.IGNORECASE)
            if fm_:
                key = self._resolve(fm_.group(1))
                if (
                    "." in fm_.group(1)
                    and self._key_ks(key) in self.keyspaces
                    and key not in snapshots
                ):
                    # an explicitly-qualified name must exist under that
                    # keyspace (catalog tables are keyspace-less and
                    # always addressed bare)
                    raise CQLError(f"unknown table {fm_.group(1)!r}")
                self._check_in_guardrail(stmt, key)
                self._check_select_guardrails(stmt, key)
                if key in self.tables:
                    self._check_perm("SELECT", key)
                    # 2i-accelerated read: index probe → candidate
                    # partitions → reconcile only those (the reference's
                    # CassandraIndexSearcher shape); the statement's full
                    # WHERE still re-applies in cql_select (phase-2
                    # recheck). Equality/CONTAINS probes value Blooms;
                    # numeric ranges on SAI columns probe per-segment
                    # [min, max] value stats instead (SAI serves ranges
                    # from its index). A probe past the table's
                    # index_probe_collect_cap returns None: full scan
                    t = self.tables[key]
                    pks = None
                    hit = self._indexed_eq_prune(key, stmt)
                    if hit is not None:
                        pks = t.index_candidate_pks(*hit)
                    else:
                        rhit = self._indexed_range_prune(key, stmt)
                        if rhit is not None:
                            pks = t.index_candidate_pks_range(*rhit)
                        else:
                            lhit = self._indexed_like_prune(key, stmt)
                            if lhit is not None:
                                pks = t.index_candidate_pks_prefix(*lhit)
                    if pks is not None:
                        pruned = (
                            t.snapshot(pk_in=pks),
                            self._meta(t.schema, key),
                        )
                        snapshots[key] = pruned
                        if self._key_ks(key) == self.current_ks:
                            snapshots[self._key_bare(key)] = pruned
                elif key in self.mat_views:
                    # view reads are reads of the base table's data
                    self._check_perm("SELECT", self.mat_views[key][0])
            try:
                df = cql_select(
                    self.spark, self.sf_dir,
                    self._expand_udfs(self._expand_udas(stmt)),
                    tables=snapshots,
                )
                return self._apply_masks(stmt, df)
            except CQLError:
                raise
            except Exception as exc:
                # expression parsing is delegated to Catalyst (SURVEY
                # §2.13); its ParseException/AnalysisException for a bad
                # selector/predicate is this engine's InvalidRequest —
                # the driver contract is "execute() raises CQLError on
                # any invalid statement", never an internal exception
                # (fuzz-pinned in tests/test_cql_fuzz.py). Engine errors
                # stay diagnosable through the chained cause.
                from pyspark.errors import (
                    AnalysisException,
                    ParseException,
                )

                if isinstance(exc, (AnalysisException, ParseException)):
                    raise CQLError(
                        f"invalid statement: {str(exc).splitlines()[0]}"
                    ) from exc
                raise
        um = _UNMASK_RE.match(stmt)
        if um:
            # no role system offline: UNMASK is a per-session, per-table
            # grant — the pinned single-user reduction of the reference's
            # role-based UNMASK permission
            t = self._resolve(um.group("table"))
            if t not in self.tables:
                raise CQLError(f"unknown table {t!r}")
            # resource-scoped, same as GRANT/REVOKE <perm>: AUTHORIZE on
            # keyspace A must not let a role grant UNMASK on keyspace B
            self._check_perm_on(
                "AUTHORIZE",
                f"data/{self._key_ks(t)}/{self._key_bare(t)}",
            )
            if um.group("verb").upper() == "GRANT":
                self.unmasked.add(t)
            else:
                self.unmasked.discard(t)
            return None
        if head.startswith("GRANT") or head.startswith("REVOKE"):
            return self._auth_stmt(stmt)
        if head.startswith("COPY"):
            cm_ = _COPY_RE.match(stmt)
            if not cm_:
                raise CQLError(f"unsupported COPY: {stmt!r}")
            return self._copy(cm_)
        bm = _BATCH_RE.match(stmt)
        if bm:
            return self._execute_batch(stmt, bm)
        tm = _DML_TABLE_RE.search(stmt)
        if not tm:
            raise CQLError(f"unsupported statement: {stmt!r}")
        tkey = self._resolve(tm.group(1))
        if tkey in self.mat_views:
            raise CQLError(
                "cannot directly modify a materialized view"
            )
        self._check_perm("MODIFY", tkey)
        # conditional (LWT) statements read row state back to the client
        # ([applied] + current values), so the reference also demands
        # SELECT; probe with string literals stripped to avoid ' IF ' text
        if re.search(
            r"\bIF\b", re.sub(r"'[^']*'", "''", stmt), re.IGNORECASE
        ):
            self._check_perm("SELECT", tkey)
        if tm.group(1).lower() != self._key_bare(tkey):
            # strip the keyspace qualifier for the table's own DML parser
            stmt = (
                stmt[: tm.start(1)] + self._key_bare(tkey) + stmt[tm.end(1):]
            )
        t_ = self.tables.get(tkey)
        if t_ is None:
            raise CQLError(f"unknown table {tm.group(1)!r}")
        trigs = self.triggers.get(tkey)
        if not trigs:
            return t_.execute(stmt)
        # ITrigger.augment: the trigger sees the cells this statement
        # appended to the memtable and returns extra statements applied
        # with it. Cells are captured by log-growth, so they reflect
        # exactly the triggering mutation (a rejected LWT appends none
        # and fires nothing). Cascades are allowed — a trigger's own
        # statements fire their tables' triggers — bounded by depth.
        if self._trigger_depth >= 8:
            raise CQLError("trigger cascade exceeds depth 8 (loop?)")
        # Defer spill while the statement runs: flush() clears _log, so
        # a statement that crosses spill_threshold mid-execute would
        # otherwise truncate the log below `before` and the trigger
        # would silently see zero cells (dropped augments under any
        # sustained ingest). Capture the cells first, then let the
        # deferred flush proceed.
        before = len(t_._log)
        t_._defer_flush = True
        try:
            result = t_.execute(stmt)
            cells = list(t_._log[before:]) if len(t_._log) > before else []
        finally:
            t_._defer_flush = False
        t_._maybe_flush()
        if cells:
            self._trigger_depth += 1
            try:
                for tname in sorted(trigs):
                    fn = self.trigger_classes[trigs[tname]]
                    for aug in fn(self, tkey, cells) or []:
                        # NOT self.execute: augments must stay out of the
                        # FQL (replaying the triggering statement re-fires
                        # the trigger — logging both would double-apply)
                        self._execute_stmt(aug)
            finally:
                self._trigger_depth -= 1
        return result

    def snapshot_keyspace(self, out_dir: str, base_dir: str | None = None) -> dict:
        """``nodetool snapshot`` analogue built on the segment
        architecture: flush every memtable, hard-link-copy the parquet
        mutation segments, and write a manifest (schema parts, logical
        clocks, masks/indexes/types/functions). The snapshot is a
        consistent point-in-time image BY CONSTRUCTION — flushes happen
        between statements, so no segment holds a partial batch. Data
        never round-trips through the driver: segments are files.

        ``base_dir`` makes the snapshot INCREMENTAL (the reference's
        ``incremental_backups``: only SSTables flushed since the last
        backup are linked): a segment is skipped when its file name AND
        its (size, mtime_ns) both match the base image's record —
        name alone is not identity, since DROP/re-CREATE recycles names
        and ALTER TABLE DROP rewrites files in place. The manifest
        still records the FULL logical state (names + meta) plus a
        ``base`` pointer, and restore resolves missing files down the
        base chain, size-validating each resolved file. Cost is
        O(new data) per backup instead of O(table)."""
        import json as _json
        import shutil

        base_segs: dict[str, dict] = {}
        if base_dir is not None:
            with open(os.path.join(base_dir, "manifest.json")) as f:
                bm = _json.load(f)
            # identity = name + (size, mtime_ns): segment NAMES recycle
            # after DROP TABLE + re-CREATE (the counter restarts) and
            # ALTER TABLE DROP rewrites files in place under the same
            # name — name-only matching would skip changed data and a
            # restore would silently resolve to the stale base copy.
            # Older manifests without the meta map never match, so they
            # degrade to full copies, never to a wrong skip.
            base_segs = {
                n: e.get("segment_meta", {})
                for n, e in bm["tables"].items()
            }
        os.makedirs(out_dir, exist_ok=True)
        manifest: dict = {
            "types": self.types,
            "functions": {
                n: [list(a), b] for n, (a, b) in self.functions.items()
            },
            "aggregates": self.aggregates,
            "masks": self.masks,
            "indexes": {
                n: list(v) for n, v in self.index_names.items()
            },
            # custom-index options (round 12): SAI ANN similarity and
            # SASI mode round-trip through snapshots — a restored
            # CONTAINS-mode index must keep admitting infix LIKE
            "index_options": {
                "sai_similarity": {
                    t: dict(m) for t, m in self.sai_similarity.items() if m
                },
                "sasi_modes": {
                    t: dict(m) for t, m in self.sasi_modes.items() if m
                },
            },
            "keyspaces": self.keyspaces,
            "table_keyspace": {
                k: self._key_ks(k) for k in self.tables
            },
            "mat_views": {
                v: [spec[0], spec[1], list(spec[2]), spec[3]]
                for v, spec in self.mat_views.items()
            },
            "tables": {},
            "base": os.path.abspath(base_dir) if base_dir else None,
        }
        for name, t in self.tables.items():
            if t._log and t.spill_dir is None:
                import tempfile

                t.spill_dir = tempfile.mkdtemp(
                    prefix=f"cql-snap-{name.replace(chr(46), chr(95))}-"
                )
            t.flush()
            tdir = os.path.join(out_dir, name)
            os.makedirs(tdir, exist_ok=True)
            segs = []
            copied = []
            seg_meta = {}
            for p in t._segments:
                base = os.path.basename(p)
                segs.append(base)
                st = os.stat(p)
                meta = [st.st_size, st.st_mtime_ns]
                seg_meta[base] = meta
                if base_segs.get(name, {}).get(base) == meta:
                    continue  # incremental: unchanged, reachable via base
                dst = os.path.join(tdir, base)
                shutil.copy2(p, dst)
                # Filter.db rides with its SSTable: copy the bloom
                # sidecar when present (restore rebuilds it lazily if not)
                from cassandra_spark.operators.bloom import sidecar_path

                if os.path.exists(sidecar_path(p)):
                    shutil.copy2(sidecar_path(p), sidecar_path(dst))
                copied.append(base)
            s = t.schema
            manifest["tables"][name] = {
                "schema": {
                    "name": s.name,
                    "partition_key": s.partition_key,
                    "partition_cols": list(s.partition_cols),
                    "clustering": list(s.clustering),
                    "regular": s.regular,
                    "counter": s.counter,
                    "static": s.static,
                    "key_types": s.key_types,
                    "default_ttl": s.default_ttl,
                    "clustering_desc": list(s.clustering_desc),
                    "compression": s.compression,
                    "compaction": s.compaction,
                    "compaction_min_threshold": s.compaction_min_threshold,
                    "compaction_window_us": s.compaction_window_us,
                    "compaction_sstable_size_mb": (
                        s.compaction_sstable_size_mb
                    ),
                    "compaction_scaling": s.compaction_scaling,
                    "ucs_target_bytes": s.ucs_target_bytes,
                    "ucs_base_shards": s.ucs_base_shards,
                    "cdc": s.cdc,
                    "gc_grace_seconds": s.gc_grace_seconds,
                    "comment": s.comment,
                    "dropped": s.dropped,
                    "nonfrozen": sorted(s.nonfrozen),
                    "vector_dims": s.vector_dims,
                },
                "segments": segs,
                "segment_meta": seg_meta,
                "copied": copied,
                "state": {
                    "clock": t._clock,
                    "seq": t._seq,
                    "max_wt": t._max_wt,
                    "seg_counter": t._seg_counter,
                    "pos": t._pos,
                    "neg": t._neg,
                },
            }
        with open(os.path.join(out_dir, "manifest.json"), "w") as f:
            _json.dump(manifest, f)
        return manifest

    @staticmethod
    def _snapshot_chain(in_dir: str, head_base: str | None = None) -> list[str]:
        """The incremental-backup ancestor list, computed ONCE per
        restore (each manifest is parsed once, not once per segment).
        A moved/archived chain resolves by the sibling-name fallback:
        if the recorded absolute base path is gone, a directory of the
        same name next to the current image is tried — the shape a
        tar/rsync of the backup root produces. Cycles are detected by
        a visited set (no arbitrary depth cap on legitimate chains)."""
        import json as _json

        chain, seen = [], set()
        cur = in_dir
        first = True
        while cur and os.path.abspath(cur) not in seen:
            seen.add(os.path.abspath(cur))
            chain.append(cur)
            if first:
                # the caller already parsed the head manifest
                nxt = head_base
                first = False
            else:
                try:
                    with open(os.path.join(cur, "manifest.json")) as f:
                        nxt = _json.load(f).get("base")
                except OSError:
                    break  # ancestor manifest gone: chain ends here
            if not nxt:
                break
            if not os.path.isdir(nxt):
                sib = os.path.join(
                    os.path.dirname(os.path.abspath(cur)),
                    os.path.basename(os.path.normpath(nxt)),
                )
                nxt = sib
            cur = nxt
        return chain

    @staticmethod
    def _resolve_snapshot_file(
        chain: list[str], table: str, seg: str
    ) -> str:
        """Find a segment file in a precomputed snapshot chain: the
        image itself first, then each ``base`` ancestor."""
        for d in chain:
            cand = os.path.join(d, table, seg)
            if os.path.exists(cand):
                return cand
        raise CQLError(
            f"segment {seg!r} of table {table!r} not found in snapshot "
            f"chain starting at {chain[0]!r}"
        )

    def restore_keyspace(self, in_dir: str) -> None:
        """Restore a :meth:`snapshot_keyspace` image into THIS (empty)
        session: recreate types/tables/indexes/masks, re-attach the
        copied segments as pre-flushed SSTables, and resume the logical
        clocks — post-restore writes are strictly newer than anything
        in the image."""
        import json as _json
        import shutil
        import tempfile

        with open(os.path.join(in_dir, "manifest.json")) as f:
            manifest = _json.load(f)
        chain = self._snapshot_chain(in_dir, manifest.get("base"))
        if (
            self.tables or self.types or self.functions
            or self.aggregates or self.masks
        ):
            raise CQLError("restore_keyspace needs an empty session")
        self.types = dict(manifest["types"])
        self.functions = {
            n: (list(a), b) for n, (a, b) in manifest["functions"].items()
        }
        self.aggregates = dict(manifest["aggregates"])
        self.masks = {
            t: dict(cols) for t, cols in manifest["masks"].items()
        }
        # keyspace registry + table tags + views (older snapshots omit)
        self.keyspaces.update(manifest.get("keyspaces", {}))
        restored_tags = manifest.get("table_keyspace", {})
        for v, spec in manifest.get("mat_views", {}).items():
            self.mat_views[v] = (
                spec[0], spec[1], tuple(spec[2]), spec[3]
            )
        for name, entry in manifest["tables"].items():
            sch = entry["schema"]
            target_ks = (
                self._key_ks(name)
                if "." in name
                else restored_tags.get(name) or self.current_ks or "session"
            )
            if target_ks not in self.keyspaces:
                self.keyspaces[target_ks] = {
                    "class": "SimpleStrategy", "replication_factor": 1,
                }
            t = self.create_table(
                TableSchema(
                    name=sch["name"],
                    partition_key=sch["partition_key"],
                    # pre-composite manifests carry no partition_cols:
                    # fall back to the single-column key
                    partition_cols=tuple(
                        sch.get("partition_cols")
                        or (sch["partition_key"],)
                    ),
                    clustering=tuple(sch["clustering"]),
                    regular=dict(sch["regular"]),
                    counter=sch["counter"],
                    static=dict(sch["static"]),
                    key_types=dict(sch["key_types"]),
                    default_ttl=sch.get("default_ttl", 0),
                    clustering_desc=tuple(sch.get("clustering_desc", ())),
                    compression=sch.get("compression", ""),
                    compaction=sch.get("compaction", ""),
                    compaction_min_threshold=sch.get(
                        "compaction_min_threshold", 4
                    ),
                    compaction_window_us=sch.get(
                        "compaction_window_us", 86_400_000_000
                    ),
                    compaction_sstable_size_mb=sch.get(
                        "compaction_sstable_size_mb", 160
                    ),
                    compaction_scaling=sch.get("compaction_scaling", "T4"),
                    ucs_target_bytes=sch.get("ucs_target_bytes", 1 << 30),
                    ucs_base_shards=sch.get("ucs_base_shards", 1),
                    cdc=sch.get("cdc", False),
                    gc_grace_seconds=sch.get("gc_grace_seconds", 864_000),
                    comment=sch.get("comment", ""),
                    dropped={
                        k: list(v)
                        for k, v in sch.get("dropped", {}).items()
                    },
                    nonfrozen=set(sch.get("nonfrozen", ())),
                    vector_dims={
                        k: int(v)
                        for k, v in sch.get("vector_dims", {}).items()
                    },
                ),
                keyspace=target_ks,
            )
            if t.spill_dir is None:
                t.spill_dir = tempfile.mkdtemp(
                    prefix=f"cql-restore-{name.replace(chr(46), chr(95))}-"
                )
            os.makedirs(t.spill_dir, exist_ok=True)
            from cassandra_spark.operators.bloom import sidecar_path

            seg_meta = entry.get("segment_meta", {})
            for seg in entry["segments"]:
                src = self._resolve_snapshot_file(chain, name, seg)
                # the sibling-name chain fallback could adopt an
                # UNRELATED same-named backup; segment names are
                # deterministic per table, so validate each resolved
                # file against the head manifest's recorded size
                # (mtime is skipped: archive tools may truncate it)
                meta = seg_meta.get(seg)
                if meta and os.path.getsize(src) != meta[0]:
                    raise CQLError(
                        f"segment {seg!r} of table {name!r} resolved to "
                        f"{src!r} whose size {os.path.getsize(src)} != "
                        f"recorded {meta[0]} — wrong snapshot in chain"
                    )
                dst = os.path.join(t.spill_dir, seg)
                shutil.copy2(src, dst)
                if os.path.exists(sidecar_path(src)):
                    shutil.copy2(sidecar_path(src), sidecar_path(dst))
                t._segments.append(dst)
                # LCS manifest travels in the segment footer: rehydrate
                # the level so a restored leveled layout keeps its
                # bounded read amplification (absent stamp = L0)
                lvl = t._seg_footer_level(dst)
                if lvl:
                    t._seg_level[dst] = lvl
            st = entry["state"]
            t._clock, t._seq = st["clock"], st["seq"]
            t._max_wt, t._seg_counter = st["max_wt"], st["seg_counter"]
            t._pos, t._neg = st["pos"], st["neg"]
        for iname, (tbl, col, kind) in manifest["indexes"].items():
            if "." not in tbl and tbl in restored_tags:
                # pre-round-11 manifests key indexes by BARE table name
                # while the live registries are qualified: qualify via
                # the table's restored keyspace or the restored index is
                # silently inert (catalog-table indexes stay bare — they
                # carry no keyspace tag)
                tbl = f"{restored_tags[tbl]}.{tbl}"
            elif "." not in tbl and f"{self.current_ks or 'session'}.{tbl}" \
                    in self.tables:
                tbl = f"{self.current_ks or 'session'}.{tbl}"
            self.index_names[iname] = (tbl, col, kind)
            target = {
                "keys": self.key_indexes,
                "sai": self.sai_indexes,
                "sasi": self.sasi_indexes,
                "entries": self.entry_indexes,
                "full": self.full_indexes,
            }.get(kind, self.indexes)
            target.setdefault(tbl, set()).add(col)
        # custom-index options (absent in pre-round-12 manifests: those
        # indexes revert to the defaults, the documented old behavior)
        opts = manifest.get("index_options", {})
        for t, m in opts.get("sai_similarity", {}).items():
            self.sai_similarity.setdefault(t, {}).update(m)
        for t, m in opts.get("sasi_modes", {}).items():
            self.sasi_modes.setdefault(t, {}).update(m)

    def _apply_masks(self, stmt: str, df):
        """Rewrite plainly-projected masked columns of the SELECT result
        with their attached mask (skipped when this session holds UNMASK on
        the table). Post-compilation application means WHERE ran on clear
        values — the reference's documented behavior. Pinned simplification:
        a masked column that only appears aliased or inside an aggregate is
        returned as computed (the reference masks those selectors too)."""
        fm = re.search(r"\bFROM\s+([\w.]+)", stmt, re.IGNORECASE)
        if not fm:
            return df
        try:
            # qualified names (ks.table) must land on the same registry key
            # the bare name does — otherwise SELECT ... FROM ks.t would read
            # masked columns in the clear (round-6 ADVICE, mask bypass)
            t = self._resolve(fm.group(1))
        except CQLError:
            return df
        masks = self.masks.get(t)
        if not masks or t in self.unmasked:
            return df
        from cassandra_spark.cql import _rewrite_masks

        from pyspark.sql import functions as F

        for col, call in masks.items():
            if col in df.columns:
                df = df.withColumn(col, F.expr(_rewrite_masks(call, df)))
        return df

    # Spark-cast type text → canonical CQL type text (DESCRIBE output).
    # Lossy CQL→Spark mappings (ascii/uuid/blob/... all land on string)
    # reverse to the canonical representative, like the reference prints
    # the stored type, not the declared alias.
    _SPARK_TO_CQL = {
        "string": "text",
        "tinyint": "tinyint",
        "smallint": "smallint",
        "int": "int",
        "bigint": "bigint",
        "float": "float",
        "double": "double",
        "boolean": "boolean",
        "date": "date",
        "timestamp": "timestamp",
        "decimal(38,0)": "varint",
        "decimal(38,18)": "decimal",
    }

    def _reverse_type(self, spark_type: str) -> str:
        t = spark_type.strip()
        if t == DURATION_STRUCT:
            return "duration"
        for udt_name, struct in self.types.items():
            if t == struct:
                return udt_name
        m = re.fullmatch(r"(list|set|map)<(.+)>", t)
        if m:
            inner = ", ".join(
                self._reverse_type(p) for p in _split_generics(m.group(2))
            )
            return f"{m.group(1)}<{inner}>"
        sm = parse_struct_type(t)
        if sm is not None:
            fields = re.fullmatch(r"struct<(.+)>", t).group(1)
            inner = [
                self._reverse_type(f.split(":", 1)[1].strip())
                for f in _split_generics(fields)
            ]
            return f"tuple<{', '.join(inner)}>"
        return self._SPARK_TO_CQL.get(t, t)

    def _table_ddl(self, name: str) -> str:
        """Canonical CREATE TABLE text for DESCRIBE (`[C* 4.0 server-side
        DESCRIBE, CASSANDRA-14825, unverified]`), including attached
        masks, WITH options, and CLUSTERING ORDER BY when any clustering
        column is declared DESC."""
        if name not in self.tables:
            name = self._resolve(name)
        t = self.tables[name]
        ksname = self._key_ks(name)
        s = t.schema
        masks = self.masks.get(name, {})
        lines = []
        def mask_clause(col: str) -> str:
            if col not in masks:
                return ""
            call = masks[col]
            mm = re.match(rf"(\w+)\(\s*{col}\s*(?:,\s*)?(.*)\)", call)
            fn, rest = mm.group(1), mm.group(2).strip()
            return f" MASKED WITH {fn}({rest})"

        for col in s.key_cols:
            line = (
                f"    {col} {self._reverse_type(s.key_type(col))}"
                + mask_clause(col)
            )
            lines.append(line)
        for col, typ in s.regular.items():
            cql_t = "counter" if s.counter else self._reverse_type(typ)
            lines.append(f"    {col} {cql_t}" + mask_clause(col))
        for col, typ in s.static.items():
            lines.append(
                f"    {col} {self._reverse_type(typ)} STATIC"
                + mask_clause(col)
            )
        ck = ", ".join(s.clustering)
        pk_body = ", ".join(s.partition_cols)
        pk = (
            f"    PRIMARY KEY (({pk_body}), {ck})"
            if ck
            else f"    PRIMARY KEY (({pk_body}))"
        )
        lines.append(pk)
        clauses = []
        if s.clustering_desc:
            order = ", ".join(
                f"{c} {'DESC' if c in s.clustering_desc else 'ASC'}"
                for c in s.clustering
            )
            clauses.append(f"CLUSTERING ORDER BY ({order})")
        if s.default_ttl:
            clauses.append(f"default_time_to_live = {s.default_ttl}")
        if s.compression:
            clauses.append(
                "compression = {'class': '" + s.compression + "'}"
            )
        if s.cdc:
            clauses.append("cdc = true")
        if s.gc_grace_seconds != 864_000:
            clauses.append(f"gc_grace_seconds = {s.gc_grace_seconds}")
        if s.comment:
            clauses.append(
                "comment = '" + s.comment.replace("'", "''") + "'"
            )
        if s.compaction == "TimeWindowCompactionStrategy":
            # render in MINUTES: every supported unit is a whole multiple
            minutes = s.compaction_window_us // 60_000_000
            clauses.append(
                "compaction = {'class': '" + s.compaction + "', "
                "'compaction_window_unit': 'MINUTES', "
                "'compaction_window_size': '" + str(minutes) + "'}"
            )
        elif s.compaction == "LeveledCompactionStrategy":
            clauses.append(
                "compaction = {'class': '" + s.compaction + "', "
                "'sstable_size_in_mb': '"
                + str(s.compaction_sstable_size_mb)
                + "'}"
            )
        elif s.compaction == "UnifiedCompactionStrategy":
            # render target_sstable_size in the coarsest exact unit so
            # the statement re-parses to the same byte count
            tb = s.ucs_target_bytes
            for unit, shift in (("GiB", 30), ("MiB", 20), ("KiB", 10)):
                if tb % (1 << shift) == 0:
                    size = f"{tb >> shift}{unit}"
                    break
            clauses.append(
                "compaction = {'class': '" + s.compaction + "', "
                "'scaling_parameters': '" + s.compaction_scaling + "', "
                "'target_sstable_size': '" + size + "', "
                "'base_shard_count': '" + str(s.ucs_base_shards) + "'}"
            )
        elif s.compaction:
            clauses.append(
                "compaction = {'class': '" + s.compaction + "', "
                "'min_threshold': '"
                + str(s.compaction_min_threshold)
                + "'}"
            )
        opts = " WITH " + " AND ".join(clauses) if clauses else ""
        return (
            f"CREATE TABLE {ksname}.{self._key_bare(name)} (\n"
            + ",\n".join(lines)
            + f"\n){opts};"
        )

    def _describe(self, stmt: str):
        """Server-side DESCRIBE: rows of (keyspace_name, type, name,
        create_statement), the shape drivers consume since 4.0. Supports
        DESCRIBE TABLES / DESCRIBE TABLE <t> / DESCRIBE KEYSPACE."""
        m = re.match(
            r"^\s*DESC(?:RIBE)?\s+(?P<what>TABLES|KEYSPACES|TABLE\s+[\w.]+"
            r"|KEYSPACE(?:\s+\w+)?)\s*;?\s*$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise CQLError(f"unsupported DESCRIBE: {stmt!r}")
        what = m.group("what")
        rows: list[tuple[str, str, str, str]] = []
        if what.upper() == "KEYSPACES":
            rows = [
                (name, "keyspace", name,
                 f"CREATE KEYSPACE {name} WITH replication = "
                 + _replication_text(params)
                 + " AND durable_writes = true;")
                for name, params in sorted(self.keyspaces.items())
            ]
        elif what.upper() == "TABLES":
            rows = [
                (self._key_ks(n), "table", self._key_bare(n),
                 self._table_ddl(n))
                for n in sorted(self.tables)
            ]
        elif what.upper().startswith("TABLE"):
            raw = what.split()[1]
            # qualified targets resolve through the registry like every
            # other statement; bare names keep their historical behavior
            # (DESCRIBE is a whole-registry reflection surface)
            name = self._resolve(raw)
            if name not in self.tables and "." not in raw:
                # DESCRIBE is a whole-registry reflection surface: a bare
                # name not in the current keyspace still describes when
                # it names exactly one table across keyspaces
                matches = [
                    k for k in self.tables
                    if self._key_bare(k) == raw.lower()
                ]
                if len(matches) == 1:
                    name = matches[0]
            if name not in self.tables:
                raise CQLError(f"unknown table {raw!r}")
            tks = self._key_ks(name)
            rows = [(tks, "table", self._key_bare(name),
                     self._table_ddl(name))]
            for iname, (tbl, col, kind) in sorted(self.index_names.items()):
                if tbl == name:
                    target = (
                        f"{kind.upper()}({col})"
                        if kind in ("keys", "entries", "full")
                        else col
                    )
                    custom = {
                        "sai": " USING 'StorageAttachedIndex'",
                        "sasi": (
                            " USING "
                            "'org.apache.cassandra.index.sasi.SASIIndex'"
                        ),
                    }.get(kind, "")
                    # custom-index options re-emit so the DDL re-parses
                    # to the same semantics (SASI mode bounds LIKE
                    # shapes; SAI similarity picks the ANN ranking)
                    if kind == "sasi":
                        mode = self.sasi_modes.get(tbl, {}).get(col)
                        if mode:
                            custom += (
                                f" WITH OPTIONS = {{'mode': '{mode}'}}"
                            )
                    elif kind == "sai":
                        fn = self.sai_similarity.get(tbl, {}).get(col)
                        if fn:
                            custom += (
                                " WITH OPTIONS = "
                                f"{{'similarity_function': '{fn}'}}"
                            )
                    rows.append(
                        (tks, "index", iname,
                         f"CREATE {'CUSTOM ' if custom else ''}INDEX {iname} "
                         f"ON {name} ({target}){custom};")
                    )
        else:  # KEYSPACE
            rows = [
                ("session", "type", n,
                 f"CREATE TYPE session.{n} ...;  -- struct: {s}")
                for n, s in sorted(self.types.items())
            ] + [
                (self._key_ks(n), "table", self._key_bare(n),
                 self._table_ddl(n))
                for n in sorted(self.tables)
            ]
        return self.spark.createDataFrame(
            rows,
            "keyspace_name string, type string, name string, "
            "create_statement string",
        )

    def _size_estimates(self):
        """``system.size_estimates`` (`[C* db/SystemKeyspace ::
        updateSizeEstimates, unverified]`): per-local-token-range partition
        count + mean partition size for every session table — the virtual
        table the Spark connector reads to size its input splits. Ranges
        are the demo ring's 64 vnode ranges (operators/ring.py);
        ``mean_partition_size`` estimates bytes as the UTF-8 length of the
        partition's regular-column values (pinned stand-in for the
        reference's on-disk estimate, which is an estimate too). The plan
        is fully distributed: snapshot → per-partition size agg → token
        CASE classify → per-range agg; nothing collects to the driver."""
        from pyspark.sql import functions as F

        from cassandra_spark.operators import murmur3
        from cassandra_spark.operators import ring as ring_mod

        murmur3.ensure_token_registered(self.spark)
        ring = ring_mod.build_ring()
        idx_arms = " ".join(
            f"WHEN token <= {tok} THEN {i}" for i, (tok, _) in enumerate(ring)
        )
        idx_case = f"CASE {idx_arms} ELSE 0 END"
        start_arms = " ".join(
            f"WHEN ridx = {i} THEN '{ring[i - 1][0] if i else ring[-1][0]}'"
            for i in range(len(ring))
        )
        end_arms = " ".join(
            f"WHEN ridx = {i} THEN '{tok}'"
            for i, (tok, _) in enumerate(ring)
        )
        parts = []
        for name in sorted(self.tables):
            t = self.tables[name]
            s = t.schema
            size_cols = [
                f"coalesce(octet_length(CAST({c} AS STRING)), 0)"
                for c in s.regular
            ] or ["0"]
            snap = t.snapshot()
            if s.pk_composite:
                murmur3.ensure_blob_token_registered(self.spark)
                tok_expr = murmur3.composite_token_sql(
                    [(c, s.key_type(c)) for c in s.partition_cols]
                )
            else:
                tok_expr = f"cassandra_token({s.partition_key})"
            per_part = (
                snap.withColumn("__rsize", F.expr(" + ".join(size_cols)))
                .groupBy(*s.partition_cols)
                .agg(F.sum("__rsize").alias("__psize"))
                .withColumn("token", F.expr(tok_expr))
                .withColumn("ridx", F.expr(idx_case))
            )
            parts.append(
                per_part.groupBy("ridx")
                .agg(
                    F.count(F.lit(1)).alias("partitions_count"),
                    F.avg("__psize").cast("bigint").alias(
                        "mean_partition_size"
                    ),
                )
                .select(
                    F.lit(self._key_ks(name)).alias("keyspace_name"),
                    F.lit(self._key_bare(name)).alias("table_name"),
                    F.expr(f"CASE {start_arms} END").alias("range_start"),
                    F.expr(f"CASE {end_arms} END").alias("range_end"),
                    "mean_partition_size",
                    "partitions_count",
                )
            )
        if not parts:
            return self.spark.createDataFrame(
                [],
                "keyspace_name string, table_name string, "
                "range_start string, range_end string, "
                "mean_partition_size bigint, partitions_count bigint",
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _system_views(self) -> dict:
        """The virtual system tables every driver reads at connect time
        (`[C* db/SystemKeyspace, schema/SchemaKeyspace, unverified]`):
        ``system.local`` / ``system.peers`` for topology and
        ``system_schema.tables`` / ``system_schema.columns`` reflecting
        this session's DDL. Built lazily per SELECT so schema rows always
        match the live session; full CQL SELECT semantics (restriction
        gate, projection, LIMIT) apply to them like any table."""
        from cassandra_spark.catalog import TableMeta

        spark = self.spark
        local = spark.createDataFrame(
            [("local", "cassandra_spark", "MultiplicativeHashPartitioner",
              "4.0-spark", "standalone")],
            "key string, cluster_name string, partitioner string, "
            "release_version string, data_center string",
        )
        peers = spark.createDataFrame(
            [], "peer string, data_center string, release_version string"
        )
        trows = [
            (self._key_ks(k), self._key_bare(k))
            for k in sorted(self.tables)
        ]
        tables_df = spark.createDataFrame(
            trows, "keyspace_name string, table_name string"
        )
        crows = []
        for key in sorted(self.tables):
            s = self.tables[key].schema
            tks, name = self._key_ks(key), self._key_bare(key)
            for c in s.partition_cols:
                crows.append((tks, name, c, "partition_key",
                              s.key_type(c)))
            for c in s.clustering:
                crows.append((tks, name, c, "clustering", s.key_type(c)))
            for c, t in sorted(s.regular.items()):
                crows.append((tks, name, c, "regular", t))
            for c, t in sorted(s.static.items()):
                crows.append((tks, name, c, "static", t))
        cols_schema = (
            "keyspace_name string, table_name string, column_name string, "
            "kind string, type string"
        )
        columns_df = spark.createDataFrame(crows, cols_schema)
        ks_df = spark.createDataFrame(
            [
                (name, True, _replication_text(params))
                for name, params in sorted(self.keyspaces.items())
            ],
            "keyspace_name string, durable_writes boolean, "
            "replication string",
        )
        types_df = spark.createDataFrame(
            [("session", n, struct)
             for n, struct in sorted(self.types.items())],
            "keyspace_name string, type_name string, struct_type string",
        )
        fns_df = spark.createDataFrame(
            [
                ("session", n, list(args), body, "sql")
                for n, (args, body) in sorted(self.functions.items())
            ],
            "keyspace_name string, function_name string, "
            "argument_names array<string>, body string, language string",
        )
        aggs_df = spark.createDataFrame(
            [
                ("session", n, tmpl)
                for n, tmpl in sorted(self.aggregates.items())
            ],
            "keyspace_name string, aggregate_name string, "
            "fold_template string",
        )
        irows = [
            # catalog-table indexes key by bare name (keyspace-less →
            # shown under 'session'); session tables by qualified key
            (self._key_ks(tbl) if "." in tbl else "session",
             self._key_bare(tbl) if "." in tbl else tbl, iname,
             "CUSTOM" if kind == "sai" else "COMPOSITES",
             (f"{kind.upper()}({col})"
              if kind in ("keys", "entries", "full") else col))
            for iname, (tbl, col, kind) in sorted(self.index_names.items())
        ]
        idx_df = spark.createDataFrame(
            irows,
            "keyspace_name string, table_name string, index_name string, "
            "kind string, target string",
        )
        return {
            "system_schema.keyspaces": (
                ks_df,
                TableMeta("system_schema.keyspaces", ("keyspace_name",)),
            ),
            "system_schema.types": (
                types_df,
                TableMeta(
                    "system_schema.types", ("keyspace_name",), ("type_name",)
                ),
            ),
            "system_schema.functions": (
                fns_df,
                TableMeta(
                    "system_schema.functions", ("keyspace_name",),
                    ("function_name",),
                ),
            ),
            "system_schema.aggregates": (
                aggs_df,
                TableMeta(
                    "system_schema.aggregates", ("keyspace_name",),
                    ("aggregate_name",),
                ),
            ),
            "system_schema.indexes": (
                idx_df,
                TableMeta(
                    "system_schema.indexes", ("keyspace_name",),
                    ("table_name", "index_name"),
                ),
            ),
            "system_schema.triggers": (
                spark.createDataFrame(
                    [
                        (self._key_ks(tbl), self._key_bare(tbl),
                         name, cls)
                        for tbl, trigs in sorted(self.triggers.items())
                        for name, cls in sorted(trigs.items())
                    ],
                    "keyspace_name string, table_name string, "
                    "trigger_name string, options string",
                ),
                TableMeta(
                    "system_schema.triggers", ("keyspace_name",),
                    ("table_name", "trigger_name"),
                ),
            ),
            # `[C* schema/SchemaKeyspace DROPPED_COLUMNS, unverified]`:
            # one row per dropped column, carrying the drop time the
            # re-add shadow rule binds against (µs of the table's
            # statement clock, or the ALTER's USING TIMESTAMP)
            "system_schema.dropped_columns": (
                spark.createDataFrame(
                    [
                        (self._key_ks(tbl), self._key_bare(tbl), col,
                         int(rec[0]), rec[1],
                         "static" if rec[2] else "regular")
                        for tbl, t in sorted(self.tables.items())
                        for col, rec in sorted(t.schema.dropped.items())
                    ],
                    "keyspace_name string, table_name string, "
                    "column_name string, dropped_time_us long, "
                    "type string, kind string",
                ),
                TableMeta(
                    "system_schema.dropped_columns", ("keyspace_name",),
                    ("table_name", "column_name"),
                ),
            ),
            "system.local": (local, TableMeta("system.local", ("key",))),
            "system.peers": (peers, TableMeta("system.peers", ("peer",))),
            # `[C* db/virtual/SettingsTable — 4.0, unverified]`: the
            # runtime-readable settings view. Surfaced here: the static
            # node identity plus every CONFIGURED guardrail threshold —
            # exactly the knobs this engine lets an operator change live
            # (set_guardrail ≡ the reference's JMX/yaml setters); an
            # unset threshold shows the reference's empty value.
            "system_views.settings": (
                spark.createDataFrame(
                    sorted(
                        [
                            ("cluster_name", "cassandra_spark"),
                            ("partitioner",
                             "MultiplicativeHashPartitioner"),
                            ("release_version", "4.0-spark"),
                        ]
                        + [
                            (f"guardrails.{n}_{kind}_threshold",
                             "" if v is None else str(v))
                            for n, (w, f_) in sorted(
                                self.guardrails.items()
                            )
                            for kind, v in (("warn", w), ("fail", f_))
                        ]
                    ),
                    "name string, value string",
                ),
                TableMeta("system_views.settings", ("name",)),
            ),
            # `[C* db/SystemKeyspace :: updateCompactionHistory,
            # unverified]` — one row per merge/drop across every table.
            # Pinned divergences from the reference shape: id is the
            # per-table sequence (timeuuid in the reference), the
            # rows_merged map is flattened to rows_in/rows_out +
            # n_inputs/n_outputs, and the strategy tag is surfaced as
            # compaction_type (nodetool shows it; the table does not).
            "system.compaction_history": (
                spark.createDataFrame(
                    [
                        (
                            seq,
                            self._key_ks(tbl),
                            self._key_bare(tbl), tag, at, n_in, n_out,
                            b_in, b_out, r_in, r_out,
                        )
                        for tbl, t_ in sorted(self.tables.items())
                        for (seq, tag, at, n_in, n_out,
                             b_in, b_out, r_in, r_out)
                        in t_.compaction_history
                    ],
                    "id bigint, keyspace_name string, "
                    "columnfamily_name string, compaction_type string, "
                    "compacted_at bigint, n_inputs int, n_outputs int, "
                    "bytes_in bigint, bytes_out bigint, rows_in bigint, "
                    "rows_out bigint",
                ),
                TableMeta(
                    "system.compaction_history",
                    ("columnfamily_name",), ("id",),
                ),
            ),
            "system_schema.tables": (
                tables_df,
                TableMeta(
                    "system_schema.tables", ("keyspace_name",), ("table_name",)
                ),
            ),
            "system_schema.columns": (
                columns_df,
                TableMeta(
                    "system_schema.columns", ("keyspace_name",),
                    ("table_name", "column_name"),
                ),
            ),
            # the auth keyspace drivers and `nodetool` read
            # (`[C* auth/AuthKeyspace, unverified]`)
            "system_schema.views": (
                spark.createDataFrame(
                    [
                        (self._key_ks(name), self._key_bare(name),
                         self._key_bare(base))
                        for name, (base, _, _, _) in sorted(
                            self.mat_views.items()
                        )
                    ],
                    "keyspace_name string, view_name string, "
                    "base_table_name string",
                ),
                TableMeta(
                    "system_schema.views", ("keyspace_name",), ("view_name",)
                ),
            ),
            "system_auth.roles": (
                spark.createDataFrame(
                    [
                        (
                            n,
                            o["can_login"],
                            o["is_superuser"],
                            sorted(self.role_grants.get(n, ())),
                        )
                        for n, o in sorted(self.roles.items())
                    ],
                    "role string, can_login boolean, is_superuser boolean, "
                    "member_of array<string>",
                ),
                TableMeta("system_auth.roles", ("role",)),
            ),
            "system_auth.role_permissions": (
                spark.createDataFrame(
                    [
                        (r, f"<{res}>", p)
                        for r in sorted(self.role_perms)
                        for res, p in sorted(self.role_perms[r])
                    ],
                    "role string, resource string, permission string",
                ),
                TableMeta(
                    "system_auth.role_permissions", ("role",),
                    ("resource", "permission"),
                ),
            ),
            "system_traces.sessions": (
                self.trace_sessions(),
                TableMeta("system_traces.sessions", ("session_id",)),
            ),
            "system_traces.events": (
                self.trace_events(),
                TableMeta(
                    "system_traces.events", ("session_id",), ("event_id",)
                ),
            ),
            "system_auth.role_members": (
                spark.createDataFrame(
                    [
                        (granted, member)
                        for member in sorted(self.role_grants)
                        for granted in sorted(self.role_grants[member])
                    ],
                    "role string, member string",
                ),
                TableMeta("system_auth.role_members", ("role",), ("member",)),
            ),
            # `[C* auth/AuthKeyspace NETWORK_PERMISSIONS, unverified]`:
            # one row per DC-restricted role; unrestricted roles have no
            # row (implicit ALL DATACENTERS)
            "system_auth.network_permissions": (
                spark.createDataFrame(
                    [
                        (n, o["datacenters"])
                        for n, o in sorted(self.roles.items())
                        if o.get("datacenters") is not None
                    ],
                    "role string, dcs array<string>",
                ),
                TableMeta("system_auth.network_permissions", ("role",)),
            ),
        }

    @staticmethod
    def _subst_args(body: str, mapping: dict[str, str]) -> str:
        """Simultaneous, literal-safe argument substitution. All arg names
        are replaced in ONE pass via a single alternation (dict lookup), so
        an argument VALUE that happens to contain another argument's NAME is
        never re-substituted (sequential re.sub corrupted e.g. body 'a - b'
        called as f(b, 10)). Single-quoted string literals in the body are
        matched first and passed through untouched."""
        if not mapping:
            return body
        alt = re.compile(
            r"'[^']*'|\b("
            + "|".join(re.escape(a) for a in mapping)
            + r")\b",
            re.IGNORECASE,
        )
        return alt.sub(
            lambda mm: mm.group(0)
            if mm.group(1) is None
            else mapping[mm.group(1).lower()],
            body,
        )

    def _create_function(self, m: re.Match) -> None:
        """CREATE [OR REPLACE] FUNCTION name (args) RETURNS t LANGUAGE sql
        AS 'expr' (`[C* cql3/functions/UDFunction, unverified]`). Pinned
        deviation: the reference runs java/javascript bodies in a per-row
        sandbox; this engine accepts LANGUAGE sql with a Spark-SQL
        expression over the arg names and INLINES calls at parse time, so
        the body executes inside whole-stage codegen."""
        name = m.group("name").lower()
        if m.group("lang").lower() != "sql":
            raise CQLError(
                f"LANGUAGE {m.group('lang')} bodies are not executable in "
                "this engine; use LANGUAGE sql with a SQL expression body"
            )
        if name in _RESERVED_FN_NAMES:
            raise CQLError(f"cannot shadow built-in function {name!r}")
        if name in self.functions and not m.group("repl"):
            if m.group("ine"):
                return
            raise CQLError(f"function {name!r} already exists")
        argnames = []
        for item in _split_generics(m.group("args")):
            am = re.fullmatch(r"(?P<a>\w+)\s+(?P<t>.+)", item, re.DOTALL)
            if not am:
                raise CQLError(f"bad argument definition: {item!r}")
            argnames.append(am.group("a").lower())
        if len(set(argnames)) != len(argnames):
            raise CQLError("duplicate argument names")
        body = m.group("body").replace("''", "'").strip()
        if not body:
            raise CQLError("empty function body")
        self.functions[name] = (argnames, body)

    def _create_aggregate(self, m: re.Match) -> None:
        """CREATE AGGREGATE name(argtype) SFUNC f STYPE t [FINALFUNC g]
        INITCOND x (`[C* cql3/functions/UDAggregate, unverified]`). SFUNC
        must be a registered 2-arg LANGUAGE sql function (state, value) and
        FINALFUNC a 1-arg one; the call compiles to a collect_list + fold
        (``aggregate(collect_list(col), init, sfunc, finalfunc)``) — the
        per-GROUP state materializes as an array, so this is the
        small-group form (the reference's UDAs carry the same
        per-group-state caveat); a6_uda_weighted_avg is the Arrow-batched
        large-group path. Fold order follows collect_list and is
        unspecified across partitions — exactly the reference's
        unspecified row order — so deterministic results require a
        commutative-associative SFUNC."""
        name = m.group("name").lower()
        if name in _RESERVED_FN_NAMES:
            raise CQLError(f"cannot shadow built-in function {name!r}")
        if name in self.aggregates and not m.group("repl"):
            if m.group("ine"):
                return
            raise CQLError(f"aggregate {name!r} already exists")
        sfunc = m.group("sfunc").lower()
        if sfunc not in self.functions:
            raise CQLError(f"SFUNC {sfunc!r} is not a registered function")
        sargs, sbody = self.functions[sfunc]
        if len(sargs) != 2:
            raise CQLError(f"SFUNC {sfunc!r} must take (state, value)")
        acc_body = self._subst_args(
            sbody, {sargs[0].lower(): "acc", sargs[1].lower(): "x"}
        )
        final = "acc"
        if m.group("final"):
            fname = m.group("final").lower()
            if fname not in self.functions:
                raise CQLError(f"FINALFUNC {fname!r} is not a registered function")
            fargs, fbody = self.functions[fname]
            if len(fargs) != 1:
                raise CQLError(f"FINALFUNC {fname!r} must take (state)")
            final = self._subst_args(fbody, {fargs[0].lower(): "acc"})
        stype = _map_type(m.group("stype"), self.types)
        init = m.group("init").strip()
        self.aggregates[name] = (
            f"aggregate(collect_list({{col}}), "
            f"CAST({init} AS {stype}), "
            f"(acc, x) -> ({acc_body}), "
            f"acc -> ({final}))"
        )

    def _expand_udas(self, text: str) -> str:
        """Inline UDA calls: name(col) → the registered fold template."""
        for name, template in self.aggregates.items():
            pat = re.compile(
                rf"\b{re.escape(name)}\s*\(\s*(\w+)\s*\)", re.IGNORECASE
            )
            text = pat.sub(lambda mm: template.format(col=mm.group(1)), text)
        return text

    def _expand_udfs(self, text: str) -> str:
        """Inline every registered UDF call by macro expansion (arguments
        substituted textually, wrapped in parens). Runs to a fixpoint so a
        UDF body may call other UDFs; bounded depth guards cycles."""
        for _ in range(10):
            changed = False
            for name, (argnames, body) in self.functions.items():
                pat = re.compile(rf"\b{re.escape(name)}\s*\(", re.IGNORECASE)
                m = pat.search(text)
                while m:
                    depth, i = 1, m.end()
                    while i < len(text) and depth:
                        if text[i] == "(":
                            depth += 1
                        elif text[i] == ")":
                            depth -= 1
                        i += 1
                    if depth:
                        raise CQLError(f"unbalanced call to {name!r}")
                    args = [
                        a for a in _split_generics(text[m.end() : i - 1]) if a
                    ]
                    if len(args) != len(argnames):
                        raise CQLError(
                            f"function {name!r} takes {len(argnames)} "
                            f"argument(s), got {len(args)}"
                        )
                    expansion = self._subst_args(
                        body,
                        {
                            an.lower(): f"({av.strip()})"
                            for an, av in zip(argnames, args)
                        },
                    )
                    text = text[: m.start()] + f"({expansion})" + text[i:]
                    changed = True
                    m = pat.search(text)
            if not changed:
                return text
        raise CQLError("UDF expansion exceeded max depth (cycle?)")

    def _execute_batch(self, stmt: str, bm: re.Match) -> bool | None:
        """Logged BATCH, possibly spanning tables (Snk2: the reference's
        atomic multi-mutation — its canonical use is the denormalized
        double-write). Semantics pinned here:

        - every sub-statement shares ONE write timestamp (the batch's);
        - application is all-or-nothing across ALL touched tables: each
          table's state is marked before application and restored if any
          sub-statement fails (validation and application both);
        - conditional (LWT) batches stay single-partition, hence
          single-table — delegated to the table, which runs its own paxos
          analogue;
        - counter and non-counter mutations cannot mix (reference rule:
          counter batches are a distinct batch kind).
        """
        # resolve every touched name ONCE (validating keyspace tags),
        # then strip the qualifiers so the tables' own DML parsers (bare
        # names) accept the sub-statements the single-DML path accepts
        subs = [
            sub for sub in re.split(r";\s*", bm.group("body")) if sub.strip()
        ]
        names: list[str] = []
        for i, sub in enumerate(subs):
            tm = _DML_TABLE_RE.search(sub)
            if not tm:
                raise CQLError(f"unsupported statement in batch: {sub!r}")
            key = self._resolve(tm.group(1))
            names.append(key)
            bare = self._key_bare(key)
            if tm.group(1).lower() != bare:
                subs[i] = sub[: tm.start(1)] + bare + sub[tm.end(1):]
        stmt = (
            stmt[: bm.start("body")]
            + "; ".join(subs) + "; "
            + stmt[bm.end("body"):]
        )
        bm = _BATCH_RE.match(stmt) or bm
        # authorization covers every touched table BEFORE any mutation is
        # applied (a denied batch must be a no-op, like any failed batch)
        for n in sorted(set(names)):
            self._check_perm("MODIFY", n)
        for n in names:
            if n in self.mat_views:
                raise CQLError("cannot directly modify a materialized view")
            if n not in self.tables:
                raise CQLError(f"unknown table {n!r}")
        if len(set(names)) <= 1:
            # single-table batch: the table's own execute() already does
            # shared-timestamp + all-or-nothing + conditional-batch rules
            # (names are already RESOLVED keys — index the registry
            # directly, a bare re-resolve would re-apply current-keyspace
            # scoping to a table the qualifier already selected)
            return self.tables[names[0]].execute(stmt) if names else None
        tables = [self.tables[n] for n in names]
        involved: dict[str, CqlTable] = dict(zip(names, tables))
        if len({t.schema.counter for t in involved.values()}) > 1:
            raise CQLError(
                "cannot mix counter and non-counter mutations in a batch"
            )
        from cassandra_spark.cql_dml import batch_kind, check_batch_kind

        check_batch_kind(
            batch_kind(bm),
            any_counter=any(t.schema.counter for t in involved.values()),
            any_plain=any(not t.schema.counter for t in involved.values()),
        )
        marks = {n: t._mark() for n, t in involved.items()}
        # One shared write time. Semantics mirror CqlTable.execute's batch
        # path exactly (the two paths previously diverged): every involved
        # clock ticks once (a batch consumed a round), and a USING TIMESTAMP
        # pin sets only the WRITE time — it never advances server clocks, so
        # a future-pinned batch beats later unpinned writes regardless of
        # how many tables it touched. Unpinned batches write at a time
        # strictly newer than every involved clock and advance all clocks to
        # it, so later single-statement writes stay newer.
        for t in involved.values():
            t._clock += 1
        if bm.group("bts"):
            ts = int(bm.group("bts"))
        else:
            ts = max(t._clock for t in involved.values())
            for t in involved.values():
                t._clock = ts
        try:
            matched = []
            for t, sub in zip(tables, subs):
                handler, m = t._match(sub)
                if t._cond_text(m) is not None:
                    raise CQLError(
                        "conditional batch must target a single partition"
                    )
                matched.append((handler, m))
            for handler, m in matched:
                handler(m, ts)
        except Exception:
            for n, t in involved.items():
                t._restore(marks[n])
            raise
        # same O(spill_threshold) driver-memory bound as the single-table
        # path: flush each involved table's mutation log once committed
        for t in involved.values():
            t._maybe_flush()
        return None
