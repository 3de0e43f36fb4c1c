"""CQL DML front-end: INSERT / UPDATE / DELETE / BATCH compiled onto the
W-tier mutation model (SURVEY.md §2.9), completing the reference's
user-facing surface beyond SELECT (cql.py).

The reference's write path is upsert-only: every statement becomes
cell-level mutations (`[C* cql3/statements/ModificationStatement,
db/Mutation, db/partitions/PartitionUpdate]`, unverified — SURVEY.md §0),
and reads see the LWW reconcile of everything written. This module keeps
exactly that shape:

- a statement parses into **cell mutations** (value cells, collection
  element cells, a row marker for INSERT, cell / collection / row / range /
  partition tombstones for DELETE);
- the table's visible state (``snapshot``) is a pure DataFrame reduction:
  per-cell LWW (compaction.lww_merge order: writetime desc, tombstone
  beats write on ties, then arrival seq), shadowed by the newest
  applicable row/range/partition tombstone, TTL-expired cells dropped at
  the caller's ``asof`` — the same W2/W3/W4/W5 semantics the batch
  operators implement, driven from real CQL text.

Surface (each point tested):
- **Composite clustering keys**: ``clustering`` is a tuple; the log keys
  rows by the joined clustering value; ``key_types`` drives typed range
  comparison and typed output columns.
- **Range tombstones** (`[C* db/RangeTombstone]`, unverified): a DELETE
  whose WHERE fixes a clustering *prefix* (optionally bounding the next
  clustering column with </<=/>/>=) emits a range marker that shadows every
  covered row, exactly like row tombstones but over a slice.
- **Collection columns** (``list<T>``, ``set<T>``, ``map<K,V>``): element
  cells keyed by position / member / key; append/prepend, set add/remove,
  map put/remove, element deletes; assignment overwrites via a collection
  tombstone at ``writetime - 1`` so same-timestamp new elements survive
  (the reference's ``setComplexDeletionTimeForOverwrite`` behavior). List
  positions are arrival-ordered (pinned simplification of timeuuid
  positions); set members sort by value; maps sort by key.
- **Static columns**: partition-scoped cells (ck = NULL in the log), LWW
  per (pk, col), shadowed only by partition tombstones; a partition whose
  only live content is static shows one row with NULL clustering.

Fidelity points (each tested):
- INSERT writes a row *marker*, UPDATE does not — an UPDATE-only row
  disappears once its cells are deleted or expire, an INSERTed row
  survives with all-null regulars (the reference's visibility quirk);
- ``USING TIMESTAMP`` makes writes commute: a later-arriving statement
  with an older timestamp loses;
- ``USING TTL`` expires cells, not rows;
- at equal timestamp a delete beats a write; statement arrival order
  breaks write/write ties.

Scale posture: statements accumulate in a driver-side log because DML
*arrives* row-at-a-time; the log becomes a DataFrame and every snapshot
reduction is distributed (one shuffle on the partition key). At 100 TB the
log is a stream — streaming/jobs.streaming_upsert is the continuous form
of the same reconcile — and snapshots are the compaction.compact output.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_spark.cql import CQLError

# mutation kinds — precedence is encoded per-rule below (tombstones beat
# cells at equal writetime)
CELL, MARKER, CELL_TOMB, ROW_TOMB, PART_TOMB, INCR = (
    "cell",
    "marker",
    "cell_tomb",
    "row_tomb",
    "part_tomb",
    "incr",
)
RANGE_TOMB = "range_tomb"
COLL_TOMB = "coll_tomb"

# clustering values join into one log key with an unprintable separator
SEP = "\x1f"

_MUT_SCHEMA = (
    "pk string, ck string, col string, elem string, val string, kind string, "
    "writetime long, ttl long, seq long, "
    "lo string, hi string, lo_incl boolean, hi_incl boolean"
)
_MUT_COLS = [f.split()[0] for f in _MUT_SCHEMA.split(", ")]


def _mut_table(rows: list[tuple]):
    """Mutation-log rows (mut_row tuples) as a pyarrow table in log
    column order."""
    import pyarrow as pa

    types = [
        pa.string(), pa.string(), pa.string(), pa.string(), pa.string(),
        pa.string(), pa.int64(), pa.int64(), pa.int64(),
        pa.string(), pa.string(), pa.bool_(), pa.bool_(),
    ]
    cols = list(zip(*rows))
    return pa.table(
        {c: pa.array(cols[i], type=t) for i, (c, t) in
         enumerate(zip(_MUT_COLS, types))}
    )


def _pk_tokens(keys: list):
    """Murmur3 tokens (int64 numpy array) of distinct partition keys,
    hashed as text. A NULL key hashes as the empty key: it only has to
    land inside its segment's token hull; reads of it never prune."""
    from cassandra_spark.operators.murmur3 import tokens_of_texts

    return tokens_of_texts(["" if k is None else k for k in keys])


def mut_row(
    pk,
    ck,
    col,
    val,
    kind,
    writetime,
    ttl,
    seq,
    elem=None,
    lo=None,
    hi=None,
    lo_incl=None,
    hi_incl=None,
) -> tuple:
    """Build one mutation-log row in the canonical column order (keeps the
    pinned EXPECTED_LOG literals in the replay modules readable)."""
    return (pk, ck, col, elem, val, kind, writetime, ttl, seq, lo, hi, lo_incl, hi_incl)


_COLL_RE = re.compile(
    r"^\s*(list|set|map)\s*<(.+)>\s*$", re.IGNORECASE | re.DOTALL
)


def _split_type_params(body: str) -> list[str]:
    """Top-level comma split of a generic type's parameter list."""
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
            continue
        cur.append(ch)
    out.append("".join(cur).strip())
    return [t for t in out if t]


def _str_prefix_hi(prefix: str) -> str | None:
    """The smallest string GREATER than every string starting with
    ``prefix`` (the exclusive upper bound of the prefix interval), or
    None when no such string exists (all-max-codepoint prefix)."""
    for i in range(len(prefix) - 1, -1, -1):
        if ord(prefix[i]) < 0x10FFFF:
            return prefix[:i] + chr(ord(prefix[i]) + 1)
    return None


def is_coll_type(typ: str) -> bool:
    """True when the Spark type text is a collection (list/set/map/array)."""
    return bool(
        re.match(r"^\s*(list|set|map|array)\s*<", typ, re.IGNORECASE)
    )


def parse_coll_type(typ: str) -> tuple[str, str, str | None] | None:
    """'list<int>' → ('list', 'int', None); 'map<string,int>' →
    ('map', 'string', 'int'); element types may be STRUCT types
    (UDT/tuple/duration — stored as canonical-JSON element cells, round
    11) or COLLECTION types (the reference's frozen nested collections —
    also canonical-JSON element cells, round 12); scalar and struct
    top-level types → None. The DDL gate enforces the reference's rule
    that a nested collection must be spelled ``frozen<...>``."""
    m = _COLL_RE.match(typ)
    if not m:
        return None
    kind = m.group(1).lower()
    params = _split_type_params(m.group(2))
    if kind == "map":
        if len(params) != 2:
            raise CQLError(f"map type needs key and value types: {typ!r}")
    elif len(params) != 1:
        raise CQLError(f"{kind} type takes one parameter: {typ!r}")
    t1 = params[0]
    t2 = params[1] if kind == "map" else None
    return kind, t1, t2


# --- struct-typed scalars (UDT / tuple / duration) --------------------------
#
# UDTs, tuples, and durations map to Spark struct types (SURVEY §1.2). In the
# mutation log a struct cell is ONE scalar cell whose value is the canonical
# JSON rendering of the struct (field order = declared order, null fields
# omitted, no whitespace) — exactly what Spark's to_json() emits for the
# corresponding StructType, so both engines and the DuckDB oracle compare the
# same bytes. Frozen semantics only: a struct cell is written/replaced whole
# (the reference's frozen<udt>; non-frozen per-field UDT updates are the one
# unpinned corner, documented in operators/typed_replay.py).

# Cassandra duration = (months, days, nanoseconds), `[C* cql3/Duration,
# unverified]`. y=12mo, w=7d; sub-day units fold into nanos.
DURATION_STRUCT = "struct<months:int,days:int,nanos:bigint>"

_DUR_UNITS = {
    "y": ("months", 12),
    "mo": ("months", 1),
    "w": ("days", 7),
    "d": ("days", 1),
    "h": ("nanos", 3_600_000_000_000),
    "m": ("nanos", 60_000_000_000),
    "s": ("nanos", 1_000_000_000),
    "ms": ("nanos", 1_000_000),
    "us": ("nanos", 1_000),
    "ns": ("nanos", 1),
}
_DUR_RE = re.compile(r"(\d+)(mo|ms|us|ns|y|w|d|h|m|s)")


def parse_duration(tok: str) -> tuple[int, int, int]:
    """CQL duration literal ('1y2mo3d4h5m6s', optionally '-'-prefixed) →
    (months, days, nanos)."""
    t = tok.strip().lower()
    sign = 1
    if t.startswith("-"):
        sign, t = -1, t[1:]
    pos = 0
    acc = {"months": 0, "days": 0, "nanos": 0}
    for m in _DUR_RE.finditer(t):
        if m.start() != pos:
            raise CQLError(f"bad duration literal: {tok!r}")
        field, mult = _DUR_UNITS[m.group(2)]
        acc[field] += int(m.group(1)) * mult
        pos = m.end()
    if pos != len(t) or pos == 0:
        raise CQLError(f"bad duration literal: {tok!r}")
    return sign * acc["months"], sign * acc["days"], sign * acc["nanos"]


def parse_struct_type(typ: str) -> list[tuple[str, str]] | None:
    """'struct<a:int,b:string>' → [('a', 'int'), ('b', 'string')];
    non-struct types → None. Splits on top-level commas only (nested
    structs keep their angle brackets)."""
    t = typ.strip()
    if not (t.lower().startswith("struct<") and t.endswith(">")):
        return None
    body = t[len("struct<") : -1]
    fields = []
    depth, cur = 0, []
    items: list[str] = []
    for ch in body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    items.append("".join(cur))
    for item in items:
        name, _, ft = item.partition(":")
        if not name.strip() or not ft.strip():
            raise CQLError(f"bad struct type: {typ!r}")
        fields.append((name.strip().lower(), ft.strip()))
    return fields


_INT_FIELD_TYPES = frozenset({"tinyint", "smallint", "int", "bigint", "long"})


def _json_field_value(val: str | None, ftype: str):
    """Canonical-string field value → the Python value json.dumps renders
    exactly as Spark's to_json() would for the field's Spark type."""
    if val is None:
        return None
    ft = ftype.strip().lower()
    if parse_struct_type(ftype) is not None:
        raise CQLError("nested struct fields must arrive pre-parsed")
    if ft in _INT_FIELD_TYPES or ft.startswith("decimal"):
        return int(val)
    if ft in ("float", "double"):
        return float(val)
    if ft == "boolean":
        return val == "true"
    return val  # string family (text/inet/uuid/...)


def struct_json(tok: str, typ: str) -> str | None:
    """Struct-typed CQL literal → canonical JSON string for the log.

    Accepts the UDT form ``{field: lit, ...}``, the tuple form
    ``(lit, ...)`` (fields bind positionally to the declared c0..cN), a
    bare duration literal when ``typ`` is the duration struct, or NULL.
    Canonical form: declared field order, null fields omitted, compact
    separators, raw UTF-8 — byte-identical to Spark's ``to_json``.
    """
    import json as _json

    fields = parse_struct_type(typ)
    assert fields is not None
    tok = tok.strip()
    if re.fullmatch(r"NULL", tok, re.IGNORECASE):
        return None
    out: dict[str, object] = {}
    if tok.startswith("{") and tok.endswith("}"):
        declared = dict(fields)
        seen = {}
        body = tok[1:-1].strip()
        for item in _split_csv(body) if body else []:
            k, v = _split_colon(item)
            name = k.strip().lower()
            if name not in declared:
                raise CQLError(f"unknown struct field {name!r} in {tok!r}")
            ftype = declared[name]
            v = v.strip()
            if parse_struct_type(ftype) is not None:
                seen[name] = ("__nested__", struct_json(v, ftype))
            else:
                seen[name] = (ftype, _parse_literal(v))
        for name, ftype in fields:
            if name not in seen:
                continue
            ft, v = seen[name]
            if v is None:
                continue
            out[name] = (
                _json.loads(v) if ft == "__nested__" else _json_field_value(v, ft)
            )
    elif tok.startswith("(") and tok.endswith(")"):
        vals = _split_csv(tok[1:-1])
        if len(vals) > len(fields):
            raise CQLError(f"too many tuple fields in {tok!r}")
        for (name, ftype), v in zip(fields, vals):
            v = v.strip()
            if parse_struct_type(ftype) is not None:
                nested = struct_json(v, ftype)
                if nested is not None:
                    out[name] = _json.loads(nested)
                continue
            pv = _parse_literal(v)
            if pv is not None:
                out[name] = _json_field_value(pv, ftype)
    elif typ.replace(" ", "") == DURATION_STRUCT.replace(" ", ""):
        months, days, nanos = parse_duration(tok)
        out = {"months": months, "days": days, "nanos": nanos}
    else:
        raise CQLError(f"bad struct literal for {typ!r}: {tok!r}")
    return _json.dumps(out, separators=(",", ":"), ensure_ascii=False)


def udt_field_cells(
    tok: str, typ: str
) -> list[tuple[str, str | None]] | None:
    """Non-frozen-UDT literal → per-FIELD canonical cell values, in
    declared field order: [(field, value-or-None), ...] with None for
    fields absent from (or null in) the literal. A NULL literal returns
    None (whole-column tombstone). Scalar fields store their canonical
    literal text (the cell convention); nested frozen struct fields
    store canonical JSON."""
    fields = parse_struct_type(typ)
    assert fields is not None
    tok = tok.strip()
    if re.fullmatch(r"NULL", tok, re.IGNORECASE):
        return None
    if not (tok.startswith("{") and tok.endswith("}")):
        raise CQLError(f"bad UDT literal for {typ!r}: {tok!r}")
    declared = dict(fields)
    seen: dict[str, str | None] = {}
    body = tok[1:-1].strip()
    for item in _split_csv(body) if body else []:
        k, v = _split_colon(item)
        name = k.strip().lower()
        if name not in declared:
            raise CQLError(f"unknown struct field {name!r} in {tok!r}")
        ftype = declared[name]
        v = v.strip()
        if parse_struct_type(ftype) is not None:
            seen[name] = struct_json(v, ftype)
        elif is_coll_type(ftype):
            seen[name] = coll_json(v, ftype)
        else:
            seen[name] = _parse_literal(v)
    return [(name, seen.get(name)) for name, _ in fields]


def _coll_pyval(tok: str, typ: str):
    """CQL literal text → the Python value ``json.dumps`` renders exactly
    as Spark's ``to_json`` would for the Spark type ``typ``. Recursive
    over frozen nested collections and struct elements. Canonical forms:
    set elements sorted by their typed value, map keys sorted (and
    rendered as JSON-object string keys, Spark's convention) — the same
    deterministic order the top-level snapshot pivot produces with
    ``array_sort`` / sorted ``map_from_entries``."""
    import json as _json

    tok = tok.strip()
    if re.fullmatch(r"NULL", tok, re.IGNORECASE):
        return None
    if parse_struct_type(typ) is not None:
        j = struct_json(tok, typ)
        return None if j is None else _json.loads(j)
    if is_coll_type(typ):
        coll = parse_coll_type(typ)
        kind, t1, t2 = coll
        if kind in ("list", "set", "array"):
            if not (
                (tok.startswith("[") and tok.endswith("]"))
                or (tok.startswith("{") and tok.endswith("}"))
            ):
                raise CQLError(f"bad {kind} literal for {typ!r}: {tok!r}")
            body = tok[1:-1].strip()
            items = [
                _coll_pyval(i, t1) for i in (_split_csv(body) if body else [])
            ]
            if any(i is None for i in items):
                raise CQLError("null is not a valid collection element")
            if kind == "set":
                # canonical set order = the element's natural order (the
                # reference renders sets sorted); dedup on the rendered
                # form, order by typed value where comparable
                dedup = {_json.dumps(i): i for i in items}
                try:
                    items = sorted(dedup.values())
                except TypeError:
                    items = [dedup[k] for k in sorted(dedup)]
            return items
        # map: keys scalar, values recurse; JSON-object keys are strings
        if not (tok.startswith("{") and tok.endswith("}")):
            raise CQLError(f"bad map literal for {typ!r}: {tok!r}")
        body = tok[1:-1].strip()
        out = {}
        for item in _split_csv(body) if body else []:
            k, v = _split_colon(item)
            kv = _parse_literal(k.strip())
            vv = _coll_pyval(v.strip(), t2)
            if kv is None or vv is None:
                raise CQLError("null is not a valid map key/value")
            out[str(kv)] = vv
        return {k: out[k] for k in sorted(out)}
    v = _parse_literal(tok)
    return None if v is None else _json_field_value(v, typ)


def spark_type_text(typ: str) -> str:
    """Engine type text → text Spark's type parser accepts: the engine
    keeps CQL's ``list<>`` / ``set<>`` spellings in schemas (set-ness is
    semantic — element-cell identity), but ``from_json`` needs Spark's
    ``array<>`` for both."""
    return re.sub(r"\b(?:list|set)\s*<", "array<", typ, flags=re.IGNORECASE)


def _canon_py(x, typ: str):
    """Python JSON value → the value whose ``json.dumps`` rendering is
    canonical for ``typ``: struct fields in declared order with nulls
    omitted (the struct_json convention), set elements sorted, map keys
    sorted and stringified. Scalar leaves pass through."""
    import json as _json

    if x is None:
        return None
    fields = parse_struct_type(typ)
    if fields is not None:
        if not isinstance(x, dict):
            raise CQLError(f"struct value must be a JSON object: {x!r}")
        return {
            n: _canon_py(x[n], ft)
            for n, ft in fields
            if x.get(n) is not None
        }
    if is_coll_type(typ):
        kind, t1, t2 = parse_coll_type(typ)
        if kind in ("list", "array"):
            return [_canon_py(i, t1) for i in x]
        if kind == "set":
            items = [_canon_py(i, t1) for i in x]
            dedup = {_json.dumps(i): i for i in items}
            try:
                return sorted(dedup.values())
            except TypeError:
                return [dedup[k] for k in sorted(dedup)]
        if not isinstance(x, dict):
            raise CQLError(f"map value must be a JSON object: {x!r}")
        out = {str(k): _canon_py(v, t2) for k, v in x.items()}
        return {k: out[k] for k in sorted(out)}
    return x


def coll_json(tok: str, typ: str) -> str | None:
    """Frozen nested-collection CQL literal → ONE canonical JSON string
    for the element cell (round 12; the reference's frozen<list/set/map>
    nesting `[C* cql3/CQL3Type.Raw, unverified]`) — the same convention
    struct-typed elements use, so snapshot re-typing is a uniform
    ``from_json`` and the DuckDB oracle compares identical bytes."""
    import json as _json

    v = _coll_pyval(tok, typ)
    return None if v is None else _json.dumps(
        v, separators=(",", ":"), ensure_ascii=False
    )


@dataclass
class TableSchema:
    """Declared table shape: key columns are strings in the mutation log
    (``key_types`` declares their comparison/output types); regular columns
    carry a Spark cast type, including collection types ``list<T>`` /
    ``set<T>`` / ``map<K,V>``; ``static`` columns are partition-scoped.

    ``counter=True`` declares a counter table (the reference's counter-only
    table rule `[C* db/counters/CounterContext, cql3 counter validation,
    unverified]`): every regular column is a bigint counter, INSERT is
    rejected, the only write is ``SET c = c ± n``, and USING TIMESTAMP/TTL
    are rejected on writes."""

    name: str
    partition_key: str
    clustering: tuple[str, ...] | str | None
    regular: dict[str, str]  # column -> spark type ("int", "list<int>", ...)
    counter: bool = False
    static: dict[str, str] = field(default_factory=dict)
    key_types: dict[str, str] = field(default_factory=dict)  # key col -> type
    # WITH default_time_to_live: applied to data cells written without an
    # explicit USING TTL (0 = none; explicit `USING TTL 0` still disables)
    default_ttl: int = 0
    # inline `MASKED WITH fn(...)` column masks from CREATE TABLE: col ->
    # call text with the implicit column arg made explicit ("fn(col, 4, 2)");
    # the session owns application (CqlSession.masks)
    masks: dict[str, str] = field(default_factory=dict)
    # WITH compression = {'class': '<X>Compressor'}: the SSTable block
    # compressor choice (`[C* schema/CompressionParams, unverified]`)
    # mapped onto the parquet codec of flushed segments ("" = default)
    compression: str = ""
    # WITH compaction = {'class': 'SizeTieredCompactionStrategy',
    # 'min_threshold': N}: "" = this engine's default major compaction
    # at compact_threshold segments; STCS = tiered minor compactions
    compaction: str = ""
    compaction_min_threshold: int = 4
    # TWCS (`[C* db/compaction/TimeWindowCompactionStrategy, unverified]`):
    # segments group into non-overlapping writetime windows; every CLOSED
    # window compacts to one segment, and a fully-expired oldest window is
    # DROPPED whole (footer-stats only, overlap-guarded — see twcs_compact)
    compaction_window_us: int = 86_400_000_000
    # LCS (`[C* db/compaction/LeveledCompactionStrategy, unverified]`):
    # 'sstable_size_in_mb' — the target size of one leveled segment; level
    # n's byte budget is fanout^n of it (fanout 10, the reference default)
    compaction_sstable_size_mb: int = 160
    # UCS (`[C* db/compaction/unified/UnifiedCompactionStrategy — CEP-26,
    # unverified]`): 'scaling_parameters' — per-level w encoded as T{t}
    # (tiered: w=t-2, merge t at a time), L{f} (leveled: w=2-f, merge at
    # 2) or N (w=0, where T2 ≡ L2); a comma list gives levels 0..n-1
    # their own parameter, the last repeating upward. 'target_sstable_size'
    # bounds a merged output shard (reference default 1GiB);
    # 'base_shard_count' is the minimum shard fan-out of a merged output
    # (reference default 4; this engine defaults to 1 so a small table
    # stays one file — the single-node-friendly choice, DDL overrides it)
    compaction_scaling: str = "T4"
    ucs_target_bytes: int = 1 << 30
    ucs_base_shards: int = 1
    # WITH cdc = true (`[C* schema/TableParams cdc;
    # db/commitlog/CommitLogSegmentManagerCDC, unverified]`): gates the
    # change-data-capture feed. The reference exposes commitlog segments
    # to CDC consumers only for flagged tables; false is its default.
    cdc: bool = False
    # WITH gc_grace_seconds (`[C* schema/TableParams gcGraceSeconds,
    # unverified]`; reference default 864000 = 10 days): how long a
    # tombstone must survive before garbage_collect() may purge it —
    # the default horizon is clock - gc_grace_seconds * 1e6, coherent
    # for wall-µs pinned-timestamp workloads (the session's unpinned
    # logical clock ticks 1/statement, so unpinned sessions should pass
    # an explicit horizon).
    gc_grace_seconds: int = 864_000
    # WITH comment = '...' (`[C* schema/TableParams comment, unverified]`):
    # free-text schema documentation, retained and DESCRIBE-round-tripped
    # ('' = unset, the reference default)
    comment: str = ""
    # WITH CLUSTERING ORDER BY: clustering columns declared DESC (the
    # on-disk sort the reference serves unordered reads in, and the
    # reference's ORDER BY validation baseline)
    clustering_desc: tuple[str, ...] = ()
    # NON-FROZEN UDT columns (round 13; `[C* cql3/CQL3Type — bare UDT
    # spellings are multi-cell since 3.6, frozen<udt> is the single-cell
    # form, unverified]`): each field is its own cell (elem = field
    # name), merged per-field LWW at read; `SET u.f = v` writes one
    # field, `SET u = {..}` replaces (tombstone at ts-1 + field cells),
    # the reference's visible semantics.
    nonfrozen: set = field(default_factory=set)
    # vector<T, n> columns (5.0): the declared dimension, enforced at
    # write time like the reference's VectorType (fixed length, whole-
    # value writes only — no element ops, no appends)
    vector_dims: dict = field(default_factory=dict)
    # Dropped-column registry (`[C* schema/DroppedColumn +
    # db/rows/Row::filter — CASSANDRA-3919 lineage, unverified]`,
    # mirrored as system_schema.dropped_columns): col ->
    # [drop_writetime_us, type, was_static]. The reference keeps the
    # drop timestamp so a RE-ADDED name never resurrects pre-drop
    # cells: any cell with writetime <= drop time is invisible forever,
    # while a cell written BEFORE the drop with a FUTURE timestamp
    # survives it. This engine realizes the same visible behavior at
    # the write/drop choke points (drop purges only wt <= drop time;
    # _emit discards born-shadowed cells), so the read path stays free.
    dropped: dict[str, list] = field(default_factory=dict)
    # COMPOSITE partition key `PRIMARY KEY ((a, b), ...)`: the full
    # ordered component list (`[C* db/marshal/CompositeType, unverified]`).
    # None/() normalizes to the single ``partition_key`` column. The
    # mutation log keys every partition on ONE string — for a composite
    # key that string is the SEP-joined component values (the analogue of
    # the reference's serialized composite key bytes); snapshot() splits
    # it back into the typed user columns, exactly like clustering.
    partition_cols: tuple[str, ...] | None = None

    def __post_init__(self) -> None:
        if self.clustering is None:
            self.clustering = ()
        elif isinstance(self.clustering, str):
            self.clustering = (self.clustering,)
        else:
            self.clustering = tuple(self.clustering)
        if not self.partition_cols:
            self.partition_cols = (self.partition_key,)
        else:
            self.partition_cols = tuple(self.partition_cols)
            # the legacy single-name field tracks the first component so
            # pre-composite callers keep a stable label; every semantic
            # site branches on partition_cols
            self.partition_key = self.partition_cols[0]
        for c in self.static:
            if parse_coll_type(self.static[c]):
                raise CQLError("static collection columns are not supported")

    @property
    def key_cols(self) -> list[str]:
        return [*self.partition_cols, *self.clustering]

    @property
    def pk_composite(self) -> bool:
        return len(self.partition_cols) > 1

    def pk_from_pairs(self, pairs: dict[str, str | None]) -> str | None:
        """The mutation-log partition key of a statement's equality
        pairs: the raw value for a single-column key, the SEP-joined
        component values for a composite (all components required — the
        reference rejects partial/null composite partition keys)."""
        missing = [c for c in self.partition_cols if c not in pairs]
        if missing:
            if len(self.partition_cols) == 1:
                raise CQLError(f"missing partition key {missing[0]}")
            raise CQLError(f"missing partition key component(s) {missing}")
        if not self.pk_composite:
            return pairs[self.partition_cols[0]]
        vals = []
        for c in self.partition_cols:
            v = pairs[c]
            if v is None:
                raise CQLError(
                    f"null is not a valid partition key component ({c!r})"
                )
            if SEP in v:
                raise CQLError(
                    f"partition key component {c!r} contains the reserved "
                    "key separator byte 0x1f"
                )
            vals.append(v)
        return SEP.join(vals)

    def key_type(self, col: str) -> str:
        return self.key_types.get(col, "string")

    @property
    def scalar_regular(self) -> dict[str, str]:
        return {
            c: t for c, t in self.regular.items() if parse_coll_type(t) is None
        }

    @property
    def coll_regular(self) -> dict[str, tuple[str, str, str | None]]:
        out = {}
        for c, t in self.regular.items():
            p = parse_coll_type(t)
            if p is not None:
                out[c] = p
        return out


def check_guardrail(
    guardrails: dict, warnings: list, name: str, actual: int, what: str
) -> None:
    """Warn/fail threshold check (`[C* db/guardrails/Guardrails — the
    4.1 framework, unverified]`): above fail the operation ABORTS with a
    CQLError; above warn a client warning is recorded (the reference's
    client-warning frame, drained by ``CqlSession.pop_warnings``)."""
    g = guardrails.get(name)
    if not g:
        return
    warn, fail = g
    if fail is not None and actual > fail:
        raise CQLError(
            f"guardrail {name} violated: {what} = {actual} exceeds "
            f"failure threshold {fail}"
        )
    if warn is not None and actual > warn:
        warnings.append(
            f"guardrail {name}: {what} = {actual} exceeds warn "
            f"threshold {warn}"
        )


def _pq_num_rows(path: str) -> int:
    """Row count from the parquet footer only (no data read)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def parse_ucs_scaling(text: str) -> list[tuple[str, int]]:
    """Parse a UCS 'scaling_parameters' string (`[C* db/compaction/
    unified — CEP-26, unverified]`) into [(mode, arg), ...] where mode
    is "T" (tiered: merge ``arg`` segments at a time) or "L" (leveled:
    merge as soon as 2 share a level; ``arg`` is the fanout). "N" is
    the w=0 middle ground where T2 and L2 coincide. Entry i governs
    level i; the last entry repeats for all higher levels."""
    out: list[tuple[str, int]] = []
    for part in text.split(","):
        p = part.strip().upper()
        if p == "N":
            out.append(("T", 2))
            continue
        m = re.fullmatch(r"([TL])(\d+)", p)
        if not m or int(m.group(2)) < 2:
            raise CQLError(
                f"bad UCS scaling parameter {part.strip()!r} "
                "(T<n>/L<n> with n >= 2, or N)"
            )
        out.append((m.group(1), int(m.group(2))))
    if not out:
        raise CQLError("empty UCS scaling_parameters")
    return out


_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s*\((?P<cols>[^)]*)\)\s*"
    r"VALUES\s*\((?P<vals>.*)\)\s*(?:(?P<ine>IF\s+NOT\s+EXISTS)\s*)?"
    r"(?:USING\s+(?P<using>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_JSON_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s+JSON\s+'(?P<json>(?:[^']|'')*)'"
    r"\s*(?:DEFAULT\s+(?P<dflt>UNSET|NULL)\s*)?"
    r"(?:(?P<ine>IF\s+NOT\s+EXISTS)\s*)?"
    r"(?:USING\s+(?P<using>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<table>\w+)\s*(?:USING\s+(?P<using>.+?)\s+)?"
    r"SET\s+(?P<set>.+?)\s+WHERE\s+(?P<where>.+?)"
    r"(?:\s+IF\s+(?P<cond>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s*(?P<cols>[^;]*?)\s*FROM\s+(?P<table>\w+)\s*"
    r"(?:USING\s+TIMESTAMP\s+(?P<ts>\d+)\s+)?WHERE\s+(?P<where>.+?)"
    r"(?:\s+IF\s+(?P<cond>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COND_RE = re.compile(r"^(\w+)\s*(=|!=|<=|>=|<|>)\s*(.+)$", re.DOTALL)
_BATCH_RE = re.compile(
    r"^\s*BEGIN\s+(?P<kind>UNLOGGED\s+|LOGGED\s+|COUNTER\s+)?BATCH\s+"
    r"(?:USING\s+TIMESTAMP\s+(?P<bts>\d+)\s+)?(?P<body>.+?)\s*"
    r"APPLY\s+BATCH\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def batch_kind(m: re.Match) -> str:
    """'logged' (the default) / 'unlogged' / 'counter'."""
    return (m.group("kind") or "logged").strip().lower()


def check_batch_kind(kind: str, any_counter: bool, any_plain: bool) -> None:
    """The reference's batch-kind gate (`[C* cql3/statements/
    BatchStatement :: verifyBatchType, unverified]`): counter mutations
    may appear ONLY in a COUNTER batch (they are not idempotent, so the
    logged batch's replay guarantee cannot cover them), and a COUNTER
    batch may hold nothing else."""
    if kind == "counter" and any_plain:
        raise CQLError(
            "cannot include non-counter statement in a counter batch"
        )
    if kind != "counter" and any_counter:
        raise CQLError(
            f"cannot include a counter statement in a {kind} batch "
            "(use BEGIN COUNTER BATCH)"
        )
_REL_RE = re.compile(r"^(\w+)\s*(<=|>=|<|>|=)\s*(.+)$", re.DOTALL)


def _parse_using(using: str | None) -> tuple[int | None, int | None]:
    """USING TIMESTAMP n [AND TTL m] in either order → (ts, ttl)."""
    ts = ttl = None
    if not using:
        return ts, ttl
    for part in re.split(r"\s+AND\s+", using.strip(), flags=re.IGNORECASE):
        m = re.fullmatch(r"TIMESTAMP\s+(\d+)", part.strip(), re.IGNORECASE)
        if m:
            ts = int(m.group(1))
            continue
        m = re.fullmatch(r"TTL\s+(\d+)", part.strip(), re.IGNORECASE)
        if m:
            ttl = int(m.group(1))
            continue
        raise CQLError(f"bad USING clause: {part.strip()!r}")
    return ts, ttl


def _parse_literal(tok: str) -> str | None:
    """Scalar CQL literal → canonical string form (cast to the column type
    at snapshot time). Strings unquote with '' escaping; NULL → None."""
    tok = tok.strip()
    if re.fullmatch(r"NULL", tok, re.IGNORECASE):
        return None
    m = re.fullmatch(r"'(.*)'", tok, re.DOTALL)
    if m:
        return m.group(1).replace("''", "'")
    if re.fullmatch(r"-?\d+(\.\d+)?([eE][+-]?\d+)?", tok) or re.fullmatch(
        r"(?i)true|false", tok
    ):
        return tok.lower()
    raise CQLError(f"unsupported CQL literal: {tok!r}")


# column types whose canonical-string values normalize losslessly for
# index-equality probes; float/decimal/timestamp families are excluded
# (their literal spellings are not canonical — '5' vs '5.0'), so reads on
# them fall back to the full-scan filter, correct just unaccelerated
INDEX_EQ_TYPES = frozenset(
    # Spark-normalized names (schema.regular stores mapped types):
    # text/ascii/varchar → string, CQL int family keeps its names
    "string int bigint smallint tinyint boolean".split()
)


# column types whose canonical-string values ORDER correctly under exact
# decimal parsing — the families SAI serves range predicates for. Strings
# order lexicographically ≠ CQL semantics for numerics, so the range probe
# parses Decimal (exact for every int/decimal spelling, no float rounding)
INDEX_RANGE_TYPES = frozenset(
    "int bigint smallint tinyint varint float double decimal".split()
)


def index_range_type(schema: "TableSchema", col: str) -> str | None:
    """The scalar type a RANGE probe on ``col`` orders against, or None
    when the column's family doesn't support index-served ranges
    (collections, text, booleans, timestamps — those reads stay
    full-scan, correct just unaccelerated)."""
    typ = schema.regular.get(col) or schema.static.get(col) or ""
    t = typ.strip().lower()
    return t if t in INDEX_RANGE_TYPES else None


def index_probe_type(schema: "TableSchema", col: str) -> str | None:
    """The scalar type an index probe on ``col`` normalizes against: the
    column's own type for scalars, the ELEMENT type for collections
    (list/set elements and map VALUES log as individual cells, so the
    value Bloom covers them directly — CQL ``CONTAINS`` is value-side
    containment for maps). None when the type family doesn't normalize
    losslessly (floats, timestamps, ...) — those reads stay full-scan."""
    typ = schema.regular.get(col) or schema.static.get(col) or ""
    coll = parse_coll_type(typ)
    if coll is not None:
        kind, t1, t2 = coll
        typ = t2 if kind == "map" else t1
    t = typ.strip().lower()
    return t if t in INDEX_EQ_TYPES else None


def _index_norm(val: str, typ: str) -> str:
    """Normalize a canonical-string cell value for value-Bloom/index
    probes so differently-spelled equal literals collide ('05' = '5' for
    an int column). Mirrors the snapshot-time cast for the INDEX_EQ_TYPES
    families only."""
    t = typ.split("<")[0].strip().lower()
    if t in ("int", "bigint", "smallint", "tinyint", "varint"):
        try:
            return str(int(val))
        except (ValueError, TypeError):
            return val
    if t == "boolean":
        return val.lower()
    return val


def _split_csv(text: str) -> list[str]:
    """Split on commas not inside single quotes or [ ] / { } / ( )
    brackets (parens nest tuple literals)."""
    out: list[str] = []
    depth = 0
    quoted = False
    cur: list[str] = []
    for ch in text:
        if ch == "'":
            quoted = not quoted
        elif not quoted:
            if ch in "[{(":
                depth += 1
            elif ch in "]})":
                depth -= 1
            elif ch == "," and depth == 0:
                out.append("".join(cur))
                cur = []
                continue
        cur.append(ch)
    out.append("".join(cur))
    return [t.strip() for t in out]


def _parse_value(tok: str, elem_type: str | None = None,
                 val_type: str | None = None):
    """Scalar or collection literal.

    Returns ``("scalar", v)``, ``("list", [v, ...])``, ``("set", [v, ...])``
    or ``("map", [(k, v), ...])`` with scalar parts in canonical string
    form. ``{}`` is a set/map ambiguity resolved as empty map (both mean
    "no elements" here). ``elem_type`` / ``val_type``: when the declared
    list/set element (or map value) type is a STRUCT, items canonicalize
    through :func:`struct_json` instead of the scalar literal parser —
    one JSON string per element cell, the same convention struct-typed
    scalar columns use. Map KEYS stay scalar (pinned envelope)."""
    def lit(item: str, typ: str | None):
        if typ is not None and parse_struct_type(typ) is not None:
            return struct_json(item, typ)
        if typ is not None and is_coll_type(typ):
            # frozen nested collection element (round 12): one
            # canonical-JSON string per element cell, like structs
            return coll_json(item, typ)
        return _parse_literal(item)

    tok = tok.strip()
    if tok.startswith("[") and tok.endswith("]"):
        body = tok[1:-1].strip()
        items = _split_csv(body) if body else []
        return "list", [lit(i, elem_type) for i in items]
    if tok.startswith("{") and tok.endswith("}"):
        body = tok[1:-1].strip()
        items = _split_csv(body) if body else []
        if any(_top_level_colon(i) for i in items):
            pairs = []
            for i in items:
                k, v = _split_colon(i)
                pairs.append((_parse_literal(k), lit(v.strip(), val_type)))
            return "map", pairs
        return ("map", []) if not items else (
            "set", [lit(i, elem_type) for i in items]
        )
    return "scalar", _parse_literal(tok)


def _top_level_colon(item: str) -> bool:
    """A colon outside quotes AND outside any bracket nesting — a struct
    literal's field colons ({a: 1} as a set element) sit at depth > 0 and
    must not read as a map separator."""
    quoted, depth = False, 0
    for ch in item:
        if ch == "'":
            quoted = not quoted
        elif quoted:
            continue
        elif ch in "[{(":
            depth += 1
        elif ch in "]})":
            depth -= 1
        elif ch == ":" and depth == 0:
            return True
    return False


def _split_colon(item: str) -> tuple[str, str]:
    quoted, depth = False, 0
    for i, ch in enumerate(item):
        if ch == "'":
            quoted = not quoted
        elif quoted:
            continue
        elif ch in "[{(":
            depth += 1
        elif ch in "]})":
            depth -= 1
        elif ch == ":" and depth == 0:
            return item[:i], item[i + 1 :]
    raise CQLError(f"bad map entry: {item!r}")


def ck_join(ck: tuple[str, ...] | None) -> str | None:
    return None if ck is None else SEP.join(ck)


# list positions: arrival-ordered sortable strings around a fixed origin
_POS_ORIGIN = 1_000_000_000


def _pos_str(n: int) -> str:
    return f"{_POS_ORIGIN + n:010d}"


_NUMERIC_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "long", "float", "double"}
)


def _pykey(v: str, typ: str):
    return float(v) if typ.split("(")[0] in _NUMERIC_TYPES else v


class CqlTable:
    """A mutable CQL table: DML statements append to a cell-mutation log;
    ``snapshot(asof_us)`` reconciles it into the visible rows.

    Driver-memory bound (measured, see BASELINE.md "DML front-end"): the
    in-memory log costs ~1 KB/mutation of driver RSS and the log→DataFrame
    conversion is O(N) driver CPU, so an unbounded session front-end binds
    at a few million mutations. Two escape hatches keep it bounded:

    - the log→DataFrame conversion is Arrow-batched (pandas, ~2.5× faster
      than the plain-list path at 1M mutations) and chunked so the
      conversion copy never exceeds ``_ARROW_CHUNK`` rows;
    - the memtable flushes to parquet segments past ``spill_threshold``
      (the memtable→SSTable move) BY DEFAULT — a temp spill dir is
      auto-provisioned when ``spill_dir`` wasn't given, and
      ``spill_threshold=None`` is the explicit opt-out: driver RSS stays
      O(threshold), ``mutation_log()`` unions the segment scan (executor
      side, scales with the cluster) with the in-memory tail, and the LWT
      read path consults segments via a partition-key-filtered pyarrow
      read (one partition's cells, the same bounded read a replica serves).
    """

    _ARROW_CHUNK = 250_000  # rows per createDataFrame slice (bounds the copy)

    def __init__(
        self,
        spark: SparkSession,
        schema: TableSchema,
        spill_dir: str | None = None,
        spill_threshold: int | None = 50_000,
        compact_threshold: int = 64,
    ):
        self.spark = spark
        self.schema = schema
        self._log: list[tuple] = []
        self._clock = 0  # logical µs clock for statements without USING TIMESTAMP
        self._seq = 0  # arrival order, the final tie-breaker
        self._pos = 0  # list append position counter (arrival-ordered)
        self._neg = 0  # list prepend position counter (descending)
        self._max_wt: int | None = None  # max writetime ever logged
        self.spill_dir = spill_dir
        self.spill_threshold = spill_threshold
        # set by the session while a triggered statement runs: spill
        # clears _log, which would lose the cells the trigger must see
        self._defer_flush = False
        # auto-compact once this many segments accumulate, so segment
        # count (and with it LWT read cost) stays bounded on any session
        self.compact_threshold = compact_threshold
        # compaction merges whose input bytes reach this threshold run
        # as ONE Spark job (executor read/decode/shuffle/write) instead
        # of the driver-side pyarrow concat — the same
        # distribute-past-a-threshold rule as the 2i candidate probe.
        # Below it the driver path IS faster (no job overhead). None
        # disables the Spark path outright.
        self.distributed_merge_bytes: int | None = 256 << 20
        self._segments: list[str] = []  # flushed parquet segment paths
        self._retired: list[str] = []  # compaction-superseded, not yet GC'd
        # guardrails (`[C* db/guardrails/Guardrails — 4.1, unverified]`):
        # name -> (warn, fail) thresholds, shared BY REFERENCE with the
        # owning session (set_guardrail mutates one dict); warnings
        # append to the shared client_warnings list (the reference sends
        # them in the client-warning frame)
        self.guardrails: dict[str, tuple] = {}
        self.client_warnings: list[str] = []
        # system.compaction_history rows (`[C* db/SystemKeyspace ::
        # updateCompactionHistory, unverified]`), one per merge/drop:
        # (id, tag, compacted_at_us wall clock, n_inputs, n_outputs,
        # bytes_in, bytes_out, rows_in, rows_out). The session surfaces
        # them as the virtual table; bounded O(compactions).
        self.compaction_history: list[tuple] = []
        self._seg_counter = 0  # monotone: segment file names never recycle
        # Memo of the no-arg snapshot() PLAN (r12 opt round): plan
        # construction alone costs ~0.9 s of py4j round-trips per call
        # (profiled on cql48 at sf0.1) and every SELECT statement builds
        # it afresh. The key captures everything the plan depends on —
        # log length, segment paths, clock/seq/max-writetime — plus an
        # explicit version for the two in-place mutations the key cannot
        # see (schema evolution, dropped-column segment rewrites).
        self._snap_cache: tuple | None = None
        self._mutver = 0
        # per-segment partition-key Bloom filters (the SSTable Filter.db
        # analogue, operators/bloom.py) + nodetool-tablestats-style
        # counters; filters load/rebuild lazily so restored segments work
        self._blooms: dict[str, object] = {}
        self.bloom_stats = {"checked": 0, "skipped": 0}
        # per-(segment, indexed column) Bloom filters over the column's
        # cell VALUES — the 2i read path's segment-pruning leg (lazy,
        # sidecar-persisted; _retire_into drops a retired path's entries)
        self._value_blooms: dict[tuple[str, str], object] = {}
        # per-(segment, indexed column) [min, max] value ranges — the SAI
        # per-SSTable min/max term metadata analogue; serves RANGE
        # predicates the way the Blooms serve equality (lazy, sidecar)
        self._value_ranges: dict[tuple[str, str], tuple] = {}
        # 2i probe counters (tablestats): segments consulted, segments
        # pruned by a value Bloom ("skipped") or by value-range stats
        # ("range_skipped"), and probes that passed the collect cap
        self.index_stats = {
            "checked": 0,
            "skipped": 0,
            "range_skipped": 0,
            "probe_overflows": 0,
        }
        # the candidate-pk set a probe may collect: past this many
        # DISTINCT candidates the index gives no useful selectivity (the
        # reference's low-cardinality-2i anti-pattern) and the probe
        # stops and reports None — the read falls back to the full
        # reconcile, which at that selectivity is the better plan
        # anyway. The probe checks the cap after every segment, so it
        # holds at most cap + one segment's matching pks.
        self.index_probe_collect_cap = 20_000
        # LCS bookkeeping: segment -> level (absent = L0, where every
        # flush/bulk-load lands), cached [min,max] pk-token ranges, and
        # read-path range-skip counters (the leveled manifest analogue)
        self._seg_level: dict[str, int] = {}
        self._seg_tokens: dict[str, tuple[int, int]] = {}
        self.lcs_stats = {"checked": 0, "range_skipped": 0}
        self.lcs_fanout = 10  # level n byte budget = fanout^n * target
        self.lcs_target_bytes: int | None = None  # None -> schema mb

    # --- statement execution ---------------------------------------------

    def execute(self, stmt: str) -> bool | None:
        """Run one statement (or batch). Returns the LWT ``[applied]`` flag
        for conditional statements (IF NOT EXISTS / IF EXISTS / IF col op
        lit), None for unconditional ones. The clock ticks even when a
        condition fails — a rejected proposal still consumed a round."""
        batch = _BATCH_RE.match(stmt)
        if batch:
            check_batch_kind(
                batch_kind(batch),
                any_counter=self.schema.counter,
                any_plain=not self.schema.counter,
            )
            # all statements in a batch share one default timestamp — the
            # reference applies the batch atomically at one write time.
            # Atomicity includes failure: any error mid-application rolls
            # the whole batch back (mark/restore), so a logged batch never
            # leaves a partial write. A condition evaluating false is NOT
            # an error — the clock stays ticked (rejected proposal still
            # consumed a round).
            mark = self._mark()
            self._clock += 1
            # BATCH USING TIMESTAMP pins the shared write time; the clock
            # still ticks (a batch consumed a round either way)
            default_ts = (
                int(batch.group("bts")) if batch.group("bts") else self._clock
            )
            try:
                matched = [
                    self._match(sub)
                    for sub in re.split(r";\s*", batch.group("body"))
                    if sub.strip()
                ]
                conds = [self._cond_text(m) for _, m in matched]
                if any(c is not None for c in conds):
                    # conditional batch: single-partition, all-or-nothing,
                    # every condition reads the pre-batch state (the
                    # reference runs the whole batch through one paxos round)
                    if len({self._stmt_pk(h, m) for h, m in matched}) > 1:
                        raise CQLError(
                            "conditional batch must target a single partition"
                        )
                    for (h, m), c in zip(matched, conds):
                        if c is not None:
                            self._lwt_guard(m)
                            if not self._eval_cond(c, *self._cond_key(h, m)):
                                return False
                    for h, m in matched:
                        h(m, default_ts)
                    self._maybe_flush()
                    return True
                for h, m in matched:
                    h(m, default_ts)
                self._maybe_flush()
                return None
            except Exception:
                self._restore(mark)
                raise
        # single statements are atomic like batches: an error ANYWHERE in
        # application (bad collection literal after the row marker, a
        # guardrail failure mid-emission) rolls every cell back — the
        # reference applies a statement's mutation atomically or not at
        # all. A condition evaluating false is NOT an error (the clock
        # stays ticked: a rejected proposal still consumed a round).
        mark = self._mark()
        self._clock += 1
        try:
            handler, m = self._match(stmt)
            cond = self._cond_text(m)
            if cond is None:
                handler(m, self._clock)
                self._maybe_flush()
                return None
            self._lwt_guard(m)
            if not self._eval_cond(cond, *self._cond_key(handler, m)):
                return False
            handler(m, self._clock)
            self._maybe_flush()
            return True
        except Exception:
            self._restore(mark)
            raise

    # --- atomicity support (logged-batch all-or-nothing) -------------------

    def _mark(self) -> tuple:
        """Snapshot of all mutable state, for batch rollback. Flushes only
        happen between statements, so truncating the in-memory list is
        always enough — no segment ever holds an un-committed batch."""
        return (
            len(self._log), self._clock, self._seq, self._pos, self._neg,
            self._max_wt,
        )

    def _restore(self, mark: tuple) -> None:
        n, clock, seq, pos, neg, max_wt = mark
        del self._log[n:]
        self._clock, self._seq, self._pos, self._neg = clock, seq, pos, neg
        self._max_wt = max_wt

    def _match(self, stmt: str):
        for regex, handler in (
            (_INSERT_RE, self._insert),
            (_INSERT_JSON_RE, self._insert),  # same handler: only the
            # column/value extraction differs (see _insert_pairs)
            (_UPDATE_RE, self._update),
            (_DELETE_RE, self._delete),
        ):
            m = regex.match(stmt)
            if m:
                return handler, m
        raise CQLError(f"unsupported or malformed CQL DML: {stmt!r}")

    # --- lightweight transactions (compare-and-set) -----------------------

    @staticmethod
    def _cond_text(m: re.Match) -> str | None:
        g = m.groupdict()
        if g.get("ine"):
            return "NOT EXISTS"
        return g.get("cond")

    def _lwt_guard(self, m: re.Match) -> None:
        """The reference rejects counter LWT and custom timestamps on
        conditional writes (paxos owns the write time)."""
        if self.schema.counter:
            raise CQLError(
                "conditional updates are not supported on counter tables"
            )
        g = m.groupdict()
        if g.get("using") and _parse_using(g["using"])[0] is not None:
            raise CQLError(
                "custom timestamps are not allowed with conditional updates"
            )
        if g.get("ts"):
            raise CQLError(
                "custom timestamps are not allowed with conditional updates"
            )

    def _insert_pairs(self, m: re.Match):
        if "json" in m.re.groupindex:
            return self._json_pairs(m)
        cols = [c.strip().lower() for c in m.group("cols").split(",")]
        toks = _split_csv(m.group("vals"))
        if len(cols) != len(toks):
            raise CQLError("INSERT column/value count mismatch")
        return {c: self._parse_rhs(c, t) for c, t in zip(cols, toks)}

    def _struct_type_of(self, col: str) -> str | None:
        """Declared struct type of a regular/static column, else None."""
        s = self.schema
        typ = s.regular.get(col) or s.static.get(col)
        if typ is not None and parse_struct_type(typ) is not None:
            return typ
        return None

    def _nonfrozen_type_of(self, col: str) -> str | None:
        """Declared struct type of a NON-FROZEN UDT regular column."""
        s = self.schema
        if col in s.nonfrozen:
            return s.regular.get(col)
        return None

    def _check_vector_arity(self, col: str, parsed) -> None:
        """vector<T, n> fixed-dimension rule (`[C* db/marshal/VectorType,
        unverified]`): a full-value write must carry exactly n elements,
        and the literal must be the list form."""
        dims = self.schema.vector_dims.get(col)
        if dims is None:
            return
        kind, items = parsed
        if kind != "list" or len(items) != dims:
            raise CQLError(
                f"invalid vector literal for {col!r}: expected "
                f"{dims} elements"
            )

    def _coll_elem_types(self, col: str) -> tuple[str | None, str | None]:
        """(elem_type, val_type) for _parse_value: the declared element
        type of a list/set column, or the VALUE type of a map column
        (map keys stay scalar — the pinned envelope)."""
        coll = self.schema.coll_regular.get(col)
        if coll is None:
            return None, None
        kind, t1, t2 = coll
        if kind == "map":
            return None, t2
        return t1, None

    def _parse_rhs(self, col: str, tok: str):
        """Type-aware right-hand-side parse: struct-typed columns take UDT /
        tuple / duration literals (→ one canonical-JSON scalar cell);
        collections with struct element/value types canonicalize each
        item through struct_json; everything else parses type-blind."""
        nf = self._nonfrozen_type_of(col)
        if nf is not None:
            return "udt", udt_field_cells(tok, nf)
        styp = self._struct_type_of(col)
        if styp is not None:
            return "scalar", struct_json(tok, styp)
        e, v = self._coll_elem_types(col)
        return _parse_value(tok, elem_type=e, val_type=v)

    def _json_pairs(self, m: re.Match):
        """INSERT JSON document → the same parsed-pairs shape the VALUES
        form produces; ``DEFAULT NULL`` adds explicit nulls (→ tombstones)
        for omitted regular/static columns, ``DEFAULT UNSET`` (the
        reference's default) leaves them untouched."""
        import json as _json

        s = self.schema
        try:
            doc = _json.loads(m.group("json").replace("''", "'"))
        except ValueError as ex:
            raise CQLError(f"bad JSON document: {ex}") from None
        if not isinstance(doc, dict):
            raise CQLError("INSERT JSON requires a JSON object")
        pairs = {}
        for k, v in doc.items():
            c = k.lower()
            pairs[c] = self._json_value(c, v)
        if (m.group("dflt") or "UNSET").upper() == "NULL":
            # pinned: DEFAULT NULL tombstones omitted REGULAR columns only;
            # statics are partition-scoped and not implicitly deleted by a
            # row insert
            for c in s.regular:
                pairs.setdefault(c, ("scalar", None))
        return pairs

    def _json_value(self, col: str, v):
        """One JSON value → the ('scalar'|'list'|'set'|'map', payload)
        shape, canonicalized to the log's string forms."""
        s = self.schema

        def canon(x):
            if x is None:
                return None
            if isinstance(x, bool):
                return "true" if x else "false"
            if isinstance(x, (int, float)):
                return repr(x) if isinstance(x, float) else str(x)
            if isinstance(x, str):
                return x
            raise CQLError(f"unsupported JSON value for {col!r}: {x!r}")

        styp = self._struct_type_of(col)
        if styp is not None:
            if v is None:
                return "scalar", None
            if not isinstance(v, dict):
                raise CQLError(f"struct column {col!r} needs a JSON object")
            import json as _json

            fields = parse_struct_type(styp)
            out = {}
            for name, ftype in fields:
                fv = v.get(name)
                if fv is None:
                    continue
                out[name] = fv
            return "scalar", _json.dumps(
                out, separators=(",", ":"), ensure_ascii=False
            )
        coll = s.coll_regular.get(col)
        if coll is None:
            return "scalar", canon(v)
        ckind, t1, t2 = coll
        if v is None:
            return "scalar", None

        def elem(x, typ):
            # struct / frozen-nested-collection elements canonicalize to
            # one JSON string per element cell, like the VALUES form
            if typ is not None and (
                parse_struct_type(typ) is not None or is_coll_type(typ)
            ):
                if x is None:
                    return None
                import json as _json

                return _json.dumps(
                    _canon_py(x, typ),
                    separators=(",", ":"),
                    ensure_ascii=False,
                )
            return canon(x)

        if ckind in ("list", "set"):
            if not isinstance(v, list):
                raise CQLError(f"{ckind} column {col!r} needs a JSON array")
            return ckind, [elem(x, t1) for x in v]
        if not isinstance(v, dict):
            raise CQLError(f"map column {col!r} needs a JSON object")
        return "map", [(canon(k), elem(x, t2)) for k, x in v.items()]

    def _stmt_eq_pairs(self, m: re.Match) -> dict[str, str | None]:
        """Key equalities of a statement (INSERT column list or WHERE)."""
        if "vals" in m.re.groupindex or "json" in m.re.groupindex:
            pairs = self._insert_pairs(m)
            out = {}
            for c in self.schema.key_cols:
                if c in pairs:
                    k, v = pairs[c]
                    if k != "scalar":
                        raise CQLError(f"key column {c!r} must be scalar")
                    out[c] = v
            return out
        eq, ranges = self._where_parse(m.group("where"))
        if ranges:
            raise CQLError("range WHERE is only allowed in DELETE")
        return eq

    def _stmt_pk(self, handler, m: re.Match) -> str | None:
        return self.schema.pk_from_pairs(self._stmt_eq_pairs(m))

    def _cond_key(self, handler, m: re.Match):
        pairs = self._stmt_eq_pairs(m)
        pk, ck = self._key_from_pairs(pairs, require_full=False)
        if ck is None and not self._static_only_stmt(m):
            raise CQLError("conditional DML requires the full primary key")
        return pk, ck

    def _static_only_stmt(self, m: re.Match) -> bool:
        """True when every written/deleted column is static (the reference
        allows pk-only conditional statements on statics)."""
        s = self.schema
        if "vals" in m.re.groupindex or "json" in m.re.groupindex:
            pairs = self._insert_pairs(m)
            cols = [c for c in pairs if c not in s.key_cols]
        elif "set" in m.re.groupindex and m.group("set"):
            cols = [
                re.match(r"\s*(\w+)", a).group(1).lower()
                for a in _split_csv(m.group("set"))
            ]
        else:
            cols = [
                re.match(r"\s*(\w+)", c).group(1).lower()
                for c in m.group("cols").split(",")
                if c.strip()
            ]
        return bool(cols) and all(c in s.static for c in cols)

    def _eval_cond(self, cond: str, pk: str | None, ck) -> bool:
        for c in self.schema.nonfrozen:
            if re.search(rf"\b{re.escape(c)}\b", cond, re.IGNORECASE):
                raise CQLError(
                    f"IF conditions on non-frozen UDT column {c!r} are "
                    "not supported (use a frozen<> column)"
                )
        cond = cond.strip()
        if re.fullmatch(r"NOT\s+EXISTS", cond, re.IGNORECASE):
            return self._row_state(pk, ck) is None
        if re.fullmatch(r"EXISTS", cond, re.IGNORECASE):
            return self._row_state(pk, ck) is not None
        state = self._row_state(pk, ck)
        for part in re.split(r"\s+AND\s+", cond, flags=re.IGNORECASE):
            m = _COND_RE.match(part.strip())
            if not m:
                raise CQLError(f"unsupported IF condition: {part!r}")
            col = m.group(1).lower()
            typ = self.schema.scalar_regular.get(col) or self.schema.static.get(col)
            if typ is None:
                if col in self.schema.regular:
                    raise CQLError(
                        f"IF conditions on collection column {col!r} are not supported"
                    )
                raise CQLError(f"IF on unknown column {col!r}")
            if parse_struct_type(typ) is not None:
                raise CQLError(
                    f"IF conditions on struct column {col!r} are not supported"
                )
            cur = None if state is None else state.get(col)
            lit = _parse_literal(m.group(3))
            if not self._cmp(cur, m.group(2), lit, typ):
                return False
        return True

    @staticmethod
    def _cmp(cur: str | None, op: str, lit: str | None, typ: str) -> bool:
        """Condition compare on canonical string values. Null pinning
        (matches the reference's LWT null handling): ``= null`` is true iff
        the cell is unset, ``!=`` is its negation, ordering ops against an
        unset cell or null literal are never satisfied."""
        if cur is None or lit is None:
            if op == "=":
                return cur is None and lit is None
            if op == "!=":
                return not (cur is None and lit is None)
            return False
        a, b = _pykey(cur, typ), _pykey(lit, typ)
        return {
            "=": a == b,
            "!=": a != b,
            "<": a < b,
            "<=": a <= b,
            ">": a > b,
            ">=": a >= b,
        }[op]

    def _range_covers(self, prefix_j, lo, hi, lo_incl, hi_incl, ck) -> bool:
        """Does a range tombstone (prefix + optional bounds on the next
        clustering column) cover the clustering tuple ``ck``?"""
        pref = [] if prefix_j == "" else prefix_j.split(SEP)
        if list(ck[: len(pref)]) != pref:
            return False
        if lo is None and hi is None:
            return True
        idx = len(pref)
        typ = self.schema.key_type(self.schema.clustering[idx])
        v = _pykey(ck[idx], typ)
        if lo is not None:
            b = _pykey(lo, typ)
            if not (v >= b if lo_incl else v > b):
                return False
        if hi is not None:
            b = _pykey(hi, typ)
            if not (v <= b if hi_incl else v < b):
                return False
        return True

    def _row_state(self, pk: str | None, ck) -> dict | None:
        """Pure-Python reconcile of one (pk, ck) at the current clock — the
        LWT read phase. Driver-side by design: a condition reads exactly one
        row, and the reference serves it from one replica's read path, not a
        scan; mirroring it as a Spark job per statement would be the
        anti-pattern. Same W4/W3/W2 rules as :meth:`snapshot` (writetime
        desc, tombstone beats write, arrival seq; row/range/partition
        shadowing; TTL horizon; collection-tombstone horizons) —
        ``tests/test_lwt_replay.py`` holds them together.

        ``ck`` is the clustering tuple, or None to read the static row."""
        asof = self._clock
        ckj = ck_join(tuple(ck)) if ck is not None else None
        best: dict = {}  # (col, elem) -> (rank, kind, val, ttl)
        ctomb: dict = {}  # col -> max coll-tomb writetime
        pt = rt = rg = None
        rows = (
            self._log
            if not self._segments
            else list(self._segment_rows_for_pk(pk)) + self._log
        )
        n_tombs = 0
        for (lpk, lck, col, elem, val, kind, wt, ttl, seq, lo, hi, li, hi_i) in rows:
            if lpk != pk:
                continue
            if kind in (PART_TOMB, RANGE_TOMB, ROW_TOMB, COLL_TOMB, CELL_TOMB):
                n_tombs += 1
            if kind == PART_TOMB:
                pt = wt if pt is None else max(pt, wt)
                continue
            if kind == RANGE_TOMB:
                if ck is not None and self._range_covers(lck, lo, hi, li, hi_i, tuple(ck)):
                    rg = wt if rg is None else max(rg, wt)
                continue
            if lck != ckj:
                continue
            if kind == ROW_TOMB:
                rt = wt if rt is None else max(rt, wt)
                continue
            if kind == COLL_TOMB:
                ctomb[col] = wt if col not in ctomb else max(ctomb[col], wt)
                continue
            rank = (wt, 1 if kind == CELL_TOMB else 0, seq)
            key = (col, elem)
            prev = best.get(key)
            if prev is None or rank > prev[0]:
                best[key] = (rank, kind, val, ttl)
        # the TombstoneOverwhelmingException analogue: a partition read
        # that scans too many deletion markers warns, then aborts
        self._check_guardrail(
            "tombstones_per_read", n_tombs,
            f"tombstones scanned reading partition {pk!r}",
        )
        horizons = [h for h in (pt, rt, rg) if h is not None]
        horizon = max(horizons) if horizons else None
        live: dict = {}
        exists = False
        for (col, elem), ((wt, _, _), kind, val, ttl) in best.items():
            if kind == CELL_TOMB:
                continue
            if ttl and wt + ttl <= asof:
                continue
            if horizon is not None and wt <= horizon:
                continue
            if col in ctomb and wt <= ctomb[col]:
                continue
            exists = True
            if col is not None and elem is None:
                live[col] = val
        return live if exists else None

    def _list_positions(self, pk, ckj, col: str) -> list[str]:
        """Live position-elems of list column ``col`` in row (pk, ckj),
        in list order — the read phase of CQL's list index operations
        (``SET l[i] = v`` / ``DELETE l[i]``), which the reference also
        serves with a read-before-write on the row. Mirrors
        :meth:`_row_state`'s reconcile rules (LWW rank, tombstone
        horizons, collection-tombstone horizon, TTL at the current clock);
        ``tests/test_collection_replay.py`` holds the two together."""
        asof = self._clock
        best: dict = {}  # elem -> (rank, kind, ttl)
        ctomb = None
        pt = rt = rg = None
        ck = tuple(ckj.split(SEP)) if ckj else ()
        rows = (
            self._log
            if not self._segments
            else list(self._segment_rows_for_pk(pk)) + self._log
        )
        for (lpk, lck, lcol, elem, val, kind, wt, ttl, seq, lo, hi, li, hi_i) in rows:
            if lpk != pk:
                continue
            if kind == PART_TOMB:
                pt = wt if pt is None else max(pt, wt)
                continue
            if kind == RANGE_TOMB:
                if self._range_covers(lck, lo, hi, li, hi_i, ck):
                    rg = wt if rg is None else max(rg, wt)
                continue
            if lck != ckj:
                continue
            if kind == ROW_TOMB:
                rt = wt if rt is None else max(rt, wt)
                continue
            if lcol != col:
                continue
            if kind == COLL_TOMB:
                ctomb = wt if ctomb is None else max(ctomb, wt)
                continue
            rank = (wt, 1 if kind == CELL_TOMB else 0, seq)
            prev = best.get(elem)
            if prev is None or rank > prev[0]:
                best[elem] = (rank, kind, ttl)
        horizons = [h for h in (pt, rt, rg, ctomb) if h is not None]
        horizon = max(horizons) if horizons else None
        live = []
        for elem, ((wt, _, _), kind, ttl) in best.items():
            if kind == CELL_TOMB:
                continue
            if ttl and wt + ttl <= asof:
                continue
            if horizon is not None and wt <= horizon:
                continue
            live.append(elem)
        return sorted(live)

    def _list_elem_at(self, pk, ckj, col: str, idx_tok: str) -> str:
        try:
            idx = int(idx_tok)
        except ValueError:
            raise CQLError(f"list index must be an integer: {idx_tok!r}") from None
        positions = self._list_positions(pk, ckj, col)
        if not 0 <= idx < len(positions):
            raise CQLError(
                f"list index {idx} out of bounds (size {len(positions)})"
            )
        return positions[idx]

    def _check_table(self, name: str) -> None:
        if name.lower() != self.schema.name:
            raise CQLError(
                f"table {name!r} does not match {self.schema.name!r}"
            )

    def _emit(
        self, pk, ck, col, val, kind, ts, ttl,
        elem=None, lo=None, hi=None, lo_incl=None, hi_incl=None,
    ) -> None:
        if col is not None:
            d = self.schema.dropped.get(col)
            if d is not None and ts <= d[0]:
                # born-shadowed: a cell of a re-added column whose
                # timestamp does not exceed the drop time is invisible
                # forever in the reference (read-time filter against
                # the DroppedColumn record); discarding it at the write
                # choke point is the same visible behavior with a free
                # read path
                return
        self._seq += 1
        self._max_wt = ts if self._max_wt is None else max(self._max_wt, ts)
        if ttl is None and kind in (CELL, MARKER):
            # table-level default TTL; tombstones and counter increments
            # never carry one (the reference's TableParams semantics)
            ttl = self.schema.default_ttl or None
        self._log.append(
            mut_row(
                pk, ck, col, val, kind, ts,
                ttl if ttl is not None else 0, self._seq,
                elem=elem, lo=lo, hi=hi, lo_incl=lo_incl, hi_incl=hi_incl,
            )
        )

    def _key_from_pairs(
        self, pairs: dict[str, str | None], require_full: bool = True
    ) -> tuple[str, tuple[str, ...] | None]:
        """(pk, full clustering tuple). ``require_full=False`` returns
        ck=None when no clustering value is present (static scope)."""
        s = self.schema
        pk = s.pk_from_pairs(pairs)
        if not s.clustering:
            return pk, ()  # no clustering cols: the row key is always (pk,)
        have = [c for c in s.clustering if c in pairs]
        if not have and not require_full:
            return pk, None
        if len(have) != len(s.clustering):
            missing = [c for c in s.clustering if c not in pairs]
            raise CQLError(f"missing clustering key(s) {missing}")
        return pk, tuple(pairs[c] for c in s.clustering)

    # --- collection element emission --------------------------------------

    def _check_guardrail(self, name: str, actual: int, what: str) -> None:
        check_guardrail(
            self.guardrails, self.client_warnings, name, actual, what
        )

    def _emit_elements(self, pk, ckj, col, ckind, parsed, ts, ttl) -> None:
        """Element cells for a collection write. ``parsed`` is the
        ``_parse_value`` result for the right-hand side."""
        pkind, items = parsed
        self._check_guardrail(
            "items_per_collection", len(items), f"collection {col!r} items"
        )
        if "collection_size" in self.guardrails:
            # serialized-size analogue (`[C* db/guardrails ::
            # collectionSize, unverified]`): UTF-8 bytes of the element
            # values (+ keys for maps) — the canonical-string form this
            # engine stores, checked BEFORE any cell is emitted so a
            # failure leaves the statement un-applied
            if pkind == "map":
                nbytes = sum(
                    len(str(k).encode()) + len(str(v).encode())
                    for k, v in items
                )
            else:
                nbytes = sum(len(str(v).encode()) for v in items)
            self._check_guardrail(
                "collection_size", nbytes, f"collection {col!r} bytes"
            )
        if ckind == "list":
            if pkind != "list":
                raise CQLError(f"list column {col!r} needs a [..] literal")
            for v in items:
                self._pos += 1
                self._emit(pk, ckj, col, v, CELL, ts, ttl, elem=_pos_str(self._pos))
        elif ckind == "set":
            if pkind not in ("set", "map") or (pkind == "map" and items):
                raise CQLError(f"set column {col!r} needs a {{..}} literal")
            for v in (items if pkind == "set" else []):
                self._emit(pk, ckj, col, v, CELL, ts, ttl, elem=v)
        else:  # map
            if pkind != "map":
                raise CQLError(f"map column {col!r} needs a {{k: v, ..}} literal")
            for k, v in items:
                self._emit(pk, ckj, col, v, CELL, ts, ttl, elem=k)

    def _insert(self, m: re.Match, default_ts: int) -> None:
        self._check_table(m.group("table"))
        if self.schema.counter:
            raise CQLError("INSERT is not allowed on counter tables")
        s = self.schema
        ts, ttl = _parse_using(m.group("using"))
        ts = default_ts if ts is None else ts
        pairs = self._insert_pairs(m)
        for c in pairs:
            if (
                c not in s.key_cols
                and c not in s.regular
                and c not in s.static
            ):
                raise CQLError(f"unknown column {c!r}")
        eq = {}
        for c in s.key_cols:
            if c in pairs:
                k, v = pairs[c]
                if k != "scalar":
                    raise CQLError(f"key column {c!r} must be scalar")
                eq[c] = v
        non_static = [
            c for c in pairs if c not in s.key_cols and c not in s.static
        ]
        static_only = not non_static and all(
            c in s.key_cols or c in s.static for c in pairs
        )
        pk, ck = self._key_from_pairs(eq, require_full=not static_only)
        if ck is not None:
            ckj = ck_join(ck)
            # the row marker is what makes INSERT-visibility survive null cells
            self._emit(pk, ckj, None, None, MARKER, ts, ttl)
        else:
            ckj = None
        for c, parsed in pairs.items():
            if c in s.key_cols:
                continue
            if c in s.static:
                kind, v = parsed
                if kind != "scalar":
                    raise CQLError(f"static column {c!r} must be scalar")
                if v is not None:
                    self._emit(pk, None, c, v, CELL, ts, ttl)
                else:
                    self._emit(pk, None, c, None, CELL_TOMB, ts, None)
                continue
            if parsed[0] == "udt":  # non-frozen UDT: replace semantics
                cells = parsed[1]
                if cells is None:
                    self._emit(pk, ckj, c, None, COLL_TOMB, ts, None)
                    continue
                self._emit(pk, ckj, c, None, COLL_TOMB, ts - 1, None)
                for fname, v in cells:
                    if v is not None:
                        self._emit(pk, ckj, c, v, CELL, ts, ttl, elem=fname)
                continue
            coll = s.coll_regular.get(c)
            if coll is not None:
                pkind, items = parsed
                if pkind == "scalar" and items is None:
                    self._emit(pk, ckj, c, None, COLL_TOMB, ts, None)
                    continue
                self._check_vector_arity(c, parsed)
                # overwrite: tombstone at ts-1 so same-ts elements survive
                self._emit(pk, ckj, c, None, COLL_TOMB, ts - 1, None)
                self._emit_elements(pk, ckj, c, coll[0], parsed, ts, ttl)
                continue
            kind, v = parsed
            if kind != "scalar":
                raise CQLError(f"column {c!r} is not a collection")
            if v is not None:
                self._emit(pk, ckj, c, v, CELL, ts, ttl)
            else:
                self._emit(pk, ckj, c, None, CELL_TOMB, ts, None)

    def _where_parse(self, where: str):
        """WHERE → (equality pairs on key cols, range relations). Ranges
        (<, <=, >, >=) are collected for DELETE's range-tombstone path."""
        eq: dict[str, str | None] = {}
        ranges: list[tuple[str, str, str | None]] = []
        for part in re.split(r"\s+AND\s+", where.strip(), flags=re.IGNORECASE):
            m = _REL_RE.fullmatch(part.strip())
            if not m:
                raise CQLError(f"DML WHERE must be key relations: {part!r}")
            col = m.group(1).lower()
            if col not in self.schema.key_cols:
                raise CQLError(f"DML WHERE on non-key column {col!r}")
            if m.group(2) == "=":
                eq[col] = _parse_literal(m.group(3))
            else:
                if col in self.schema.partition_cols:
                    raise CQLError("range WHERE on the partition key")
                ranges.append((col, m.group(2), _parse_literal(m.group(3))))
        return eq, ranges

    _COUNTER_SET_RE = re.compile(
        r"(\w+)\s*=\s*(\w+)\s*([+-])\s*(\d+)\s*$", re.DOTALL
    )
    _IDX_SET_RE = re.compile(r"^(\w+)\s*\[\s*(.+?)\s*\]\s*=\s*(.+)$", re.DOTALL)
    _PREPEND_RE = re.compile(r"^(\w+)\s*=\s*(\[.*\])\s*\+\s*(\w+)\s*$", re.DOTALL)
    _PM_RE = re.compile(r"^(\w+)\s*=\s*(\w+)\s*([+-])\s*(.+)$", re.DOTALL)

    def _update(self, m: re.Match, default_ts: int) -> None:
        self._check_table(m.group("table"))
        s = self.schema
        ts, ttl = _parse_using(m.group("using"))
        ts = default_ts if ts is None else ts
        eq, ranges = self._where_parse(m.group("where"))
        if ranges:
            raise CQLError("UPDATE WHERE must be key equalities")
        static_only = self._static_only_stmt(m)
        pk, ck = self._key_from_pairs(eq, require_full=not static_only)
        ckj = ck_join(ck) if ck is not None else None
        if s.counter:
            if m.group("using"):
                raise CQLError("USING is not allowed on counter updates")
            for assign in _split_csv(m.group("set")):
                am = self._COUNTER_SET_RE.match(assign.strip())
                if not am or am.group(1).lower() != am.group(2).lower():
                    raise CQLError(
                        f"counter update must be 'c = c +/- n': {assign!r}"
                    )
                c = am.group(1).lower()
                if c not in s.regular:
                    raise CQLError(f"unknown column {c!r}")
                delta = int(am.group(3) + am.group(4))
                self._emit(pk, ckj, c, str(delta), INCR, ts, None)
            return
        for assign in _split_csv(m.group("set")):
            self._apply_assignment(assign, pk, ckj, ts, ttl)

    def _apply_assignment(self, assign: str, pk, ckj, ts, ttl) -> None:
        s = self.schema
        assign = assign.strip()

        fm = re.fullmatch(r"(\w+)\.(\w+)\s*=\s*(.+)", assign, re.DOTALL)
        if fm:  # u.field = v : one field cell of a non-frozen UDT
            c = fm.group(1).lower()
            nf = self._nonfrozen_type_of(c)
            if nf is None:
                raise CQLError(
                    f"per-field assignment needs a non-frozen UDT "
                    f"column: {assign!r} (frozen UDTs are set whole)"
                )
            fields = dict(parse_struct_type(nf))
            fname = fm.group(2).lower()
            if fname not in fields:
                raise CQLError(f"unknown field {fname!r} of {c!r}")
            ftype = fields[fname]
            tok = fm.group(3).strip()
            if parse_struct_type(ftype) is not None:
                v = struct_json(tok, ftype)
            elif is_coll_type(ftype):
                v = coll_json(tok, ftype)
            else:
                v = _parse_literal(tok)
            if v is not None:
                self._emit(pk, ckj, c, v, CELL, ts, ttl, elem=fname)
            else:
                self._emit(pk, ckj, c, None, CELL_TOMB, ts, None, elem=fname)
            return

        im = self._IDX_SET_RE.match(assign)
        if im:  # m[k] = v (map put) / l[i] = v (list index write) / NULL delete
            c = im.group(1).lower()
            if c in s.vector_dims:
                raise CQLError(
                    f"vectors are fixed-length: write {c!r} whole"
                )
            coll = s.coll_regular.get(c)
            if coll is None or coll[0] == "set":
                raise CQLError(
                    f"indexed assignment needs a map or list column: {assign!r}"
                )
            if coll[0] == "list":
                # read-before-write: resolve index -> position elem (the
                # reference reads the row for the same reason)
                k = self._list_elem_at(pk, ckj, c, im.group(2).strip())
            else:
                k = _parse_literal(im.group(2))
            # the written element takes the list's element type or the
            # map's VALUE type — struct-typed and frozen-nested-collection
            # ones canonicalize to JSON
            vtyp = coll[1] if coll[0] == "list" else coll[2]
            if parse_struct_type(vtyp) is not None:
                v = struct_json(im.group(3), vtyp)
            elif is_coll_type(vtyp):
                v = coll_json(im.group(3), vtyp)
            else:
                v = _parse_literal(im.group(3))
            if v is not None:
                self._emit(pk, ckj, c, v, CELL, ts, ttl, elem=k)
            else:
                self._emit(pk, ckj, c, None, CELL_TOMB, ts, None, elem=k)
            return

        pm = self._PREPEND_RE.match(assign)
        if pm and pm.group(1).lower() == pm.group(3).lower():
            c = pm.group(1).lower()
            coll = s.coll_regular.get(c)
            if coll is None or coll[0] != "list":
                raise CQLError(f"prepend needs a list column: {assign!r}")
            _, items = _parse_value(
                pm.group(2), *self._coll_elem_types(c)
            )
            # [x, y] + l: x sorts before y, both before everything existing
            n = len(items)
            for i, v in enumerate(items):
                self._emit(
                    pk, ckj, c, v, CELL, ts, ttl,
                    elem=_pos_str(self._neg - n + 1 + i),
                )
            self._neg -= n
            return

        pm = self._PM_RE.match(assign)
        if pm and pm.group(1).lower() == pm.group(2).lower():
            c = pm.group(1).lower()
            if c in s.vector_dims:
                raise CQLError(
                    f"vectors are fixed-length: write {c!r} whole"
                )
            coll = s.coll_regular.get(c)
            if coll is None:
                # counter form on a non-counter column
                raise CQLError(
                    f"'{c} = {c} ± ..' needs a counter table or collection column"
                )
            ckind = coll[0]
            op = pm.group(3)
            parsed = _parse_value(pm.group(4), *self._coll_elem_types(c))
            if op == "+":
                self._emit_elements(pk, ckj, c, ckind, parsed, ts, ttl)
                return
            # removal: set members / map keys; list removal needs a read
            if ckind == "list":
                raise CQLError("list element removal by value is not supported")
            pkind, items = parsed
            members = (
                items if pkind == "set"
                else [k for k, _ in items] if pkind == "map"
                else None
            )
            if members is None:
                raise CQLError(f"bad removal literal: {assign!r}")
            for k in members:
                self._emit(pk, ckj, c, None, CELL_TOMB, ts, None, elem=k)
            return

        am = re.fullmatch(r"(\w+)\s*=\s*(.+)", assign, re.DOTALL)
        if not am:
            raise CQLError(f"bad SET assignment: {assign!r}")
        c = am.group(1).lower()
        if c in s.static:
            styp = self._struct_type_of(c)
            v = (
                struct_json(am.group(2), styp)
                if styp is not None
                else _parse_literal(am.group(2))
            )
            if v is not None:
                self._emit(pk, None, c, v, CELL, ts, ttl)
            else:
                self._emit(pk, None, c, None, CELL_TOMB, ts, None)
            return
        if c not in s.regular:
            raise CQLError(f"unknown column {c!r}")
        coll = s.coll_regular.get(c)
        if coll is not None:
            parsed = _parse_value(am.group(2), *self._coll_elem_types(c))
            if parsed[0] == "scalar":
                if parsed[1] is not None:
                    raise CQLError(f"collection column {c!r} needs a collection literal")
                self._emit(pk, ckj, c, None, COLL_TOMB, ts, None)
                return
            self._check_vector_arity(c, parsed)
            self._emit(pk, ckj, c, None, COLL_TOMB, ts - 1, None)
            self._emit_elements(pk, ckj, c, coll[0], parsed, ts, ttl)
            return
        nf = self._nonfrozen_type_of(c)
        if nf is not None:  # non-frozen UDT: replace semantics
            cells = udt_field_cells(am.group(2), nf)
            if cells is None:
                self._emit(pk, ckj, c, None, COLL_TOMB, ts, None)
                return
            self._emit(pk, ckj, c, None, COLL_TOMB, ts - 1, None)
            for fname, v in cells:
                if v is not None:
                    self._emit(pk, ckj, c, v, CELL, ts, ttl, elem=fname)
            return
        styp = self._struct_type_of(c)
        if styp is not None:
            v = struct_json(am.group(2), styp)
            if v is not None:
                self._emit(pk, ckj, c, v, CELL, ts, ttl)
            else:
                self._emit(pk, ckj, c, None, CELL_TOMB, ts, None)
            return
        v = _parse_literal(am.group(2))
        # no row marker: the UPDATE-only row lives and dies with its cells
        if v is not None:
            self._emit(pk, ckj, c, v, CELL, ts, ttl)
        else:
            self._emit(pk, ckj, c, None, CELL_TOMB, ts, None)

    _DEL_COL_RE = re.compile(
        r"^(\w+)(?:\s*\[\s*(.+?)\s*\]|\.(\w+))?$", re.DOTALL
    )

    def _delete(self, m: re.Match, default_ts: int) -> None:
        self._check_table(m.group("table"))
        s = self.schema
        ts = int(m.group("ts")) if m.group("ts") else default_ts
        eq, ranges = self._where_parse(m.group("where"))
        cols = [c.strip() for c in _split_csv(m.group("cols")) if c.strip()]
        pk = s.pk_from_pairs(eq)

        # clustering equalities must form a prefix
        have = [c for c in s.clustering if c in eq]
        k = len(have)
        if have != list(s.clustering[:k]):
            raise CQLError("clustering WHERE must fix a prefix")

        if cols:
            if ranges:
                raise CQLError("column DELETE cannot have range WHERE")
            static_cols = all(
                self._DEL_COL_RE.match(c).group(1).lower() in s.static
                for c in cols
            )
            if k < len(s.clustering) and not static_cols:
                raise CQLError("cell DELETE requires the full primary key")
            ckj = ck_join(tuple(eq[c] for c in s.clustering)) if not static_cols else None
            for item in cols:
                cm = self._DEL_COL_RE.match(item)
                if not cm:
                    raise CQLError(f"bad DELETE column: {item!r}")
                c = cm.group(1).lower()
                elem_tok = cm.group(2)
                fname = cm.group(3)
                if fname is not None:  # DELETE u.field: one field cell
                    nf = self._nonfrozen_type_of(c)
                    if nf is None:
                        raise CQLError(
                            f"field DELETE needs a non-frozen UDT "
                            f"column: {item!r}"
                        )
                    fname = fname.lower()
                    if fname not in dict(parse_struct_type(nf)):
                        raise CQLError(
                            f"unknown field {fname!r} of {c!r}"
                        )
                    self._emit(
                        pk, ckj, c, None, CELL_TOMB, ts, None, elem=fname
                    )
                    continue
                if c in s.static:
                    if elem_tok:
                        raise CQLError("static columns are scalar")
                    self._emit(pk, None, c, None, CELL_TOMB, ts, None)
                    continue
                if c not in s.regular:
                    raise CQLError(f"unknown column {c!r}")
                coll = s.coll_regular.get(c)
                if elem_tok is not None:
                    if coll is None or coll[0] == "set":
                        raise CQLError(
                            f"element DELETE needs a map or list column: {item!r}"
                        )
                    if coll[0] == "list":
                        self._emit(
                            pk, ckj, c, None, CELL_TOMB, ts, None,
                            elem=self._list_elem_at(pk, ckj, c, elem_tok),
                        )
                        continue
                    self._emit(
                        pk, ckj, c, None, CELL_TOMB, ts, None,
                        elem=_parse_literal(elem_tok),
                    )
                elif coll is not None:
                    self._emit(pk, ckj, c, None, COLL_TOMB, ts, None)
                else:
                    self._emit(pk, ckj, c, None, CELL_TOMB, ts, None)
            return

        # row / range / partition scope
        if ranges:
            bound_col = {c for c, _, _ in ranges}
            if len(bound_col) != 1:
                raise CQLError("range DELETE must bound exactly one column")
            (bc,) = bound_col
            if k >= len(s.clustering) or bc != s.clustering[k]:
                raise CQLError(
                    f"range DELETE must bound the next clustering column "
                    f"({s.clustering[k] if k < len(s.clustering) else '?'})"
                )
            lo = hi = None
            lo_incl = hi_incl = False
            for _, op, lit in ranges:
                if lit is None:
                    raise CQLError("range bound cannot be NULL")
                if op in (">", ">="):
                    if lo is not None:
                        raise CQLError("duplicate lower bound")
                    lo, lo_incl = lit, op == ">="
                else:
                    if hi is not None:
                        raise CQLError("duplicate upper bound")
                    hi, hi_incl = lit, op == "<="
            self._emit(
                pk, SEP.join(eq[c] for c in s.clustering[:k]), None, None,
                RANGE_TOMB, ts, None,
                lo=lo, hi=hi, lo_incl=lo_incl, hi_incl=hi_incl,
            )
            return
        if k == len(s.clustering) and s.clustering:
            self._emit(pk, ck_join(tuple(eq[c] for c in s.clustering)), None,
                       None, ROW_TOMB, ts, None)
        elif k == 0:
            self._emit(pk, None, None, None, PART_TOMB, ts, None)
        else:
            # clustering-prefix DELETE = unbounded range tombstone
            self._emit(
                pk, SEP.join(eq[c] for c in s.clustering[:k]), None, None,
                RANGE_TOMB, ts, None,
                lo=None, hi=None, lo_incl=False, hi_incl=False,
            )

    # --- spill path (memtable → parquet segment) ---------------------------

    def _ensure_spill_dir(self) -> str:
        """One home for the spill-dir provisioning policy (prefix scheme,
        temp location) — shared by the implicit threshold flush and the
        explicit nodetool-style flush()."""
        if self.spill_dir is None:
            import tempfile

            self.spill_dir = tempfile.mkdtemp(
                prefix=f"cql-spill-{self.schema.name}-"
            )
        return self.spill_dir

    def _maybe_flush(self) -> None:
        """Spill is DEFAULT-ON: once the in-memory log crosses
        ``spill_threshold`` (the measured ~1 KB/mutation knee, see
        BASELINE.md "DML front-end"), the memtable flushes to parquet —
        auto-provisioning a temp spill dir when none was configured — so
        every session keeps the O(threshold) driver-memory bound without
        opting in. ``spill_threshold=None`` opts OUT (unbounded
        in-memory log, the caller's explicit choice). Auto-provisioned
        dirs live under tempfile.gettempdir() for the session lifetime
        (lazy DataFrames reference the segment files; the OS tmp reaper
        is the GC of last resort)."""
        if self.spill_threshold is None or self._defer_flush:
            # _defer_flush: a triggered statement is executing — the
            # session must read this statement's cells from _log before
            # flush() clears it; it re-invokes _maybe_flush afterwards.
            return
        if len(self._log) >= self.spill_threshold:
            self._ensure_spill_dir()
            self.flush()
            if self.schema.compaction == "SizeTieredCompactionStrategy":
                self.stcs_compact()
            elif self.schema.compaction == "TimeWindowCompactionStrategy":
                self.twcs_compact()
            elif self.schema.compaction == "LeveledCompactionStrategy":
                self.lcs_compact()
            elif self.schema.compaction == "UnifiedCompactionStrategy":
                self.ucs_compact()
            elif len(self._segments) >= self.compact_threshold:
                self.compact_segments()

    def _codec(self) -> str:
        """Parquet codec from WITH compression (the SSTable block
        compressor choice); snappy = the engine default."""
        from cassandra_spark.cql_session import _COMPRESSORS

        return _COMPRESSORS.get(self.schema.compression, "snappy")

    def stcs_compact(self) -> list[str]:
        """SizeTieredCompactionStrategy minor compaction (`[C* db/
        compaction/SizeTieredCompactionStrategy, unverified]`): segments
        bucket by size tier (log4 of file bytes, the reference's default
        bucket ratio); any tier holding >= min_threshold segments merges
        (:meth:`_merge`, level 0, no byte budget) into ONE new segment
        in the next tier up. Unlike :meth:`compact_segments` (major),
        untiered segments are left alone, so write amplification stays
        logarithmic in data volume. Returns the new segment paths
        (possibly empty)."""
        import math

        tiers: dict[int, list[str]] = {}
        for seg in self._segments:
            size = max(1024, os.path.getsize(seg))
            tiers.setdefault(int(math.log(size, 4)), []).append(seg)
        created: list[str] = []
        for tier in sorted(tiers):
            members = tiers[tier]
            if len(members) < self.schema.compaction_min_threshold:
                continue
            created += self._merge(members, "stcs")
        return created

    def _new_segment_path(self, tag: str) -> str:
        """Canonical segment file name ``{table}-{tag}{seq:06d}.parquet``.
        The sequence is monotone within a table's life, but a re-created
        table restarts it, so any sidecar already at the new name belongs
        to dead data and is removed here."""
        self._seg_counter += 1
        path = os.path.join(
            self.spill_dir,
            f"{self.schema.name}-{tag}{self._seg_counter:06d}.parquet",
        )
        self._remove_sidecars(path)
        return path

    def _write_segment(self, tbl, tag: str, level: int = 0) -> str:
        """Write mutation rows ``tbl`` (a pyarrow table in log column
        order) as one new segment — the single home of the segment
        format: the file name, the WITH compression codec, the footer
        stamps, the partition-key Bloom sidecar (Filter.db analogue,
        persisted so snapshots carry it) and the in-session bloom /
        token-range / level entries. Footer stamps (the only key-value
        metadata written, so an input's stale stamps never carry over):

        - ``max_deletion_us``: max(writetime + ttl), or -1 when any row
          can never expire (a no-TTL cell, any tombstone, a counter
          increment) — the reference's per-SSTable maxLocalDeletionTime;
          -1 marks a segment that may NEVER be whole-dropped (TWCS);
        - ``min_token`` / ``max_token``: the Murmur3 token hull of the
          partition keys (the point-read path's range prune);
        - ``lcs_level`` when ``level`` >= 1 (the leveled manifest entry
          a keyspace restore rehydrates).

        The caller registers the path in ``_segments``."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from cassandra_spark.operators.bloom import BloomFilter, sidecar_path

        expiring = pc.and_(
            pc.is_in(tbl.column("kind"), value_set=pa.array([CELL, MARKER])),
            pc.fill_null(pc.not_equal(tbl.column("ttl"), 0), False),
        )
        if pc.all(expiring, min_count=0).as_py():
            # exact sum: writetime + ttl may pass the int64 range
            exact = pa.decimal128(20, 0)
            expiry = pc.max(
                pc.add(
                    tbl.column("writetime").cast(exact),
                    tbl.column("ttl").cast(exact),
                )
            ).as_py()
            mdl = max(0, int(expiry or 0))
        else:
            mdl = -1
        keys = pc.unique(tbl.column("pk")).to_pylist()
        toks = _pk_tokens(keys)
        meta = {b"max_deletion_us": str(mdl).encode()}
        path = self._new_segment_path(tag)
        if len(toks):
            rng = (int(toks.min()), int(toks.max()))
            meta[b"min_token"] = str(rng[0]).encode()
            meta[b"max_token"] = str(rng[1]).encode()
            self._seg_tokens[path] = rng
        if level >= 1:
            meta[b"lcs_level"] = str(level).encode()
            self._seg_level[path] = level
        pq.write_table(
            tbl.replace_schema_metadata(meta), path, compression=self._codec()
        )
        bf = BloomFilter.for_keys(keys)
        bf.save(sidecar_path(path))
        self._blooms[path] = bf
        return path

    def _merge(
        self, inputs: list[str], tag: str, level: int = 0,
        budget: int | None = None,
    ) -> list[str]:
        """Merge segments ``inputs`` into new ``level`` segments — the one
        compaction merge every strategy (STCS, TWCS, LCS, UCS, major
        compaction) runs; strategies differ only in which inputs they
        pick. History rows are a SET and pass through unchanged (LWW
        stays a read-time reconcile, so asof/PITR reads keep working);
        only their order changes: every output is a run sorted by
        (token, pk), as an SSTable is. ``budget`` (estimated bytes)
        re-splits the run on whole-partition boundaries only (same-token
        pks stay together, so inclusive token ranges never touch across
        outputs — the disjoint-range invariant leveled reads prune on);
        None means one output. Inputs retire (not deleted — lazy
        DataFrames may still read them; GC is purge_retired's job) and
        compaction history records the merge.

        Past ``distributed_merge_bytes`` of input the merge runs as one
        Spark job (:meth:`_merge_spark`) instead of on the driver."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        bytes_in = sum(os.path.getsize(p) for p in inputs)
        if (
            self.distributed_merge_bytes is not None
            and bytes_in >= self.distributed_merge_bytes
        ):
            return self._merge_spark(inputs, tag, level, budget)
        merged = pa.concat_tables([pq.read_table(p) for p in inputs])
        pk = merged.column("pk")
        keys = pc.unique(pk)
        key_toks = pa.array(_pk_tokens(keys.to_pylist()), type=pa.int64())
        tok = key_toks.take(pc.index_in(pk, value_set=keys))
        order = pc.sort_indices(
            pa.table({"tok": tok, "pk": pk}),
            sort_keys=[("tok", "ascending"), ("pk", "ascending")],
        )
        merged = merged.take(order)
        pieces = [merged]
        if budget is not None:
            # pack whole partitions (token runs) greedily by estimated
            # bytes; a piece ends only where the token changes
            import numpy as np

            tok = tok.take(order).to_numpy()
            row_bytes = max(1, merged.nbytes // max(1, len(tok)))
            starts = [0, *(np.flatnonzero(np.diff(tok)) + 1).tolist()]
            pieces, c_start = [], 0
            for g_start, g_end in zip(starts, starts[1:] + [len(tok)]):
                if g_start > c_start and (g_end - c_start) * row_bytes > budget:
                    pieces.append(merged.slice(c_start, g_start - c_start))
                    c_start = g_start
            if len(tok):
                pieces.append(merged.slice(c_start))
        created = [self._write_segment(p, tag, level) for p in pieces]
        self._retire_into(inputs, created)
        self._record_compaction(
            tag, len(inputs), len(created), bytes_in,
            sum(os.path.getsize(p) for p in created),
            merged.num_rows, merged.num_rows,
        )
        return created

    def garbage_collect(self, gc_horizon_us: int | None = None) -> dict:
        """``nodetool garbagecollect`` analogue (`[C* db/compaction/
        CompactionController :: getPurgeEvaluator — gc_grace_seconds,
        unverified]`): the EXPLICITLY destructive rewrite that ordinary
        compaction here deliberately is not (merges keep every history
        row so asof/PITR reads keep working). Drops, across
        the full flushed history, exactly what the reference's purge
        evaluator drops:

        - data cells SHADOWED by a partition/row/range/collection
          tombstone (cell_wt <= tomb_wt, the engine's strict-> rule) or
          out-ranked by a cell tombstone on the same (col, elem) —
          droppable even under a YOUNG tombstone, which itself survives
          to keep shadowing other replicas' data;
        - whole (col, elem) cell groups whose LWW winner is TTL-EXPIRED
          at the current clock AND whose EXPIRY time (wt + ttl, the
          reference's localDeletionTime) is past the horizon — winner
          and every older cell together, never separately: dropping
          only the expired winner would resurrect the older value.
          Gating on expiry (not write time) keeps ``snapshot_pitr(ts)``
          exact for every horizon < ts < wt + ttl, where the cell was
          still live;
        - tombstones of every scope with writetime < ``gc_horizon_us``
          (past gc_grace; younger markers survive).

        Superseded-but-unshadowed older data cells are KEPT (pinned
        conservative divergence: they cost bytes, not correctness, and
        asof reads between generations stay exact). After GC, PITR to
        a time before the newest covering tombstone may be lossy —
        shadow-dropped data is purged even under a young (post-horizon)
        tombstone, exactly as the reference's compaction drops shadowed
        cells regardless of gc_grace, so ``snapshot_pitr(ts)`` for ts
        between a purged write and its covering tombstone no longer
        resurrects the write. The head snapshot and every post-
        tombstone PITR are unaffected; both contracts are pinned by
        tests/test_gc.py's GC-then-PITR differential fuzz.

        Flushes the memtable first, writes the survivors as one ``gc``
        segment (:meth:`_write_segment`), retires the inputs, records
        compaction history.
        Past ``distributed_merge_bytes`` the whole reconcile runs as
        ONE Spark write action (:meth:`_garbage_collect_spark`) — the
        same distribute-past-a-threshold rule as every other segment
        rewrite in this file; below it the pyarrow driver path is
        faster. Returns {"dropped": n, "kept": n}. Snapshot-at-head
        equality and driver≡Spark path equality are pinned by
        tests/test_gc.py's differential fuzzes."""
        import pyarrow.parquet as pq

        if gc_horizon_us is None:
            # WITH gc_grace_seconds: tombstones younger than the grace
            # window survive (coherent for wall-µs-stamped workloads)
            gc_horizon_us = max(
                0, self._clock - self.schema.gc_grace_seconds * 1_000_000
            )
        self.flush()
        if not self._segments:
            return {"dropped": 0, "kept": 0}
        bytes_in = sum(os.path.getsize(s) for s in self._segments)
        if (
            self.distributed_merge_bytes is not None
            and bytes_in >= self.distributed_merge_bytes
        ):
            return self._garbage_collect_spark(gc_horizon_us, bytes_in)
        rows: list[tuple] = []
        for seg in self._segments:
            tbl = pq.read_table(seg)
            rows.extend(zip(*(tbl.column(c).to_pylist() for c in _MUT_COLS)))

        part: dict = {}
        rowt: dict = {}
        collt: dict = {}
        ranges: list[tuple] = []
        cell_tomb_rank: dict = {}
        for r in rows:
            pk, ck, col, elem, _v, kind, wt, _ttl, seq = r[:9]
            if kind == PART_TOMB:
                part[pk] = max(part.get(pk, -1), wt)
            elif kind == ROW_TOMB:
                rowt[(pk, ck)] = max(rowt.get((pk, ck), -1), wt)
            elif kind == COLL_TOMB:
                k = (pk, ck, col)
                collt[k] = max(collt.get(k, -1), wt)
            elif kind == RANGE_TOMB:
                ranges.append(r)
            elif kind == CELL_TOMB:
                k = (pk, ck, col, elem)
                rank = (wt, 1, seq)
                if rank > cell_tomb_rank.get(k, (-1, 0, -1)):
                    cell_tomb_rank[k] = rank

        def scope_horizon(pk, ck, col):
            hor = max(part.get(pk, -1), rowt.get((pk, ck), -1))
            if col is not None:
                hor = max(hor, collt.get((pk, ck, col), -1))
            if ck:  # range tombstones cover clustering tuples only
                ckt = tuple(ck.split(SEP))
                for rr in ranges:
                    if rr[0] != pk:
                        continue
                    if self._range_covers(rr[1], rr[9], rr[10], rr[11],
                                          rr[12], ckt):
                        hor = max(hor, rr[6])
            return hor

        # pass 1: tombstone-shadow drops on data cells
        survivors: list[tuple] = []
        groups: dict = {}  # (pk,ck,col,elem) -> [surviving data rows]
        for r in rows:
            pk, ck, col, elem, _v, kind, wt, _ttl, seq = r[:9]
            if kind in (PART_TOMB, ROW_TOMB, COLL_TOMB, RANGE_TOMB,
                        CELL_TOMB):
                if wt >= gc_horizon_us:  # young marker: keep shadowing
                    survivors.append(r)
                continue
            if wt <= scope_horizon(pk, ck, col):
                continue
            if (wt, 0, seq) < cell_tomb_rank.get(
                (pk, ck, col, elem), (-1, 0, -1)
            ):
                continue
            groups.setdefault((pk, ck, col, elem), []).append(r)
        # pass 2: expired-winner groups drop WHOLE (resurrection guard)
        for key, grp in groups.items():
            win = max(grp, key=lambda r: (r[6], 0, r[8]))
            wt, ttl = win[6], win[7]
            # eligibility keys on EXPIRY (wt + ttl = localDeletionTime),
            # not write time: a cell with wt < horizon < wt+ttl is still
            # live after the horizon and must stay PITR-restorable
            if ttl and wt + ttl <= self._clock and wt + ttl < gc_horizon_us:
                continue  # winner expired and expiry past grace: purge group
            survivors.extend(grp)

        n_in = len(self._segments)
        rows_in = len(rows)
        created: list[str] = []
        if survivors:
            created = [self._write_segment(_mut_table(survivors), "gc")]
        self._retire_into(list(self._segments), created)
        self._record_compaction(
            "gc", n_in, len(created), bytes_in,
            sum(os.path.getsize(p) for p in created),
            rows_in, len(survivors),
        )
        return {"dropped": rows_in - len(survivors), "kept": len(survivors)}

    def _garbage_collect_spark(
        self, gc_horizon_us: int, bytes_in: int
    ) -> dict:
        """Distributed form of :meth:`garbage_collect` (input bytes >=
        ``distributed_merge_bytes``): the SAME purge rules expressed as
        DataFrame algebra — per-scope tombstone horizons are map-side
        aggregates joined back on the key the data already shuffles by
        (pk), the expired-winner group purge is one window over the
        cell key, and survivors write executor-side via
        :meth:`_spark_write_merge`. Range-tombstone coverage reuses
        :meth:`_range_cover_cond` (the snapshot read path's tested join
        condition) against the distinct row keys — the tombstone side
        is aggregated-to-small, never row×row.
        ONE write action; the driver never materializes table rows
        (row counts come from parquet footers). Path equivalence with
        the pyarrow form is pinned by tests/test_gc.py's differential
        fuzz with the threshold forced to 1."""
        inputs = list(self._segments)
        df = self.spark.read.schema(_MUT_SCHEMA).parquet(*inputs)
        tomb_kinds = [PART_TOMB, ROW_TOMB, COLL_TOMB, RANGE_TOMB, CELL_TOMB]
        neg1 = F.lit(-1).cast("long")
        tombs = df.filter(F.col("kind").isin(tomb_kinds))
        data = df.filter(~F.col("kind").isin(tomb_kinds))

        def _scope(kind, keys, alias):
            return (
                tombs.filter(F.col("kind") == kind)
                .groupBy(*keys)
                .agg(F.max("writetime").alias(alias))
            )

        part = _scope(PART_TOMB, ["pk"], "part_wt")
        rowt = _scope(ROW_TOMB, ["pk", "ck"], "row_wt")
        collt = _scope(COLL_TOMB, ["pk", "ck", "col"], "coll_wt")
        # cell-tombstone rank (wt, TOMB=1, seq) beats a data cell's
        # (wt, 0, seq) whenever tomb_wt >= cell_wt — the flag dominates
        # at equal writetime, so only max(wt) matters. The join key
        # NULL-matches col/elem via a sentinel (python-dict semantics:
        # a scalar-column cell tombstone has elem = None, as its data).
        sent = F.lit("\x00\x00gcnull")
        cellt = (
            tombs.filter(F.col("kind") == CELL_TOMB)
            .groupBy(
                "pk",
                "ck",
                F.coalesce(F.col("col"), sent).alias("col_k"),
                F.coalesce(F.col("elem"), sent).alias("elem_k"),
            )
            .agg(F.max("writetime").alias("cell_wt"))
        )
        # range-tombstone horizon per distinct row key, via the snapshot
        # read path's tested cover condition (typed bounds per schema)
        range_tombs = tombs.filter(F.col("kind") == RANGE_TOMB).select(
            F.col("pk").alias("rt_pk"),
            F.when(F.col("ck") == "", F.array().cast("array<string>"))
            .otherwise(F.split("ck", SEP))
            .alias("pref_arr"),
            "lo", "hi", "lo_incl", "hi_incl", "writetime",
        )
        rkeys = (
            data.filter(F.col("ck").isNotNull() & (F.col("ck") != ""))
            .select("pk", "ck")
            .distinct()
            .withColumn("ck_arr", F.split("ck", SEP))
        )
        rcov = (
            rkeys.join(
                F.broadcast(range_tombs),
                (F.col("pk") == F.col("rt_pk")) & self._range_cover_cond(),
            )
            .groupBy("pk", "ck")
            .agg(F.max("writetime").alias("rg_wt"))
        )

        d = (
            data.join(part, ["pk"], "left")
            .join(rowt, ["pk", "ck"], "left")
            .join(collt, ["pk", "ck", "col"], "left")
            .withColumn("col_k", F.coalesce(F.col("col"), sent))
            .withColumn("elem_k", F.coalesce(F.col("elem"), sent))
            .join(cellt, ["pk", "ck", "col_k", "elem_k"], "left")
            .join(rcov, ["pk", "ck"], "left")
        )
        scope_hor = F.greatest(
            F.coalesce(F.col("rg_wt"), neg1),
            F.coalesce(F.col("part_wt"), neg1),
            F.coalesce(F.col("row_wt"), neg1),
            F.coalesce(F.col("coll_wt"), neg1),
        )
        # pass 1: tombstone-shadow drops on data cells
        d = d.filter(
            (F.col("writetime") > scope_hor)
            & (
                F.col("cell_wt").isNull()
                | (F.col("writetime") > F.col("cell_wt"))
            )
        )
        # pass 2: expired-winner groups drop WHOLE (resurrection guard);
        # winner = max (wt, seq) per cell key, expiry gates on wt + ttl
        win = F.max(
            F.struct(F.col("writetime"), F.col("seq"), F.col("ttl"))
        ).over(Window.partitionBy("pk", "ck", "col_k", "elem_k"))
        d = (
            d.withColumn("__w", win)
            .filter(
                ~(
                    F.col("__w.ttl").isNotNull()
                    & (F.col("__w.ttl") != 0)
                    & (
                        F.col("__w.writetime") + F.col("__w.ttl")
                        <= F.lit(self._clock)
                    )
                    & (
                        F.col("__w.writetime") + F.col("__w.ttl")
                        < F.lit(gc_horizon_us)
                    )
                )
            )
            .select(*_MUT_COLS)
        )
        survivors = tombs.filter(
            F.col("writetime") >= F.lit(gc_horizon_us)
        ).unionByName(d)
        # whole partitions per output segment; ~128 MiB input per part
        n_parts = max(1, -(-bytes_in // (128 << 20)))
        created = self._spark_write_merge(
            survivors.repartition(n_parts, "pk"), "gc"
        )
        rows_in = sum(_pq_num_rows(p) for p in inputs)
        rows_out = sum(_pq_num_rows(p) for p in created)
        self._retire_into(inputs, created)
        self._record_compaction(
            "gc", len(inputs), len(created), bytes_in,
            sum(os.path.getsize(p) for p in created), rows_in, rows_out,
        )
        return {"dropped": rows_in - rows_out, "kept": rows_out}

    def _record_compaction(
        self, tag, n_in, n_out, bytes_in, bytes_out, rows_in, rows_out
    ) -> None:
        import time as _time

        self.compaction_history.append(
            (
                len(self.compaction_history),
                tag,
                int(_time.time() * 1_000_000),
                n_in,
                n_out,
                bytes_in,
                bytes_out,
                rows_in,
                rows_out,
            )
        )

    def _spark_write_merge(self, df, tag: str) -> list[str]:
        """Write a merge plan's output via Spark into canonical segment
        file names (:meth:`_new_segment_path`): executors read/decode/
        encode; the driver only renames. Empty part files (range
        partitioner slack) are dropped. Outputs carry parquet column
        statistics (so TWCS window bucketing by max writetime keeps
        working) but none of :meth:`_write_segment`'s footer stamps or
        Bloom sidecars — like bulk_load segments they read as never-
        whole-droppable until a later driver-side merge restamps them
        (the safe default), and token ranges and blooms derive lazily
        from the pk column."""
        import glob
        import uuid

        sub = os.path.join(
            self.spill_dir,
            f"{self.schema.name}-{tag}-dist-{uuid.uuid4().hex[:8]}",
        )
        df.write.parquet(sub, compression=self._codec())
        out: list[str] = []
        for f in sorted(glob.glob(os.path.join(sub, "part-*.parquet"))):
            if _pq_num_rows(f) == 0:
                os.remove(f)
                continue
            path = self._new_segment_path(tag)
            os.replace(f, path)
            out.append(path)
        # Spark leaves _SUCCESS + .crc markers behind: remove the temp
        # dir unconditionally or every merge leaks a -dist-<uuid> dir
        import shutil

        shutil.rmtree(sub, ignore_errors=True)
        return out

    def _retire_into(self, inputs: list[str], created: list[str]) -> None:
        """Swap ``inputs`` for ``created`` in the live segment list — the
        one place a segment is forgotten: its bloom, level, token-range
        and 2i value-bloom / value-range entries go with it, and the
        file moves to ``_retired`` for purge_retired."""
        drop = set(inputs)
        for m in inputs:
            self._blooms.pop(m, None)
            self._seg_level.pop(m, None)
            self._seg_tokens.pop(m, None)
        for cache in (self._value_blooms, self._value_ranges):
            for key in [k for k in cache if k[0] in drop]:
                del cache[key]
        self._retired.extend(inputs)
        self._segments = [p for p in self._segments if p not in drop]
        self._segments.extend(created)

    def _merge_spark(
        self, inputs: list[str], tag: str, level: int = 0,
        budget: int | None = None,
    ) -> list[str]:
        """Distributed form of :meth:`_merge` (input bytes >=
        ``distributed_merge_bytes``): ONE Spark job — parallel read and
        decode of every input, one shuffle, executor-side encode —
        instead of materializing the merge on the driver. When
        ``budget`` yields more than one shard the shuffle range-
        partitions by the bit-exact Murmur3 token of pk (the Arrow-
        batched ``cassandra_token`` UDF): same token → same shard, so
        the whole-partition rule and pairwise-disjoint token ranges hold
        by construction. Otherwise it is a single-partition shuffle and
        one output. History rows are a SET (reconcile orders by
        writetime/seq, never file position), so row order within a
        shard is immaterial. The level travels in ``_seg_level``
        (in-session) only — a keyspace restore rehydrates these shards
        at L0 and the next compaction re-levels them, a documented
        degradation that never affects answers."""
        bytes_in = sum(os.path.getsize(p) for p in inputs)
        n_shards = 1 if budget is None else max(1, -(-bytes_in // budget))
        plan = self.spark.read.schema(_MUT_SCHEMA).parquet(*inputs)
        if n_shards > 1:
            from cassandra_spark.operators.murmur3 import (
                ensure_token_registered,
            )

            ensure_token_registered(self.spark)
            plan = (
                plan.withColumn("__tok", F.expr("cassandra_token(pk)"))
                .repartitionByRange(n_shards, "__tok")
                .drop("__tok")
            )
        else:
            plan = plan.repartition(1)
        created = self._spark_write_merge(plan, tag)
        self._retire_into(inputs, created)
        if level >= 1:
            for p in created:
                self._seg_level[p] = level
        self._record_compaction(
            tag, len(inputs), len(created), bytes_in,
            sum(os.path.getsize(p) for p in created),
            sum(_pq_num_rows(p) for p in inputs),
            sum(_pq_num_rows(p) for p in created),
        )
        return created

    def _seg_stats(self, path: str) -> tuple:
        """(min_writetime, max_writetime, max_deletion_us) for a segment
        from FOOTER data only — row-group statistics plus the flush-time
        key-value stamp. Unstamped segments (pre-TWCS generations) read
        as -1 = never droppable, the safe default."""
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        md = pf.metadata
        wt_idx = _MUT_COLS.index("writetime")
        mn = mx = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(wt_idx).statistics
            if st is not None and st.has_min_max:
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        meta = pf.schema_arrow.metadata or {}
        raw = meta.get(b"max_deletion_us")
        return mn, mx, (int(raw) if raw is not None else -1)

    def twcs_compact(self) -> list[str]:
        """TimeWindowCompactionStrategy minor compaction (`[C* db/
        compaction/TimeWindowCompactionStrategy, unverified]`): segments
        bucket by the writetime window of their max writetime; every
        CLOSED window (every window except the one holding the global
        max) with >= 2 segments merges into one (:meth:`_merge`, level
        0, no byte budget) — so steady-state is one segment per window
        and expiring a retention period is a whole-segment DROP, not a
        rewrite.

        The drop is footer-stats-only and resurrection-guarded, the
        reference's fully-expired-SSTable rule: a segment may drop only
        when (a) every row in it is a TTL cell expired at EVERY time any
        read could still use — min(session clock, default snapshot asof
        = max_wt + 1); the clock can run ahead of max_wt when statements
        tick without writing (failed LWT rounds), and judging by the
        clock alone would whole-drop cells a default SELECT still shows
        — and (b) NO other segment — nor the memtable — holds writes
        older than OR EQUAL TO its max writetime, because an expired
        cell still shadows older-or-equal-writetime cells (equal
        writetimes resolve by the seq tie-break, which later arrivals
        win); dropping it would resurrect them. Out-of-order writes
        therefore pin expired segments alive, exactly the documented
        TWCS caveat."""
        win = self.schema.compaction_window_us
        created: list[str] = []
        stats = {s: self._seg_stats(s) for s in self._segments}
        maxima = [mx for _, mx, _ in stats.values() if mx is not None]
        if maxima:
            open_w = max(maxima) // win
            windows: dict[int, list[str]] = {}
            for s, (_, mx, _) in stats.items():
                windows.setdefault(
                    (mx if mx is not None else 0) // win, []
                ).append(s)
            for w, members in sorted(windows.items()):
                if w == open_w or len(members) < 2:
                    continue
                created += self._merge(members, "twcs")
        # whole-segment expiry: drop fully-expired, strictly-oldest
        # segments (loop: dropping the oldest may unblock the next).
        # Stats and the memtable minimum are loop-invariant — dropping a
        # victim changes neither — so compute once and shrink the dict.
        asof = self._clock
        if self._max_wt is not None:
            asof = min(asof, self._max_wt + 1)
        stats = {s: self._seg_stats(s) for s in self._segments}
        mem_min = min((r[6] for r in self._log), default=None)
        while True:
            victim = None
            for s, (_, mx, mdl) in stats.items():
                if mdl < 0 or mdl > asof:
                    continue
                older = [
                    mn for t, (mn, _, _) in stats.items()
                    if t != s and mn is not None
                ]
                if mem_min is not None:
                    older.append(mem_min)
                if any(o <= (mx if mx is not None else 0) for o in older):
                    continue
                victim = s
                break
            if victim is None:
                return created
            self._record_compaction(
                "twcs-drop", 1, 0, os.path.getsize(victim), 0,
                _pq_num_rows(victim), 0,
            )
            self._retire_into([victim], [])
            del stats[victim]

    def _seg_token_range(self, path: str) -> tuple[int, int]:
        """[min, max] Murmur3 token of a segment's partition keys —
        footer metadata when stamped (leveled outputs), else computed
        once from the pk column and cached. Tokens are of the pk's
        canonical text serialization: bit-exact for text keys, a
        consistent total order for the rest — all LCS needs is that
        every reader and the compactor agree on ONE order."""
        cached = self._seg_tokens.get(path)
        if cached is not None:
            return cached
        import pyarrow.parquet as pq

        from cassandra_spark.operators.murmur3 import token_of_text

        pf = pq.ParquetFile(path)
        meta = pf.schema_arrow.metadata or {}
        if b"min_token" in meta and b"max_token" in meta:
            rng = (int(meta[b"min_token"]), int(meta[b"max_token"]))
        else:
            pks = set(
                pq.read_table(path, columns=["pk"]).column("pk").to_pylist()
            )
            toks = [token_of_text(p) for p in pks]
            rng = (min(toks), max(toks))
        self._seg_tokens[path] = rng
        return rng

    def _seg_footer_level(self, path: str) -> int:
        """LCS level stamped in a segment's footer (0 = unstamped/L0) —
        the leveled-manifest entry a snapshot restore rehydrates from."""
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).schema_arrow.metadata or {}
        return int(meta.get(b"lcs_level", b"0"))

    def _lcs_target(self) -> int:
        return self.lcs_target_bytes or (
            self.schema.compaction_sstable_size_mb << 20
        )

    def lcs_compact(self) -> list[str]:
        """LeveledCompactionStrategy minor compaction (`[C* db/
        compaction/LeveledCompactionStrategy, unverified]`). The model:

        - L0 holds whatever flush/bulk_load produced (ranges overlap
          freely). Once it reaches ``min_threshold`` segments, ALL of L0
          merges with every overlapping L1 segment; the merged run is
          re-split into target-size segments with pairwise-DISJOINT
          token ranges and becomes L1.
        - Level n (>= 1) has a byte budget of ``fanout^n * sstable_size``.
          While over budget, its lowest-min-token segment promotes:
          merge with the overlapping L(n+1) segments, re-split, place in
          L(n+1). Promotions cascade upward until every level fits.
        - Invariants this buys (asserted in tests/test_lcs.py): levels
          >= 1 are sorted runs of disjoint ranges, so a point lookup
          touches at most ONE segment per leveled level (plus L0 and
          the memtable) — bounded read amplification, the reason LCS
          exists. A partition (one token) never splits across segments.

        Merges run through :meth:`_merge` at the target level with the
        ``sstable_size`` byte budget: every history row survives, only
        row order changes (LWW stays a read-time reconcile, same as
        STCS/TWCS); inputs retire to ``_retired`` for deferred GC.
        Returns new segment paths."""
        created: list[str] = []
        l0 = [s for s in self._segments if self._seg_level.get(s, 0) == 0]
        if len(l0) >= self.schema.compaction_min_threshold:
            created += self._lcs_promote(l0, 1)
        n = 1
        while True:
            # Walk up to the highest OCCUPIED level (recomputed per pass:
            # promotions push segments upward), not "first empty level" —
            # promoting victims can empty level n while n+1 just went
            # over budget, and breaking early would leave it over budget
            # indefinitely.
            max_level = max(
                (self._seg_level.get(s, 0) for s in self._segments),
                default=0,
            )
            if n > max_level:
                break
            level = [
                s for s in self._segments if self._seg_level.get(s, 0) == n
            ]
            if not level:
                n += 1
                continue
            budget = self._lcs_target() * (self.lcs_fanout ** n)
            if sum(os.path.getsize(s) for s in level) <= budget:
                n += 1
                continue
            victim = min(level, key=lambda s: self._seg_token_range(s)[0])
            created += self._lcs_promote([victim], n + 1)
        return created

    def _lcs_promote(self, members: list[str], target: int) -> list[str]:
        """Merge ``members`` with every overlapping ``target``-level
        segment, sort by (token, pk), re-split into target-size segments
        (whole partitions only) and register them at ``target``. Output
        ranges stay disjoint from the rest of the level: any segment
        intersecting the members' hull is pulled into the merge, and
        every pulled range touches that hull, so the merged span is one
        interval no remaining segment intersects."""
        lo = min(self._seg_token_range(s)[0] for s in members)
        hi = max(self._seg_token_range(s)[1] for s in members)
        overlap = [
            s
            for s in self._segments
            if self._seg_level.get(s, 0) == target
            and not (
                self._seg_token_range(s)[1] < lo
                or self._seg_token_range(s)[0] > hi
            )
        ]
        inputs = members + overlap
        return self._merge(inputs, "lcs", target, self._lcs_target())

    def ucs_compact(self) -> list[str]:
        """UnifiedCompactionStrategy minor compaction (`[C* db/
        compaction/unified/UnifiedCompactionStrategy — CEP-26,
        unverified]`). The reference unifies tiered and leveled under
        one per-level scaling parameter w and buckets SSTables into
        levels by DENSITY (size / token-range fraction); this engine's
        analog keeps an explicit level per segment (flush = 0; a merge
        of level-l inputs lands its shards at l+1 — the same bucket
        jump the reference gets from fanout-times-denser outputs):

        - ``T t`` (w = t-2 >= 0, tiered): level l merges when it holds
          >= t segments; ALL of them merge (STCS-shaped, fanout t).
        - ``L f`` (w = 2-f <= 0, leveled): level l merges as soon as it
          holds 2 segments (LCS-shaped read amplification — at most one
          un-merged run per level; f is the density fanout).
        - ``N`` = w 0, where T2 and L2 coincide.

        A comma list in ``scaling_parameters`` gives each level its own
        w (the reference's headline feature: tiered at the write-hot
        low levels, leveled at the read-hot high ones); the last entry
        repeats upward. The trigger counts segments per maximal token-
        OVERLAPPING run within a level, as the reference's bucket logic
        does — NOT raw level population: shards emitted by one merge
        are pairwise disjoint, form singleton runs, and can never
        re-trigger a merge by themselves (raw counting would cascade a
        sharded output up the levels forever). Merged output is
        SHARDED: token-sorted and split on whole-partition boundaries
        into the smallest base_shard_count * 2^k shard count whose
        per-shard bytes fit ``target_sstable_size`` — disjoint stamped
        token ranges, so the point-read path range-prunes UCS shards
        exactly like leveled segments (the reference shards on token
        split points for the same reason: parallel compaction +
        bounded reads). Runs to a fixpoint: a merged run can overlap
        level l+1's residents and cascade one more merge there.
        Merges run through :meth:`_merge` at level l+1 with the per-
        shard byte budget: every history row survives, only row order
        changes (LWW stays a read-time reconcile); inputs retire for
        deferred GC. Returns new paths."""
        params = parse_ucs_scaling(self.schema.compaction_scaling)
        created_all: list[str] = []
        while True:
            by_level: dict[int, list[str]] = {}
            for s in self._segments:
                by_level.setdefault(self._seg_level.get(s, 0), []).append(s)
            merged_any = False
            for lvl in sorted(by_level):
                mode, arg = params[min(lvl, len(params) - 1)]
                threshold = arg if mode == "T" else 2
                # maximal overlapping runs, swept in token order
                members = sorted(
                    by_level[lvl], key=lambda s: self._seg_token_range(s)[0]
                )
                run: list[str] = []
                run_hi = None
                group = None
                for s in members + [None]:
                    if (
                        s is not None
                        and run
                        and self._seg_token_range(s)[0] <= run_hi
                    ):
                        run.append(s)
                        run_hi = max(run_hi, self._seg_token_range(s)[1])
                        continue
                    if len(run) >= threshold:
                        group = run
                        break
                    if s is not None:
                        run = [s]
                        run_hi = self._seg_token_range(s)[1]
                if group is None:
                    continue
                total = sum(os.path.getsize(s) for s in group)
                shards = max(1, self.schema.ucs_base_shards)
                while total / shards > self.schema.ucs_target_bytes:
                    shards *= 2
                budget = max(1, -(-total // shards))
                created_all += self._merge(group, "ucs", lvl + 1, budget)
                merged_any = True
                break  # levels changed: recompute the buckets
            if not merged_any:
                return created_all

    def bulk_load(
        self,
        df: "DataFrame",
        timestamp: int | None = None,
        n_segments: int | None = None,
        validate: bool = True,
    ) -> int:
        """``sstableloader`` analogue: ingest a DataFrame as pre-flushed
        parquet segments written BY EXECUTORS — the scale path around the
        driver-side DML front-end (statement parse is single-threaded at
        ~31k stmt/s, BASELINE.md; this path moves data at Spark write
        bandwidth and never materializes a row on the driver). The input
        must carry the primary-key columns plus any subset of SCALAR
        regular columns; collections/UDTs/static/counter columns are
        rejected (load those through the statement path). Key columns
        must be of exact-text key types (integer widths / text): a
        double/boolean key's literal text could differ from Spark's
        cast-to-string form and the same logical key would never merge
        across paths. Semantics match one INSERT per row at a single
        shared writetime: a row MARKER plus one cell per non-null scalar
        (NULL = unset, like INSERT omitting the column — not a
        tombstone). Passing ``timestamp`` mirrors ``USING TIMESTAMP``
        (the clock does NOT advance); the default takes the next clock
        tick like an unpinned statement. ``validate`` asserts key
        non-nullness and primary-key uniqueness ON THE WRITTEN SEGMENTS
        (so a nondeterministic input plan cannot pass validation yet
        write something else); on failure the files are removed and
        nothing is registered. Returns the number of rows loaded,
        counted from the written marker cells.

        Segments written here carry no max-deletion stamp, so TWCS
        whole-drop treats them as never-droppable until a merge restamps
        them — the safe default."""
        from pyspark.sql import functions as F

        s = self.schema
        if s.counter:
            raise CQLError("bulk_load does not support counter tables")
        key_cols = s.key_cols
        exact_key_types = {"string", "bigint", "int", "smallint", "tinyint"}
        bad_keys = [
            c for c in key_cols if s.key_type(c) not in exact_key_types
        ]
        if bad_keys:
            raise CQLError(
                f"bulk_load requires exact-text key types "
                f"(int widths / text); bad: {bad_keys}"
            )
        cols = set(df.columns)
        missing = [c for c in key_cols if c not in cols]
        if missing:
            raise CQLError(f"bulk_load input missing key column(s) {missing}")
        payload = [c for c in df.columns if c not in key_cols]
        bad = [c for c in payload if c not in s.scalar_regular]
        if bad:
            raise CQLError(
                f"bulk_load supports scalar regular columns only; bad: {bad}"
            )

        if timestamp is None:
            # an unpinned load consumes a clock round, like any statement
            self._clock += 1
            ts = self._clock
        else:
            # USING TIMESTAMP semantics: pinned writes never advance the
            # clock (cql26/BATCH pin the same rule on the statement path)
            ts = timestamp
        self._max_wt = ts if self._max_wt is None else max(self._max_wt, ts)
        self._seq += 1
        seq = self._seq
        ttl = s.default_ttl or 0

        if s.pk_composite:
            pk_parts: list = []
            for i, c in enumerate(s.partition_cols):
                if i:
                    pk_parts.append(F.lit(SEP))
                pk_parts.append(F.col(c).cast("string"))
            pk = F.concat(*pk_parts).alias("pk")
        else:
            pk = F.col(s.partition_key).cast("string").alias("pk")
        # null-PROPAGATING concat (not concat_ws, which silently drops
        # null components and would collapse distinct keys): a null
        # clustering value yields ck NULL, which validation rejects below
        ck_parts: list = []
        for i, c in enumerate(s.clustering):
            if i:
                ck_parts.append(F.lit(SEP))
            ck_parts.append(F.col(c).cast("string"))
        ck = (
            F.concat(*ck_parts) if s.clustering else F.lit("")
        ).alias("ck")

        def mut(colname, val, kind):
            return df.select(
                pk,
                ck,
                F.lit(colname).cast("string").alias("col"),
                F.lit(None).cast("string").alias("elem"),
                val.cast("string").alias("val"),
                F.lit(kind).alias("kind"),
                F.lit(ts).cast("long").alias("writetime"),
                F.lit(ttl).cast("long").alias("ttl"),
                F.lit(seq).cast("long").alias("seq"),
                F.lit(None).cast("string").alias("lo"),
                F.lit(None).cast("string").alias("hi"),
                F.lit(None).cast("boolean").alias("lo_incl"),
                F.lit(None).cast("boolean").alias("hi_incl"),
            )

        parts = [mut(None, F.lit(None), MARKER)]
        for c in payload:
            parts.append(
                mut(c, F.col(c), CELL).filter(F.col("val").isNotNull())
            )
        out = parts[0]
        for p_ in parts[1:]:
            out = out.unionByName(p_)
        # bound the file count: the narrow per-column union multiplies the
        # input partitioning, and nothing downstream compacts bulk
        # segments — cluster by pk so point-read blooms stay selective
        from cassandra_spark.operators.compaction import DEFAULT_BUCKETS

        out = out.repartition(n_segments or DEFAULT_BUCKETS, "pk")

        import glob
        import shutil
        import uuid

        self._ensure_spill_dir()
        sub = os.path.join(
            self.spill_dir, f"{s.name}-bulk-{uuid.uuid4().hex[:8]}"
        )
        out.write.parquet(sub, compression=self._codec())
        files = sorted(glob.glob(os.path.join(sub, "part-*.parquet")))
        # the input plan ran exactly once (the write above); validate and
        # count against the WRITTEN segments, executor-side
        written = self.spark.read.schema(_MUT_SCHEMA).parquet(*files)
        markers = written.filter(F.col("kind") == MARKER)
        if validate:
            # ck NULL here = a null clustering component (the builder is
            # null-propagating); pk NULL = null partition key — both are
            # keys the statement path can never produce
            null_keys = F.col("pk").isNull() | F.col("ck").isNull()
            if s.pk_composite:
                # a string key component containing the reserved 0x1f
                # separator would mis-split in _pk_out_cols and silently
                # collide two distinct composite keys — reject, mirroring
                # pk_from_pairs on the statement path (detected as a
                # component count mismatch in the joined key)
                null_keys = null_keys | (
                    F.size(F.split("pk", SEP)) != len(s.partition_cols)
                )
            # ONE pass over the written markers answers both questions
            # (r12 opt round): total marker count AND whether any key is
            # duplicated or malformed — the old shape read the segments
            # twice (a validation aggregate, then a separate count job)
            per_key = markers.groupBy("pk", "ck").agg(
                F.count(F.lit(1)).alias("n"),
                F.max(null_keys.cast("int")).alias("badkey"),
            )
            stats = per_key.agg(
                F.sum("n").alias("total"),
                F.max(
                    ((F.col("n") > 1) | (F.col("badkey") == 1)).cast("int")
                ).alias("bad"),
            ).collect()[0]
            if stats["bad"]:
                shutil.rmtree(sub, ignore_errors=True)
                raise CQLError(
                    "bulk_load input has duplicate or NULL primary keys, "
                    "or a composite key component containing the reserved "
                    "separator byte 0x1f (pass validate=False only if "
                    "upstream guarantees clean unique keys)"
                )
            n = int(stats["total"] or 0)
        else:
            n = markers.count()
        # blooms rebuild lazily per segment on first point read
        self._segments.extend(files)
        return n

    def sstable_metadata(self):
        """``sstablemetadata`` analogue: per-segment physical facts read
        from parquet FOOTERS only (no data pages) — row count, bytes,
        min/max writetime from row-group statistics, codec, and the
        TWCS whole-drop stamp (max_deletion: the reference's
        maxLocalDeletionTime; -1 = some row can never expire, so the
        segment is never whole-droppable)."""
        rows = []
        for seg in self._segments:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(seg).metadata
            mn, mx, mdl = self._seg_stats(seg)
            codec = md.row_group(0).column(0).compression if md.num_row_groups else "NONE"
            rows.append(
                (os.path.basename(seg), md.num_rows,
                 os.path.getsize(seg), mn, mx, codec, mdl)
            )
        return self.spark.createDataFrame(
            rows,
            "generation string, rows long, bytes long, "
            "min_writetime long, max_writetime long, compression string, "
            "max_deletion long",
        )

    def flush(self) -> str | None:
        """Flush the in-memory log to a parquet segment (the memtable →
        SSTable move): bounds driver RSS to O(spill_threshold) regardless
        of session length. Driver-side pyarrow write — no Spark job, and
        the segment is immediately scannable by executors. Returns the
        segment path (None if there was nothing to flush)."""
        if not self._log:
            return None
        # auto-provision the spill dir: an explicit nodetool-style flush
        # must never fail for lack of configuration
        self._ensure_spill_dir()
        os.makedirs(self.spill_dir, exist_ok=True)
        path = self._write_segment(_mut_table(self._log), "seg")
        self._segments.append(path)
        self._log.clear()
        return path

    def _bloom_for(self, path: str):
        """Lazy per-segment filter: memory → sidecar → rebuild-from-keys
        (restore re-attaches bare segments; a missing sidecar only costs
        one rebuild, never a wrong answer)."""
        bf = self._blooms.get(path)
        if bf is None:
            from cassandra_spark.operators.bloom import bloom_for_segment

            bf = bloom_for_segment(path)
            self._blooms[path] = bf
        return bf

    @staticmethod
    def _column_cells(path: str, col: str):
        """``col``'s CELL mutations in one segment — the one reader behind
        the value Bloom, the value-range stats and the 2i probe. Returns
        the pyarrow ``(pk, val)`` table and its distinct non-null values."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            path,
            columns=["pk", "val"],
            filters=[("col", "=", col), ("kind", "=", CELL)],
        )
        return tbl, pc.unique(pc.drop_null(tbl.column("val")))

    def _value_bloom_for(self, path: str, col: str):
        """Per-(segment, indexed column) Bloom over the column's cell
        values — the Filter.db construction extended from partition keys
        to an indexed column (`[C* index/internal/composites, unverified]`
        keeps value→pk index tables per SSTable; the pruning effect is
        the same). Sidecar ``<segment>.<col>.vbloom``; rebuilt from the
        segment itself when missing, so a restored segment never reads
        wrong, only slower."""
        key = (path, col)
        bf = self._value_blooms.get(key)
        if bf is not None:
            return bf
        from cassandra_spark.operators.bloom import BloomFilter

        sc = f"{path}.{col}.vbloom"
        if os.path.exists(sc):
            try:
                bf = BloomFilter.load(sc)
            except Exception:
                bf = None  # corrupt sidecar: rebuild, never fail
        if bf is None:
            typ = index_probe_type(self.schema, col) or ""
            vals = self._column_cells(path, col)[1].to_pylist()
            bf = BloomFilter.for_keys(_index_norm(v, typ) for v in vals)
            try:
                bf.save(sc)
            except OSError:
                pass  # read-only segment dir: in-memory filter still works
        self._value_blooms[key] = bf
        return bf

    def _value_range_for(self, path: str, col: str, numeric: bool) -> tuple:
        """Exact [min, max] over ``col``'s non-null cell values in one
        segment. ``numeric`` orders the values as Decimal — the SAI
        per-SSTable min/max term metadata analogue (`[C* index/sai/disk
        SegmentMetadata, unverified]`); canonical strings order
        lexicographically, which is WRONG for numerics, so parquet's own
        string stats can't serve this. Otherwise the values order as
        strings — the SASI per-SSTable term range that serves PREFIX
        searches (`[C* index/sasi/disk OnDiskIndex metadata,
        unverified]`). Returns ("empty",) when the segment has no cells
        of the column (always skippable), ("all",) when a numeric value
        failed to parse (never skip — the safe default), or ("range",
        lo, hi). Sidecar ``<segment>.<col>.vrange`` (numeric) or
        ``.svrange`` (string); rebuilt when missing, so a restored
        segment never reads wrong, only slower."""
        import json
        from decimal import Decimal, InvalidOperation

        key = (path, col) if numeric else (path, col, "s")
        vr = self._value_ranges.get(key)
        if vr is not None:
            return vr
        parse = Decimal if numeric else str
        sc = f"{path}.{col}.{'vrange' if numeric else 'svrange'}"
        if os.path.exists(sc):
            try:
                d = json.loads(open(sc).read())
                vr = (
                    ("range", parse(d["min"]), parse(d["max"]))
                    if d["state"] == "range"
                    else (d["state"],)
                )
            except Exception:
                vr = None  # corrupt sidecar: rebuild, never fail
        if vr is None:
            vals = self._column_cells(path, col)[1].to_pylist()
            try:
                vs = [parse(v) for v in vals]
                vr = ("range", min(vs), max(vs)) if vs else ("empty",)
            except InvalidOperation:
                vr = ("all",)
            d = {"state": vr[0]}
            if vr[0] == "range":
                d["min"], d["max"] = str(vr[1]), str(vr[2])
            try:
                with open(sc, "w") as fh:
                    fh.write(json.dumps(d))
            except OSError:
                pass  # read-only segment dir: in-memory range still works
        self._value_ranges[key] = vr
        return vr

    def _index_probe(self, col: str, keep, match, skip_counter: str):
        """2i read, phase 1 (`[C* index/internal CassandraIndexSearcher,
        unverified]`): the partition keys whose CURRENT row could satisfy
        a predicate on ``col``. The equality, range and prefix forms
        differ only in ``keep(path)``, the segment prune (a pruned
        segment is not read and counts in ``index_stats[skip_counter]``),
        and ``match(v)``, the value predicate on a non-null canonical
        cell string. Every kept segment's cells are read with pyarrow;
        ``match`` runs once per distinct value and the pks holding a
        matching value join the candidates, then the matching memtable
        cells do. Every winning cell was written by SOME mutation, so
        the candidates are a superset of the true partitions; extras
        fall to the caller's phase-2 recheck, exactly the reference's
        post-index filtering. Returns None — and stops reading — once
        the candidates pass ``index_probe_collect_cap``: the
        unselective-index signal; the caller falls back to the full
        reconcile."""
        import pyarrow as pa
        import pyarrow.compute as pc

        cap = self.index_probe_collect_cap
        cand: set[str] = set()
        for path in self._segments:
            self.index_stats["checked"] += 1
            if not keep(path):
                self.index_stats[skip_counter] += 1
                continue
            tbl, vals = self._column_cells(path, col)
            hits = vals.filter(
                pa.array([match(v) for v in vals.to_pylist()], pa.bool_())
            )
            pks = tbl.column("pk").filter(
                pc.is_in(tbl.column("val"), value_set=hits)
            )
            cand.update(pc.unique(pks).to_pylist())
            if len(cand) > cap:
                break
        else:
            pi, ci, vi, ki = (
                _MUT_COLS.index("pk"),
                _MUT_COLS.index("col"),
                _MUT_COLS.index("val"),
                _MUT_COLS.index("kind"),
            )
            cand.update(
                row[pi]
                for row in self._log
                if row[ki] == CELL
                and row[ci] == col
                and row[vi] is not None
                and match(row[vi])
            )
        if len(cand) > cap:
            self.index_stats["probe_overflows"] += 1
            return None
        return cand

    def index_candidate_pks(self, col: str, lit: str) -> set[str] | None:
        """2i probe, EQUALITY form (also CONTAINS on a collection's
        elements / map values): :meth:`_index_probe` with each segment's
        value Bloom as the prune (``index_stats['skipped']``) and
        normalized equality (``_index_norm``: '05' = '5' for an int
        column) as the value predicate. None past
        ``index_probe_collect_cap`` candidates."""
        typ = index_probe_type(self.schema, col) or ""
        probe = _index_norm(lit, typ)
        return self._index_probe(
            col,
            lambda path: self._value_bloom_for(path, col).might_contain(
                probe
            ),
            lambda v: _index_norm(v, typ) == probe,
            "skipped",
        )

    def index_candidate_pks_range(
        self,
        col: str,
        lo: str | None = None,
        hi: str | None = None,
        lo_incl: bool = True,
        hi_incl: bool = True,
    ) -> set[str] | None:
        """2i probe, RANGE form (`[C* index/sai, unverified]`: SAI serves
        range restrictions from its per-SSTable index) for
        ``lo (<|<=) col (<|<=) hi`` (either bound may be None = open):
        :meth:`_index_probe` with each segment's numeric [min, max]
        (:meth:`_value_range_for`) as the prune
        (``index_stats['range_skipped']``) and an exact-Decimal interval
        test as the value predicate. None past
        ``index_probe_collect_cap`` candidates."""
        from decimal import Decimal, InvalidOperation

        dlo = Decimal(lo) if lo is not None else None
        dhi = Decimal(hi) if hi is not None else None

        def above_lo(d: "Decimal") -> bool:
            return dlo is None or d > dlo or (d == dlo and lo_incl)

        def below_hi(d: "Decimal") -> bool:
            return dhi is None or d < dhi or (d == dhi and hi_incl)

        def keep(path: str) -> bool:
            vr = self._value_range_for(path, col, numeric=True)
            if vr[0] == "range":
                return above_lo(vr[2]) and below_hi(vr[1])
            return vr[0] == "all"

        def match(v: str) -> bool:
            try:
                d = Decimal(v)
            except InvalidOperation:
                return False  # non-numeric cell can't satisfy numeric range
            return above_lo(d) and below_hi(d)

        return self._index_probe(col, keep, match, "range_skipped")

    def index_candidate_pks_prefix(
        self, col: str, prefix: str
    ) -> set[str] | None:
        """2i probe, PREFIX form — SASI ``LIKE 'prefix%'`` served from
        the index (`[C* index/sasi/SASIIndex — PREFIX mode,
        unverified]`): :meth:`_index_probe` with each segment's
        lexicographic [min, max] (:meth:`_value_range_for`) as the prune
        (``index_stats['range_skipped']``) and ``startswith`` as the
        value predicate. None past ``index_probe_collect_cap``
        candidates."""
        hi = _str_prefix_hi(prefix)

        def keep(path: str) -> bool:
            vr = self._value_range_for(path, col, numeric=False)
            if vr[0] == "range":
                return vr[2] >= prefix and (hi is None or vr[1] < hi)
            return vr[0] == "all"

        return self._index_probe(
            col, keep, lambda v: v.startswith(prefix), "range_skipped"
        )

    def _segment_rows_for_pk(self, pk: str | None):
        """Mutation rows for one partition from all flushed segments, in
        canonical tuple order — the LWT read phase's segment leg. Each
        segment's Bloom filter is consulted first (the reference's
        SSTable read path does the same): definitely-absent segments are
        skipped without touching the file; the pk-filtered parquet read
        of the rest is the same bounded single-partition read a replica
        serves — cost is O(partition), never O(log)."""
        import pyarrow.parquet as pq

        pk_token = None
        if self._seg_level:  # leveled layout: range-prune before bloom
            from cassandra_spark.operators.murmur3 import token_of_text

            pk_token = token_of_text(pk) if pk is not None else None
        for path in self._segments:
            if pk_token is not None and self._seg_level.get(path, 0) > 0:
                self.lcs_stats["checked"] += 1
                lo, hi = self._seg_token_range(path)
                if not (lo <= pk_token <= hi):
                    self.lcs_stats["range_skipped"] += 1
                    continue
            self.bloom_stats["checked"] += 1
            if not self._bloom_for(path).might_contain(pk):
                self.bloom_stats["skipped"] += 1
                continue
            tbl = pq.read_table(path, filters=[("pk", "=", pk)])
            yield from zip(*(tbl.column(c).to_pylist() for c in _MUT_COLS))

    def compact_segments(self) -> str | None:
        """Merge all flushed segments into one (minor compaction's
        file-count half: N small parquet files → one, so the per-segment
        listing/footer overhead in mutation_log() and the per-segment
        pk-filtered LWT reads stay O(1) instead of O(flush count)) via
        :meth:`_merge` (level 0, no byte budget). Every mutation HISTORY
        row is kept, only their order changes (the output is one token-
        sorted run) — unlike the reference's cell-merging compaction,
        asof snapshots must keep working, and the semantic LWW merge
        already lives in operators/compaction.py for materialized
        tables.

        Superseded files are RETIRED, not deleted (the reference's
        nodetool-visible "compacted but not yet GC'd" SSTable state): a
        snapshot()/mutation_log() DataFrame is lazy, so a file it listed
        must stay readable until an explicit purge point — eager os.remove
        here broke any DataFrame obtained before the (implicitly
        write-triggered) compaction, and crashed cdc_stream consumers.
        Retired files are reclaimed by purge_retired() / TRUNCATE; until
        then disk holds the raw flush segments plus superseded compacted
        generations. Returns the new segment path (None if fewer than two
        segments exist or the merge wrote no rows)."""
        if len(self._segments) < 2:
            return None
        created = self._merge(list(self._segments), "compact")
        return created[0] if created else None

    def purge_retired(self) -> int:
        """Delete segments superseded by compaction (the GC half the
        reference runs once no reader holds the old SSTables). Call only
        when every previously-obtained snapshot()/mutation_log() DataFrame
        has been consumed; live reads via self._segments never touch
        retired files. Returns the number of files removed."""
        n = 0
        for p in self._retired:
            try:
                os.remove(p)
                n += 1
            except OSError:
                pass
            self._remove_sidecars(p)
        self._retired.clear()
        return n

    @staticmethod
    def _remove_sidecars(path: str) -> None:
        """Delete every sidecar of segment ``path``: the partition-key
        Bloom (``.bloom``) and the per-column value Bloom and value-range
        stats (``.<col>.vbloom`` / ``.vrange`` / ``.svrange``)."""
        import glob as _glob

        from cassandra_spark.operators.bloom import sidecar_path

        per_col = (".vbloom", ".vrange", ".svrange")
        stem = _glob.escape(path)
        for f in [sidecar_path(path)] + [
            g for g in _glob.glob(f"{stem}.*.*") if g.endswith(per_col)
        ]:
            try:
                os.remove(f)
            except OSError:
                pass

    def clear_data(self) -> None:
        """TRUNCATE support: drop the in-memory log and every flushed
        segment (retired generations included — truncate is a purge
        point). Clocks keep ticking (post-truncate writes stay newer)."""
        self._log.clear()
        self.purge_retired()
        for path in self._segments:
            try:
                os.remove(path)
            except OSError:
                pass
            self._remove_sidecars(path)
        self._segments.clear()
        self._blooms.clear()
        self._max_wt = None

    def bump_schema_version(self) -> None:
        """Invalidate the memoized snapshot plan after an in-place
        change the cache key cannot observe: schema evolution (ALTER
        mutates the TableSchema object in place) or a same-path segment
        rewrite (drop_column_cells)."""
        self._mutver += 1

    def drop_column_cells(self, col: str, horizon_us: int | None = None) -> None:
        """ALTER TABLE DROP support: discard the column's cells from the
        in-memory log and rewrite any flushed segments without them (DDL
        is rare; a driver-side segment rewrite is the honest cost).
        ``horizon_us`` keeps cells with writetime GREATER than it — the
        reference's dropped-column rule, under which a cell written with
        a FUTURE timestamp survives the drop and reappears when the
        column is re-added (None purges everything, the pre-registry
        behavior)."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.bump_schema_version()  # same-path rewrites below
        self._log[:] = [
            r for r in self._log
            if r[2] != col or (horizon_us is not None and r[6] > horizon_us)
        ]
        for path in self._segments:
            tbl = pq.read_table(path)
            mask = pc.not_equal(tbl.column("col"), col)
            mask = pc.fill_null(mask, True)  # NULL col (tombstones) kept
            if horizon_us is not None:
                mask = pc.or_(
                    mask, pc.greater(tbl.column("writetime"), horizon_us)
                )
            pq.write_table(tbl.filter(mask), path, compression=self._codec())

    # --- snapshot reconciliation -----------------------------------------

    def mutation_log(self) -> DataFrame:
        """The full mutation log as a DataFrame: flushed parquet segments
        (executor-side scan) unioned with the in-memory tail (Arrow-batched
        conversion, chunked so the conversion copy stays bounded)."""
        parts: list[DataFrame] = []
        if self._segments:
            parts.append(
                self.spark.read.schema(_MUT_SCHEMA).parquet(*self._segments)
            )
        if self._log or not parts:
            parts.extend(self._tail_chunks())
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _tail_chunks(self) -> list[DataFrame]:
        if not self._log:
            return [self.spark.createDataFrame([], _MUT_SCHEMA)]
        import pandas as pd

        out = []
        for i in range(0, len(self._log), self._ARROW_CHUNK):
            pdf = pd.DataFrame(
                self._log[i : i + self._ARROW_CHUNK], columns=_MUT_COLS
            )
            out.append(self.spark.createDataFrame(pdf, schema=_MUT_SCHEMA))
        return out

    def _range_cover_cond(self, rt_prefix="pref_arr", row_arr="ck_arr"):
        """Spark boolean Column: range tombstone (prefix array + typed
        bounds on the next clustering col) covers the row's ck array.
        Built as ONE SQL expression string (r13 opt round): the former
        per-clustering-column Column-object chain cost ~12 py4j
        round-trips per column on every snapshot build. Semantics
        identical — ``IF(lo_incl, a, b)`` takes the b branch on NULL
        exactly like ``when(...).otherwise(...)``."""
        s = self.schema
        per_k = ["false"]
        for k, col in enumerate(s.clustering):
            t = s.key_type(col)
            v = f"CAST({row_arr}[{k}] AS {t})"
            lo_ok = (
                f"(lo IS NULL OR IF(lo_incl, {v} >= CAST(lo AS {t}), "
                f"{v} > CAST(lo AS {t})))"
            )
            hi_ok = (
                f"(hi IS NULL OR IF(hi_incl, {v} <= CAST(hi AS {t}), "
                f"{v} < CAST(hi AS {t})))"
            )
            per_k.append(
                f"(size({rt_prefix}) = {k} AND {lo_ok} AND {hi_ok})"
            )
        return F.expr(
            f"slice({row_arr}, 1, size({rt_prefix})) = {rt_prefix} AND "
            f"((lo IS NULL AND hi IS NULL) OR ({' OR '.join(per_k)}))"
        )

    def snapshot_pitr(self, ts_us: int) -> DataFrame:
        """Point-in-time view: the table's visible rows AS OF writetime
        ``ts_us`` — the reference's commitlog-archive PITR
        (``restore_point_in_time``, `[C* db/commitlog/
        CommitLogArchiver, unverified]`: restore a snapshot, then replay
        archived mutations whose commit time <= the target). This
        engine keeps every row of the mutation history through
        flushes AND compactions (LWW is a read-time reconcile),
        so PITR needs no archive: reconcile only mutations with
        ``writetime <= ts_us`` and evaluate TTL expiry at ``ts_us``.
        Works identically on a live table and on one rehydrated by
        ``restore_keyspace`` — w23 drives the snapshot → restore →
        PITR loop under the oracle gate."""
        return self.snapshot(asof_us=ts_us, max_wt_us=ts_us)

    def snapshot(
        self,
        asof_us: int | None = None,
        pk_in=None,
        max_wt_us: int | None = None,
    ) -> DataFrame:
        """Visible rows after W2 (TTL at ``asof``) + W3 (tombstone
        shadowing, incl. range tombstones) + W4 (per-cell LWW): one wide
        row per live (pk, ck) with typed key columns, scalar columns with
        ``__writetime_<col>`` shadows (f2 convention), collection columns
        assembled from live element cells, and static columns joined per
        partition (a static-only partition shows one row with NULL
        clustering).

        ``pk_in`` (2i read, phase 2): restrict the reconcile to these
        partition keys. Semantically safe for ANY key subset — every
        reconcile window partitions by pk, so the restricted result
        equals the global result filtered to those partitions.

        ``max_wt_us`` (PITR, see :meth:`snapshot_pitr`): drop every
        mutation with a newer writetime BEFORE reconciling — later
        writes, deletes and range tombstones simply do not exist in the
        as-of view (they do not shadow older data the way asof-only TTL
        evaluation would leave them to)."""
        s = self.schema
        if not self._log and not self._segments:
            return self._empty()
        if pk_in is not None and not pk_in:
            return self._empty()
        # memoize the unrestricted plan (see __init__): identical state
        # -> identical lazy plan; any restricted variant bypasses
        plain = asof_us is None and pk_in is None and max_wt_us is None
        if plain:
            key = (
                self._mutver, len(self._log), tuple(self._segments),
                self._clock, self._seq, self._max_wt,
            )
            if self._snap_cache is not None and self._snap_cache[0] == key:
                return self._snap_cache[1]
        if s.counter:
            return self._counter_snapshot(max_wt_us=max_wt_us)
        mut = self.mutation_log()
        if max_wt_us is not None:
            mut = mut.filter(F.col("writetime") <= F.lit(max_wt_us))
        if pk_in is not None:
            mut = mut.filter(F.col("pk").isin(list(pk_in)))
        # TTL is in writetime units here (the logical clock); the batch W2
        # operator does the real seconds→µs conversion. Default asof sees
        # everything un-expired that has no TTL.
        asof = asof_us if asof_us is not None else self._max_wt + 1

        # filters/aggregates below are SQL strings, not Column chains —
        # plan CONSTRUCTION is driver-side py4j work on every snapshot
        # build (~1.3 s / ~1600 round-trips before the r13 conversion)
        part_tombs = (
            mut.filter(f"kind = '{PART_TOMB}'")
            .groupBy("pk")
            .agg(F.max("writetime").alias("pt_ts"))
        )
        row_tombs = (
            mut.filter(f"kind = '{ROW_TOMB}'")
            .groupBy("pk", "ck")
            .agg(F.max("writetime").alias("rt_ts"))
        )
        clustered = mut.filter(
            f"ck IS NOT NULL AND kind IN ('{CELL}', '{MARKER}', "
            f"'{CELL_TOMB}')"
        )
        coll_tombs = (
            mut.filter(f"kind = '{COLL_TOMB}'")
            .groupBy("pk", "ck", "col")
            .agg(F.max("writetime").alias("gt_ts"))
        )

        # range-tombstone coverage per distinct row key (tiny broadcast
        # join). Both frames derive from one log DataFrame: the join key
        # is RENAMED on the tombstone side (rt_pk, the cql_dml convention)
        # so Spark never sees an ambiguous self-join equality predicate.
        range_tombs = mut.filter(F.col("kind") == RANGE_TOMB).select(
            F.col("pk").alias("rt_pk"),
            F.when(F.col("ck") == "", F.array().cast("array<string>"))
            .otherwise(F.split("ck", SEP))
            .alias("pref_arr"),
            "lo", "hi", "lo_incl", "hi_incl", "writetime",
        )
        rkeys = (
            clustered.select("pk", "ck")
            .distinct()
            .withColumn("ck_arr", F.split("ck", SEP))
        )
        rcov = (
            rkeys.join(
                F.broadcast(range_tombs),
                (F.col("pk") == F.col("rt_pk")) & self._range_cover_cond(),
            )
            .select("pk", "ck", "writetime")
            .groupBy("pk", "ck")
            .agg(F.max("writetime").alias("rg_ts"))
        )

        # per (pk, ck, col, elem) pick the winner among cells/markers and
        # their tombstones: writetime desc, tombstone beats write, arrival
        _tomb_rank = (
            f"row_number() OVER (PARTITION BY pk, ck, col, elem ORDER BY "
            f"writetime DESC, CAST(kind = '{CELL_TOMB}' AS INT) DESC, "
            f"seq DESC)"
        )
        winners = (
            clustered.withColumn("__rn", F.expr(_tomb_rank))
            .filter("__rn = 1")
            .drop("__rn")
        )

        live = (
            # W2: TTL expiry (0 = no ttl); drop tombstone winners
            winners.filter(
                f"kind != '{CELL_TOMB}' AND "
                f"(ttl = 0 OR writetime + ttl > {int(asof)})"
            )
            # row/range/partition tombstone shadowing (W3): survive if newer
            .join(F.broadcast(part_tombs), "pk", "left")
            .join(F.broadcast(row_tombs), ["pk", "ck"], "left")
            .join(F.broadcast(rcov), ["pk", "ck"], "left")
            .filter(
                "(pt_ts IS NULL OR writetime > pt_ts) AND "
                "(rt_ts IS NULL OR writetime > rt_ts) AND "
                "(rg_ts IS NULL OR writetime > rg_ts)"
            )
            # collection tombstone horizon per column
            .join(F.broadcast(coll_tombs), ["pk", "ck", "col"], "left")
            .filter("gt_ts IS NULL OR writetime > gt_ts")
        )

        aggs = []
        for c, typ in s.scalar_regular.items():
            if c in s.nonfrozen:
                # multi-cell UDT: aggregated with the collections below;
                # writetime() of a multi-cell column is not a single
                # value (the reference errors pre-4.1) — shadow NULL
                aggs.append(
                    F.lit(None).cast("long").alias(f"__writetime_{c}")
                )
                continue
            cell_val = f"max(CASE WHEN col = '{c}' THEN val END)"
            cell_wt = f"max(CASE WHEN col = '{c}' THEN writetime END)"
            if parse_struct_type(typ) is not None:
                # struct cells carry canonical JSON; from_json re-types them
                # (a string cast can't produce a StructType)
                aggs.append(
                    F.expr(
                        f"from_json({cell_val}, '{spark_type_text(typ)}')"
                    ).alias(c)
                )
            else:
                aggs.append(F.expr(f"CAST({cell_val} AS {typ})").alias(c))
            aggs.append(F.expr(cell_wt).alias(f"__writetime_{c}"))
        def _cell_expr(src: str, typ: str) -> str:
            # struct-typed (round 11) and frozen-nested-collection
            # (round 12) elements store canonical JSON: from_json
            # re-types them; a string cast can't build a struct or array
            if parse_struct_type(typ) is not None or is_coll_type(typ):
                return f"from_json({src}, '{spark_type_text(typ)}')"
            return f"cast({src} AS {typ})"

        for c, (ckind, t1, t2) in s.coll_regular.items():
            if ckind == "list":
                agg = F.expr(
                    f"transform(array_sort(collect_list(CASE WHEN col = '{c}' "
                    f"THEN struct(elem, val) END)), "
                    f"x -> {_cell_expr('x.val', t1)})"
                )
            elif ckind == "set":
                if is_coll_type(t1):
                    # nested-collection elements: MAP types are not
                    # orderable in Spark, but their canonical-JSON cell
                    # strings are — dedup/sort the strings (canonical
                    # JSON = element identity), then re-type each
                    agg = F.expr(
                        f"transform(array_sort(array_distinct("
                        f"collect_list(CASE WHEN col = '{c}' THEN val "
                        f"END))), x -> from_json(x, "
                        f"'{spark_type_text(t1)}'))"
                    )
                else:
                    agg = F.expr(
                        f"array_sort(array_distinct(collect_list("
                        f"CASE WHEN col = '{c}' THEN {_cell_expr('val', t1)} "
                        f"END)))"
                    )
            else:  # map: entries sorted by key for deterministic rendering
                agg = F.expr(
                    f"map_from_entries(array_sort(collect_list("
                    f"CASE WHEN col = '{c}' THEN struct("
                    f"cast(elem AS {t1}) AS key, "
                    f"{_cell_expr('val', t2)} AS value) "
                    f"END)))"
                )
            # an empty non-frozen collection IS null (reference semantics)
            aggs.append(F.when(F.size(agg) > 0, agg).alias(c))
            # MAXWRITETIME shadow (`[C* CASSANDRA-17425 — 4.1, unverified]`):
            # for a multi-cell column the selector reads the max LIVE
            # element-cell writetime; null when the collection is null
            aggs.append(
                F.expr(f"max(CASE WHEN col = '{c}' THEN writetime END)")
                .alias(f"__maxwritetime_{c}")
            )
        for c in sorted(s.nonfrozen):
            # NON-FROZEN UDT (round 13): field cells (elem = the field
            # name) merged per-field LWW upstream exactly like map
            # entries; the struct materializes from the field map. A
            # column with NO live field cells is null (the multi-cell
            # rule); declared fields missing from the map read as NULL.
            # The identical collect_list aggregates below deduplicate in
            # the physical plan, so the per-field repetition costs one
            # aggregation.
            fields = parse_struct_type(s.regular[c])
            m_sql = (
                f"map_from_entries(collect_list(CASE WHEN col = '{c}' "
                f"THEN struct(elem, val) END))"
            )
            field_sql = ", ".join(
                "'{fn}', {expr}".format(
                    fn=fn, expr=_cell_expr(f"{m_sql}['{fn}']", ftype)
                )
                for fn, ftype in fields
            )
            aggs.append(
                F.expr(
                    f"CASE WHEN size({m_sql}) > 0 THEN "
                    f"named_struct({field_sql}) END"
                ).alias(c)
            )
            aggs.append(
                F.expr(f"max(CASE WHEN col = '{c}' THEN writetime END)")
                .alias(f"__maxwritetime_{c}")
            )
        # a table can legally end up with ZERO aggregated columns (every
        # column in the primary key, or ALTER ... DROP removed the last
        # regular one — surfaced by the round-13 dropped-column work):
        # groupBy().agg() needs at least one expression
        wide = live.groupBy("pk", "ck").agg(
            *(aggs or [F.count(F.lit(1)).alias("__row_marker")])
        )

        # typed like _empty(): a bigint partition key reads back as bigint,
        # not the memtable's raw key string (composite keys split back
        # into their typed component columns, like clustering)
        out_cols = self._pk_out_cols()
        ck_arr = F.split("ck", SEP)
        for i, c in enumerate(s.clustering):
            out_cols.append(ck_arr[i].cast(s.key_type(c)).alias(c))
        out_cols += [F.col(c) for c in s.regular]

        if s.static:
            statics = mut.filter(
                f"ck IS NULL AND kind IN ('{CELL}', '{CELL_TOMB}')"
            )
            s_live = (
                statics.withColumn(
                    "__rn",
                    F.expr(
                        f"row_number() OVER (PARTITION BY pk, col ORDER BY "
                        f"writetime DESC, CAST(kind = '{CELL_TOMB}' AS INT) "
                        f"DESC, seq DESC)"
                    ),
                )
                .filter("__rn = 1")
                .filter(
                    f"kind != '{CELL_TOMB}' AND "
                    f"(ttl = 0 OR writetime + ttl > {int(asof)})"
                )
                .join(F.broadcast(part_tombs), "pk", "left")
                .filter("pt_ts IS NULL OR writetime > pt_ts")
            )
            s_aggs = []
            for c, typ in s.static.items():
                sv = f"max(CASE WHEN col = '{c}' THEN val END)"
                s_aggs.append(
                    F.expr(
                        f"from_json({sv}, '{spark_type_text(typ)}')"
                    ).alias(c)
                    if parse_struct_type(typ) is not None
                    else F.expr(f"CAST({sv} AS {typ})").alias(c)
                )
                s_aggs.append(
                    F.expr(f"max(CASE WHEN col = '{c}' THEN writetime END)")
                    .alias(f"__writetime_{c}")
                )
            s_wide = s_live.groupBy("pk").agg(*s_aggs)
            # static cells alone keep the partition visible: one NULL-ck row
            lonely = s_wide.join(
                wide.select("pk").distinct(), "pk", "left_anti"
            ).withColumn("ck", F.lit(None).cast("string"))
            wide = wide.join(F.broadcast(s_wide), "pk", "left").unionByName(
                lonely, allowMissingColumns=True
            )
            out_cols += [F.col(c) for c in s.static]

        out_cols += [F.col(f"__writetime_{c}") for c in s.scalar_regular]
        out_cols += [F.col(f"__writetime_{c}") for c in s.static]
        out_cols += [
            F.col(f"__maxwritetime_{c}")
            for c in (*s.coll_regular, *sorted(s.nonfrozen))
        ]
        out = wide.select(*out_cols).orderBy(
            *s.partition_cols, *s.clustering
        )
        if plain:
            self._snap_cache = (key, out)
        return out

    def _pk_out_cols(self) -> list:
        """Typed user-facing partition-key columns from the log's single
        ``pk`` string: a cast for single-column keys, a SEP-split (the
        clustering convention) for composites."""
        s = self.schema
        if not s.pk_composite:
            c = s.partition_cols[0]
            return [F.col("pk").cast(s.key_type(c)).alias(c)]
        pk_arr = F.split("pk", SEP)
        return [
            pk_arr[i].cast(s.key_type(c)).alias(c)
            for i, c in enumerate(s.partition_cols)
        ]

    def _counter_snapshot(self, max_wt_us: int | None = None) -> DataFrame:
        """Counter reconcile (W6 driven from statement text): a counter cell
        is the SUM of its increments newer than the newest tombstone that
        covers it (cell, row, or partition level — delete wins writetime
        ties, same strict-`>` rule as the LWW path); a row is visible iff it
        has at least one live counter cell.

        The reference leaves post-delete increments formally undefined
        ("counters cannot be reliably re-incremented after deletion"); this
        engine pins the deterministic reading above — increments strictly
        newer than the tombstone count, older ones are dropped.

        ``max_wt_us``: PITR cutoff (see :meth:`snapshot_pitr`) — counter
        increments are commutative, so the as-of sum is simply the sum
        of the increments that existed by then."""
        s = self.schema
        mut = self.mutation_log()
        if max_wt_us is not None:
            mut = mut.filter(F.col("writetime") <= F.lit(max_wt_us))
        cell_tombs = (
            mut.filter(F.col("kind") == CELL_TOMB)
            .groupBy("pk", "ck", "col")
            .agg(F.max("writetime").alias("ct_ts"))
        )
        row_tombs = (
            mut.filter(F.col("kind") == ROW_TOMB)
            .groupBy("pk", "ck")
            .agg(F.max("writetime").alias("rt_ts"))
        )
        part_tombs = (
            mut.filter(F.col("kind") == PART_TOMB)
            .groupBy("pk")
            .agg(F.max("writetime").alias("pt_ts"))
        )
        live = (
            mut.filter(F.col("kind") == INCR)
            .join(F.broadcast(cell_tombs), ["pk", "ck", "col"], "left")
            .join(F.broadcast(row_tombs), ["pk", "ck"], "left")
            .join(F.broadcast(part_tombs), "pk", "left")
            .filter(
                (F.col("ct_ts").isNull() | (F.col("writetime") > F.col("ct_ts")))
                & (F.col("rt_ts").isNull() | (F.col("writetime") > F.col("rt_ts")))
                & (F.col("pt_ts").isNull() | (F.col("writetime") > F.col("pt_ts")))
            )
        )
        aggs = [
            F.sum(
                F.when(F.col("col") == c, F.col("val").cast("long"))
            ).alias(c)
            for c in s.regular
        ]
        # a table can legally end up with ZERO aggregated columns (every
        # column in the primary key, or ALTER ... DROP removed the last
        # regular one — surfaced by the round-13 dropped-column work):
        # groupBy().agg() needs at least one expression
        wide = live.groupBy("pk", "ck").agg(
            *(aggs or [F.count(F.lit(1)).alias("__row_marker")])
        )
        ck_arr = F.split("ck", SEP)
        return wide.select(
            *self._pk_out_cols(),
            *[
                ck_arr[i].cast(s.key_type(c)).alias(c)
                for i, c in enumerate(s.clustering)
            ],
            *[c for c in s.regular],
        ).orderBy(*s.partition_cols, *s.clustering)

    def _empty(self) -> DataFrame:
        s = self.schema
        fields = [f"{c} {s.key_type(c)}" for c in s.partition_cols]
        for c in s.clustering:
            fields.append(f"{c} {s.key_type(c)}")
        for c, t in s.regular.items():
            p = parse_coll_type(t)
            if p is None:
                fields.append(f"{c} {t}")
            elif p[0] == "map":
                fields.append(f"{c} map<{p[1]},{p[2]}>")
            else:
                fields.append(f"{c} array<{p[1]}>")
        for c, t in s.static.items():
            fields.append(f"{c} {t}")
        if not s.counter:
            fields += [f"__writetime_{c} long" for c in s.scalar_regular]
            fields += [f"__writetime_{c} long" for c in s.static]
            fields += [
                f"__maxwritetime_{c} long"
                for c in (*s.coll_regular, *sorted(s.nonfrozen))
            ]
        return self.spark.createDataFrame([], ", ".join(fields))
