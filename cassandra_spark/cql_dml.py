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
- the table's visible state is one per-partition reconcile
  (``_reconcile_partition``): per-cell LWW (compaction.lww_merge order:
  writetime desc, tombstone beats write on ties, then arrival seq),
  shadowed by the newest applicable row/range/partition tombstone,
  TTL-expired cells dropped at the caller's ``asof``, counters summed —
  the same W2/W3/W4/W5/W6 semantics the batch operators implement,
  driven from real CQL text. A pinned read runs it on the driver
  (``partition_frame``), a scan in token-range Spark tasks
  (``snapshot``).

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
*arrives* row-at-a-time; flushed segments are token-sorted runs, and a
scan reconciles each token range in its own task, reading only that
range's row groups (no shuffle before the reconcile). At 100 TB the
log is a stream — streaming/jobs.streaming_upsert is the continuous form
of the same reconcile — and snapshots are the compaction.compact output.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
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
_TOMB_KINDS = frozenset(
    (CELL_TOMB, ROW_TOMB, PART_TOMB, RANGE_TOMB, COLL_TOMB)
)

# clustering values join into one log key with an unprintable separator
SEP = "\x1f"

_MUT_SCHEMA = (
    "pk string, ck string, col string, elem string, val string, kind string, "
    "writetime long, ttl long, seq long, "
    "lo string, hi string, lo_incl boolean, hi_incl boolean"
)
_MUT_COLS = [f.split()[0] for f in _MUT_SCHEMA.split(", ")]


def _arrow_schema(ddl: str):
    """The pyarrow schema of a Spark DDL string (``"name type, ..."``)
    over the types driver-built frames use: ``string``, ``long`` /
    ``bigint``, ``int``, ``boolean`` and ``array<string>``. A pure-Python
    map with no JVM call, so executor tasks derive the mutation log's
    schema from ``_MUT_SCHEMA`` through it too."""
    import pyarrow as pa

    types = {
        "string": pa.string(), "long": pa.int64(), "bigint": pa.int64(),
        "int": pa.int32(), "boolean": pa.bool_(),
        "array<string>": pa.list_(pa.string()),
    }
    return pa.schema(
        (name, types[typ]) for name, typ in (f.split() for f in ddl.split(","))
    )


def _arrow_table(rows, ddl: str):
    """``rows`` (tuples in ``ddl`` column order) as one pyarrow table
    typed by :func:`_arrow_schema`; no rows give the empty table of the
    same schema."""
    import pyarrow as pa

    schema = _arrow_schema(ddl)
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )


def _local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """The one builder of driver-side frames (system views, admin and
    log frames, the memtable tail): ``rows`` typed by ``ddl``, from one
    Arrow table. Spark keeps it as a LocalRelation, so collecting it runs
    no job (a frame built from a Python list is an RDD and runs one per
    action)."""
    return spark.createDataFrame(_arrow_table(rows, ddl))


def _mut_table(rows: list[tuple]):
    """Mutation-log rows (mut_row tuples) as a pyarrow table in log
    column order."""
    return _arrow_table(rows, _MUT_SCHEMA)


def _pk_tokens(keys: list):
    """Murmur3 tokens (int64 numpy array) of distinct partition keys,
    hashed as text. A NULL key hashes as the empty key: it only has to
    land inside its segment's token hull; reads of it never prune."""
    from cassandra_spark.operators.murmur3 import tokens_of_texts

    return tokens_of_texts(["" if k is None else k for k in keys])


# rows per segment row group: the granule of the footer token summary
# (``rg_tokens``) a partition read picks row groups by. Measured on the
# cql_read table shape (3 flushes of 10k mutations, 4 cores): one hot
# partition reads in 3.6 / 3.8 / 3.9 / 4.5 ms at 512 / 1,024 / 2,048 /
# 4,096 rows (18.8 ms as one unsorted group), while per-group
# dictionaries grow the files by 38 / 18 / 7 / 1 %.
_SEG_ROW_GROUP = 2048


def _token_sorted(tbl):
    """Mutation rows ``tbl`` in segment order — by (Murmur3 token, pk),
    the order an SSTable holds its partitions in — and each row's token
    in that order (int64 numpy array). Rows of one partition stay in
    arrival order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    pk = tbl.column("pk")
    keys = pc.unique(pk)
    key_toks = pa.array(_pk_tokens(keys.to_pylist()), type=pa.int64())
    tok = key_toks.take(pc.index_in(pk, value_set=keys))
    order = pc.sort_indices(
        pa.table({"tok": tok, "pk": pk}),
        sort_keys=[("tok", "ascending"), ("pk", "ascending")],
    )
    return tbl.take(order), tok.take(order).to_numpy()


def _mut_rows(tbl) -> list[tuple]:
    """A pyarrow mutation table as ``mut_row`` tuples, decoded a column
    at a time through numpy. Values keep their Python types (``str``,
    ``int``, ``bool`` or None): an int64 column with nulls goes through
    ``to_pylist``, because numpy would turn it into floats with NaN."""
    import pyarrow as pa

    cols = []
    for name in _MUT_COLS:
        col = tbl.column(name)
        if col.null_count and pa.types.is_int64(col.type):
            cols.append(col.to_pylist())
        else:
            cols.append(col.to_numpy(zero_copy_only=False).tolist())
    return list(zip(*cols))


def _write_run(tbl, path: str, codec: str, level: int = 0, tok=None):
    """Write mutation rows ``tbl`` (a pyarrow table in log column order)
    to ``path`` as one segment — the single home of the segment format,
    run on the driver (flush, merges, rewrites) and in Spark tasks
    (distributed merges, bulk loads) alike: the row layout, the footer
    stamps and the partition-key Bloom sidecar (Filter.db analogue,
    persisted so snapshots carry it).

    Every segment is a (token, pk)-sorted run (:func:`_token_sorted`;
    ``tok`` passes the row tokens of an already sorted ``tbl``) in row
    groups of ``_SEG_ROW_GROUP`` rows, as an SSTable is a token-ordered
    run of partitions. Footer stamps (the only key-value metadata
    written, so an input's stale stamps never carry over):

    - ``max_deletion_us``: max(writetime + ttl), or -1 when any row can
      never expire (a no-TTL cell, any tombstone, a counter increment)
      — the reference's per-SSTable maxLocalDeletionTime; -1 marks a
      segment that may NEVER be whole-dropped (TWCS);
    - ``min_token`` / ``max_token``: the Murmur3 token hull of the
      partition keys (the point-read path's range prune);
    - ``rg_tokens``: each row group's ``min max`` token, the Summary.db
      analogue a partition read picks row groups by;
    - ``lcs_level`` when ``level`` >= 1 (the leveled manifest entry a
      keyspace restore rehydrates).

    The stamps and the Bloom filter (sized by a first count of the
    distinct keys) are built one chunk of ``tbl`` at a time, so a
    memory-mapped ``tbl`` (a Spark task's spill, :func:`_write_shard`)
    is written holding one spilled batch's rows, not the run.

    Returns the token hull (None for no rows) and the Bloom filter."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from cassandra_spark.operators.bloom import BloomFilter, sidecar_path

    if tok is None:
        tbl, tok = _token_sorted(tbl)
    n = len(tbl)
    exact = pa.decimal128(20, 0)  # writetime + ttl may pass int64
    mdl = 0
    for b in tbl.to_batches():
        expiring = pc.and_(
            pc.is_in(b.column("kind"), value_set=pa.array([CELL, MARKER])),
            pc.fill_null(pc.not_equal(b.column("ttl"), 0), False),
        )
        if not pc.all(expiring, min_count=0).as_py():
            mdl = -1
            break
        expiry = pc.max(
            pc.add(b.column("writetime").cast(exact),
                   b.column("ttl").cast(exact))
        ).as_py()
        mdl = max(mdl, int(expiry or 0))
    meta = {b"max_deletion_us": str(mdl).encode()}
    rng = None
    if n:
        rng = (int(tok[0]), int(tok[-1]))
        last = np.minimum(np.arange(_SEG_ROW_GROUP, n + _SEG_ROW_GROUP,
                                    _SEG_ROW_GROUP), n) - 1
        hulls = np.column_stack([tok[0:n:_SEG_ROW_GROUP], tok[last]])
        meta[b"min_token"] = str(rng[0]).encode()
        meta[b"max_token"] = str(rng[1]).encode()
        meta[b"rg_tokens"] = " ".join(map(str, hulls.ravel())).encode()
    if level >= 1:
        meta[b"lcs_level"] = str(level).encode()
    pq.write_table(
        tbl.replace_schema_metadata(meta), path,
        compression=codec, row_group_size=_SEG_ROW_GROUP,
    )
    # sorted rows: a new key starts wherever pk changes
    pk = tbl.column("pk")
    changes = pc.sum(pc.not_equal(pk.slice(1), pk.slice(0, max(n - 1, 0))))
    bf = BloomFilter.for_count(1 + (changes.as_py() or 0))
    for chunk in pk.chunks:
        for k in pc.unique(chunk).to_pylist():
            bf.add(k)
    bf.save(sidecar_path(path))
    return rng, bf


def _write_shard(batches, spill, codec, level, purge, schema):
    """One Spark task of a distributed segment write: the task's rows —
    whole partitions, as the shuffle ranges them by token, arriving
    sorted by (token, pk) with their token in ``__tok`` — become one
    run (:func:`_write_run`) at ``{spill}/{partition id}.parquet``,
    after the purge rule (:func:`_purge_keep`) when ``purge`` is
    ``(horizon, clock)``. The task holds one Arrow batch at a time
    (with ``purge``, plus one partition): the rows stream into an Arrow
    IPC spill and their tokens into a raw int64 one, which the writer
    reads memory-mapped. Yields the written path, or nothing for a
    shard left empty."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark import TaskContext

    base = os.path.join(spill, str(TaskContext.get().partitionId()))
    schema_t = _arrow_schema(_MUT_SCHEMA)
    n = 0
    with pa.OSFile(base + ".arrow", "wb") as sink, pa.ipc.new_file(
        sink, schema_t
    ) as rows, open(base + ".tok", "wb") as toks:

        def spill_rows(t):
            nonlocal n
            if purge is not None:
                t = t.filter(_purge_keep(schema, t, *purge))
            rows.write_table(t.select(_MUT_COLS).cast(schema_t))
            toks.write(t.column("__tok").to_numpy().tobytes())
            n += len(t)

        carry = None
        for b in batches:
            t = pa.Table.from_batches([b])
            if purge is None:
                spill_rows(t)
                continue
            if carry is not None:
                t = pa.concat_tables([carry, t])
            if not len(t):
                continue
            # hold back the partition the batch ends in: the purge rule
            # needs all of its rows
            pk = t.column("pk")
            cut = len(t) - pc.sum(pc.equal(pk, pk[-1])).as_py()
            spill_rows(t.slice(0, cut))
            carry = t.slice(cut)
        if carry is not None:
            spill_rows(carry)
    if n:
        with pa.memory_map(base + ".arrow") as src:
            _write_run(
                pa.ipc.open_file(src).read_all(), base + ".parquet", codec,
                level, np.memmap(base + ".tok", dtype=np.int64, mode="r"),
            )
    os.remove(base + ".arrow")
    os.remove(base + ".tok")
    if n:
        yield pa.RecordBatch.from_pydict({"path": [base + ".parquet"]})


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


def _json_text(v) -> str:
    """The canonical JSON rendering of a cell: compact separators, raw
    UTF-8 — byte-identical to Spark's ``to_json``."""
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def _cql_literal(x, typ: str) -> str:
    """A JSON value as the CQL literal of type ``typ`` the VALUES form
    carries: strings quoted, numbers and booleans bare, a struct's object
    with bare field names, a map's keys as literals, lists and sets
    bracketed."""
    if x is None:
        return "null"
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, (int, float)):
        return repr(x)
    if isinstance(x, str):
        return "'" + x.replace("'", "''") + "'"
    fields = parse_struct_type(typ)
    coll = parse_coll_type(typ) if is_coll_type(typ) else None
    if isinstance(x, dict) and fields is not None:
        types = dict(fields)
        return "{" + ", ".join(
            f"{k}: {_cql_literal(v, types.get(k.lower(), ''))}"
            for k, v in x.items()
        ) + "}"
    if isinstance(x, dict) and coll is not None and coll[0] == "map":
        return "{" + ", ".join(
            f"{_cql_literal(k, coll[1])}: {_cql_literal(v, coll[2])}"
            for k, v in x.items()
        ) + "}"
    if isinstance(x, list) and coll is not None:
        o, c = ("{", "}") if coll[0] == "set" else ("[", "]")
        return o + ", ".join(_cql_literal(v, coll[1]) for v in x) + c
    raise CQLError(f"unsupported JSON value for {typ!r}: {x!r}")


def _field_value(ftype: str):
    """Canonical-string field value → the Python value json.dumps renders
    exactly as Spark's to_json() would for the field's Spark type: the
    converter for one declared type, chosen once."""
    canon = _int_canon(ftype)
    if canon is not None:  # validated like a top-level int-family value
        return lambda v: int(canon(v))
    ft = ftype.strip().lower()
    if ft in _INT_FIELD_TYPES or ft.startswith("decimal"):
        return int
    if ft in ("float", "double"):
        return float
    if ft == "boolean":
        return lambda v: v == "true"
    return str  # string family (text/inet/uuid/...)


def _struct_pyval(typ: str):
    """The codec of one struct type: a CQL literal → its Python value
    (declared field order, null fields omitted), None for NULL.

    Accepts the UDT form ``{field: lit, ...}``, the tuple form
    ``(lit, ...)`` (fields bind positionally to the declared c0..cN), or
    a bare duration literal when ``typ`` is the duration struct. Nested
    struct fields compile to their own codecs here, so a value is parsed
    without re-reading the type text."""
    fields = parse_struct_type(typ)
    assert fields is not None
    nested = {
        n: _struct_pyval(ft)
        for n, ft in fields
        if parse_struct_type(ft) is not None
    }
    conv = {n: _field_value(ft) for n, ft in fields if n not in nested}
    duration = typ.replace(" ", "") == DURATION_STRUCT.replace(" ", "")

    def field(name: str, v: str):
        if name in nested:
            return nested[name](v)
        pv = _parse_literal(v)
        return None if pv is None else conv[name](pv)

    def parse(tok: str):
        tok = tok.strip()
        if _NULL_RE.fullmatch(tok):
            return None
        if tok.startswith("{") and tok.endswith("}"):
            seen = {}
            body = tok[1:-1].strip()
            for item in _split_csv(body) if body else []:
                k, v = _split_colon(item)
                name = k.strip().lower()
                if name not in nested and name not in conv:
                    raise CQLError(f"unknown struct field {name!r} in {tok!r}")
                seen[name] = field(name, v.strip())
            return {n: seen[n] for n, _ in fields if seen.get(n) is not None}
        if tok.startswith("(") and tok.endswith(")"):
            vals = _split_csv(tok[1:-1])
            if len(vals) > len(fields):
                raise CQLError(f"too many tuple fields in {tok!r}")
            out = {}
            for (name, _), v in zip(fields, vals):
                x = field(name, v.strip())
                if x is not None:
                    out[name] = x
            return out
        if duration:
            months, days, nanos = parse_duration(tok)
            return {"months": months, "days": days, "nanos": nanos}
        raise CQLError(f"bad struct literal for {typ!r}: {tok!r}")

    return parse


def _pyval_codec(typ: str):
    """The codec of one (possibly nested) type: CQL literal text → the
    Python value ``json.dumps`` renders exactly as Spark's ``to_json``
    would for the Spark type ``typ``. Recursive over frozen nested
    collections and struct elements. Canonical forms: set elements
    sorted by their typed value, map keys sorted (and rendered as
    JSON-object string keys, Spark's convention) — the same
    deterministic order the top-level snapshot pivot produces with
    ``array_sort`` / sorted ``map_from_entries``."""
    if parse_struct_type(typ) is not None:
        return _struct_pyval(typ)
    coll = parse_coll_type(typ) if is_coll_type(typ) else None
    if coll is None:
        conv = _field_value(typ)

        def scalar(tok: str):
            v = _parse_literal(tok)
            return None if v is None else conv(v)

        return scalar
    kind, t1, t2 = coll
    sub = _pyval_codec(t2 if kind == "map" else t1)

    def parse(tok: str):
        tok = tok.strip()
        if _NULL_RE.fullmatch(tok):
            return None
        if kind != "map":
            if not (
                (tok.startswith("[") and tok.endswith("]"))
                or (tok.startswith("{") and tok.endswith("}"))
            ):
                raise CQLError(f"bad {kind} literal for {typ!r}: {tok!r}")
            body = tok[1:-1].strip()
            items = [sub(i) for i in (_split_csv(body) if body else [])]
            if any(i is None for i in items):
                raise CQLError("null is not a valid collection element")
            if kind == "set":
                # canonical set order = the element's natural order (the
                # reference renders sets sorted); dedup on the rendered
                # form, order by typed value where comparable
                dedup = {json.dumps(i): i for i in items}
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
            vv = sub(v.strip())
            if kv is None or vv is None:
                raise CQLError("null is not a valid map key/value")
            out[str(kv)] = vv
        return {k: out[k] for k in sorted(out)}

    return parse


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


def _json_codec(typ: str):
    """A struct-typed or frozen nested-collection literal → ONE canonical
    JSON string for its cell (None for NULL): struct fields in declared
    order with nulls omitted, compact separators, raw UTF-8 — byte-
    identical to Spark's ``to_json``, so snapshot re-typing is a uniform
    ``from_json`` and the DuckDB oracle compares identical bytes (the
    reference's frozen<...> nesting `[C* cql3/CQL3Type.Raw,
    unverified]`)."""
    pyval = _pyval_codec(typ)

    def codec(tok: str) -> str | None:
        v = pyval(tok)
        return None if v is None else _json_text(v)

    return codec


def struct_json(tok: str, typ: str) -> str | None:
    """One struct-typed or frozen nested-collection literal → its
    canonical JSON cell (the write path keeps the compiled
    :func:`_json_codec`)."""
    return _json_codec(typ)(tok)


coll_json = struct_json


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
            return self.pk_norm(self.partition_cols[0], pairs)
        vals = []
        for c in self.partition_cols:
            v = self.pk_norm(c, pairs)
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

    def pk_norm(self, col: str, pairs: dict[str, str | None]) -> str | None:
        """Partition key component ``col`` of ``pairs`` in one spelling
        per value ('05' and '5' are one int partition, as the typed
        read compares them), so a read can name the stored key."""
        v = pairs[col]
        typ = self.key_types.get(col)
        if v is None or typ not in _KEY_NORM_TYPES:
            return v
        return _index_norm(v, typ)


_KEY_ROLES = frozenset({"partition", "clustering"})


class Column:
    """One column of a :class:`ColumnTable`: its role (``partition``,
    ``clustering``, ``static`` or ``regular``), its kind and its value
    codecs, resolved from the type text once.

    Kinds: ``scalar``; ``list`` / ``set`` / ``map`` (``coll`` holds the
    parsed type, ``elem`` the element codec — a map's key codec, for its
    key-set literals — ``key`` / ``val`` a map's key and value codecs,
    ``dims`` a vector's arity); ``struct`` (frozen UDT, tuple or
    duration: ``lit`` renders the canonical JSON cell); ``udt`` (a
    non-frozen UDT: ``lit`` gives the field cells, ``fields`` maps each
    declared field to its codec); ``counter``. ``norm`` is the int
    family's canonicalizer of a cell text, None for other types."""

    __slots__ = (
        "name", "role", "typ", "kind", "coll", "dims", "norm",
        "lit", "elem", "key", "val", "fields",
    )

    def __init__(
        self, name: str, role: str, typ: str,
        nonfrozen: bool = False, dims: int | None = None,
        counter: bool = False,
    ) -> None:
        self.name, self.role, self.typ, self.dims = name, role, typ, dims
        self.coll = self.fields = None
        self.norm = _int_canon(typ)
        self.lit = _scalar_codec(typ)
        self.elem = self.key = self.val = _parse_literal
        if role in _KEY_ROLES:
            self.kind = "scalar"
        elif nonfrozen:
            self.kind = "udt"
            self.fields = {
                n: _elem_codec(ft) for n, ft in parse_struct_type(typ)
            }
            self.lit = self._udt_cells
        elif parse_struct_type(typ) is not None:
            self.kind = "struct"
            self.lit = _json_codec(typ)
        elif (coll := parse_coll_type(typ)) is not None:
            self.kind, t1, t2 = self.coll = coll
            # a collection column's whole-value scalar is only NULL
            self.lit = _parse_literal
            if self.kind == "map":
                self.elem = self.key = _scalar_codec(t1)
                self.val = _elem_codec(t2)
            else:
                self.elem = _elem_codec(t1)
        else:
            self.kind = "counter" if counter else "scalar"

    def parse(self, tok: str):
        """A whole-value right-hand side → ``("scalar", v)``,
        ``("list" | "set" | "map", items)`` or ``("udt", cells)``."""
        if self.kind == "udt":
            return "udt", self.lit(tok)
        if self.kind == "struct":
            return "scalar", self.lit(tok)
        return _parse_value(tok, self.lit, self.elem, self.key, self.val)

    def _udt_cells(self, tok: str):
        """Non-frozen-UDT literal → per-FIELD cell values in declared
        field order: [(field, value-or-None), ...] with None for fields
        absent from (or null in) the literal. A NULL literal returns
        None (whole-column tombstone)."""
        tok = tok.strip()
        if _NULL_RE.fullmatch(tok):
            return None
        if not (tok.startswith("{") and tok.endswith("}")):
            raise CQLError(f"bad UDT literal for {self.typ!r}: {tok!r}")
        seen: dict[str, str | None] = {}
        body = tok[1:-1].strip()
        for item in _split_csv(body) if body else []:
            k, v = _split_colon(item)
            name = k.strip().lower()
            codec = self.fields.get(name)
            if codec is None:
                raise CQLError(f"unknown struct field {name!r} in {tok!r}")
            seen[name] = codec(v.strip())
        return [(name, seen.get(name)) for name in self.fields]


class ColumnTable:
    """A table's schema compiled for the write path: every column's
    :class:`Column` and the key columns. A DML statement looks its
    columns up here and only lexes, validates, canonicalizes and emits;
    the type text is parsed once per schema version, when
    :meth:`CqlTable.bump_schema_version` builds the table. The read
    paths take their column views (``coll_regular``,
    ``scalar_regular``) from the same table."""

    def __init__(self, s: TableSchema) -> None:
        self.partition = tuple(s.partition_cols)
        self.clustering = tuple(s.clustering)
        self.key_cols = self.partition + self.clustering
        self.key_set = frozenset(self.key_cols)
        cols = {c: Column(c, "partition", s.key_type(c)) for c in self.partition}
        cols.update(
            (c, Column(c, "clustering", s.key_type(c))) for c in self.clustering
        )
        cols.update((c, Column(c, "static", t)) for c, t in s.static.items())
        cols.update(
            (c, Column(
                c, "regular", t, nonfrozen=c in s.nonfrozen,
                dims=s.vector_dims.get(c), counter=s.counter,
            ))
            for c, t in s.regular.items()
        )
        self.cols = cols
        regular = [col for col in cols.values() if col.role == "regular"]
        self.coll_regular = {
            col.name: col.coll for col in regular if col.coll is not None
        }
        self.scalar_regular = {
            col.name: col.typ for col in regular if col.coll is None
        }

    def all_static(self, names) -> bool:
        """True when ``names`` is non-empty and every name is a static
        column (the reference allows pk-only statements on statics)."""
        names = list(names)
        return bool(names) and all(
            (col := self.cols.get(c)) is not None and col.role == "static"
            for c in names
        )


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
# one string literal ('' escapes included; a literal never ends right
# before another quote, so each text splits into literals one way only).
# The UPDATE / DELETE forms step over whole literals and _split_unquoted
# rejoins a split inside one, so a WHERE, IF, AND or ';' inside a value
# stays part of the value.
_LIT = r"'[^']*(?:''[^']*)*'(?!')"
_TEXT = rf"(?:[^']|{_LIT})+?"
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<table>\w+)\s*(?:USING\s+(?P<using>.+?)\s+)?"
    rf"SET\s+(?P<set>{_TEXT})\s+WHERE\s+(?P<where>{_TEXT})"
    r"(?:\s+IF\s+(?P<cond>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    rf"^\s*DELETE\s*(?P<cols>(?:[^;']|{_LIT})*?)\s*FROM\s+(?P<table>\w+)"
    r"\s*(?:USING\s+TIMESTAMP\s+(?P<ts>\d+)\s+)?"
    rf"WHERE\s+(?P<where>{_TEXT})(?:\s+IF\s+(?P<cond>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COND_RE = re.compile(r"^(\w+)\s*(=|!=|<=|>=|<|>)\s*(.+)$", re.DOTALL)
_BATCH_RE = re.compile(
    r"^\s*BEGIN\s+(?P<kind>UNLOGGED\s+|LOGGED\s+|COUNTER\s+)?BATCH\s+"
    r"(?:USING\s+TIMESTAMP\s+(?P<bts>\d+)\s+)?(?P<body>.+?)\s*"
    r"APPLY\s+BATCH\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


# separators, captured so _split_unquoted can rejoin one inside a literal
_STMT_SEP_RE = re.compile(r"(;\s*)")
_AND_SEP_RE = re.compile(r"(\s+AND\s+)", re.IGNORECASE)


def _split_unquoted(text: str, sep: re.Pattern) -> list[str]:
    """``text`` split at the separators ``sep`` matches outside string
    literals: a part that leaves a literal open (an odd number of quotes
    so far, an escaped '' counting twice) joins the next part again."""
    pieces = sep.split(text)
    parts, open_ = [pieces[0]], pieces[0].count("'") % 2
    for i in range(1, len(pieces), 2):
        if open_:
            parts[-1] += pieces[i] + pieces[i + 1]
        else:
            parts.append(pieces[i + 1])
        open_ ^= pieces[i + 1].count("'") % 2
    return parts


def batch_subs(m: re.Match) -> list[str]:
    """The sub-statements of a :data:`_BATCH_RE` match."""
    return [
        sub for sub in _split_unquoted(m.group("body"), _STMT_SEP_RE)
        if sub.strip()
    ]


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
_LEAD_NAME_RE = re.compile(r"\s*(\w+)")


def _lead_name(item: str) -> str | None:
    """The column a SET item or DELETE selector starts with (None when
    it starts with no name; the item's own parse then rejects it)."""
    m = _LEAD_NAME_RE.match(item)
    return m.group(1).lower() if m else None


_AND_RE = re.compile(r"\s+AND\s+", re.IGNORECASE)
_USING_RE = re.compile(r"(TIMESTAMP|TTL)\s+(\d+)", re.IGNORECASE)


def _parse_using(using: str | None) -> tuple[int | None, int | None]:
    """USING TIMESTAMP n [AND TTL m] in either order → (ts, ttl)."""
    ts = ttl = None
    if not using:
        return ts, ttl
    for part in _AND_RE.split(using.strip()):
        m = _USING_RE.fullmatch(part.strip())
        if m is None:
            raise CQLError(f"bad USING clause: {part.strip()!r}")
        if m.group(1).upper() == "TIMESTAMP":
            ts = int(m.group(2))
        else:
            ttl = int(m.group(2))
    return ts, ttl


_NULL_RE = re.compile(r"NULL", re.IGNORECASE)
_LITERAL_RE = re.compile(
    r"(NULL)|'(.*)'|(?:-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|true|false)",
    re.IGNORECASE | re.DOTALL,
)


def _parse_literal(tok: str) -> str | None:
    """Scalar CQL literal → its cell text: a quoted string unquoted with
    '' unescaped, an unquoted number or boolean lower-cased, NULL → None.
    The text is the literal as written, not a canonical form; the
    column codecs (:class:`Column`) canonicalize the int family, and
    every other type is cast at read time."""
    tok = tok.strip()
    m = _LITERAL_RE.fullmatch(tok)
    if m is None:
        raise CQLError(f"unsupported CQL literal: {tok!r}")
    if m.group(1) is not None:
        return None
    quoted = m.group(2)
    if quoted is not None:
        return quoted.replace("''", "'")
    return tok.lower()


# the int family's value ranges, by Spark type name
_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}
# the spellings Spark's (ANSI) string-to-integer cast reads: ASCII digits
# with an optional sign, padded by whitespace and control characters
_INT_SPELLING_RE = re.compile(r"[\x00-\x20]*([+-]?)([0-9]+)[\x00-\x20]*")


def _int_canon(typ: str):
    """The canonicalizer of an int-family type (None for other types):
    a cell text → its one spelling ('05', '+5' and ' 5 ' are all '5'),
    or CQLError when the text is not an integer in the type's range —
    the reference validates a value against its column type at write
    time, so no stored cell can fail the read-time cast."""
    bits = _INT_BITS.get(typ.strip().lower())
    if bits is None:
        return None
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1

    def canon(v: str) -> str:
        m = _INT_SPELLING_RE.fullmatch(v)
        # past 19 significant digits no type's range holds the value
        digits = m.group(2).lstrip("0") if m is not None else None
        if digits is not None and len(digits) <= 19:
            n = int(digits or "0")
            n = -n if m.group(1) == "-" else n
            if lo <= n <= hi:
                return str(n)
        raise CQLError(f"invalid {typ} value: {v!r}")

    return canon


def _scalar_codec(typ: str):
    """A scalar column's (or element's) literal codec: the literal lexer,
    then the type's canonicalizer when it has one."""
    canon = _int_canon(typ)
    if canon is None:
        return _parse_literal

    def codec(tok: str) -> str | None:
        v = _parse_literal(tok)
        return None if v is None else canon(v)

    return codec


def _elem_codec(typ: str):
    """The codec of a collection element, a map value or a non-frozen UDT
    field: struct types and frozen nested collections store one
    canonical-JSON string per cell, scalars their literal text."""
    if parse_struct_type(typ) is not None or is_coll_type(typ):
        return _json_codec(typ)
    return _scalar_codec(typ)


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


# key types whose canonical spellings pk_norm rewrites (text keys are
# already stored as written)
_KEY_NORM_TYPES = INDEX_EQ_TYPES - {"string"}


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


# one token of a literal list: a quoted string (to its closing quote, or
# to the end when unterminated), a bracket, or a separator
_LEX_RE = re.compile(r"'[^']*'?|[\[\]{}(),:]")
_OPEN, _CLOSE = "[{(", "]})"


def _top_level(text: str, sep: str):
    """Offsets of ``sep`` (``,`` or ``:``) outside single quotes and
    outside [ ] / { } / ( ) brackets (parens nest tuple literals) — a
    struct literal's field colons ({a: 1} as a set element) sit at depth
    > 0 and must not read as a map separator."""
    depth = 0
    for m in _LEX_RE.finditer(text):
        ch = m.group()
        if ch == sep:
            if not depth:
                yield m.start()
        elif ch in _OPEN:
            depth += 1
        elif ch in _CLOSE:
            depth -= 1


def _split_csv(text: str) -> list[str]:
    """Split on top-level commas."""
    out: list[str] = []
    start = 0
    for i in _top_level(text, ","):
        out.append(text[start:i].strip())
        start = i + 1
    out.append(text[start:].strip())
    return out


def _colon_at(item: str) -> int | None:
    """Offset of the first top-level colon, or None."""
    return next(_top_level(item, ":"), None)


def _top_level_colon(item: str) -> bool:
    return _colon_at(item) is not None


def _split_colon(item: str) -> tuple[str, str]:
    i = _colon_at(item)
    if i is None:
        raise CQLError(f"bad map entry: {item!r}")
    return item[:i], item[i + 1 :]


def _parse_value(
    tok: str,
    lit=_parse_literal,
    elem=_parse_literal,
    key=_parse_literal,
    val=_parse_literal,
):
    """Scalar or collection literal, parsed by the given codecs.

    Returns ``("scalar", lit(tok))``, ``("list", [elem(v), ...])``,
    ``("set", [elem(v), ...])`` or ``("map", [(key(k), val(v)), ...])``.
    ``{}`` is a set/map ambiguity resolved as empty map (both mean "no
    elements" here). A column passes its own codecs (:class:`Column`);
    the defaults parse type-blind."""
    tok = tok.strip()
    if tok.startswith("[") and tok.endswith("]"):
        body = tok[1:-1].strip()
        return "list", [elem(i) for i in (_split_csv(body) if body else [])]
    if tok.startswith("{") and tok.endswith("}"):
        body = tok[1:-1].strip()
        items = _split_csv(body) if body else []
        if any(_top_level_colon(i) for i in items):
            pairs = []
            for i in items:
                k, v = _split_colon(i)
                pairs.append((key(k), val(v.strip())))
            return "map", pairs
        return ("map", []) if not items else (
            "set", [elem(i) for i in items]
        )
    return "scalar", lit(tok)


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


def _order_key(v: str | None, typ: str) -> tuple:
    """Sort key that orders canonical key strings the way Spark orders
    ``CAST(v AS typ)`` ascending, nulls first: numerics as exact
    Decimal (NaN above every number), booleans false < true, date and
    timestamp text as instants (naive = UTC, the session zone), other
    types as strings (UTF-8 byte order = code point order). A value
    that does not parse sorts last; the cast then fails it anyway."""
    from datetime import datetime, timezone
    from decimal import Decimal, InvalidOperation

    if v is None:
        return (0,)
    t = typ.split("(")[0].strip().lower()
    try:
        if t in _NUMERIC_TYPES or t in ("varint", "decimal"):
            d = Decimal(v)
            return (2,) if d.is_nan() else (1, d)
        if t in ("timestamp", "date"):
            ts = datetime.fromisoformat(v.strip().replace("Z", "+00:00"))
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=timezone.utc)
            return (1, ts)
    except (InvalidOperation, ValueError):
        return (3, v)
    if t == "boolean":
        return (1, v.lower() == "true")
    return (1, v)


def _range_covers(schema, prefix_j, lo, hi, lo_incl, hi_incl, ck) -> bool:
    """Does a range tombstone (prefix + optional bounds on the next
    clustering column of ``schema``) cover the clustering tuple ``ck``?"""
    pref = [] if prefix_j == "" else prefix_j.split(SEP)
    if list(ck[: len(pref)]) != pref:
        return False
    if lo is None and hi is None:
        return True
    idx = len(pref)
    typ = schema.key_type(schema.clustering[idx])
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


def _purge_keep(schema, tbl, horizon: int, clock: int):
    """GC's purge rule, the ``nodetool garbagecollect`` purge evaluator
    (`[C* db/compaction/CompactionController :: getPurgeEvaluator —
    gc_grace_seconds, unverified]`): a numpy bool mask of the rows of
    ``tbl`` that survive. ``tbl`` must hold every mutation of each
    partition it holds (a merge of all live segments, or one token-range
    shard of it). Drops exactly:

    - data cells SHADOWED by a partition/row/range/collection tombstone
      (cell_wt <= tomb_wt, the engine's strict-> rule) or out-ranked by
      a cell tombstone on the same (col, elem) — droppable even under a
      YOUNG tombstone, which itself survives to keep shadowing other
      replicas' data;
    - whole (col, elem) cell groups whose LWW winner is TTL-EXPIRED at
      ``clock`` AND whose EXPIRY time (wt + ttl, the reference's
      localDeletionTime) is before ``horizon`` — winner and every older
      cell together, never separately: dropping only the expired winner
      would resurrect the older value. Gating on expiry (not write
      time) keeps ``snapshot_pitr(ts)`` exact for every horizon < ts <
      wt + ttl, where the cell was still live;
    - tombstones of every scope with writetime < ``horizon`` (past
      gc_grace; younger markers survive).

    Superseded-but-unshadowed older data cells are KEPT (they cost
    bytes, not correctness, and asof reads between generations stay
    exact)."""
    import numpy as np

    rows = _mut_rows(tbl)
    part: dict = {}
    rowt: dict = {}
    collt: dict = {}
    ranges: dict = {}  # pk -> range tombstone rows
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
            ranges.setdefault(pk, []).append(r)
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
            for rr in ranges.get(pk, ()):
                if _range_covers(schema, rr[1], *rr[9:13], ckt):
                    hor = max(hor, rr[6])
        return hor

    # pass 1: tombstones by age, tombstone-shadow drops on data cells
    keep = np.zeros(len(rows), dtype=bool)
    groups: dict = {}  # (pk, ck, col, elem) -> surviving data row indexes
    for i, r in enumerate(rows):
        pk, ck, col, elem, _v, kind, wt, _ttl, seq = r[:9]
        if kind in _TOMB_KINDS:
            keep[i] = wt >= horizon  # young marker: keep shadowing
            continue
        if wt <= scope_horizon(pk, ck, col):
            continue
        if (wt, 0, seq) < cell_tomb_rank.get((pk, ck, col, elem), (-1, 0, -1)):
            continue
        groups.setdefault((pk, ck, col, elem), []).append(i)
    # pass 2: expired-winner groups drop WHOLE (resurrection guard)
    for idx in groups.values():
        win = max((rows[i] for i in idx), key=lambda r: (r[6], r[8]))
        wt, ttl = win[6], win[7]
        if not (ttl and wt + ttl <= clock and wt + ttl < horizon):
            keep[idx] = True
    return keep


def _reconcile_partition(schema, muts, asof: int):
    """The read-time reconcile of one partition — the engine's one rule,
    run on the driver for a pinned read, an LWT condition or a list-index
    write (:meth:`CqlTable._reconcile`) and in each token-range task of a
    scan (:func:`_scan_splits`), as the reference's single-partition and
    range reads share one merge (`[C* db/rows/UnfilteredRowIterators
    #merge, unverified]`). ``muts`` are the partition's ``mut_row``
    tuples in any order.

    Per (ck, col, elem) the newest writetime wins, a tombstone wins a
    tie, then arrival seq; a cell at or below its partition, row,
    covering range or collection tombstone is dead; TTL expires at
    ``asof``. Static cells (ck NULL) reconcile per column and only a
    partition tombstone shadows them. A counter table sums instead: a
    counter cell is the sum of its increments strictly newer than every
    cell, row, range or partition tombstone covering it (a tombstone
    wins a tie; the reference leaves re-increment after a delete
    undefined, and this pins the deterministic reading).

    Returns ``(rows, statics, n_tombs)``: ``rows`` maps each live
    joined clustering key to its live cells ``{(col, elem): (writetime,
    val, ttl)}`` (the row marker is ``(None, None)``; a counter's val is
    its sum as text), ``statics`` maps each live static column to
    ``(writetime, val, ttl)``, and ``n_tombs`` counts the deletion
    markers read."""
    pt = None
    rts: dict = {}  # ck -> max row-tomb writetime
    gts: dict = {}  # (ck, col) -> max coll-tomb writetime
    ranges = []
    best: dict = {}  # (ck, col, elem) -> (rank, kind, val, ttl)
    sbest: dict = {}  # static col -> (rank, kind, val, ttl)
    incrs: dict = {}  # (ck, col) -> [(writetime, delta)]
    n = 0
    for (_, ck, col, elem, val, kind, wt, ttl, seq,
         lo, hi, li, hi_i) in muts:
        if kind in _TOMB_KINDS:
            n += 1
        if kind == PART_TOMB:
            pt = wt if pt is None else max(pt, wt)
        elif kind == ROW_TOMB:
            rts[ck] = max(rts.get(ck, wt), wt)
        elif kind == RANGE_TOMB:
            ranges.append((ck, lo, hi, li, hi_i, wt))
        elif kind == COLL_TOMB:
            gts[ck, col] = max(gts.get((ck, col), wt), wt)
        elif kind == INCR:
            incrs.setdefault((ck, col), []).append((wt, int(val)))
        elif kind in (CELL, MARKER, CELL_TOMB):
            if ck is None:
                if kind == MARKER:
                    continue
                store, key = sbest, col
            else:
                store, key = best, (ck, col, elem)
            rank = (wt, kind == CELL_TOMB, seq)
            prev = store.get(key)
            if prev is None or rank > prev[0]:
                store[key] = (rank, kind, val, ttl)
    horizons: dict = {}  # ck -> newest partition/row/range tombstone

    def horizon(ck):
        if ck not in horizons:
            hs = [h for h in (pt, rts.get(ck)) if h is not None]
            if ranges:
                tup = tuple(ck.split(SEP))
                hs += [
                    w for (p, lo, hi, li, hi_i, w) in ranges
                    if _range_covers(schema, p, lo, hi, li, hi_i, tup)
                ]
            horizons[ck] = max(hs) if hs else None
        return horizons[ck]

    def shadowed(wt, *tombs) -> bool:
        return any(t is not None and wt <= t for t in tombs)

    rows: dict = {}
    for (ck, col, elem), ((wt, _, _), kind, val, ttl) in best.items():
        if kind == CELL_TOMB or (ttl and wt + ttl <= asof):
            continue
        if not shadowed(wt, horizon(ck), gts.get((ck, col))):
            rows.setdefault(ck, {})[col, elem] = (wt, val, ttl)
    for (ck, col), deltas in incrs.items():
        tomb = best.get((ck, col, None))
        live = [
            (wt, d) for wt, d in deltas
            if not shadowed(wt, horizon(ck), tomb and tomb[0][0])
        ]
        if live:
            rows.setdefault(ck, {})[col, None] = (
                max(wt for wt, _ in live), str(sum(d for _, d in live)), 0,
            )
    statics = {
        col: (wt, val, ttl)
        for col, ((wt, _, _), kind, val, ttl) in sbest.items()
        if kind != CELL_TOMB
        and not (ttl and wt + ttl <= asof)
        and not shadowed(wt, pt)
    }
    return rows, statics, n


def _row_values(schema, multi, state: dict, asof: int) -> dict:
    """The one row builder: reconciled partitions ``state`` (``{pk:
    (rows, statics)}`` of :func:`_reconcile_partition`) as untyped
    visible columns, name -> values, one wide row per live (pk, ck) in
    the snapshot's order (typed keys ascending, nulls first; a partition
    with only static cells shows one NULL-clustering row). Each key
    component is its own string column; a scalar or static column holds
    its winning cell string, its ``__writetime_`` and its ``__ttl_``
    (the cell's remaining TTL at ``asof``, NULL without one); a
    multi-cell column (``multi``: collections and non-frozen UDTs) holds
    its live cells as ``{elem, val}`` structs and its
    ``__maxwritetime_``; a counter holds its sum. The driver's
    :meth:`CqlTable.partition_frame` and the scan tasks type the result
    by the same :meth:`CqlTable._visible_columns` rule."""
    s = schema
    keys = [(c, s.key_type(c)) for c in s.partition_cols]
    cks = [(c, s.key_type(c)) for c in s.clustering]
    vals: dict[str, list] = defaultdict(list)

    def parts(joined, kts):
        if joined is None:
            return [None] * len(kts)
        return joined.split(SEP) if len(kts) > 1 else [joined]

    def order(joined, kts):
        return [
            _order_key(v, t) for v, (_, t) in zip(parts(joined, kts), kts)
        ]

    def scalar(c, cs):
        # cs: [(elem, writetime, val, ttl)] of one column
        win = max(cs, key=lambda x: x[1], default=(None, None, None, None))
        vals[c].append(max((x[2] for x in cs if x[2] is not None),
                           default=None))
        if s.counter:
            return
        vals[f"__writetime_{c}"].append(win[1])
        vals[f"__ttl_{c}"].append(win[1] + win[3] - asof if win[3] else None)

    for pk in sorted(state, key=lambda p: order(p, keys)):
        rows, statics = state[pk]
        pk_parts = parts(pk, keys)
        for ck in sorted(rows, key=lambda k: order(k, cks)) or [None]:
            for (c, _), v in zip(keys, pk_parts):
                vals[c].append(v)
            for (c, _), v in zip(cks, parts(ck, cks)):
                vals[c].append(v)
            cells: dict = {}  # col -> [(elem, writetime, val, ttl)]
            for (col, elem), (wt, v, ttl) in rows.get(ck, {}).items():
                cells.setdefault(col, []).append((elem, wt, v, ttl))
            for c in s.regular:
                cs = cells.get(c, [])
                if c in multi:
                    vals[c].append([{"elem": e, "val": v} for e, _, v, _ in cs])
                    vals[f"__maxwritetime_{c}"].append(
                        max((w for _, w, _, _ in cs), default=None)
                    )
                else:
                    scalar(c, cs)
            for c in s.static:
                cell = statics.get(c)
                scalar(c, [(None, *cell)] if cell else [])
    return vals


def _token_splits(n: int) -> list[tuple[int, int]]:
    """``n`` contiguous, inclusive (lo, hi) ranges that split the whole
    Murmur3 token ring evenly."""
    first = -(1 << 63)
    bounds = [first + (i << 64) // n for i in range(n + 1)]
    return [(a, b - 1) for a, b in zip(bounds, bounds[1:])]


def _scan_splits(batches, schema, multi, segs, tail, asof, max_wt, fields):
    """One Spark task of a scan (:meth:`CqlTable.snapshot`): for each
    token-range split ``(lo, hi)`` in its input, read only the row
    groups of each segment in ``segs`` ((path, row-group token hulls))
    whose hull meets the range, and the memtable rows ``tail`` in it —
    a partition read keyed by a range instead of by keys, so no segment
    crosses a shuffle — drop writetimes past ``max_wt`` (PITR), then
    reconcile one partition at a time (:func:`_reconcile_partition`)
    and yield the wide rows (:func:`_row_values`) as Arrow batches of
    ``fields`` ((name, Arrow type) pairs; a column no row fills is
    NULL)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def in_range(tbl, lo, hi):
        pk = tbl.column("pk")
        keys = pc.unique(pk)
        tok = _pk_tokens(keys.to_pylist())
        tbl = tbl.filter(pc.is_in(pk, value_set=keys.filter(
            pa.array((tok >= lo) & (tok <= hi))
        )))
        if max_wt is not None:
            tbl = tbl.filter(pc.less_equal(tbl.column("writetime"), max_wt))
        return _mut_rows(tbl)

    for b in batches:
        for lo, hi in zip(b.column("lo").to_pylist(),
                          b.column("hi").to_pylist()):
            by_pk: dict = {}
            rows = in_range(tail, lo, hi)
            for path, hulls in segs:
                hit = (hulls[:, 0] <= hi) & (hulls[:, 1] >= lo)
                if hit.any():
                    rows += in_range(pq.ParquetFile(path).read_row_groups(
                        np.flatnonzero(hit).tolist()
                    ), lo, hi)
            for r in rows:
                by_pk.setdefault(r[0], []).append(r)
            state = {}
            for pk, muts in by_pk.items():
                live, statics, _ = _reconcile_partition(schema, muts, asof)
                if live or statics:
                    state[pk] = (live, statics)
            vals = _row_values(schema, multi, state, asof)
            n = len(next(iter(vals.values()), ()))
            yield from pa.table(
                [pa.array(vals.get(c) or [None] * n, t) for c, t in fields],
                schema=pa.schema(fields),
            ).to_batches()


class CqlTable:
    """A mutable CQL table: DML statements append to a cell-mutation log;
    ``snapshot(asof_us)`` reconciles it into the visible rows.

    Driver-memory bound (measured, see BASELINE.md "DML front-end"): the
    in-memory log costs ~1 KB/mutation of driver RSS and the log→DataFrame
    conversion is O(N) driver CPU, so an unbounded session front-end binds
    at a few million mutations. Two escape hatches keep it bounded:

    - the log→DataFrame conversion builds each ``_ARROW_CHUNK``-row
      slice of the tail as one Arrow table (:func:`_mut_table`'s builder,
      through :func:`_local_frame`), so the conversion copy never exceeds
      ``_ARROW_CHUNK`` rows and collecting the tail runs no Spark job;
    - the memtable flushes to parquet segments past ``spill_threshold``
      (the memtable→SSTable move) BY DEFAULT — a temp spill dir is
      auto-provisioned when ``spill_dir`` wasn't given, and
      ``spill_threshold=None`` is the explicit opt-out: driver RSS stays
      O(threshold), ``mutation_log()`` unions the segment scan (executor
      side, scales with the cluster) with the in-memory tail, and the LWT
      read path consults segments via a pyarrow read of the row groups
      whose token hull holds the partition (one partition's cells, the
      same bounded read a replica serves).
    """

    _ARROW_CHUNK = 250_000  # rows per Arrow tail slice (bounds the copy)

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
        # compaction merges (garbage collection included) whose input
        # bytes reach this threshold run as ONE Spark job (executor
        # read/decode/shuffle/write) instead of the driver-side pyarrow
        # concat. Below it the driver path IS faster (no job overhead).
        # None disables the Spark path outright.
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
        # the schema compiled for the write path (bump_schema_version
        # rebuilds it whenever the schema changes in place)
        self._ct = ColumnTable(schema)
        # per-segment partition-key Bloom filters (the SSTable Filter.db
        # analogue, operators/bloom.py) + nodetool-tablestats-style
        # counters; filters load/rebuild lazily so restored segments work
        self._blooms: dict[str, object] = {}
        self.bloom_stats = {"checked": 0, "skipped": 0}
        # per-segment open ParquetFile and parsed row-group token summary
        # (the footer's ``rg_tokens``): the partition read's Index.db
        # analogue, kept and dropped with ``_blooms``
        self._seg_files: dict[str, tuple] = {}
        # the last partition read's events in the reference's tracing
        # wording (the session copies them into system_traces.events)
        self.read_trace: list[str] = []
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
        # stops and reports None — the read falls back to the scan of
        # the whole table instead of the driver-side partition read.
        # 5,000 is the measured crossover: on a
        # 21,000-partition table of 16-row partitions (1.34M mutations
        # in 2 segments, 4 cores) the partition read of 5,000
        # candidates takes ~3.9 s, the Spark scan ~4.0 s; at 7,000
        # candidates 6.5 s against the same scan. The probe checks the
        # cap after every segment, so it holds at most cap + one
        # segment's matching pks.
        self.index_probe_collect_cap = 5_000
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
            return self.execute_batch(batch, batch_subs(batch))
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

    def execute_batch(self, batch: re.Match, subs: list[str]) -> bool | None:
        """A batch (``batch``, the :data:`_BATCH_RE` match) whose
        sub-statements ``subs`` all target this table."""
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
            matched = [self._match(sub) for sub in subs]
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

    # statement forms and their handlers; both INSERT forms share one
    # handler: only the column/value extraction differs (_insert_pairs)
    _FORMS = (
        (_INSERT_RE, "_insert"),
        (_INSERT_JSON_RE, "_insert"),
        (_UPDATE_RE, "_update"),
        (_DELETE_RE, "_delete"),
    )

    def _match(self, stmt: str):
        for regex, handler in self._FORMS:
            m = regex.match(stmt)
            if m:
                return getattr(self, handler), m
        raise CQLError(f"unsupported or malformed CQL DML: {stmt!r}")

    # --- lightweight transactions (compare-and-set) -----------------------

    @staticmethod
    def _cond_text(m: re.Match) -> str | None:
        groups = m.re.groupindex
        if "ine" in groups and m.group("ine"):
            return "NOT EXISTS"
        return m.group("cond") if "cond" in groups else None

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
        table = self._ct.cols
        return {
            c: table[c].parse(t) if c in table else _parse_value(t)
            for c, t in zip(cols, toks)
        }

    @staticmethod
    def _check_vector_arity(col: Column, parsed) -> None:
        """vector<T, n> fixed-dimension rule (`[C* db/marshal/VectorType,
        unverified]`): a full-value write must carry exactly n elements,
        and the literal must be the list form."""
        if col.dims is None:
            return
        kind, items = parsed
        if kind != "list" or len(items) != col.dims:
            raise CQLError(
                f"invalid vector literal for {col.name!r}: expected "
                f"{col.dims} elements"
            )

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
                kind = "udt" if self._ct.cols[c].kind == "udt" else "scalar"
                pairs.setdefault(c, (kind, None))
        return pairs

    def _json_value(self, col: str, v):
        """One JSON value → the ('scalar'|'list'|'set'|'map', payload)
        shape, canonicalized to the log's string forms."""
        column = self._ct.cols.get(col)

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

        if column is not None and column.kind == "udt":
            # field cells through the VALUES form's codec
            if v is not None and not isinstance(v, dict):
                raise CQLError(f"struct column {col!r} needs a JSON object")
            return "udt", column.lit(_cql_literal(v, column.typ))
        if column is not None and column.kind == "struct":
            if v is None:
                return "scalar", None
            if not isinstance(v, dict):
                raise CQLError(f"struct column {col!r} needs a JSON object")
            out = {}
            for name, _ in parse_struct_type(column.typ):
                fv = v.get(name)
                if fv is None:
                    continue
                out[name] = fv
            return "scalar", _json_text(out)
        if column is None or column.coll is None:
            x = canon(v)
            if x is not None and column is not None and column.norm:
                x = column.norm(x)
            return "scalar", x
        ckind, t1, t2 = column.coll
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
                return _json_text(_canon_py(x, typ))
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
            for c in self._ct.key_cols:
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
        ct = self._ct
        if "vals" in m.re.groupindex or "json" in m.re.groupindex:
            return ct.all_static(
                c for c in self._insert_pairs(m) if c not in ct.key_set
            )
        if "set" in m.re.groupindex and m.group("set"):
            items = _split_csv(m.group("set"))
        else:
            items = [c for c in m.group("cols").split(",") if c.strip()]
        return ct.all_static(_lead_name(a) for a in items)

    def _eval_cond(self, cond: str, pk: str | None, ck) -> bool:
        bare = re.sub(_LIT, "''", cond)  # a literal naming a column is a value
        for c in self.schema.nonfrozen:
            if re.search(rf"\b{re.escape(c)}\b", bare, re.IGNORECASE):
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
        for part in _split_unquoted(cond, _AND_SEP_RE):
            m = _COND_RE.match(part.strip())
            if not m:
                raise CQLError(f"unsupported IF condition: {part!r}")
            col = m.group(1).lower()
            column = self._ct.cols.get(col)
            if column is None or column.role in _KEY_ROLES:
                raise CQLError(f"IF on unknown column {col!r}")
            if column.coll is not None:
                raise CQLError(
                    f"IF conditions on collection column {col!r} are not supported"
                )
            if column.kind in ("struct", "udt"):
                raise CQLError(
                    f"IF conditions on struct column {col!r} are not supported"
                )
            cur = None if state is None else state.get(col)
            lit = _parse_literal(m.group(3))
            if not self._cmp(cur, m.group(2), lit, column.typ):
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

    def _reconcile(self, pks, asof: int) -> dict:
        """The partitions ``pks`` reconciled at ``asof`` on the driver:
        the read of a partition-pinned SELECT, an LWT condition and a
        list-index write. The reference serves each from one replica's
        single-partition read, not a scan, and so does this: only the
        partitions' own mutations are read (:meth:`_partition_rows`),
        and each merges by :func:`_reconcile_partition`, the rule a
        scan's tasks run too.

        Returns ``{pk: (rows, statics)}`` for the partitions with live
        content (:func:`_reconcile_partition`'s maps). The
        ``tombstones_per_read`` guardrail is checked per partition, and
        ``read_trace`` ends with the live rows and tombstones read."""
        by_pk: dict = {}
        for r in self._partition_rows(pks):
            by_pk.setdefault(r[0], []).append(r)
        out = {}
        n_tombs = 0
        for pk, muts in by_pk.items():
            rows, statics, n = _reconcile_partition(self.schema, muts, asof)
            n_tombs += n
            # the TombstoneOverwhelmingException analogue: a partition
            # read that scans too many deletion markers warns, then aborts
            self._check_guardrail(
                "tombstones_per_read", n,
                f"tombstones scanned reading partition {pk!r}",
            )
            if rows or statics:
                out[pk] = (rows, statics)
        self.read_trace.append(
            f"Read {sum(len(r) or 1 for r, _ in out.values())} live rows "
            f"and {n_tombs} tombstone cells"
        )
        return out

    def _row_state(self, pk: str | None, ck) -> dict | None:
        """The LWT read phase: live scalar values ``{col: val}`` of one
        row at the current clock, or None when the row does not exist.
        ``ck`` is the clustering tuple, or None to read the static row."""
        rows, statics = self._reconcile([pk], self._clock).get(pk, ({}, {}))
        if ck is None:
            return {c: v for c, (_, v, _) in statics.items()} or None
        cells = rows.get(ck_join(tuple(ck)))
        if cells is None:
            return None
        return {
            col: v for (col, elem), (_, v, _) in cells.items()
            if col is not None and elem is None
        }

    def _list_positions(self, pk, ckj, col: str) -> list[str]:
        """Live position-elems of list column ``col`` in row (pk, ckj),
        in list order — the read phase of CQL's list index operations
        (``SET l[i] = v`` / ``DELETE l[i]``), which the reference also
        serves with a read-before-write on the row."""
        rows, _ = self._reconcile([pk], self._clock).get(pk, ({}, {}))
        return sorted(
            elem for (c, elem) in rows.get(ckj, {}) if c == col
        )

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
        if self._max_wt is None or ts > self._max_wt:
            self._max_wt = ts
        if ttl is None and kind in (CELL, MARKER):
            # table-level default TTL; tombstones and counter increments
            # never carry one (the reference's TableParams semantics)
            ttl = self.schema.default_ttl or None
        self._log.append(
            mut_row(
                pk, ck, col, val, kind, ts,
                ttl if ttl is not None else 0, self._seq,
                elem, lo, hi, lo_incl, hi_incl,
            )
        )

    def _key_from_pairs(
        self, pairs: dict[str, str | None], require_full: bool = True
    ) -> tuple[str, tuple[str, ...] | None]:
        """(pk, full clustering tuple). ``require_full=False`` returns
        ck=None when no clustering value is present (static scope)."""
        pk = self.schema.pk_from_pairs(pairs)
        clustering = self._ct.clustering
        if not clustering:
            return pk, ()  # no clustering cols: the row key is always (pk,)
        have = [c for c in clustering if c in pairs]
        if not have and not require_full:
            return pk, None
        if len(have) != len(clustering):
            missing = [c for c in clustering if c not in pairs]
            raise CQLError(f"missing clustering key(s) {missing}")
        return pk, tuple(pairs[c] for c in clustering)

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
        ct = self._ct
        ts, ttl = _parse_using(m.group("using"))
        ts = default_ts if ts is None else ts
        pairs = self._insert_pairs(m)
        for c in pairs:
            if c not in ct.cols:
                raise CQLError(f"unknown column {c!r}")
        eq = {}
        for c in ct.key_cols:
            if c in pairs:
                k, v = pairs[c]
                if k != "scalar":
                    raise CQLError(f"key column {c!r} must be scalar")
                eq[c] = v
        static_only = all(ct.cols[c].role != "regular" for c in pairs)
        pk, ck = self._key_from_pairs(eq, require_full=not static_only)
        if ck is not None:
            ckj = ck_join(ck)
            # the row marker is what makes INSERT-visibility survive null cells
            self._emit(pk, ckj, None, None, MARKER, ts, ttl)
        else:
            ckj = None
        for c, parsed in pairs.items():
            col = ct.cols[c]
            if col.role in _KEY_ROLES:
                continue
            if col.role == "static":
                kind, v = parsed
                if kind != "scalar":
                    raise CQLError(f"static column {c!r} must be scalar")
                if v is not None:
                    self._emit(pk, None, c, v, CELL, ts, ttl)
                else:
                    self._emit(pk, None, c, None, CELL_TOMB, ts, None)
                continue
            if parsed[0] == "udt":  # non-frozen UDT: replace semantics
                self._emit_udt(pk, ckj, c, parsed[1], ts, ttl)
                continue
            if col.coll is not None:
                pkind, items = parsed
                if pkind == "scalar" and items is None:
                    self._emit(pk, ckj, c, None, COLL_TOMB, ts, None)
                    continue
                self._check_vector_arity(col, parsed)
                # overwrite: tombstone at ts-1 so same-ts elements survive
                self._emit(pk, ckj, c, None, COLL_TOMB, ts - 1, None)
                self._emit_elements(pk, ckj, c, col.kind, parsed, ts, ttl)
                continue
            kind, v = parsed
            if kind != "scalar":
                raise CQLError(f"column {c!r} is not a collection")
            if v is not None:
                self._emit(pk, ckj, c, v, CELL, ts, ttl)
            else:
                self._emit(pk, ckj, c, None, CELL_TOMB, ts, None)

    def _emit_udt(self, pk, ckj, c, cells, ts, ttl) -> None:
        """A whole-value write of a non-frozen UDT: NULL tombstones the
        column, a literal replaces it (tombstone at ts-1, then one cell
        per non-null field)."""
        if cells is None:
            self._emit(pk, ckj, c, None, COLL_TOMB, ts, None)
            return
        self._emit(pk, ckj, c, None, COLL_TOMB, ts - 1, None)
        for fname, v in cells:
            if v is not None:
                self._emit(pk, ckj, c, v, CELL, ts, ttl, elem=fname)

    def _where_parse(self, where: str):
        """WHERE → (equality pairs on key cols, range relations). Ranges
        (<, <=, >, >=) are collected for DELETE's range-tombstone path.
        Values go through the key column's codec, so an int-family key
        names one stored spelling."""
        eq: dict[str, str | None] = {}
        ranges: list[tuple[str, str, str | None]] = []
        cols = self._ct.cols
        for part in _split_unquoted(where.strip(), _AND_SEP_RE):
            m = _REL_RE.fullmatch(part.strip())
            if not m:
                raise CQLError(f"DML WHERE must be key relations: {part!r}")
            name = m.group(1).lower()
            col = cols.get(name)
            if col is None or col.role not in _KEY_ROLES:
                raise CQLError(f"DML WHERE on non-key column {name!r}")
            if m.group(2) == "=":
                eq[name] = col.lit(m.group(3))
            else:
                if col.role == "partition":
                    raise CQLError("range WHERE on the partition key")
                ranges.append((name, m.group(2), col.lit(m.group(3))))
        return eq, ranges

    _COUNTER_SET_RE = re.compile(
        r"(\w+)\s*=\s*(\w+)\s*([+-])\s*(\d+)\s*$", re.DOTALL
    )
    # one SET item: ``c = v``, ``u.field = v`` or ``c[k] = v``; the
    # right-hand side then tells prepend (``[..] + c``) and append /
    # remove (``c + ..`` / ``c - ..``) from a plain value
    _ASSIGN_RE = re.compile(
        r"(\w+)(?:\.(\w+)|\s*\[\s*(.+?)\s*\])?\s*=\s*(.+)", re.DOTALL
    )
    _PREPEND_RE = re.compile(r"(\[.*\])\s*\+\s*(\w+)\s*", re.DOTALL)
    _PM_RE = re.compile(r"(\w+)\s*([+-])\s*(.+)", re.DOTALL)

    def _update(self, m: re.Match, default_ts: int) -> None:
        self._check_table(m.group("table"))
        ct = self._ct
        ts, ttl = _parse_using(m.group("using"))
        ts = default_ts if ts is None else ts
        eq, ranges = self._where_parse(m.group("where"))
        if ranges:
            raise CQLError("UPDATE WHERE must be key equalities")
        assigns = _split_csv(m.group("set"))
        static_only = ct.all_static(_lead_name(a) for a in assigns)
        pk, ck = self._key_from_pairs(eq, require_full=not static_only)
        ckj = ck_join(ck) if ck is not None else None
        if self.schema.counter:
            if m.group("using"):
                raise CQLError("USING is not allowed on counter updates")
            for assign in assigns:
                am = self._COUNTER_SET_RE.match(assign.strip())
                if not am or am.group(1).lower() != am.group(2).lower():
                    raise CQLError(
                        f"counter update must be 'c = c +/- n': {assign!r}"
                    )
                c = am.group(1).lower()
                col = ct.cols.get(c)
                if col is None or col.role != "regular":
                    raise CQLError(f"unknown column {c!r}")
                delta = int(am.group(3) + am.group(4))
                self._emit(pk, ckj, c, str(delta), INCR, ts, None)
            return
        for assign in assigns:
            self._apply_assignment(assign, pk, ckj, ts, ttl)

    def _emit_value(self, pk, ckj, c, v, ts, ttl, elem=None) -> None:
        """One single-cell write: the value, or its tombstone for NULL."""
        if v is not None:
            self._emit(pk, ckj, c, v, CELL, ts, ttl, elem=elem)
        else:
            self._emit(pk, ckj, c, None, CELL_TOMB, ts, None, elem=elem)

    def _apply_assignment(self, assign: str, pk, ckj, ts, ttl) -> None:
        assign = assign.strip()
        am = self._ASSIGN_RE.fullmatch(assign)
        if not am:
            raise CQLError(f"bad SET assignment: {assign!r}")
        c, field_, idx, rhs = am.groups()
        c = c.lower()
        col = self._ct.cols.get(c)

        if field_ is not None:  # u.field = v : one field cell of a non-frozen UDT
            if col is None or col.kind != "udt":
                raise CQLError(
                    f"per-field assignment needs a non-frozen UDT "
                    f"column: {assign!r} (frozen UDTs are set whole)"
                )
            fname = field_.lower()
            codec = col.fields.get(fname)
            if codec is None:
                raise CQLError(f"unknown field {fname!r} of {c!r}")
            self._emit_value(pk, ckj, c, codec(rhs.strip()), ts, ttl, fname)
            return

        if idx is not None:  # m[k] = v (map put) / l[i] = v (list index write) / NULL delete
            if col is not None and col.dims is not None:
                raise CQLError(
                    f"vectors are fixed-length: write {c!r} whole"
                )
            if col is None or col.kind not in ("list", "map"):
                raise CQLError(
                    f"indexed assignment needs a map or list column: {assign!r}"
                )
            if col.kind == "list":
                # read-before-write: resolve index -> position elem (the
                # reference reads the row for the same reason)
                k = self._list_elem_at(pk, ckj, c, idx.strip())
                # the written element takes the list's element type
                v = col.elem(rhs)
            else:
                k = col.key(idx)
                v = col.val(rhs)
            self._emit_value(pk, ckj, c, v, ts, ttl, k)
            return

        pm = self._PREPEND_RE.fullmatch(rhs) if rhs.startswith("[") else None
        if pm and pm.group(2).lower() == c:
            if col is None or col.kind != "list":
                raise CQLError(f"prepend needs a list column: {assign!r}")
            _, items = col.parse(pm.group(1))
            # [x, y] + l: x sorts before y, both before everything existing
            n = len(items)
            for i, v in enumerate(items):
                self._emit(
                    pk, ckj, c, v, CELL, ts, ttl,
                    elem=_pos_str(self._neg - n + 1 + i),
                )
            self._neg -= n
            return

        pm = self._PM_RE.fullmatch(rhs)
        if pm and pm.group(1).lower() == c:
            if col is not None and col.dims is not None:
                raise CQLError(
                    f"vectors are fixed-length: write {c!r} whole"
                )
            if col is None or col.coll is None:
                # counter form on a non-counter column
                raise CQLError(
                    f"'{c} = {c} ± ..' needs a counter table or collection column"
                )
            parsed = col.parse(pm.group(3))
            if pm.group(2) == "+":
                self._emit_elements(pk, ckj, c, col.kind, parsed, ts, ttl)
                return
            # removal: set members / map keys; list removal needs a read
            if col.kind == "list":
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

        if col is not None and col.role == "static":
            self._emit_value(pk, None, c, col.lit(rhs), ts, ttl)
            return
        if col is None or col.role != "regular":
            raise CQLError(f"unknown column {c!r}")
        if col.coll is not None:
            parsed = col.parse(rhs)
            if parsed[0] == "scalar":
                if parsed[1] is not None:
                    raise CQLError(f"collection column {c!r} needs a collection literal")
                self._emit(pk, ckj, c, None, COLL_TOMB, ts, None)
                return
            self._check_vector_arity(col, parsed)
            self._emit(pk, ckj, c, None, COLL_TOMB, ts - 1, None)
            self._emit_elements(pk, ckj, c, col.kind, parsed, ts, ttl)
            return
        if col.kind == "udt":  # non-frozen UDT: replace semantics
            self._emit_udt(pk, ckj, c, col.lit(rhs), ts, ttl)
            return
        # a struct column's codec renders its JSON cell; no row marker:
        # the UPDATE-only row lives and dies with its cells
        self._emit_value(pk, ckj, c, col.lit(rhs), ts, ttl)

    _DEL_COL_RE = re.compile(
        r"^(\w+)(?:\s*\[\s*(.+?)\s*\]|\.(\w+))?$", re.DOTALL
    )

    def _delete(self, m: re.Match, default_ts: int) -> None:
        self._check_table(m.group("table"))
        ct = self._ct
        clustering = ct.clustering
        ts = int(m.group("ts")) if m.group("ts") else default_ts
        eq, ranges = self._where_parse(m.group("where"))
        cols = [c.strip() for c in _split_csv(m.group("cols")) if c.strip()]
        pk = self.schema.pk_from_pairs(eq)

        # clustering equalities must form a prefix
        have = [c for c in clustering if c in eq]
        k = len(have)
        if have != list(clustering[:k]):
            raise CQLError("clustering WHERE must fix a prefix")

        if cols:
            if ranges:
                raise CQLError("column DELETE cannot have range WHERE")
            static_cols = ct.all_static(_lead_name(c) for c in cols)
            if k < len(clustering) and not static_cols:
                raise CQLError("cell DELETE requires the full primary key")
            ckj = ck_join(tuple(eq[c] for c in clustering)) if not static_cols else None
            for item in cols:
                cm = self._DEL_COL_RE.match(item)
                if not cm:
                    raise CQLError(f"bad DELETE column: {item!r}")
                c = cm.group(1).lower()
                col = ct.cols.get(c)
                elem_tok = cm.group(2)
                fname = cm.group(3)
                if fname is not None:  # DELETE u.field: one field cell
                    if col is None or col.kind != "udt":
                        raise CQLError(
                            f"field DELETE needs a non-frozen UDT "
                            f"column: {item!r}"
                        )
                    fname = fname.lower()
                    if fname not in col.fields:
                        raise CQLError(
                            f"unknown field {fname!r} of {c!r}"
                        )
                    self._emit(
                        pk, ckj, c, None, CELL_TOMB, ts, None, elem=fname
                    )
                    continue
                if col is not None and col.role == "static":
                    if elem_tok:
                        raise CQLError("static columns are scalar")
                    self._emit(pk, None, c, None, CELL_TOMB, ts, None)
                    continue
                if col is None or col.role != "regular":
                    raise CQLError(f"unknown column {c!r}")
                if elem_tok is not None:
                    if col.kind not in ("list", "map"):
                        raise CQLError(
                            f"element DELETE needs a map or list column: {item!r}"
                        )
                    if col.kind == "list":
                        self._emit(
                            pk, ckj, c, None, CELL_TOMB, ts, None,
                            elem=self._list_elem_at(pk, ckj, c, elem_tok),
                        )
                        continue
                    self._emit(
                        pk, ckj, c, None, CELL_TOMB, ts, None,
                        elem=col.key(elem_tok),
                    )
                elif col.coll is not None:
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
            if k >= len(clustering) or bc != clustering[k]:
                raise CQLError(
                    f"range DELETE must bound the next clustering column "
                    f"({clustering[k] if k < len(clustering) else '?'})"
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
                pk, SEP.join(eq[c] for c in clustering[:k]), None, None,
                RANGE_TOMB, ts, None,
                lo=lo, hi=hi, lo_incl=lo_incl, hi_incl=hi_incl,
            )
            return
        if k == len(clustering) and clustering:
            self._emit(pk, ck_join(tuple(eq[c] for c in clustering)), None,
                       None, ROW_TOMB, ts, None)
        elif k == 0:
            self._emit(pk, None, None, None, PART_TOMB, ts, None)
        else:
            # clustering-prefix DELETE = unbounded range tombstone
            self._emit(
                pk, SEP.join(eq[c] for c in clustering[:k]), None, None,
                RANGE_TOMB, ts, None,
                lo=None, hi=None, lo_incl=False, hi_incl=False,
            )

    # --- spill path (memtable → parquet segment) ---------------------------

    def _ensure_spill_dir(self) -> str:
        """One home for the spill-dir provisioning policy (prefix scheme,
        temp location, creation) — shared by flush() and bulk_load."""
        if self.spill_dir is None:
            import tempfile

            self.spill_dir = tempfile.mkdtemp(
                prefix=f"cql-spill-{self.schema.name}-"
            )
        os.makedirs(self.spill_dir, exist_ok=True)
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

    def _write_segment(
        self, tbl, tag: str, level: int = 0, tok=None, path: str | None = None,
    ) -> str:
        """Write mutation rows ``tbl`` as one new segment (:func:`_write_run`
        under the canonical name and the WITH compression codec) and
        register its in-session bloom / token-range / level entries.
        ``path`` rewrites an existing segment in place (its cached file
        handle goes); otherwise the caller registers the new path in
        ``_segments``."""
        if path is None:
            path = self._new_segment_path(tag)
        else:
            self._seg_files.pop(path, None)
            self._seg_tokens.pop(path, None)
        rng, self._blooms[path] = _write_run(
            tbl, path, self._codec(), level, tok
        )
        if rng is not None:
            self._seg_tokens[path] = rng
        if level >= 1:
            self._seg_level[path] = level
        return path

    def _merge(
        self, inputs: list[str], tag: str, level: int = 0,
        budget: int | None = None, purge: tuple | None = None,
    ) -> list[str]:
        """Merge segments ``inputs`` into new ``level`` segments — the one
        compaction merge every strategy (STCS, TWCS, LCS, UCS, major
        compaction) and garbage collection runs; they differ only in
        which inputs they pick and in ``purge``. Without ``purge`` the
        history rows are a SET and pass through unchanged (LWW stays a
        read-time reconcile, so asof/PITR reads keep working); with
        ``purge`` = ``(horizon, clock)`` the rows :func:`_purge_keep`
        drops go, which needs ``inputs`` to hold whole partitions. Every
        output is a run sorted by (token, pk), as every segment is.
        ``budget`` (estimated bytes) re-splits the run on whole-partition
        boundaries only (same-token pks stay together, so inclusive
        token ranges never touch across outputs — the disjoint-range
        invariant leveled reads prune on); None means one output. Inputs
        retire (not deleted — lazy DataFrames may still read them;
        purge_retired deletes the files) and compaction history records
        the merge.

        Past ``distributed_merge_bytes`` of input the merge runs as one
        Spark job (:meth:`_merge_spark`) instead of on the driver, one
        task per output: ceil(input bytes / ``budget``) token-range
        shards, or one when there is no budget."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        bytes_in = sum(os.path.getsize(p) for p in inputs)
        if (
            self.distributed_merge_bytes is not None
            and bytes_in >= self.distributed_merge_bytes
        ):
            created = self._merge_spark(
                self.spark.read.schema(_MUT_SCHEMA).parquet(*inputs), tag,
                1 if budget is None else max(1, -(-bytes_in // budget)),
                level, purge,
            )
        else:
            merged, tok = _token_sorted(
                pa.concat_tables([pq.read_table(p) for p in inputs])
            )
            if purge is not None:
                keep = _purge_keep(self.schema, merged, *purge)
                merged, tok = merged.filter(keep), tok[keep]
            cuts = [0]
            if budget is not None:
                # pack whole partitions (token runs) greedily by estimated
                # bytes; a piece ends only where the token changes
                import numpy as np

                row_bytes = max(1, merged.nbytes // max(1, len(tok)))
                starts = [0, *(np.flatnonzero(np.diff(tok)) + 1).tolist()]
                for g_start, g_end in zip(starts, starts[1:] + [len(tok)]):
                    if (
                        g_start > cuts[-1]
                        and (g_end - cuts[-1]) * row_bytes > budget
                    ):
                        cuts.append(g_start)
            if len(tok):
                cuts.append(len(tok))
            created = [
                self._write_segment(
                    merged.slice(a, b - a), tag, level, tok=tok[a:b]
                )
                for a, b in zip(cuts, cuts[1:])
            ]
        self._retire_into(inputs, created)
        self._record_compaction(
            tag, len(inputs), len(created), bytes_in,
            sum(os.path.getsize(p) for p in created),
            sum(_pq_num_rows(p) for p in inputs),
            sum(_pq_num_rows(p) for p in created),
        )
        return created

    def garbage_collect(self, gc_horizon_us: int | None = None) -> dict:
        """``nodetool garbagecollect`` analogue: a major compaction with a
        purge evaluator, the EXPLICITLY destructive rewrite that ordinary
        compaction here deliberately is not (merges keep every history
        row so asof/PITR reads keep working). Flushes the memtable, then
        merges every live segment (:meth:`_merge`, tag ``gc``) under
        :func:`_purge_keep` at ``gc_horizon_us`` (default: the clock
        minus WITH gc_grace_seconds) and the current clock.

        After GC, PITR to a time before the newest covering tombstone may
        be lossy — shadow-dropped data is purged even under a young
        (post-horizon) tombstone, exactly as the reference's compaction
        drops shadowed cells regardless of gc_grace, so
        ``snapshot_pitr(ts)`` for ts between a purged write and its
        covering tombstone no longer resurrects the write. The head
        snapshot and every post-tombstone PITR are unaffected; both
        contracts are pinned by tests/test_gc.py's GC-then-PITR
        differential fuzz. Returns {"dropped": n, "kept": n}."""
        if gc_horizon_us is None:
            # WITH gc_grace_seconds: tombstones younger than the grace
            # window survive (coherent for wall-µs-stamped workloads)
            gc_horizon_us = max(
                0, self._clock - self.schema.gc_grace_seconds * 1_000_000
            )
        self.flush()
        if not self._segments:
            return {"dropped": 0, "kept": 0}
        self._merge(
            list(self._segments), "gc", purge=(gc_horizon_us, self._clock)
        )
        rows_in, rows_out = self.compaction_history[-1][7:9]
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

    def _retire_into(self, inputs: list[str], created: list[str]) -> None:
        """Swap ``inputs`` for ``created`` in the live segment list — the
        one place a segment is forgotten: its bloom, open file, level,
        token-range and 2i value-bloom / value-range entries go with it,
        and the file moves to ``_retired`` for purge_retired."""
        drop = set(inputs)
        for m in inputs:
            self._blooms.pop(m, None)
            self._seg_files.pop(m, None)
            self._seg_level.pop(m, None)
            self._seg_tokens.pop(m, None)
        for cache in (self._value_blooms, self._value_ranges):
            for key in [k for k in cache if k[0] in drop]:
                del cache[key]
        self._retired.extend(inputs)
        self._segments = [p for p in self._segments if p not in drop]
        self._segments.extend(created)

    def _merge_spark(
        self, df, tag: str, n_shards: int, level: int = 0,
        purge: tuple | None = None,
    ) -> list[str]:
        """Write the mutation rows of ``df`` as at most ``n_shards`` new
        ``level`` segments in ONE Spark job — parallel read and decode,
        one shuffle that sorts each shard by (token, pk), then one
        ``mapInArrow`` task per shard that streams its rows into the
        driver's own writer (:func:`_write_shard`), so executor outputs
        are the same stamped runs as driver ones. With more than one
        shard the shuffle range-partitions by the bit-exact Murmur3
        token of pk (the Arrow-batched ``cassandra_token`` UDF): same
        token → same shard, so the whole-partition rule (which
        ``purge`` needs) and pairwise-disjoint token ranges hold by
        construction. Tasks write into a temporary directory; the driver
        names the written shards in token order
        (:meth:`_new_segment_path`) and registers their levels, and a
        failed job leaves nothing behind. The caller registers the paths
        in ``_segments``. Returns the new paths in token order."""
        import shutil
        import uuid
        from functools import partial

        from cassandra_spark.operators.bloom import sidecar_path
        from cassandra_spark.operators.murmur3 import (
            ensure_token_registered,
        )

        ensure_token_registered(self.spark)
        # a NULL key hashes as the empty key, as in _pk_tokens
        df = df.withColumn(
            "__tok", F.expr("cassandra_token(coalesce(pk, ''))")
        )
        if n_shards > 1:
            df = df.repartitionByRange(n_shards, "__tok")
        else:
            df = df.repartition(1)
        spill = os.path.join(
            self.spill_dir,
            f"{self.schema.name}-{tag}-dist-{uuid.uuid4().hex[:8]}",
        )
        os.makedirs(spill)
        task = partial(
            _write_shard, spill=spill, codec=self._codec(), level=level,
            purge=purge, schema=self.schema,
        )
        created: list[str] = []
        try:
            written = [
                r.path
                for r in df.sortWithinPartitions("__tok", "pk")
                .mapInArrow(task, "path string")
                .collect()
            ]
            # task outputs are named by partition id: token order
            for shard in sorted(
                written, key=lambda p: int(os.path.basename(p).split(".")[0])
            ):
                path = self._new_segment_path(tag)
                created.append(path)
                os.replace(shard, path)
                os.replace(sidecar_path(shard), sidecar_path(path))
        except BaseException:
            for path in created:
                if os.path.exists(path):
                    os.remove(path)
                self._remove_sidecars(path)
            raise
        finally:
            shutil.rmtree(spill, ignore_errors=True)
        if level >= 1:
            for p in created:
                self._seg_level[p] = level
        return created

    def _seg_stats(self, path: str) -> tuple:
        """(min_writetime, max_writetime, max_deletion_us) for a segment
        from FOOTER data only — row-group statistics plus the writer's
        key-value stamp (:func:`_write_run`)."""
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
        return mn, mx, int(pf.schema_arrow.metadata[b"max_deletion_us"])

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
        """[min, max] Murmur3 token of a segment's partition keys, from
        its footer stamp, cached. Tokens are of the pk's canonical text
        serialization: bit-exact for text keys, a consistent total order
        for the rest — all LCS needs is that every reader and the
        compactor agree on ONE order."""
        rng = self._seg_tokens.get(path)
        if rng is None:
            meta = self._seg_file(path)[0].schema_arrow.metadata
            rng = self._seg_tokens[path] = (
                int(meta[b"min_token"]), int(meta[b"max_token"])
            )
        return rng

    def _adopt_segment(self, path: str) -> None:
        """Register segment file ``path`` (a keyspace restore's copy) as
        live. Its LCS level comes from the footer (absent stamp = L0),
        the leveled manifest entry the writer stamps. A segment whose
        footer lacks a row-group token summary matching its row groups
        (written before every segment was a stamped run) is rewritten
        in place through :meth:`_write_segment`, so every live segment
        is read by row group."""
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        meta = pf.schema_arrow.metadata or {}
        level = int(meta.get(b"lcs_level", b"0"))
        hulls = meta.get(b"rg_tokens", b"").split()
        if len(hulls) != 2 * pf.metadata.num_row_groups:
            self._write_segment(pf.read(), "", level, path=path)
        elif level:
            self._seg_level[path] = level
        self._segments.append(path)

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
        rejected (load those through the statement path). Int-family
        values are validated and canonicalized as a statement's are: a
        malformed or out-of-range one raises CQLError and the load writes
        nothing. Key columns
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

        The segments are the same stamped (token, pk)-sorted runs a flush
        writes (:meth:`_merge_spark`), ``n_segments`` token ranges of
        them (default ``DEFAULT_BUCKETS``); their max-deletion stamp lets
        TWCS whole-drop an expired all-TTL load."""
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
        bad = [c for c in payload if c not in self._ct.scalar_regular]
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

        # the statement path's write-time rule: an int-family value must
        # read back through the column's cast, so its canonicalizer runs
        # over every value a narrower-or-equal integer type cannot vouch
        # for, inside the load's own Spark job
        src_types = dict(df.dtypes)
        parts = [mut(None, F.lit(None), MARKER)]
        for c in payload:
            col, val = self._ct.cols[c], F.col(c)
            if col.norm is not None and _INT_BITS.get(
                src_types[c], 99
            ) > _INT_BITS[col.typ.strip().lower()]:
                val = F.udf(
                    lambda v, canon=col.norm: None if v is None else canon(v),
                    "string",
                )(val.cast("string"))
            parts.append(
                mut(c, val, CELL).filter(F.col("val").isNotNull())
            )
        out = parts[0]
        for p_ in parts[1:]:
            out = out.unionByName(p_)
        # one stamped token-range run per shard (the merge writer), so
        # bulk segments read by row group like every other segment
        from cassandra_spark.operators.compaction import DEFAULT_BUCKETS

        self._ensure_spill_dir()
        try:
            files = self._merge_spark(
                out, "bulk", n_segments or DEFAULT_BUCKETS
            )
        except Exception as exc:
            # a value the canonicalizer refused fails the job, which
            # leaves no segment behind
            bad = re.search(r"CQLError: (invalid [^\n]*)", str(exc))
            if bad is None:
                raise
            raise CQLError(bad.group(1)) from None
        if not files:
            return 0
        # validate and count the WRITTEN segments, executor-side: a
        # nondeterministic input plan cannot pass validation yet have
        # written something else
        written = self.spark.read.schema(_MUT_SCHEMA).parquet(*files)
        markers = written.filter(F.col("kind") == MARKER)
        if validate:
            # ck NULL here = a null clustering component (the builder is
            # null-propagating); pk NULL = null partition key — both are
            # keys the statement path can never produce
            null_keys = F.col("pk").isNull() | F.col("ck").isNull()
            if s.pk_composite:
                # a string key component containing the reserved 0x1f
                # separator would mis-split in _row_values and silently
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
                for f in files:
                    os.remove(f)
                    self._remove_sidecars(f)
                raise CQLError(
                    "bulk_load input has duplicate or NULL primary keys, "
                    "or a composite key component containing the reserved "
                    "separator byte 0x1f (pass validate=False only if "
                    "upstream guarantees clean unique keys)"
                )
            n = int(stats["total"] or 0)
        else:
            n = markers.count()
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
        return _local_frame(
            self.spark, rows,
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

    def _seg_file(self, path: str) -> tuple:
        """The open ``pq.ParquetFile`` of segment ``path`` and its row-
        group token summary, an (n_row_groups, 2) int64 array of
        [min, max] tokens from the footer's ``rg_tokens`` stamp. Cached
        per live segment like ``_blooms``."""
        import numpy as np
        import pyarrow.parquet as pq

        ent = self._seg_files.get(path)
        if ent is None:
            pf = pq.ParquetFile(path)
            raw = pf.schema_arrow.metadata.get(b"rg_tokens", b"")
            hulls = np.array(raw.split(), dtype=np.int64).reshape(-1, 2)
            ent = self._seg_files[path] = (pf, hulls)
        return ent

    def _partition_rows(self, pks):
        """Mutation rows of the partitions ``pks``, in canonical tuple
        order: from the flushed segments, then from the memtable. A
        leveled segment whose token range holds none of the keys is
        skipped (``lcs_stats``), then one whose Bloom filter rules every
        key out (``bloom_stats``), both without touching the file, as
        the reference's SSTable read path does. Of a kept segment only
        the row groups whose token hull holds a wanted key's token are
        read (:meth:`_seg_file`, the Summary.db lookup), so the cost is
        O(partitions), never O(segment). Starts ``read_trace`` with the
        read's events."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        wanted = sorted({pk for pk in pks if pk is not None})
        self.read_trace = []
        if not wanted:
            return []
        token = dict(zip(wanted, _pk_tokens(wanted).tolist()))
        rows: list[tuple] = []
        merged = 0
        for path in self._segments:
            if self._seg_level.get(path, 0) > 0:
                self.lcs_stats["checked"] += 1
                lo, hi = self._seg_token_range(path)
                if not any(lo <= t <= hi for t in token.values()):
                    self.lcs_stats["range_skipped"] += 1
                    continue
            self.bloom_stats["checked"] += 1
            bf = self._bloom_for(path)
            keep = [pk for pk in wanted if bf.might_contain(pk)]
            if not keep:
                self.bloom_stats["skipped"] += 1
                gen = re.search(r"(\d+)\.parquet$", path)
                self.read_trace.append(
                    "Bloom filter allows skipping sstable "
                    f"{int(gen.group(1)) if gen else os.path.basename(path)}"
                )
                continue
            merged += 1
            pf, hulls = self._seg_file(path)
            # group g is read when some wanted token t has
            # hulls[g, 0] <= t <= hulls[g, 1]
            toks = np.sort([token[pk] for pk in keep])
            hit = np.searchsorted(toks, hulls[:, 0]) < np.searchsorted(
                toks, hulls[:, 1], side="right"
            )
            tbl = pf.read_row_groups(np.flatnonzero(hit).tolist())
            mask = pc.is_in(tbl.column("pk"), value_set=pa.array(keep))
            rows += _mut_rows(tbl.filter(mask))
        rows += [r for r in self._log if r[0] in token]
        self.read_trace.append(
            f"Merged data from memtables and {merged} sstables"
        )
        return rows

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
        self._retire_into(list(self._segments), [])
        self.purge_retired()
        self._max_wt = None

    def bump_schema_version(self) -> None:
        """The one way a change the snapshot memo's key cannot observe
        takes effect: schema evolution (ALTER TABLE and ALTER TYPE
        mutate the TableSchema object in place; call this AFTER the
        mutation) or a same-path segment rewrite (drop_column_cells).
        It invalidates the memoized snapshot plan and recompiles the
        write path's :class:`ColumnTable` from the schema as it now
        stands."""
        self._mutver += 1
        self._ct = ColumnTable(self.schema)

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
        emptied = []
        for path in self._segments:
            tbl = pq.read_table(path)
            mask = pc.not_equal(tbl.column("col"), col)
            mask = pc.fill_null(mask, True)  # NULL col (tombstones) kept
            if horizon_us is not None:
                mask = pc.or_(
                    mask, pc.greater(tbl.column("writetime"), horizon_us)
                )
            kept = tbl.filter(mask)
            if kept.num_rows:
                self._write_segment(
                    kept, "", self._seg_level.get(path, 0), path=path
                )
            else:
                emptied.append(path)
        # a segment left with no rows has no token hull: it retires
        self._retire_into(emptied, [])

    # --- snapshot reconciliation -----------------------------------------

    def mutation_log(self) -> DataFrame:
        """The full mutation log as a DataFrame: flushed parquet segments
        (executor-side scan) unioned with the in-memory tail, built a
        ``_ARROW_CHUNK``-row slice at a time through the Arrow builder
        :func:`_mut_table` uses (:func:`_local_frame`), so the conversion
        copy stays bounded."""
        parts: list[DataFrame] = []
        if self._segments:
            parts.append(
                self.spark.read.schema(_MUT_SCHEMA).parquet(*self._segments)
            )
        if self._log or not parts:
            log, n = self._log, self._ARROW_CHUNK
            parts += [
                _local_frame(self.spark, log[i : i + n], _MUT_SCHEMA)
                for i in range(0, max(len(log), 1), n)
            ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

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
        max_wt_us: int | None = None,
    ) -> DataFrame:
        """The table's visible rows (:meth:`_visible_columns`: typed
        keys, values and cell-metadata shadows) in typed (partition,
        clustering) key order — a scan, the reference's
        ``PartitionRangeReadCommand``. A read of known partitions takes
        :meth:`partition_frame` instead: same rows, no Spark job.

        One ``mapInArrow`` runs over even Murmur3 token-range splits
        (:func:`_token_splits`), one per core but no more than the
        segments' row groups, so a small table runs one task. Each task
        (:func:`_scan_splits`) reconciles its range partition by
        partition by the pinned read's rule, counter tables included;
        one ``selectExpr`` types the rows, and the ``orderBy`` sorts
        them in one reducer (visible rows are far fewer than
        mutations). TTL expires at ``asof_us`` (default: just past the
        newest writetime). The ``tombstones_per_read`` guardrail is a
        partition read's; a scan does not raise it.

        ``max_wt_us`` (PITR, see :meth:`snapshot_pitr`): drop every
        mutation with a newer writetime BEFORE reconciling — later
        writes, deletes and range tombstones simply do not exist in the
        as-of view (they do not shadow older data the way asof-only TTL
        evaluation would leave them to)."""
        from functools import partial

        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        s = self.schema
        if not self._log and not self._segments:
            return self._empty()
        # memoize the unrestricted plan (see __init__): identical state
        # -> identical lazy plan; any restricted variant bypasses
        plain = asof_us is None and max_wt_us is None
        if plain:
            key = (
                self._mutver, len(self._log), tuple(self._segments),
                self._clock, self._seq, self._max_wt,
            )
            if self._snap_cache is not None and self._snap_cache[0] == key:
                return self._snap_cache[1]
        cols = self._visible_columns()
        fields = [(name, self._raw_type(name)) for name, _, _ in cols]
        segs = [(p, self._seg_file(p)[1]) for p in self._segments]
        n = min(
            self.spark.sparkContext.defaultParallelism,
            max(1, sum(len(h) for _, h in segs)),
        )
        task = partial(
            _scan_splits, schema=s, multi=self._multi(), segs=segs,
            tail=_mut_table(self._log),
            asof=asof_us if asof_us is not None else (self._max_wt or 0) + 1,
            max_wt=max_wt_us, fields=fields,
        )
        out = (
            _local_frame(self.spark, _token_splits(n), "lo long, hi long")
            .mapInArrow(task, from_arrow_schema(pa.schema(fields)))
            .selectExpr(*(
                sql if sql == f"`{c}`" else f"{sql} AS `{c}`"
                for c, _, sql in cols
            ))
            # one reducer sorts: a range exchange would sample its input
            # first, running every task twice
            .repartition(1)
            .orderBy(*s.partition_cols, *s.clustering)
        )
        if plain:
            self._snap_cache = (key, out)
        return out

    # The Arrow typer's per-type rule (partition_frame, _empty): a visible
    # scalar type -> (the spelling of the stored strings it converts, its
    # Arrow type). Within that spelling pyarrow's cast reads a string
    # exactly as Spark's CAST does (tests/test_history_fuzz.py checks it
    # against the snapshot); cell-metadata shadows are int64 already.
    # Every other column keeps its _visible_columns SQL, in one residual
    # selectExpr: the types not listed here (timestamp, date,
    # decimal/varint, float/double, UDTs, tuples, duration,
    # collections), because only Spark's cast reads every form their
    # stored literal can take ('2024-01-02 03:04:05.678+0000' and
    # '2024-01-02T03:04:05Z' alike), and a listed column that holds any
    # other spelling ('+5', ' 5', 'yes', an out-of-range number,
    # malformed text), so that Spark's cast accepts or fails it exactly
    # as the snapshot does.
    _ARROW_CASTS = {
        "string": (None, "string"),
        "boolean": ("(?i:true|false)", "bool"),
        "tinyint": ("-?[0-9]+", "int8"),
        "smallint": ("-?[0-9]+", "int16"),
        "int": ("-?[0-9]+", "int32"),
        "bigint": ("-?[0-9]+", "int64"),
    }

    @classmethod
    def _arrow_typed(cls, values: list, typ: str):
        """Stored strings ``values`` of one column as an Arrow array of
        visible type ``typ`` by :attr:`_ARROW_CASTS`, or None when the
        type has no Arrow conversion or a value is spelled outside it."""
        import pyarrow as pa
        import pyarrow.compute as pc

        rule = cls._ARROW_CASTS.get(typ)
        if rule is None:
            return None
        spelling, arrow_type = rule
        arr = pa.array(values, pa.string())
        if spelling is None:
            return arr
        ok = pc.match_substring_regex(arr, f"^(?:{spelling})$")
        if not pc.all(ok, min_count=0).as_py():
            return None
        try:
            return pc.cast(arr, pa.type_for_alias(arrow_type))
        except pa.ArrowInvalid:  # outside the type's range
            return None

    def _visible_columns(self) -> list[tuple]:
        """(name, type, SQL) of each visible column, in output order:
        keys, regular columns, statics, the ``__writetime_<col>``
        shadows (f2 convention), the ``__ttl_<col>`` shadows of the same
        columns, then the ``__maxwritetime_<col>`` shadows of multi-cell
        columns. The SQL types the column from the untyped wide row
        (:func:`_row_values`, in the :meth:`_raw_type` of each column):
        each scalar and static column's winning cell string, each
        collection and non-frozen UDT column's live cells as
        ``array<struct<elem, val>>``, the cell metadata, and each key
        component's own string column. Casts and
        ``from_json`` re-type the canonical strings; collections sort
        and dedup here, so the order of the input cells never matters.
        The type is the one a plain cast of the stored string yields
        (None for multi-cell columns and shadows). A counter table's
        columns are the keys and one bigint per counter."""
        s = self.schema
        out = [
            (c, s.key_type(c), f"CAST(`{c}` AS {s.key_type(c)})")
            for c in s.key_cols
        ]
        if s.counter:
            return out + [
                (c, t, f"CAST(`{c}` AS {t})") for c, t in s.regular.items()
            ]

        def cell(src: str, typ: str) -> str:
            # struct-typed (round 11) and frozen-nested-collection
            # (round 12) cells store canonical JSON: from_json re-types
            # them; a string cast can't build a struct or array
            if parse_struct_type(typ) is not None or is_coll_type(typ):
                return f"from_json({src}, '{spark_type_text(typ)}')"
            return f"CAST({src} AS {typ})"

        for c, typ in s.regular.items():
            coll = self._ct.coll_regular.get(c)
            if c in s.nonfrozen:
                # NON-FROZEN UDT (round 13): field cells (elem = the
                # field name) merged per-field LWW upstream exactly like
                # map entries; the struct materializes from the field
                # map. A column with NO live field cells is null (the
                # multi-cell rule); declared fields missing from the map
                # read as NULL.
                m_sql = f"map_from_entries(`{c}`)"
                fields = []
                for fn, ft in parse_struct_type(typ):
                    fields.append(f"'{fn}', " + cell(f"{m_sql}['{fn}']", ft))
                out.append((c, None, (
                    f"CASE WHEN size({m_sql}) > 0 THEN "
                    f"named_struct({', '.join(fields)}) END"
                )))
                continue
            if coll is None:
                out.append((c, typ, cell(f"`{c}`", typ)))
                continue
            ckind, t1, t2 = coll
            if ckind == "list":  # position order
                agg = f"transform(array_sort(`{c}`), x -> {cell('x.val', t1)})"
            elif ckind == "set" and is_coll_type(t1):
                # nested-collection elements: MAP types are not
                # orderable in Spark, but their canonical-JSON cell
                # strings are — dedup/sort the strings (canonical JSON
                # = element identity), then re-type each
                agg = (
                    f"transform(array_sort(array_distinct(filter("
                    f"transform(`{c}`, x -> x.val), y -> y IS NOT NULL))), "
                    f"x -> {cell('x', t1)})"
                )
            elif ckind == "set":
                agg = (
                    f"array_sort(array_distinct(filter(transform(`{c}`, "
                    f"x -> {cell('x.val', t1)}), y -> y IS NOT NULL)))"
                )
            else:  # map: entries sorted by key for deterministic rendering
                agg = (
                    f"map_from_entries(array_sort(transform(`{c}`, "
                    f"x -> struct(CAST(x.elem AS {t1}) AS key, "
                    f"{cell('x.val', t2)} AS value))))"
                )
            # an empty non-frozen collection IS null (reference semantics)
            out.append((c, None, f"CASE WHEN size({agg}) > 0 THEN {agg} END"))
        out += [(c, t, cell(f"`{c}`", t)) for c, t in s.static.items()]
        # writetime() and ttl() of a multi-cell UDT are not single
        # values (the reference errors pre-4.1): their shadows are NULL.
        # MAXWRITETIME (`[C* CASSANDRA-17425 — 4.1, unverified]`) of a
        # multi-cell column reads the max LIVE element-cell writetime
        for shadow in ("__writetime_", "__ttl_"):
            out += [
                (f"{shadow}{c}", None,
                 "CAST(NULL AS BIGINT)" if c in s.nonfrozen
                 else f"`{shadow}{c}`")
                for c in (*self._ct.scalar_regular, *s.static)
            ]
        out += [
            (f"__maxwritetime_{c}", None, f"`__maxwritetime_{c}`")
            for c in (*self._ct.coll_regular, *sorted(s.nonfrozen))
        ]
        return out

    def _multi(self) -> frozenset:
        """The multi-cell regular columns: collections and non-frozen
        UDTs."""
        return frozenset(self._ct.coll_regular) | frozenset(self.schema.nonfrozen)

    def _raw_type(self, name: str):
        """The Arrow type of visible column ``name`` in the untyped wide
        row (:func:`_row_values`): int64 cell metadata, a multi-cell
        column's ``{elem, val}`` cells, or the stored string."""
        import pyarrow as pa

        if name.startswith("__"):
            return pa.int64()
        if name in self._multi():
            return pa.list_(
                pa.struct([("elem", pa.string()), ("val", pa.string())])
            )
        return pa.string()

    def _typed_frame(
        self, vals: dict[str, list], shadows: bool = True
    ) -> DataFrame:
        """The visible frame of the untyped columns ``vals``
        (:func:`_row_values`; missing columns empty or NULL): one Arrow
        table that already holds every column :attr:`_ARROW_CASTS`
        converts in its visible type, and the rest raw, typed by their
        :meth:`_visible_columns` SQL in one residual selectExpr — the
        select a scan types all of its columns with. A table of text,
        int-family and boolean columns makes no selectExpr at all, so
        PySpark keeps the schema it built the frame with and reading it
        costs no JVM call. Spark keeps the frame as a LocalRelation:
        collecting it runs no job. ``shadows=False`` leaves the
        cell-metadata shadows out."""
        import pyarrow as pa

        n = len(vals.get(self.schema.partition_cols[0], ()))
        arrays, names, select, residual = [], [], [], False
        for name, typ, sql in self._visible_columns():
            if name.startswith("__") and not shadows:
                continue
            values = vals.get(name) or [None] * n
            names.append(name)
            arr = None if name.startswith("__") else self._arrow_typed(
                values, typ
            )
            if arr is None:
                arr = pa.array(values, self._raw_type(name))
                residual |= sql != f"`{name}`"
                select.append(
                    sql if sql == f"`{name}`" else f"{sql} AS `{name}`"
                )
            else:
                select.append(f"`{name}`")
            arrays.append(arr)
        df = self.spark.createDataFrame(pa.table(arrays, names=names))
        return df.selectExpr(*select) if residual else df

    def partition_frame(self, pks, shadows: bool = True) -> DataFrame:
        """The visible rows of partitions ``pks`` as a DataFrame with no
        Spark job behind it — the single-partition read (the reference's
        ``SinglePartitionReadCommand``) that serves a SELECT whose
        partitions are known, counter tables included.
        :meth:`_reconcile` merges the partitions at the snapshot's
        ``asof`` on the driver by the scan's rule, :func:`_row_values`
        builds the scan's wide rows, and :meth:`_typed_frame` hands them
        to Spark as one Arrow table typed on the driver: text,
        int-family and boolean columns and the cell-metadata shadows
        convert in Arrow (:attr:`_ARROW_CASTS`), the rest keep their SQL
        cast. Columns, types, shadows and row order equal
        ``snapshot()`` filtered to ``pks``; the rows are pre-sorted
        because a Sort on a LocalRelation costs Spark jobs.
        ``shadows=False`` leaves the shadows out (a statement that calls
        no WRITETIME() / MAXWRITETIME() / TTL() selector reads none)."""
        asof = (self._max_wt or 0) + 1
        state = self._reconcile(pks, asof)
        return self._typed_frame(
            _row_values(self.schema, self._multi(), state, asof), shadows
        )

    def _empty(self) -> DataFrame:
        """No rows, with the visible schema: :meth:`_typed_frame` of no
        values, typed by the same rule as :meth:`partition_frame` (a
        counter table's keys and bigint counters convert in Arrow
        alone). Spark keeps it as a LocalRelation, so collecting it runs
        no job (an empty frame from a Python list costs two)."""
        return self._typed_frame({})
