"""CQL SELECT front-end: the reference's user-facing query surface compiled
onto DataFrame plans (SURVEY.md §3.1 entry point 1 → §3.2).

A user of the reference writes CQL; this module accepts the CQL SELECT
subset that Cassandra itself accepts (`[C* cql3/statements/SelectStatement,
cql3/restrictions/StatementRestrictions]`, unverified — SURVEY.md §0) and
enforces the same *restriction semantics* — which is the actually
Cassandra-shaped part:

- predicates on non-key columns are REJECTED without ``ALLOW FILTERING``
  (the engine-side guardrail that stops accidental full scans);
- ``ORDER BY`` is only legal on clustering columns of the table;
- ``PER PARTITION LIMIT k`` compiles to a rank-filter window over the
  declared partition key;
- ``CONTAINS`` rewrites to ``array_contains``;
- ``GROUP BY`` only on a primary-key prefix covering the partition key,
  with the reference's first-row-in-clustering-order value for selected
  non-grouped columns;
- ``SELECT DISTINCT`` only on partition-key columns;
- ``ORDER BY col ANN OF [..] LIMIT k`` (the reference's vector search)
  compiles to cosine top-k with a TakeOrderedAndProject final.

Everything else — comparison/IN/AND expression parsing, constant folding,
predicate pushdown — is delegated to Catalyst by feeding the (rewritten)
WHERE text to ``DataFrame.filter``: Spark SQL syntax coincides with CQL on this
subset, and re-implementing an expression parser would be the porting
mistake this repo exists to avoid.

Deliberately NOT accepted (reference scope, SURVEY.md §7 "do not build"):
consistency levels, USING TIMESTAMP/TTL on writes, Paxos/LWT. Analytic SQL
beyond the CQL subset (joins, windows, set ops) should use Spark SQL
directly — that is the extension surface, not an error.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_spark.catalog import Catalog
from cassandra_spark.operators import murmur3

AGG_FNS = ("count", "min", "max", "sum", "avg")


class CQLError(ValueError):
    """Invalid statement — message shapes mirror the reference's."""


@dataclass
class _Stmt:
    projection: str
    table: str
    where: str | None
    order_by: list[tuple[str, bool]]  # (col, desc)
    per_partition_limit: int | None
    limit: int | None
    allow_filtering: bool
    distinct: bool = False
    group_by: list[str] | None = None
    ann: tuple[str, str] | None = None  # (column, "[v1, v2, ...]")
    json: bool = False  # SELECT JSON: one '[json]' column per row


_SELECT_RE = re.compile(
    r"""^\s*SELECT\s+(?P<distinct>DISTINCT\s+)?(?P<proj>.+?)
        \s+FROM\s+(?P<table>\w+(?:\.\w+)?)
        (?:\s+WHERE\s+(?P<where>.+?))?
        (?:\s+GROUP\s+BY\s+(?P<group>.+?))?
        (?:\s+ORDER\s+BY\s+(?P<order>.+?))?
        (?:\s+PER\s+PARTITION\s+LIMIT\s+(?P<pplimit>\d+))?
        (?:\s+LIMIT\s+(?P<limit>\d+))?
        (?:\s+(?P<allow>ALLOW\s+FILTERING))?
        \s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

# Cassandra 5 vector search: ORDER BY <col> ANN OF [v, ...]
_ANN_RE = re.compile(
    r"^\s*(\w+)\s+ANN\s+OF\s+(\[[^\]]*\])\s*$", re.IGNORECASE | re.DOTALL
)

# time-bucket GROUP BY element (CASSANDRA-11871 lineage `[C* cql3/
# functions/TimeFcts :: FloorTimestampFunction, unverified]`):
# `floor(<clustering col>, <duration literal>)`
_FLOOR_ITEM_RE = re.compile(r"floor\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)")


def _parse(stmt: str) -> _Stmt:
    m = _SELECT_RE.match(stmt)
    if not m:
        raise CQLError(f"unsupported or malformed CQL SELECT: {stmt!r}")
    order: list[tuple[str, bool]] = []
    ann: tuple[str, str] | None = None
    if m.group("order"):
        ann_m = _ANN_RE.match(m.group("order"))
        if ann_m:
            ann = (ann_m.group(1).lower(), ann_m.group(2))
        else:
            for part in m.group("order").split(","):
                toks = part.split()
                if len(toks) not in (1, 2) or (
                    len(toks) == 2 and toks[1].upper() not in ("ASC", "DESC")
                ):
                    raise CQLError(f"bad ORDER BY clause: {part.strip()!r}")
                order.append(
                    (toks[0], len(toks) == 2 and toks[1].upper() == "DESC")
                )
    group_by = None
    if m.group("group"):
        # depth-aware split: floor(ck, 5m) carries a comma of its own
        group_by = [
            c.strip().lower() for c in _split_projection(m.group("group"))
        ]
        for c in group_by:
            if not (
                re.fullmatch(r"\w+", c)
                or re.fullmatch(_FLOOR_ITEM_RE, c)
            ):
                raise CQLError(f"bad GROUP BY clause: {m.group('group')!r}")
    proj = m.group("proj").strip()
    jm = re.match(r"^JSON\s+(.+)$", proj, re.IGNORECASE | re.DOTALL)
    return _Stmt(
        projection=jm.group(1).strip() if jm else proj,
        table=m.group("table").lower(),
        where=m.group("where"),
        order_by=order,
        per_partition_limit=(
            int(m.group("pplimit")) if m.group("pplimit") else None
        ),
        limit=int(m.group("limit")) if m.group("limit") else None,
        allow_filtering=bool(m.group("allow")),
        distinct=bool(m.group("distinct")),
        group_by=group_by,
        ann=ann,
        json=bool(jm),
    )


_IDENT_RE = re.compile(r"\b([a-z_][a-z0-9_]*)\b", re.IGNORECASE)
_CQL_KEYWORDS = frozenset(
    "and or not in contains key true false null like token between".split()
)


def _like_patterns(where: str, col: str) -> list[str]:
    """The string literals compared to ``col`` via LIKE, extracted
    quote-safely: matches scan the masked text, pattern bytes slice from
    the original ('' unescaped)."""
    masked = _mask_quoted(where)
    out = []
    for m in re.finditer(
        rf"\b{re.escape(col)}(?!\w)\s+LIKE\s+('[^']*')",
        masked,
        re.IGNORECASE,
    ):
        lit = where[m.start(1) + 1 : m.end(1) - 1]
        out.append(lit.replace("''", "'"))
    return out


def _where_columns(where: str, columns: set[str]) -> set[str]:
    return {
        t.lower()
        for t in _IDENT_RE.findall(where)
        if t.lower() in columns and t.lower() not in _CQL_KEYWORDS
    }


def _rewrite_list_literals(where: str) -> str:
    """``[a, b]`` → ``array(a, b)`` outside single-quoted string literals,
    skipping subscripts (bracket groups attached to an identifier/']'/')'
    — with or without intervening whitespace, both legal CQL)."""
    out: list[str] = []
    i, n = 0, len(where)
    while i < n:
        ch = where[i]
        if ch == "'":  # string literal: copy verbatim ('' = escaped quote)
            j = i + 1
            while j < n:
                if where[j] == "'":
                    if j + 1 < n and where[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(where[i : j + 1])
            i = j + 1
            continue
        if ch == "[":
            k = len(out) - 1
            prev = ""
            while k >= 0:
                seg = out[k].rstrip()
                if seg:
                    prev = seg[-1]
                    break
                k -= 1
            if prev and (prev.isalnum() or prev in "_])'"):
                out.append(ch)  # subscript (or follows a literal): keep
                i += 1
                continue
            # find the MATCHING ']' — depth-counted so nested list
            # literals ([[1,2],[3,4]]) close at the right bracket —
            # with quoted spans opaque
            j = i + 1
            depth = 1
            while j < n:
                cj = where[j]
                if cj == "'":
                    j += 1
                    while j < n:
                        if where[j] == "'":
                            if j + 1 < n and where[j + 1] == "'":
                                j += 2
                                continue
                            break
                        j += 1
                elif cj == "[":
                    depth += 1
                elif cj == "]":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j >= n or depth != 0:
                out.append(ch)  # unterminated: leave untouched
                i += 1
                continue
            # recurse so inner list literals rewrite too
            out.append(
                "array(" + _rewrite_list_literals(where[i + 1 : j]) + ")"
            )
            i = j + 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _rewrite_where(where: str, map_cols: frozenset[str] = frozenset()) -> str:
    """CQL-only surface forms → Spark SQL equivalents. ``map_cols`` names
    the MAP-typed columns: CQL ``CONTAINS`` on a map is VALUE-side
    containment (the reference's rule), which Spark spells
    ``array_contains(map_values(col), v)``."""
    # col CONTAINS KEY v  →  map_contains_key(col, v)
    where = re.sub(
        r"(\w+)\s+CONTAINS\s+KEY\s+('[^']*'|\S+)",
        r"map_contains_key(\1, \2)",
        where,
        flags=re.IGNORECASE,
    )

    # col CONTAINS v  →  array_contains(col, v); map columns check values
    def _contains(m: re.Match) -> str:
        col, v = m.group(1), m.group(2)
        if col.lower() in map_cols:
            return f"array_contains(map_values({col}), {v})"
        return f"array_contains({col}, {v})"

    where = re.sub(
        r"(\w+)\s+CONTAINS\s+('[^']*'|\S+)",
        _contains,
        where,
        flags=re.IGNORECASE,
    )
    # [..] literal → array(..): CQL frozen-list equality for FULL-indexed
    # columns. Applied OUTSIDE string literals only, and never to a
    # subscript — a bracket group whose nearest preceding non-space char
    # is an identifier char / ']' / ')' (``attrs['k']``, ``attrs ['k']``).
    where = _rewrite_list_literals(where)
    # token(pk) → cassandra_token(pk): bit-exact Murmur3Partitioner
    # tokens (operators/murmur3.py), registered per session by
    # cql_select, so a driver-supplied token bound matches production
    where = re.sub(
        r"\btoken\s*\(", "cassandra_token(", where, flags=re.IGNORECASE
    )
    return where


_TUPLE_REL_RE = re.compile(
    r"(?<!\w)\(\s*(?P<cols>\w+(?:\s*,\s*\w+)+)\s*\)\s*"
    r"(?P<op><=|>=|<|>|=)\s*\((?P<vals>[^()]*)\)"
)
_TUPLE_IN_HEAD_RE = re.compile(
    r"(?<!\w)\(\s*(?P<cols>\w+(?:\s*,\s*\w+)+)\s*\)\s+IN\s*\(",
    re.IGNORECASE,
)


def _scan_to_close(text: str, start: int) -> int:
    """Index just past the parenthesis group opening at ``start`` (which
    must point at '('), quote-aware."""
    depth, quoted = 0, False
    for i in range(start, len(text)):
        ch = text[i]
        if ch == "'":
            quoted = not quoted
        elif quoted:
            continue
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    raise CQLError(f"unbalanced parentheses in {text!r}")


def _mask_quoted(text: str) -> str:
    """Same-length copy with the CONTENT of single-quoted literals (and
    any '' escape pairs) replaced by 'x', outer quotes kept — regex scans
    over the masked text can never match inside a string literal, and
    every match position maps 1:1 back onto the original (the
    _check_in_guardrail convention)."""
    out = list(text)
    i, n = 0, len(text)
    while i < n:
        if text[i] == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        out[j] = out[j + 1] = "x"
                        j += 2
                        continue
                    break
                out[j] = "x"
                j += 1
            i = j + 1
        else:
            i += 1
    return "".join(out)


def _split_quoted_csv(text: str) -> list[str]:
    """Split on commas outside single-quoted literals."""
    out, cur, quoted = [], [], False
    for ch in text:
        if ch == "'":
            quoted = not quoted
        if ch == "," and not quoted:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur).strip())
    return [t for t in out if t]


def _rewrite_tuple_relations(where: str, meta) -> str:
    """Multi-column clustering relations ``(c1, c2) >= (x, y)`` (`[C*
    cql3/restrictions/MultiColumnRestriction, unverified]`) expanded to
    the equivalent boolean form — the same fully-pushdown-able
    disjunction of per-column range filters the batch tier uses
    (p3_tuple_range) and the keyset pager emits for its resume cursor.
    The named columns must be a contiguous run of clustering columns in
    declared order, like the reference's validation. The comparison
    respects the CLUSTERING ORDER: a DESC column's component flips its
    value comparison (rows "greater" in clustering order have SMALLER
    values), matching the reference's slice semantics."""
    ck = list(meta.clustering_cols)
    desc = {
        c.lstrip("-") for c in meta.clustering if str(c).startswith("-")
    }

    def _validate(cols: list[str]) -> None:
        if not set(cols) <= set(ck):
            raise CQLError(
                "multi-column relations are only supported on clustering "
                f"columns (got {cols}, clustering {ck})"
            )
        start = ck.index(cols[0])
        if ck[start : start + len(cols)] != cols:
            raise CQLError(
                "multi-column relation columns must be a contiguous run "
                f"of the clustering key in declared order ({ck})"
            )

    # the IN variant first: `(c1, c2) IN ((1, 2), (3, 4))` → a
    # disjunction of per-tuple equality conjunctions (`[C* cql3/
    # restrictions/MultiColumnRestriction.InRestriction, unverified]`).
    # Scanned, not regexed — the value list nests parentheses. Both
    # searches run over the QUOTE-MASKED text so a string literal that
    # happens to contain tuple-relation-looking text is never rewritten
    # (positions map 1:1 back onto the original).
    while True:
        m_in = _TUPLE_IN_HEAD_RE.search(_mask_quoted(where))
        if not m_in:
            break
        cols = [c.strip().lower() for c in m_in.group("cols").split(",")]
        _validate(cols)
        end = _scan_to_close(where, m_in.end() - 1)
        body = where[m_in.end() : end - 1].strip()
        terms = []
        i = 0
        while i < len(body):
            if body[i] == "(":
                j = _scan_to_close(body, i)
                vals = _split_quoted_csv(body[i + 1 : j - 1])
                if len(vals) != len(cols):
                    raise CQLError(
                        f"multi-column IN arity mismatch: {len(cols)} "
                        f"columns vs {len(vals)} values"
                    )
                terms.append(
                    "(" + " AND ".join(
                        f"{c} = {v}" for c, v in zip(cols, vals)
                    ) + ")"
                )
                i = j
            elif body[i] in ", \t\n":
                i += 1
            else:
                raise CQLError(
                    f"multi-column IN takes a list of tuples: {body!r}"
                )
        if not terms:
            raise CQLError("multi-column IN needs at least one tuple")
        where = (
            where[: m_in.start()]
            + "(" + " OR ".join(terms) + ")"
            + where[end:]
        )

    def _expand(cols_txt: str, op: str, vals_txt: str) -> str:
        cols = [c.strip().lower() for c in cols_txt.split(",")]
        vals = _split_quoted_csv(vals_txt)
        _validate(cols)
        if len(vals) != len(cols):
            raise CQLError(
                f"multi-column relation arity mismatch: {len(cols)} "
                f"columns vs {len(vals)} values"
            )
        if op == "=":
            return "(" + " AND ".join(
                f"{c} = {v}" for c, v in zip(cols, vals)
            ) + ")"
        base, final_strict = op[0], len(op) == 1

        def comp(col: str, val: str, strict: bool) -> str:
            o = base
            if col in desc:
                o = "<" if o == ">" else ">"
            return f"{col} {o}{'' if strict else '='} {val}"

        terms = []
        for k in range(len(cols)):
            parts = [f"{cols[j]} = {vals[j]}" for j in range(k)]
            parts.append(
                comp(cols[k], vals[k], k < len(cols) - 1 or final_strict)
            )
            terms.append("(" + " AND ".join(parts) + ")")
        return "(" + " OR ".join(terms) + ")"

    # comparison form: finditer over the masked text, splice the ORIGINAL
    # by the match spans (group contents are read from the original, so
    # literal values — including ones containing parens — survive intact)
    masked = _mask_quoted(where)
    out, pos = [], 0
    for m in _TUPLE_REL_RE.finditer(masked):
        out.append(where[pos : m.start()])
        out.append(
            _expand(
                where[m.start("cols") : m.end("cols")],
                where[m.start("op") : m.end("op")],
                where[m.start("vals") : m.end("vals")],
            )
        )
        pos = m.end()
    out.append(where[pos:])
    return "".join(out)


def _composite_token_rewrite(text: str, meta, dtypes, spark) -> str:
    """token() over a COMPOSITE partition key: rewrite the 1-arg-UDF
    spelling ``cassandra_token(a, b, ...)`` into the CompositeType-framed
    blob hash (murmur3.composite_token_sql + cassandra_token_blob), since
    a SQL UDF registration is fixed-arity. The argument list must be the
    full partition key in declared order — the reference's TokenFct
    validation `[C* cql3/functions/TokenFct, unverified]`. Single-column
    keys keep the registered 1-arg UDF untouched. ``dtypes`` maps the
    frame's column names to their type strings."""
    pk = [c.lower() for c in meta.partition_key]
    if len(pk) <= 1 or "cassandra_token" not in text.lower():
        return text
    types = {c.lower(): t for c, t in dtypes.items()}

    def _sub(m: re.Match) -> str:
        args = [a.strip().lower() for a in m.group(1).split(",") if a.strip()]
        if args != pk:
            raise CQLError(
                "token() arguments must be the full partition key in "
                f"declared order ({', '.join(pk)})"
            )
        murmur3.ensure_blob_token_registered(spark)
        try:
            return "(" + murmur3.composite_token_sql(
                [(c, types.get(c, "")) for c in pk]
            ) + ")"
        except ValueError as e:
            raise CQLError(str(e)) from None

    return re.sub(
        r"\bcassandra_token\s*\(([^()]*)\)", _sub, text, flags=re.IGNORECASE
    )


def _split_projection(proj: str) -> list[str]:
    """Split a projection on top-level commas (aggregate args stay intact)."""
    items, depth, cur = [], 0, []
    for ch in proj:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    items.append("".join(cur).strip())
    return [i for i in items if i]


# 'aggregate(' additionally admits session-expanded UDA calls (CREATE
# AGGREGATE compiles to a collect_list + fold — cql_session._create_aggregate)
_AGG_RE = re.compile(
    rf"^({'|'.join(AGG_FNS)}|aggregate)\s*\(", re.IGNORECASE
)

_SELECTOR_RE = re.compile(
    r"^(writetime|maxwritetime|ttl)\s*\(\s*(\w+)\s*\)(?:\s+AS\s+(\w+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# the cell-metadata shadow columns those selectors read
_SHADOW_PREFIXES = ("__writetime_", "__maxwritetime_", "__ttl_")
_SELECTOR_CALL_RE = re.compile(
    r"\b(?:writetime|maxwritetime|ttl)\s*\(", re.IGNORECASE
)


def reads_cell_metadata(stmt: str) -> bool:
    """Whether a SELECT calls a WRITETIME() / MAXWRITETIME() / TTL()
    selector, the only readers of the shadow columns."""
    return _SELECTOR_CALL_RE.search(stmt) is not None


def _declared_columns(df: DataFrame, columns) -> DataFrame:
    """``SELECT *``: the declared columns only — a cell-metadata shadow
    is reachable through its selector, as in the reference. ``columns``
    names the columns of ``df``."""
    shadows = [c for c in columns if c.lower().startswith(_SHADOW_PREFIXES)]
    return df.drop(*shadows) if shadows else df


# Cassandra 5 vector similarity selectors (`[C* cql3/functions/VectorFcts,
# unverified]`): score in (0, 1], 1 = identical — cosine and dot_product
# map through (1 + x) / 2, euclidean through 1 / (1 + squared distance).
_SIM_RE = re.compile(
    r"similarity_(cosine|euclidean|dot_product)"
    r"\s*\(\s*(\w+)\s*,\s*(\[[^\]]*\])\s*\)",
    re.IGNORECASE,
)


def _rewrite_similarity(item: str) -> str:
    from cassandra_spark.operators.llm_vectors import dot_spark

    def repl(m: re.Match) -> str:
        kind, col, vec = m.group(1).lower(), m.group(2), m.group(3)
        q = f"array({vec.strip()[1:-1]})"
        if kind == "cosine":
            dot = dot_spark(col, q)
            return (
                f"((1.0D + {dot} / (sqrt({dot_spark(col, col)}) * "
                f"sqrt({dot_spark(q, q)}))) / 2.0D)"
            )
        if kind == "dot_product":
            return f"((1.0D + {dot_spark(col, q)}) / 2.0D)"
        sq = (
            f"aggregate(sequence(0, size({col}) - 1), 0D, (acc, i) -> "
            f"acc + (cast({col}[i] AS double) - cast({q}[i] AS double)) * "
            f"(cast({col}[i] AS double) - cast({q}[i] AS double)))"
        )
        return f"(1.0D / (1.0D + {sq}))"

    return _SIM_RE.sub(repl, item)


# Cassandra 5 dynamic-data-masking selectors (`[C* cql3/functions/masking/*,
# unverified]`): textual expansion into Spark-SQL string algebra, same
# strategy as similarity — the expanded text stays whole-stage-codegen.
_MASK_RE = re.compile(
    r"\bmask_(null|default|replace|inner|outer|hash)\s*\(([^()]*)\)",
    re.IGNORECASE,
)

_NUMERIC_SPARK_TYPES = frozenset(
    "int bigint smallint tinyint double float decimal long".split()
)

# CQL CAST selector (`[C* cql3/functions/castFcts — 3.10, unverified]`):
# CQL type names → Spark type names. Only the reference's castable
# scalar targets are accepted — a Spark-native spelling ('string',
# 'long') is NOT CQL and is rejected like any unknown type.
_CQL_CAST_MAP = {
    "ascii": "string", "text": "string", "varchar": "string",
    "tinyint": "tinyint", "smallint": "smallint", "int": "int",
    "bigint": "bigint", "float": "float", "double": "double",
    "decimal": "decimal(38,18)", "varint": "decimal(38,0)",
    "boolean": "boolean", "date": "date", "timestamp": "timestamp",
}
_CAST_RE = re.compile(
    r"\bCAST\s*\(([^()]+?\s+AS\s+)(\w+)\s*\)", re.IGNORECASE
)


def _rewrite_cql_casts(item: str) -> str:
    def repl(m: re.Match) -> str:
        t = m.group(2).lower()
        if t not in _CQL_CAST_MAP:
            raise CQLError(f"unsupported CAST target type {m.group(2)!r}")
        return f"CAST({m.group(1)}{_CQL_CAST_MAP[t]})"

    return _CAST_RE.sub(repl, item)


# CQL arithmetic (`[C* cql3/functions/OperationFcts — 4.0, unverified]`):
# +, -, *, % pass through (Spark's integer semantics coincide), but CQL
# `/` on two integer operands is INTEGER division where Spark promotes
# to double — rewrite the simple identifier/literal form to `div`.
# Nested arithmetic operands keep Spark's promotion (documented gate:
# parenthesize and CAST for exact integer division of expressions).
_INT_SPARK_TYPES = frozenset(("tinyint", "smallint", "int", "bigint"))
_DIV_RE = re.compile(r"(?<![\w.])(\w+|\d+)\s*/\s*(\w+|\d+)(?![\w.])")


def _rewrite_int_division(item: str, dtypes: dict) -> str:
    dtypes = {c.lower(): t for c, t in dtypes.items()}

    def integral(tok: str) -> bool:
        if tok.isdigit():
            return True
        return dtypes.get(tok.lower(), "").split("(")[0] in _INT_SPARK_TYPES

    def repl(m: re.Match) -> str:
        a, b = m.group(1), m.group(2)
        if integral(a) and integral(b):
            return f"({a} div {b})"
        return m.group(0)

    return _DIV_RE.sub(repl, item)


# Cassandra 5 collection functions (`[C* CASSANDRA-18060 —
# cql3/functions/CollectionFcts, unverified]`): textual expansion into
# Spark SQL collection algebra, same strategy as similarity/masking —
# the expanded text stays whole-stage-codegen. map_keys/map_values take
# maps only; the collection_* family takes sets/lists directly and maps
# through their values (the reference's rule). Null collection → null
# result (empty non-frozen collections ARE null, so size/min/sum never
# see an empty array from the DML snapshot).
_COLLFN_RE = re.compile(
    r"\b(collection_(?:count|min|max|sum|avg)|map_keys|map_values)"
    r"\s*\(\s*(\w+)\s*\)",
    re.IGNORECASE,
)


def _rewrite_collection_fns(item: str, dtypes: dict) -> str:
    def repl(m: re.Match) -> str:
        fn, col = m.group(1).lower(), m.group(2)
        t = dtypes.get(col, dtypes.get(col.lower(), ""))
        if fn in ("map_keys", "map_values"):
            if not t.startswith("map"):
                raise CQLError(f"{fn} requires a map column, got {col!r}")
            return f"{fn}({col})"
        if t.startswith("map"):
            src = f"map_values({col})"
        elif t.startswith("array"):
            src = col
        else:
            raise CQLError(
                f"{fn} requires a collection column, got {col!r}"
            )
        if fn == "collection_count":
            return f"size({src})"
        if fn == "collection_min":
            return f"array_min({src})"
        if fn == "collection_max":
            return f"array_max({src})"
        total = (
            f"aggregate({src}, cast(0 AS double), "
            f"(a, x) -> a + cast(x AS double))"
        )
        if fn == "collection_sum":
            return total
        return f"({total} / size({src}))"

    return _COLLFN_RE.sub(repl, item)


def _rewrite_masks(item: str, dtypes: dict) -> str:
    from cassandra_spark.operators.masking import (
        mask_inner_sql,
        mask_outer_sql,
    )

    def repl(m: re.Match) -> str:
        kind = m.group(1).lower()
        args = [a.strip() for a in _split_projection(m.group(2))]
        col = args[0]
        if kind == "null":
            return f"(CASE WHEN FALSE THEN {col} END)"
        if kind == "default":
            base = dtypes.get(col, "string").split("(")[0]
            if base in _NUMERIC_SPARK_TYPES:
                return "0"
            if base == "boolean":
                return "false"
            if base in ("date", "timestamp", "timestamp_ntz"):
                # the reference's temporal masking default: the epoch
                cast_t = "TIMESTAMP_NTZ" if base == "timestamp_ntz" else base.upper()
                return f"CAST('1970-01-01' AS {cast_t})"
            return "'****'"
        if kind == "replace":
            if len(args) != 2:
                raise CQLError("mask_replace takes (column, replacement)")
            return args[1]
        if kind == "hash":
            return f"sha2(CAST({col} AS STRING), 256)"
        if len(args) not in (3, 4):
            raise CQLError(f"mask_{kind} takes (column, begin, end[, pad])")
        pad = args[3].strip("'\"") if len(args) == 4 else "*"
        if len(pad) != 1 or pad in "'\\":
            # the padding interpolates into generated SQL text: one
            # plain character only (the reference requires a single char)
            raise CQLError(
                f"mask_{kind} padding must be a single plain character"
            )
        build = mask_inner_sql if kind == "inner" else mask_outer_sql
        return build(col, int(args[1]), int(args[2]), pad)

    return _MASK_RE.sub(repl, item)


def _rewrite_item(item: str, dtypes: dict) -> str:
    """One projection item in Spark SQL: similarity functions, CQL casts,
    integer division, collection functions and masks, rewritten against
    the frame's column types ``dtypes`` (name -> type string)."""
    item = _rewrite_cql_casts(_rewrite_similarity(item))
    item = _rewrite_int_division(item, dtypes)
    return _rewrite_masks(_rewrite_collection_fns(item, dtypes), dtypes)


def _rewrite_selectors(items, df, meta, table, columns):
    """WRITETIME(col) / MAXWRITETIME(col) / TTL(col) selectors (`[C*
    cql3/selection/WritetimeOrTTLSelector; CASSANDRA-17425 — 4.1,
    unverified]`) → projections of the §1.2 ``__writetime_<col>`` /
    ``__maxwritetime_<col>`` / ``__ttl_<col>`` shadow columns, which
    carriers of real cell metadata (a Cassandra connector source, the
    DML snapshot) produce natively and the events fixture synthesizes
    (ts → writetime, constant TTL). MAXWRITETIME on a multi-cell
    (collection) column reads the max live element-cell writetime; on a
    single-cell column it equals WRITETIME, so it falls back to that
    shadow. Default output names: ``<fn>_<col>``. ``columns`` names the
    columns of ``df``."""
    needed = [_SELECTOR_RE.match(i) for i in items]
    if not any(needed):
        return items, df
    key_cols = set(meta.partition_key) | set(meta.clustering_cols)
    have = {c.lower() for c in columns}
    if not any(c.startswith("__writetime_") for c in have) and table == "events":
        from cassandra_spark.operators.functions import with_cell_metadata

        df = with_cell_metadata(df)
        have = {c.lower() for c in df.columns}
    out = []
    for item, sm in zip(items, needed):
        if sm is None:
            out.append(item)
            continue
        fn, col, alias = sm.group(1).lower(), sm.group(2).lower(), sm.group(3)
        if col in key_cols:
            raise CQLError(
                f"Cannot use selection function {fn} on PRIMARY KEY part {col}"
            )
        if fn == "ttl":
            shadow = f"__ttl_{col}"
        elif fn == "maxwritetime" and f"__maxwritetime_{col}" in have:
            shadow = f"__maxwritetime_{col}"
        else:  # writetime, or maxwritetime of a single-cell column
            shadow = f"__writetime_{col}"
        if shadow not in have:
            raise CQLError(
                f"{fn}() is not available for column {col!r}: the source "
                f"carries no cell metadata for it"
            )
        out.append(f"{shadow} AS {alias or f'{fn}_{col}'}")
    return out, df


def _to_json_row(df: DataFrame) -> DataFrame:
    """SELECT JSON (`[C* cql3/Json]`, unverified): one '[json]' column per
    row — compact rendering, null fields INCLUDED (the reference emits
    them), field order = selection order."""
    return df.select(
        F.to_json(
            F.struct(*df.columns), {"ignoreNullFields": "false"}
        ).alias("[json]")
    )


def _floor_bucket_sql(df: DataFrame, meta, col: str, dur: str) -> str:
    """Spark-SQL expression for the epoch-aligned time bucket
    ``floor(col, duration)`` (`[C* cql3/functions/TimeFcts ::
    FloorTimestampFunction — CASSANDRA-11871, unverified]`). Integer
    microsecond arithmetic (no double round-trip: µs epochs exceed
    2^53 in ns, and floor(a/b)*b in doubles drifts by ulps)."""
    from cassandra_spark.cql_dml import parse_duration

    dtypes = {c.lower(): t for c, t in df.dtypes}
    t = dtypes.get(col, "")
    if t not in ("timestamp", "timestamp_ntz", "date"):
        raise CQLError(
            f"floor() in GROUP BY needs a timestamp/date column, "
            f"{col!r} is {t or 'unknown'!r}"
        )
    try:
        months, days, nanos = parse_duration(dur)
    except CQLError:
        raise
    if months:
        raise CQLError(
            "floor() bucket must be a fixed-length duration "
            "(month/year durations vary in length)"
        )
    if nanos % 1000:
        raise CQLError("floor() bucket must be microsecond-aligned")
    dur_us = days * 86_400_000_000 + nanos // 1000
    if dur_us <= 0:
        raise CQLError("floor() bucket duration must be positive")
    return (
        f"timestamp_micros((unix_micros(cast({col} AS timestamp)) "
        f"div {dur_us}) * {dur_us})"
    )


def _compile_group_by(df: DataFrame, meta, s: "_Stmt") -> DataFrame:
    """CQL GROUP BY (`[C* CASSANDRA-10707]`, unverified): keys must be a
    primary-key prefix covering the full partition key; non-grouped plain
    columns return the group's FIRST row value in clustering order (the
    reference's semantics), compiled as min_by over a clustering-order
    row_number — the window and the aggregate hash-partition on the same
    keys, so it costs one shuffle, not two. The LAST element may be a
    time-bucket ``floor(ck, duration)`` over the next clustering column
    after the prefix (CASSANDRA-11871 lineage) — compiled to epoch-
    aligned integer µs bucketing, which stays whole-stage-codegen and
    keeps the single group-shuffle plan."""
    g_raw = [c for c in (s.group_by or [])]
    floor_spec: tuple[str, str] | None = None
    g: list[str] = []
    for i, item in enumerate(g_raw):
        fm = re.fullmatch(_FLOOR_ITEM_RE, item)
        if fm:
            if i != len(g_raw) - 1:
                raise CQLError(
                    "floor() must be the last GROUP BY element"
                )
            floor_spec = (fm.group(1).lower(), fm.group(2))
        else:
            g.append(item)
    pkck = list(meta.partition_key) + list(meta.clustering_cols)
    if g != pkck[: len(g)] or len(g) < len(meta.partition_key):
        raise CQLError(
            "Group by is currently only supported on the columns of the "
            f"PRIMARY KEY, got {g_raw}"
        )
    bucket_sql = None
    if floor_spec is not None:
        fcol, dur = floor_spec
        # the reference's rule: the floored column is the NEXT primary-
        # key column after the grouped prefix (a gap would group by a
        # non-prefix, the same error as a plain non-prefix GROUP BY)
        if len(g) >= len(pkck) or pkck[len(g)] != fcol:
            raise CQLError(
                "floor() in GROUP BY must apply to the next clustering "
                f"column after the grouped prefix ({pkck})"
            )
        bucket_sql = _floor_bucket_sql(df, meta, fcol, dur)
    items = _split_projection(s.projection)
    if s.projection.strip() == "*":
        raise CQLError("SELECT * with GROUP BY is not supported; name columns")

    def _floor_proj(item: str) -> str | None:
        """Alias when the projection item is THE grouped floor bucket."""
        fm = re.fullmatch(
            rf"{_FLOOR_ITEM_RE.pattern}(?:\s+AS\s+(\w+))?",
            item,
            re.IGNORECASE,
        )
        if not fm or floor_spec is None:
            return None
        if (fm.group(1).lower(), fm.group(2).lower()) != floor_spec:
            raise CQLError(
                f"projection floor() must match the GROUP BY bucket "
                f"{floor_spec}"
            )
        return (fm.group(3) or f"floor_{floor_spec[0]}").lower()

    bucket_alias = None
    for i in items:
        a = _floor_proj(i)
        if a is not None:
            bucket_alias = a
    if floor_spec is not None and bucket_alias is None:
        bucket_alias = f"floor_{floor_spec[0]}"
    first_cols = [
        i.lower()
        for i in items
        if re.fullmatch(r"\w+", i) and i.lower() not in g
    ]
    bad = [c for c in first_cols if c not in {x.lower() for x in df.columns}]
    if bad:
        raise CQLError(f"undefined columns in projection: {bad}")
    group_cols = [F.col(c) for c in g]
    if bucket_sql is not None:
        group_cols.append(F.expr(bucket_sql).alias(bucket_alias))
    aggs: list = []
    if first_cols:
        order = [
            F.col(c.lstrip("-")).desc() if c.startswith("-") else F.col(c).asc()
            for c in meta.clustering
        ] or [F.lit(1)]
        wparts: list = list(g)
        if bucket_sql is not None:
            wparts.append(F.expr(bucket_sql))
        w = Window.partitionBy(*wparts).orderBy(*order)
        df = df.withColumn("__rn", F.row_number().over(w))
        aggs += [F.expr(f"min_by({c}, __rn)").alias(c) for c in first_cols]
    for i in items:
        if re.fullmatch(r"\w+", i) or _floor_proj(i) is not None:
            continue  # group key / first-value / bucket, handled above
        if not _AGG_RE.match(i):
            raise CQLError(
                f"projection item {i!r} must be a primary-key column, a "
                f"selected-first column, or one of {AGG_FNS}"
            )
        aggs.append(F.expr(i))
    out = df.groupBy(*group_cols).agg(*aggs) if aggs else (
        df.select(*group_cols).distinct()
    )
    # restore the user's projection order where names are knowable
    names = {c.lower(): c for c in out.columns}
    wanted = []
    for i in items:
        fa = _floor_proj(i)
        if fa is not None:
            wanted.append(names.get(fa))
        elif re.fullmatch(r"\w+", i):
            wanted.append(names.get(i.lower()))
        else:
            wanted.append(
                names.get(
                    re.split(r"\s+AS\s+", i, flags=re.IGNORECASE)[-1].lower()
                )
            )
    if all(wanted):
        out = out.select(*wanted)
    return out


def _compile_ann(
    df: DataFrame, meta, s: "_Stmt", where_expr: str | None = None
) -> DataFrame:
    """Cassandra 5 `ORDER BY col ANN OF [..] LIMIT k` (`[C* cql3/Ordering.
    Ann]`, unverified). Routing mirrors the reference: WITHOUT a vector
    index the front-end refuses in production — here (analytics engine)
    it falls back to brute-force cosine top-k, the exact-scoring path.
    WITH a StorageAttachedIndex on the vector column (`[C* index/sai,
    unverified]`), the probe is index-shaped: the literal query vector's
    LSH bucket (plus Hamming-1 multiprobes) is computed at PLAN TIME,
    the corpus is filtered to those buckets (an IN-list the scan can
    prune on — at scale, with the bucket materialized in the layout,
    this is partition pruning), and exact cosine scores only the
    candidates. Both paths end in TakeOrderedAndProject, never a global
    sort."""
    col, vec = s.ann  # type: ignore[misc]
    if s.limit is None or s.limit > 1000:
        raise CQLError("ANN ordering requires a LIMIT that is not greater "
                       "than 1000")
    dtypes = {c.lower(): t for c, t in df.dtypes}
    if col not in dtypes or not dtypes[col].startswith("array"):
        raise CQLError(f"ANN OF requires a vector (array) column, got {col!r}")
    inner = vec.strip()[1:-1]
    from cassandra_spark.operators.llm_vectors import (
        N_PLANES,
        bucket_spark,
        dot_spark,
        multiprobe,
        py_bucket,
    )

    if col in getattr(meta, "indexed_sai", ()):
        qvec = [float(x) for x in inner.split(",")]
        probes = multiprobe(py_bucket(qvec, N_PLANES), N_PLANES)
        vidx = dict(getattr(meta, "vector_index", ()))
        if col in vidx:
            # persisted SAI artifact (vector_index.build_lsh_bucket_index):
            # the probe set is plan-time literal, so filtering the
            # bucket-PARTITIONED layout is static partition pruning — the
            # scan lists only the probed buckets' directories, never the
            # corpus (the Filter.db narrowing, Spark-shaped). The read is
            # the FAMILY view (base + committed append generations, each
            # keeping the bucket partitioning — cql41), not one directory.
            from cassandra_spark.operators.vector_index import read_family

            df = (
                read_family(df.sparkSession, vidx[col], "buckets")
                .filter(F.col("__bucket").isin(probes))
                .drop("__bucket")
            )
            if where_expr is not None:
                # C* 5 allows WHERE alongside ANN (post-filtered by SAI);
                # the artifact is a re-layout of the SAME table, so the
                # statement's rewritten predicate applies verbatim — and
                # stays a pushed-down filter inside the bucket-pruned
                # scan, cheaper than semi-joining back to the base scan
                df = df.filter(where_expr)
        else:
            # no artifact (in-session table): compute the hash per row
            df = df.withColumn(
                "__bucket", F.expr(bucket_spark(N_PLANES, col))
            ).filter(F.col("__bucket").isin(probes)).drop("__bucket")

    df = df.withColumn("__q", F.expr(f"array({inner})"))
    # ANN ranking function from the index's WITH OPTIONS
    # (`[C* index/sai — similarity_function, unverified]`): cosine is
    # the reference default; euclidean ranks by squared L2 ascending
    # (the reference's 1/(1+d^2) similarity is order-equivalent);
    # dot_product by the raw inner product descending.
    sim = dict(getattr(meta, "sai_similarity", ())).get(col, "cosine")
    cq = F.expr(dot_spark(col, "__q"))
    if sim == "dot_product":
        score, direction = cq, F.desc
    elif sim == "euclidean":
        score = (
            F.expr(dot_spark(col, col))
            - 2 * cq
            + F.expr(dot_spark("__q", "__q"))
        )
        direction = F.asc
    else:
        score = cq / (
            F.sqrt(F.expr(dot_spark(col, col)))
            * F.sqrt(F.expr(dot_spark("__q", "__q")))
        )
        direction = F.desc
    tie = [F.col(c) for c in meta.partition_key]
    return (
        df.withColumn("__score", score)
        .orderBy(direction("__score"), *tie)
        .limit(s.limit)
        .drop("__q", "__score")
    )


def _schema_of(df: DataFrame):
    """The schema of ``df``. A frame that ``createDataFrame`` built from
    Arrow carries the schema it was built with (``_schema``), so reading
    it costs no JVM round trip; any other frame asks the JVM once."""
    return getattr(df, "_schema", None) or df.schema


def cql_select(
    spark: SparkSession, sf_dir: str, stmt: str, tables=None
) -> DataFrame:
    """Compile one CQL SELECT into a DataFrame plan.

    ``tables`` optionally maps table name → (DataFrame, meta) and takes
    precedence over the parquet catalog — this is how CqlSession points
    SELECT at the visible snapshot of a DML-written table (whose
    __writetime_ shadow columns make WRITETIME()/TTL() selectors real)."""
    s = _parse(stmt)
    if tables and s.table in tables:
        df, meta = tables[s.table]
    else:
        cat = Catalog(spark, sf_dir)
        try:
            meta = cat.meta(s.table)
        except KeyError:
            raise CQLError(f"unconfigured table {s.table}") from None
        df = cat.table(s.table)
    # the frame's columns and types, read once: no clause below changes
    # them before the projection, and an Arrow-built frame holds them
    dtypes = {f.name: f.dataType.simpleString() for f in _schema_of(df).fields}
    columns = {c.lower() for c in dtypes}
    key_cols = set(meta.partition_key) | set(meta.clustering_cols)

    if s.where:
        # multi-column clustering relations expand FIRST, so the gate and
        # every later rewrite see plain per-column range relations
        where_text = _rewrite_tuple_relations(s.where, meta)
        restricted = _where_columns(where_text, columns)
        non_key = restricted - key_cols
        # clustering restrictions are free only under a restricted
        # partition key (the reference's slice rule: without the
        # partition, "restricted clustering" = a full-ring scan with a
        # filter — exactly what ALLOW FILTERING exists to make explicit).
        # With a 2i on the clustering column the index admits it instead,
        # same as any other indexed column. Pinned simplification kept:
        # clustering-prefix CONTIGUITY is not enforced.
        if not set(meta.partition_key) <= restricted:
            non_key = non_key | (restricted & set(meta.clustering_cols))
        uses_token = re.search(r"\btoken\s*\(", where_text, re.IGNORECASE)
        # a PARTIAL composite-partition-key restriction is a filtered
        # ring scan, exactly like a restricted clustering column without
        # its partition — the reference demands ALLOW FILTERING for it
        # (`[C* cql3/restrictions/StatementRestrictions ::
        # processPartitionKeyRestrictions, unverified]`)
        pk_set = set(meta.partition_key)
        pk_restricted = restricted & pk_set
        # EXCEPT: an indexed COMPONENT of a composite partition key
        # admits a lone equality restriction without ALLOW FILTERING
        # (the reference's 2i-on-partition-component rule — indexable
        # since the key is composite; a range still filters)
        _idx2i = set(getattr(meta, "indexed", ()))
        pk_index_served = (
            len(pk_set) > 1
            and bool(pk_restricted)
            and pk_restricted <= _idx2i
            and all(
                re.search(
                    rf"\b{re.escape(c)}(?!\w)\s*=[^=]", where_text,
                    re.IGNORECASE,
                )
                and not re.search(
                    rf"\b{re.escape(c)}(?!\w)\s*"
                    rf"(<|>|LIKE\b|BETWEEN\b|CONTAINS\b|IN\b)",
                    where_text, re.IGNORECASE,
                )
                for c in pk_restricted
            )
        )
        if (
            pk_restricted
            and not pk_set <= restricted
            and not uses_token
            and not s.allow_filtering
            and not pk_index_served
        ):
            raise CQLError(
                "Cannot execute this query: the partition key is only "
                f"partially restricted (missing "
                f"{sorted(pk_set - restricted)}); restrict every "
                "component or use ALLOW FILTERING"
            )
        # a secondary index admits restrictions on its column without
        # ALLOW FILTERING (the reference's 2i rule), but the index KIND
        # must match the predicate: a values index admits equality /
        # CONTAINS (not CONTAINS KEY), a KEYS() map index admits
        # CONTAINS KEY only, an ENTRIES() map index admits subscript
        # equality (col['k'] = v) only, a FULL() index admits whole-value
        # equality. The custom classes differ BY CLASS (`[C* index/sai;
        # index/sasi/SASIIndex, unverified]`): SAI admits equality /
        # range / CONTAINS (+ CONTAINS KEY and entries on maps) but NOT
        # LIKE; SASI admits equality / range / LIKE. Plain 2i range
        # predicates always still need ALLOW FILTERING.
        def _restrictions(col: str) -> set[str]:
            kinds = set()
            for m_ in re.finditer(
                rf"\b{re.escape(col)}(?!\w)\s*"
                rf"(\[[^\]]+\]\s*=|=[^=]|<=|>=|<|>|LIKE\b|BETWEEN\b"
                rf"|CONTAINS(?:\s+KEY)?\b)",
                where_text,
                re.IGNORECASE,
            ):
                tok = m_.group(1).upper()
                if tok.startswith("["):
                    kinds.add("entries")
                elif tok.startswith("CONTAINS"):
                    kinds.add("keys" if "KEY" in tok else "contains")
                elif tok == "LIKE":
                    kinds.add("like")
                elif tok == "BETWEEN" or tok[0] in "<>":
                    # CQL 5.0 BETWEEN (CASSANDRA-18584) is an inclusive
                    # range restriction — same gate class as </>
                    kinds.add("range")
                else:
                    kinds.add("eq")
            return kinds

        # non-equality restrictions on PARTITION KEY components are a
        # filtered ring scan — the reference admits only EQ / IN on the
        # partition key unless token() reframes it or ALLOW FILTERING
        # makes the scan explicit (`[C* cql3/restrictions/
        # PartitionKeyRestrictions, unverified]`)
        if (
            pk_restricted and not uses_token and not s.allow_filtering
            and not pk_index_served
        ):
            pk_kinds = set()
            for c in pk_restricted:
                pk_kinds |= _restrictions(c)
            if pk_kinds - {"eq"}:
                raise CQLError(
                    "Only EQ and IN relation are supported on the "
                    "partition key (unless you use the token() function "
                    "or ALLOW FILTERING)"
                )

        val_idx = set(getattr(meta, "indexed", ()))
        key_idx = set(getattr(meta, "indexed_keys", ()))
        sai_idx = set(getattr(meta, "indexed_sai", ()))
        ent_idx = set(getattr(meta, "indexed_entries", ()))
        full_idx = set(getattr(meta, "indexed_full", ()))
        sasi_idx = set(getattr(meta, "indexed_sasi", ()))
        indexed_ok = set()
        for c in non_key:
            kinds = _restrictions(c)
            if not kinds:
                # the column appears in WHERE outside every recognized
                # predicate shape (IN list, IS NOT NULL, function args):
                # the custom index classes keep the historical
                # any-appearance admission for those, 2i kinds do not
                if c in sai_idx or c in sasi_idx:
                    indexed_ok.add(c)
                continue
            admitted = set()
            if c in sai_idx:
                admitted |= {"eq", "range", "contains", "keys", "entries"}
            if c in sasi_idx:
                admitted |= {"eq", "range", "like"}
                if "like" in kinds:
                    # the SASI index MODE bounds the LIKE shapes it can
                    # serve (`[C* index/sasi/conf/IndexMode,
                    # unverified]`): PREFIX (default) = 'pre%' only,
                    # CONTAINS = any, SPARSE (dense numerics) = none
                    mode = dict(getattr(meta, "sasi_mode", ())).get(c)
                    pats = _like_patterns(where_text, c)
                    if mode == "SPARSE":
                        raise CQLError(
                            f"LIKE is not supported on the SPARSE-mode "
                            f"SASI index of {c!r}"
                        )
                    if mode != "CONTAINS" and any(
                        not re.fullmatch(r"[^%]+%", p) for p in pats
                    ):
                        raise CQLError(
                            f"the PREFIX-mode SASI index of {c!r} only "
                            "supports LIKE '<prefix>%' queries (create "
                            "the index WITH OPTIONS = {'mode': "
                            "'CONTAINS'} for infix/suffix search)"
                        )
            if c in val_idx:
                admitted |= {"eq", "contains"}
            if c in key_idx:
                admitted |= {"keys"}
            if c in ent_idx:
                admitted |= {"entries"}
            if c in full_idx:
                admitted |= {"eq"}
            if kinds <= admitted:
                indexed_ok.add(c)
        if (non_key - indexed_ok) and not s.allow_filtering and not uses_token:
            raise CQLError(
                "Cannot execute this query as it might involve data "
                f"filtering on {sorted(non_key - indexed_ok)}; use ALLOW "
                "FILTERING to run it anyway"
            )
        map_cols = frozenset(
            c.lower() for c, t in dtypes.items() if t.startswith("map<")
        )
        if uses_token:
            murmur3.ensure_token_registered(spark)
        where_expr = _rewrite_where(where_text, map_cols)
        if uses_token:
            where_expr = _composite_token_rewrite(
                where_expr, meta, dtypes, spark
            )
        df = df.filter(where_expr)

    if s.distinct:
        if s.group_by or s.order_by or s.ann or s.per_partition_limit is not None:
            raise CQLError("SELECT DISTINCT only supports WHERE and LIMIT")
        items = [p.strip().lower() for p in s.projection.split(",")]
        # the reference requires DISTINCT to request ALL partition-key
        # components (a composite subset would be a different, unindexed
        # grouping); STATIC columns are additionally legal selectors —
        # they are per-partition values (CASSANDRA-8087 lineage `[C*
        # cql3/statements/SelectStatement, unverified]`)
        statics = set(getattr(meta, "statics", ()))
        pk = set(meta.partition_key)
        if s.projection.strip() == "*" or not (
            pk <= set(items) and set(items) <= pk | statics
        ):
            raise CQLError(
                "SELECT DISTINCT queries must request all the partition "
                "key columns (static columns may be added, other columns "
                "may not)"
            )
        df = df.select(*items).distinct()
        if s.json:
            df = _to_json_row(df)
        return df.limit(s.limit) if s.limit is not None else df

    if s.ann:
        if s.order_by or s.group_by or s.per_partition_limit is not None:
            raise CQLError("ANN ordering cannot be combined with other "
                           "ORDER BY / GROUP BY / PER PARTITION LIMIT")
        df = _compile_ann(
            df, meta, s, where_expr=(where_expr if s.where else None)
        )
        proj = s.projection.strip()
        if proj != "*":
            df = df.selectExpr(
                *[
                    _rewrite_item(p.strip(), dtypes)
                    for p in _split_projection(proj)
                ]
            )
        else:
            df = _declared_columns(df, dtypes)
        return _to_json_row(df) if s.json else df

    if s.group_by is not None:
        df = _compile_group_by(df, meta, s)
        if s.order_by:
            df = df.orderBy(
                *[
                    F.col(c).desc() if desc else F.col(c).asc()
                    for c, desc in s.order_by
                ]
            )
        if s.json:
            df = _to_json_row(df)
        return df.limit(s.limit) if s.limit is not None else df

    if s.order_by:
        bad = [c for c, _ in s.order_by if c.lower() not in meta.clustering_cols]
        if bad:
            raise CQLError(
                f"Order by is currently only supported on the clustered "
                f"columns of the PRIMARY KEY, got {bad}"
            )
        df = df.orderBy(
            *[F.col(c).desc() if desc else F.col(c).asc() for c, desc in s.order_by]
        )

    if s.per_partition_limit is not None:
        if not meta.partition_key:
            raise CQLError(f"table {s.table} declares no partition key")
        order = [
            F.col(c.lstrip("-")).desc() if c.startswith("-") else F.col(c).asc()
            for c in meta.clustering
        ] or [F.lit(1)]
        w = Window.partitionBy(*meta.partition_key).orderBy(*order)
        df = (
            df.withColumn("__ppl_rn", F.row_number().over(w))
            .filter(F.col("__ppl_rn") <= s.per_partition_limit)
            .drop("__ppl_rn")
        )

    proj = s.projection.strip()
    if proj != "*":
        items = [p.strip() for p in _split_projection(proj)]
        items, df = _rewrite_selectors(items, df, meta, s.table, dtypes)
        if any(re.search(r"\btoken\s*\(", i, re.IGNORECASE) for i in items):
            # token() as a selector (SELECT token(pk) ...): same Murmur3
            # convention as the WHERE-clause rewrite
            murmur3.ensure_token_registered(spark)
            items = [
                _composite_token_rewrite(
                    re.sub(
                        r"\btoken\s*\(", "cassandra_token(", i,
                        flags=re.IGNORECASE,
                    ),
                    meta, dtypes, spark,
                )
                for i in items
            ]
        df = df.selectExpr(
            *[_rewrite_item(i, dtypes) for i in items]
        )
    else:
        df = _declared_columns(df, dtypes)
    if s.json:
        df = _to_json_row(df)

    if s.limit is not None:
        df = df.limit(s.limit)
    return df
