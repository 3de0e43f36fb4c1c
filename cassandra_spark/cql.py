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

# The restriction kinds each index kind admits through the ALLOW
# FILTERING gate (the reference's 2i rule: the index KIND must match the
# predicate). A values index admits equality / CONTAINS, a KEYS() map
# index CONTAINS KEY, an ENTRIES() map index subscript equality
# (col['k'] = v), a FULL() index whole-value equality. The custom
# classes differ BY CLASS (`[C* index/sai; index/sasi/SASIIndex,
# unverified]`): SAI admits equality / range / CONTAINS (+ CONTAINS KEY
# and entries on maps) but not LIKE; SASI admits equality / range /
# LIKE. Plain 2i range predicates always still need ALLOW FILTERING.
_INDEX_ADMITS = {
    "values": frozenset({"eq", "contains"}),
    "keys": frozenset({"contains_key"}),
    "entries": frozenset({"entries"}),
    "full": frozenset({"eq"}),
    "sai": frozenset({"eq", "range", "contains", "contains_key", "entries"}),
    "sasi": frozenset({"eq", "range", "like"}),
}


class CQLError(ValueError):
    """Invalid statement — message shapes mirror the reference's."""


@dataclass
class _Stmt:
    projection: "_Masked"  # with its literal-masked copy
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
    restrictions: "_Restrictions | None" = None  # the analysed WHERE


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
    """One SELECT's clauses, split over its literal-masked copy (a
    keyword inside a string literal never ends a clause), with the WHERE
    clause analysed once (:func:`_analyse_where`)."""
    masked = _mask_quoted(stmt)
    m = _SELECT_RE.match(masked)
    if not m:
        raise CQLError(f"unsupported or malformed CQL SELECT: {stmt!r}")

    def group(name: str) -> str | None:
        return stmt[m.start(name) : m.end(name)] if m.group(name) else None

    order: list[tuple[str, bool]] = []
    ann: tuple[str, str] | None = None
    if group("order"):
        ann_m = _ANN_RE.match(group("order"))
        if ann_m:
            ann = (ann_m.group(1).lower(), ann_m.group(2))
        else:
            for part in group("order").split(","):
                toks = part.split()
                if len(toks) not in (1, 2) or (
                    len(toks) == 2 and toks[1].upper() not in ("ASC", "DESC")
                ):
                    raise CQLError(f"bad ORDER BY clause: {part.strip()!r}")
                order.append(
                    (toks[0], len(toks) == 2 and toks[1].upper() == "DESC")
                )
    group_by = None
    if group("group"):
        # depth-aware split: floor(ck, 5m) carries a comma of its own
        group_by = [
            c.strip().lower() for c in _split_projection(group("group"))
        ]
        for c in group_by:
            if not (
                re.fullmatch(r"\w+", c)
                or re.fullmatch(_FLOOR_ITEM_RE, c)
            ):
                raise CQLError(f"bad GROUP BY clause: {group('group')!r}")
    proj = _Masked(group("proj"), m.group("proj")).trim()
    jm = re.match(r"^JSON\s+(.+)$", proj.masked, re.IGNORECASE | re.DOTALL)
    where = (
        _Masked(group("where"), m.group("where"))
        if m.group("where") else None
    )
    return _Stmt(
        projection=proj.part(*jm.span(1)).trim() if jm else proj,
        table=group("table").lower(),
        where=where,
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
        restrictions=_analyse_where(where) if where else None,
    )


_IDENT_RE = re.compile(r"(?<!')\b[a-z_]\w*", re.IGNORECASE)
# a token() call, matched over masked text
_TOKEN_CALL = r"\btoken\s*\("
_CQL_KEYWORDS = frozenset(
    "and or not in contains key true false null like token between".split()
)


def _mask_quoted(text: str) -> str:
    """Same-length copy of ``text`` with the content of every single-quoted
    string literal (``''`` escapes included) replaced by 'x', the quotes
    kept. This is the compiler's one quote rule: the SELECT clauses
    (:func:`_parse`), the WHERE analysis (:func:`_analyse_where`) and
    every WHERE rewrite scan this copy, so a keyword, column name,
    operator, bracket or comma inside a literal is never read as
    structure ('no LIMIT here', 'x OR y', 'token(q)', 'a,b' are values),
    and every match position maps 1:1 back onto the original text, where
    literal values are sliced from."""
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


class _Masked(str):
    """A clause text that carries its :func:`_mask_quoted` copy
    (``masked``), so a chain of rewrites keeps the two aligned and masks
    once. Slicing with :meth:`part` keeps the pair."""

    masked: str

    def __new__(cls, text: str, masked: str | None = None):
        self = super().__new__(cls, text)
        self.masked = _mask_quoted(text) if masked is None else masked
        return self

    def part(self, start: int, end: int) -> "_Masked":
        return _Masked(self[start:end], self.masked[start:end])

    def trim(self) -> "_Masked":
        lo = len(self.masked) - len(self.masked.lstrip())
        return self.part(lo, max(lo, len(self.masked.rstrip())))


def _masked(text: str) -> _Masked:
    return text if isinstance(text, _Masked) else _Masked(text)


def _join(parts) -> _Masked:
    """Concatenate ``_Masked`` pieces and quote-free SQL text."""
    return _Masked(
        "".join(parts), "".join(getattr(p, "masked", p) for p in parts)
    )


def _grp(src: str, m: re.Match, g) -> str:
    return src[m.start(g) : m.end(g)]


def _sub_quoted(pattern: str, build, text: str) -> _Masked:
    """``re.sub`` outside string literals (case-insensitive): ``pattern``
    matches over the masked copy, and ``build(src, m)`` renders the
    replacement from ``src`` — called once with the original and once
    with the masked text, so the result stays aligned."""
    w = _masked(text)
    parts, pos = [], 0
    for m in re.finditer(pattern, w.masked, re.IGNORECASE):
        rep = _Masked(build(str(w), m), build(w.masked, m))
        parts += [w.part(pos, m.start()), rep]
        pos = m.end()
    return _join([*parts, w.part(pos, len(w))]) if parts else w


class _SrcMatch:
    """A match over masked text whose groups read back from the aligned
    text ``src``, each with its masked copy — the ``group`` interface
    the projection rewrites' ``repl`` use."""

    def __init__(self, src: str, masked: str, m: re.Match) -> None:
        self.src, self.masked, self.m = src, masked, m

    def group(self, g=0):
        if self.m.start(g) < 0:
            return None
        return _Masked(_grp(self.src, self.m, g), _grp(self.masked, self.m, g))


def _sub_item(regex: re.Pattern, repl, item: str) -> _Masked:
    """``regex.sub(repl, item)`` outside string literals."""
    w = _masked(item)
    return _sub_quoted(
        regex.pattern, lambda src, m: repl(_SrcMatch(src, w.masked, m)), w
    )


def _scan_to_close(masked: str, start: int) -> int | None:
    """Index just past the bracket group opening at ``start`` of a masked
    text (no literal holds a bracket there); None when it never closes."""
    depth = 0
    for i in range(start, len(masked)):
        if masked[i] in "([":
            depth += 1
        elif masked[i] in ")]":
            depth -= 1
            if depth == 0:
                return i + 1
    return None


def _is_group(w: _Masked) -> bool:
    """Whether ``w`` is one parenthesized group."""
    return w.masked[:1] == "(" and _scan_to_close(w.masked, 0) == len(w)


def _split_commas(w: _Masked) -> list[_Masked]:
    """The non-empty, trimmed items of a comma list, split at commas
    outside brackets and string literals."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(w.masked + ","):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            item = w.part(start, i).trim()
            if item:
                items.append(item)
            start = i + 1
    return items


# a complete literal term, by class: the prunes and the pinned read
# accept the classes whose one spelling names one stored value
_LIT_RE = re.compile(
    r"(?P<str>'(?:[^']|'')*')|(?P<int>-?\d+)"
    r"|(?P<dec>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)|(?P<bool>(?i:true|false))"
)
# one relation's head: a column (maybe subscripted) or a column tuple,
# then its operator
_REL_HEAD_RE = re.compile(
    r"(?<![\w'])(?:\(\s*(?P<tuple>\w+(?:\s*,\s*\w+)+)\s*\)"
    r"|(?P<col>[a-z_]\w*)(?P<sub>\s*\[[^\]]+\])?)\s*"
    r"(?P<op><=|>=|<|>|=(?!=)"
    r"|\b(?:IN|LIKE|BETWEEN|CONTAINS\s+KEY|CONTAINS)\b)",
    re.IGNORECASE,
)
_BOUNDARY_RE = re.compile(r"[()\[\]]|\b(?:AND|OR)\b", re.IGNORECASE)
_OP_KINDS = {
    "=": "eq", "IN": "in", "<": "range", "<=": "range", ">": "range",
    ">=": "range", "BETWEEN": "between", "CONTAINS": "contains",
    "CONTAINS KEY": "contains_key", "LIKE": "like",
}


@dataclass(frozen=True)
class _Rel:
    """One relation of a WHERE clause. ``cols`` is its column, or a tuple
    relation's columns; ``kind`` one of eq, in, range, between,
    contains, contains_key, entries (``col[k] = v``), like or other;
    ``terms`` its right-hand side as written, trimmed: the whole RHS up
    to the next AND / OR / closing parenthesis, BETWEEN's two bounds, or
    each IN item; ``top`` whether it is a conjunct of the clause itself
    (not nested in parentheses or under OR); ``start`` / ``end`` its
    span in the clause."""

    cols: tuple[str, ...]
    kind: str
    op: str
    terms: tuple[_Masked, ...]
    top: bool
    start: int
    end: int

    def lits(self, classes) -> tuple[str, ...] | None:
        """The terms when every one is a complete literal of one of
        ``classes`` (``str``, ``int``, ``dec``, ``bool``), else None: an
        expression (``5 + 1``) or a literal of another class (``5e2``
        where integers are asked for) never passes."""
        for t in self.terms:
            m = _LIT_RE.fullmatch(t)
            if m is None or m.lastgroup not in classes:
                return None
        return self.terms or None


@dataclass(frozen=True)
class _Restrictions:
    """A WHERE clause analysed once (the reference's
    StatementRestrictions): every reader of the clause — the ALLOW
    FILTERING and partition-key gates, the pinned read, the index prunes
    and the IN guardrails — reads these relations instead of scanning
    the text again."""

    text: _Masked
    rels: tuple[_Rel, ...]
    conjunctive: bool  # no OR / NOT outside string literals
    uses_token: bool  # token( outside string literals
    words: frozenset[str]  # identifiers and keywords outside literals

    def columns(self, columns) -> set[str]:
        """The ``columns`` the clause names outside string literals."""
        return (self.words - _CQL_KEYWORDS) & set(columns)

    def top(self, col: str, kinds, classes) -> list[_Rel]:
        """The top-level conjuncts on ``col`` of one of ``kinds`` whose
        terms are all complete literals of ``classes``, when the clause
        is a pure conjunction (a conjunct under OR / NOT prunes
        nothing)."""
        if not self.conjunctive:
            return []
        return [
            r for r in self.rels
            if r.top and r.cols == (col,) and r.kind in kinds
            and r.lits(classes)
        ]

    def kinds(self, col: str) -> set[str]:
        """The kinds of the relations on ``col``: a tuple relation counts
        as its per-column expansion (``=`` and IN pin every component,
        a range pins the leading ones and bounds each), BETWEEN as a
        range; ``other`` shapes restrict nothing the gate can admit."""
        out = set()
        for r in self.rels:
            if col not in r.cols:
                continue
            if len(r.cols) > 1:
                if r.kind in ("eq", "in"):
                    out.add("eq")
                elif r.kind == "range":
                    out.add("range")
                    if col != r.cols[-1]:
                        out.add("eq")
            elif r.kind == "between":
                out.add("range")
            elif r.kind != "other":
                out.add(r.kind)
        return out


def _rhs_end(masked: str, start: int, between: bool):
    """(end, stop, mid) of the right-hand side starting at ``start``: it
    runs to the next AND / OR outside brackets ('AND' / 'OR' in
    ``stop``), an unmatched ')' (``stop`` ')') or the end (''); BETWEEN's
    own AND is skipped and returned as ``mid``."""
    depth, mid = 0, None
    for b in _BOUNDARY_RE.finditer(masked, start):
        tok = b.group().upper()
        if tok in ("(", "["):
            depth += 1
        elif tok in (")", "]"):
            if depth == 0:
                return b.start(), ")", mid
            depth -= 1
        elif depth == 0:
            if between and mid is None and tok == "AND":
                mid = b.start()
                continue
            return b.start(), tok, mid
    return len(masked), "", mid


def _analyse_where(where: str) -> _Restrictions:
    """Analyse a WHERE clause once, over its literal-masked copy: the
    relations (column, kind, literal terms sliced from the original,
    top-level or not), whether the clause is a pure conjunction, whether
    it calls token(), and the words it names outside literals. Nothing
    inside a string literal — a column name, an operator, OR, LIMIT,
    token(, CONTAINS — is read as structure."""
    w = _masked(where)
    masked = w.masked
    rels = []
    for m in _REL_HEAD_RE.finditer(masked):
        col = m.group("col")
        if col is not None and col.lower() in _CQL_KEYWORDS:
            continue
        op = " ".join(m.group("op").upper().split())
        end, stop, mid = _rhs_end(masked, m.end(), op == "BETWEEN")
        end = len(masked[:end].rstrip())
        rhs = w.part(m.end(), end).trim()
        if mid is not None:
            terms = (w.part(m.end(), mid).trim(), w.part(mid + 3, end).trim())
        elif op == "IN" and _is_group(rhs):
            terms = tuple(_split_commas(rhs.part(1, len(rhs) - 1)))
        else:
            terms = (rhs,)
        kind = _OP_KINDS[op]
        if m.group("tuple"):
            cols = tuple(
                c.strip().lower() for c in m.group("tuple").split(",")
            )
            kind = kind if kind in ("eq", "in", "range") else "other"
        else:
            cols = (col.lower(),)
            if m.group("sub"):
                kind = "entries" if op == "=" else "other"
        before = masked[: m.start()]
        top = (
            stop in ("AND", "")
            and before.count("(") == before.count(")")
            and re.fullmatch(r"(?:.*\bAND)?\s*", before, re.I | re.S)
            is not None
        )
        rels.append(_Rel(cols, kind, op, terms, top, m.start(), end))
    words = frozenset(t.lower() for t in _IDENT_RE.findall(masked))
    return _Restrictions(
        text=w,
        rels=tuple(rels),
        conjunctive=not words & {"or", "not"},
        uses_token=re.search(_TOKEN_CALL, masked, re.I) is not None,
        words=words,
    )


def _rewrite_list_literals(where: str) -> _Masked:
    """``[a, b]`` → ``array(a, b)`` outside string literals, nested
    literals included, skipping subscripts (bracket groups attached to
    an identifier/']'/')'/a literal — with or without intervening
    whitespace, both legal CQL). An unterminated group stays as it is."""
    w = _masked(where)
    masked = w.masked
    parts, pos, i = [], 0, 0
    while i < len(masked):
        if masked[i] != "[":
            i += 1
            continue
        prev = masked[:i].rstrip()[-1:]
        if prev and (prev.isalnum() or prev in "_])'"):
            i += 1  # a subscript
            continue
        j = _scan_to_close(masked, i)
        if j is None or masked[j - 1] != "]":
            i += 1
            continue
        parts += [
            w.part(pos, i), "array(",
            _rewrite_list_literals(w.part(i + 1, j - 1)), ")",
        ]
        pos = i = j
    return _join([*parts, w.part(pos, len(w))])


def _rewrite_where(
    where: str, map_cols: frozenset[str] = frozenset()
) -> _Masked:
    """CQL-only surface forms → Spark SQL equivalents, rewritten outside
    string literals only. ``map_cols`` names the MAP-typed columns: CQL
    ``CONTAINS`` on a map is VALUE-side containment (the reference's
    rule), which Spark spells ``array_contains(map_values(col), v)``."""
    # col CONTAINS KEY v  →  map_contains_key(col, v)
    where = _sub_quoted(
        r"(\w+)\s+CONTAINS\s+KEY\s+('[^']*'|\S+)",
        lambda s, m: f"map_contains_key({_grp(s, m, 1)}, {_grp(s, m, 2)})",
        where,
    )

    # col CONTAINS v  →  array_contains(col, v); map columns check values
    def _contains(s: str, m: re.Match) -> str:
        col, v = _grp(s, m, 1), _grp(s, m, 2)
        if col.lower() in map_cols:
            return f"array_contains(map_values({col}), {v})"
        return f"array_contains({col}, {v})"

    where = _sub_quoted(r"(\w+)\s+CONTAINS\s+('[^']*'|\S+)", _contains, where)
    # [..] literal → array(..): CQL frozen-list equality for FULL-indexed
    # columns
    where = _rewrite_list_literals(where)
    # token(pk) → cassandra_token(pk): bit-exact Murmur3Partitioner
    # tokens (operators/murmur3.py), registered per session by
    # cql_select, so a driver-supplied token bound matches production
    return _sub_quoted(_TOKEN_CALL, lambda s, m: "cassandra_token(", where)


def _rewrite_tuple_relations(r: _Restrictions, meta) -> _Masked:
    """Multi-column clustering relations ``(c1, c2) >= (x, y)`` (`[C*
    cql3/restrictions/MultiColumnRestriction, unverified]`) of the
    analysed clause ``r`` expanded to the equivalent boolean form — the
    same fully-pushdown-able disjunction of per-column range filters the
    batch tier uses (p3_tuple_range) and the keyset pager emits for its
    resume cursor; ``(c1, c2) IN ((1, 2), (3, 4))`` (`[C* cql3/
    restrictions/MultiColumnRestriction.InRestriction, unverified]`)
    becomes a disjunction of per-tuple equality conjunctions. The named
    columns must be a contiguous run of clustering columns in declared
    order, like the reference's validation. The comparison respects the
    CLUSTERING ORDER: a DESC column's component flips its value
    comparison (rows "greater" in clustering order have SMALLER values),
    matching the reference's slice semantics."""
    ck = list(meta.clustering_cols)
    desc = {
        c.lstrip("-") for c in meta.clustering if str(c).startswith("-")
    }

    def _values(cols: list[str], group: _Masked, what: str):
        vals = _split_commas(group.part(1, len(group) - 1))
        if len(vals) != len(cols):
            raise CQLError(
                f"{what} arity mismatch: {len(cols)} "
                f"columns vs {len(vals)} values"
            )
        return vals

    def _any(terms) -> list:
        """``((a AND b ...) OR ...)`` of per-column conjuncts, as pieces."""
        out = ["("]
        for i, parts in enumerate(terms):
            out += [" OR ("] if i else ["("]
            for j, p in enumerate(parts):
                out += [" AND ", *p] if j else p
            out.append(")")
        return out + [")"]

    w, parts, pos = r.text, [], 0
    for rel in r.rels:
        cols = list(rel.cols)
        if len(cols) < 2 or rel.kind not in ("eq", "in", "range"):
            continue
        if rel.kind != "in" and not _is_group(rel.terms[0]):
            continue
        if not set(cols) <= set(ck):
            raise CQLError(
                "multi-column relations are only supported on clustering "
                f"columns (got {cols}, clustering {ck})"
            )
        first = ck.index(cols[0])
        if ck[first : first + len(cols)] != cols:
            raise CQLError(
                "multi-column relation columns must be a contiguous run "
                f"of the clustering key in declared order ({ck})"
            )
        if rel.kind == "in":
            if not all(_is_group(t) for t in rel.terms):
                raise CQLError(
                    "multi-column IN takes a list of tuples: "
                    f"{', '.join(rel.terms)!r}"
                )
            if not rel.terms:
                raise CQLError("multi-column IN needs at least one tuple")
            terms = [
                [[f"{c} = ", v] for c, v in zip(cols, _values(
                    cols, t, "multi-column IN"
                ))]
                for t in rel.terms
            ]
            expansion = _any(terms)
        else:
            vals = _values(cols, rel.terms[0], "multi-column relation")
            if rel.op == "=":
                expansion = _any(
                    [[[f"{c} = ", v] for c, v in zip(cols, vals)]]
                )[1:-1]
            else:
                base, final_strict = rel.op[0], len(rel.op) == 1
                terms = []
                for k, col in enumerate(cols):
                    o = base
                    if col in desc:
                        o = "<" if o == ">" else ">"
                    eq = "" if k < len(cols) - 1 or final_strict else "="
                    terms.append(
                        [[f"{cols[j]} = ", vals[j]] for j in range(k)]
                        + [[f"{col} {o}{eq} ", vals[k]]]
                    )
                expansion = _any(terms)
        parts += [w.part(pos, rel.start), *expansion]
        pos = rel.end
    return _join([*parts, w.part(pos, len(w))])


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

    def _sub(_src: str, m: re.Match) -> str:
        # the arguments are read from the masked copy: a literal
        # argument can never equal the key's column list
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

    return str(_sub_quoted(r"\bcassandra_token\s*\(([^()]*)\)", _sub, text))


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


def reads_cell_metadata(s: _Stmt) -> bool:
    """Whether the parsed SELECT ``s`` calls a WRITETIME() /
    MAXWRITETIME() / TTL() selector, the only readers of the shadow
    columns (searched over the literal-masked projection, so a string
    literal that spells one is a value)."""
    return _SELECTOR_CALL_RE.search(s.projection.masked) is not None


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

    return _sub_item(_SIM_RE, repl, item)


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

    return _sub_item(_CAST_RE, repl, item)


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

    return _sub_item(_DIV_RE, repl, item)


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

    return _sub_item(_COLLFN_RE, repl, item)


def _rewrite_masks(item: str, dtypes: dict) -> str:
    from cassandra_spark.operators.masking import (
        mask_inner_sql,
        mask_outer_sql,
    )

    def repl(m: re.Match) -> str:
        kind = m.group(1).lower()
        args = _split_commas(m.group(2))
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

    return _sub_item(_MASK_RE, repl, item)


def _rewrite_item(item: str, dtypes: dict) -> str:
    """One projection item in Spark SQL: similarity functions, CQL casts,
    integer division, collection functions and masks, rewritten outside
    string literals against the frame's column types ``dtypes`` (name ->
    type string)."""
    item = _rewrite_cql_casts(_rewrite_similarity(item))
    item = _rewrite_int_division(item, dtypes)
    return str(_rewrite_masks(_rewrite_collection_fns(item, dtypes), dtypes))


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
        item = f"{shadow} AS {alias or f'{fn}_{col}'}"
        out.append(_Masked(item, item))  # no literal to mask
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
    items = _split_commas(s.projection)
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

    # SAI-indexed columns → their similarity function (None = cosine)
    sai = {c: opt for c, kind, opt in meta.indexes if kind == "sai"}
    if col in sai:
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
    sim = sai.get(col) or "cosine"
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
        r = s.restrictions
        # multi-column clustering relations expand first; the gate reads
        # their components from the analysis as the expansion's per-column
        # eq / range relations
        where_sql = _rewrite_tuple_relations(r, meta)
        restricted = r.columns(columns)
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
        uses_token = r.uses_token
        # a PARTIAL composite-partition-key restriction is a filtered
        # ring scan, exactly like a restricted clustering column without
        # its partition — the reference demands ALLOW FILTERING for it
        # (`[C* cql3/restrictions/StatementRestrictions ::
        # processPartitionKeyRestrictions, unverified]`)
        pk_set = set(meta.partition_key)
        pk_restricted = restricted & pk_set
        # column → {index kind → option}, read once from the table's
        # index entries
        by_col: dict[str, dict[str, str | None]] = {}
        for c, kind, opt in meta.indexes:
            by_col.setdefault(c, {})[kind] = opt
        # EXCEPT: an indexed COMPONENT of a composite partition key
        # admits a lone equality restriction without ALLOW FILTERING
        # (the reference's 2i-on-partition-component rule — indexable
        # since the key is composite; a range still filters)
        pk_index_served = (
            len(pk_set) > 1
            and bool(pk_restricted)
            and all("values" in by_col.get(c, ()) for c in pk_restricted)
            and all(
                "eq" in r.kinds(c) and r.kinds(c) <= {"eq", "entries"}
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
        # non-equality restrictions on PARTITION KEY components are a
        # filtered ring scan — the reference admits only EQ / IN on the
        # partition key unless token() reframes it or ALLOW FILTERING
        # makes the scan explicit (`[C* cql3/restrictions/
        # PartitionKeyRestrictions, unverified]`)
        if (
            pk_restricted and not uses_token and not s.allow_filtering
            and not pk_index_served
            and any(r.kinds(c) - {"eq", "in"} for c in pk_restricted)
        ):
            raise CQLError(
                "Only EQ and IN relation are supported on the "
                "partition key (unless you use the token() function "
                "or ALLOW FILTERING)"
            )

        # a secondary index admits restrictions on its column without
        # ALLOW FILTERING when its kind admits every predicate kind on
        # the column (_INDEX_ADMITS)
        indexed_ok = set()
        for c in non_key:
            kinds = r.kinds(c) - {"in"}
            idx = by_col.get(c, {})
            if not kinds:
                # the column appears in WHERE outside every recognized
                # predicate shape (IN list, IS NOT NULL, function args):
                # the custom index classes keep the historical
                # any-appearance admission for those, 2i kinds do not
                if "sai" in idx or "sasi" in idx:
                    indexed_ok.add(c)
                continue
            if "like" in kinds and "sasi" in idx:
                # the SASI index MODE bounds the LIKE shapes it can
                # serve (`[C* index/sasi/conf/IndexMode, unverified]`):
                # PREFIX (default) = 'pre%' only, CONTAINS = any,
                # SPARSE (dense numerics) = none
                mode = idx["sasi"]
                if mode == "SPARSE":
                    raise CQLError(
                        f"LIKE is not supported on the SPARSE-mode "
                        f"SASI index of {c!r}"
                    )
                pats = [
                    lit[1:-1].replace("''", "'")
                    for rel in r.rels
                    if rel.cols == (c,) and rel.kind == "like"
                    for lit in rel.lits(("str",)) or ()
                ]
                if mode != "CONTAINS" and any(
                    not re.fullmatch(r"[^%]+%", p) for p in pats
                ):
                    raise CQLError(
                        f"the PREFIX-mode SASI index of {c!r} only "
                        "supports LIKE '<prefix>%' queries (create "
                        "the index WITH OPTIONS = {'mode': "
                        "'CONTAINS'} for infix/suffix search)"
                    )
            if kinds <= set().union(*(_INDEX_ADMITS[k] for k in idx)):
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
        where_expr = _rewrite_where(where_sql, map_cols)
        if uses_token:
            where_expr = _composite_token_rewrite(
                where_expr, meta, dtypes, spark
            )
        where_expr = str(where_expr)
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
        if s.projection != "*":
            df = df.selectExpr(
                *[_rewrite_item(p, dtypes) for p in _split_commas(s.projection)]
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

    if s.projection != "*":
        # split and rewritten over the statement's masked copy: a comma
        # or ``token(`` inside a string literal is part of the value
        items = _split_commas(s.projection)
        items, df = _rewrite_selectors(items, df, meta, s.table, dtypes)
        if any(re.search(_TOKEN_CALL, i.masked, re.I) for i in items):
            # token() as a selector (SELECT token(pk) ...): same Murmur3
            # convention as the WHERE-clause rewrite
            murmur3.ensure_token_registered(spark)
            items = [
                _composite_token_rewrite(
                    _sub_quoted(
                        _TOKEN_CALL, lambda _src, _m: "cassandra_token(", i
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
