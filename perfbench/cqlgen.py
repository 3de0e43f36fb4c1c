"""Seeded CQL statement streams and the reference model that checks them.

The generator emits statement *text* for ``CqlSession.execute`` together
with a structured description of each write. The reference model consumes
only the structured description, so it never shares a parser with the
engine: it is a plain dict keyed by (partition, clustering, column) that
applies Cassandra's reconcile rules (last writer wins, a tombstone beats a
write at the same timestamp, later arrival breaks the remaining ties, row
tombstones shadow cells at or below their timestamp, TTL expiry against
the newest timestamp ever written).

Timestamps follow the engine's logical clock: every DML statement (a
batch counts once) ticks the table clock by one and, without ``USING
TIMESTAMP``, writes at the new clock value. TTLs are in the same units.

Key skew is the one figure taken from a published workload: partition
keys, written and read, are Zipf-distributed with YCSB's zipfian
constant 0.99 (Cooper et al., "Benchmarking Cloud Serving Systems with
YCSB", SoCC 2010; ``ZipfianGenerator.ZIPFIAN_CONSTANT``). The statement
mix in ``WriteStream`` is a fixed choice of this benchmark, not a
measured one; its docstring says why each share was picked.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass, field

TABLE = "ev"
DDL = (
    f"CREATE TABLE {TABLE} (k text, c int, v text, n int, tag text, "
    "PRIMARY KEY (k, c)) WITH compaction = "
    "{'class': 'SizeTieredCompactionStrategy'}"
)
INDEX_DDL = f"CREATE INDEX ON {TABLE} (tag)"
COLUMNS = ("v", "n", "tag")
MARKER = "__marker"
N_TAGS = 400
ZIPF_S = 0.99  # YCSB's zipfian constant


@dataclass
class Write:
    """One mutation of one row. ``kind`` is insert, update or delete."""

    kind: str
    k: str
    c: int
    values: dict = field(default_factory=dict)
    ts: int | None = None  # explicit USING TIMESTAMP
    ttl: int | None = None

    def cql(self, in_batch: bool = False) -> str:
        using = []
        if not in_batch and self.ts is not None:
            using.append(f"TIMESTAMP {self.ts}")
        if self.ttl is not None:
            using.append(f"TTL {self.ttl}")
        u = " AND ".join(using)
        if self.kind == "insert":
            cols = ", ".join(["k", "c", *self.values])
            vals = ", ".join(
                [_lit(self.k), str(self.c), *(_lit(v) for v in self.values.values())]
            )
            tail = f" USING {u}" if u else ""
            return f"INSERT INTO {TABLE} ({cols}) VALUES ({vals}){tail}"
        where = f"WHERE k = {_lit(self.k)} AND c = {self.c}"
        if self.kind == "update":
            sets = ", ".join(f"{col} = {_lit(v)}" for col, v in self.values.items())
            head = f"UPDATE {TABLE} USING {u} SET" if u else f"UPDATE {TABLE} SET"
            return f"{head} {sets} {where}"
        head = f"DELETE FROM {TABLE} USING {u}" if u else f"DELETE FROM {TABLE}"
        return f"{head} {where}"

    def user_bytes(self) -> int:
        """Logical bytes this write carries: key, clustering and values."""
        return len(self.k) + 4 + sum(_size(v) for v in self.values.values())


@dataclass
class Statement:
    """One statement: its text, its kind label and the writes it applies."""

    kind: str  # insert, update, delete, batch
    text: str
    writes: list


def _lit(v) -> str:
    return f"'{v}'" if isinstance(v, str) else str(v)


def _size(v) -> int:
    return len(v) if isinstance(v, str) else 4


class RefModel:
    """Dict-based model of the table's visible rows."""

    def __init__(self) -> None:
        self.clock = 0
        self.max_wt: int | None = None
        self._seq = 0
        # (k, c, col) -> (ts, is_tomb, seq, value, ttl)
        self.cells: dict[tuple, tuple] = {}
        self.row_tombs: dict[tuple, int] = {}
        self.rows_by_k: dict[str, set] = {}
        self.user_bytes = 0

    def apply(self, stmt: Statement) -> None:
        self.clock += 1
        for w in stmt.writes:
            self._apply(w, w.ts if w.ts is not None else self.clock)

    def _apply(self, w: Write, ts: int) -> None:
        self.user_bytes += w.user_bytes()
        self.max_wt = ts if self.max_wt is None else max(self.max_wt, ts)
        self.rows_by_k.setdefault(w.k, set()).add(w.c)
        if w.kind == "delete":
            key = (w.k, w.c)
            self.row_tombs[key] = max(self.row_tombs.get(key, ts), ts)
            return
        ttl = w.ttl or 0
        if w.kind == "insert":
            self._put((w.k, w.c, MARKER), ts, False, None, ttl)
        for col, v in w.values.items():
            self._put((w.k, w.c, col), ts, False, v, ttl)

    def _put(self, key, ts, tomb, value, ttl) -> None:
        self._seq += 1
        new = (ts, tomb, self._seq, value, ttl)
        old = self.cells.get(key)
        if old is None or (ts, tomb, self._seq) > old[:3]:
            self.cells[key] = new

    def _live(self, key, asof: int, shadow: int | None):
        cell = self.cells.get(key)
        if cell is None:
            return None
        ts, tomb, _, value, ttl = cell
        if tomb or (ttl and ts + ttl <= asof):
            return None
        if shadow is not None and ts <= shadow:
            return None
        return cell

    def row(self, k: str, c: int):
        """(c, v, n, tag) of the visible row, or None."""
        asof = (self.max_wt or 0) + 1
        shadow = self.row_tombs.get((k, c))
        marker = self._live((k, c, MARKER), asof, shadow)
        vals = []
        for col in COLUMNS:
            cell = self._live((k, c, col), asof, shadow)
            vals.append(None if cell is None else cell[3])
        if marker is None and all(v is None for v in vals):
            return None
        return (c, *vals)

    def partition(self, k: str, lo: int | None = None, hi: int | None = None):
        """Visible rows of partition ``k`` with lo <= c < hi, sorted by c."""
        out = []
        for c in sorted(self.rows_by_k.get(k, ())):
            if (lo is not None and c < lo) or (hi is not None and c >= hi):
                continue
            r = self.row(k, c)
            if r is not None:
                out.append(r)
        return out

    def by_tag(self, tag: str):
        """Visible (k, c, v, n) rows whose tag equals ``tag``, sorted."""
        out = []
        for k, cs in self.rows_by_k.items():
            for c in cs:
                r = self.row(k, c)
                if r is not None and r[3] == tag:
                    out.append((k, c, r[1], r[2]))
        return sorted(out)

    def all_rows(self):
        """Every visible row as (k, c, v, n, tag), sorted."""
        return sorted(
            (k, *r)
            for k in self.rows_by_k
            for r in self.partition(k)
        )

    def live_bytes(self) -> int:
        """Logical bytes of the live user data: keys plus live values."""
        total = 0
        for k in self.rows_by_k:
            for r in self.partition(k):
                total += len(k) + 4 + sum(_size(v) for v in r[1:] if v is not None)
        return total


class Zipf:
    """Seeded Zipf(s) sampler over ranks 0..n-1 (rank 0 is the hottest)."""

    def __init__(self, n: int, s: float, rng: random.Random) -> None:
        weights = [1.0 / (i + 1) ** s for i in range(n)]
        self._cdf = list(itertools.accumulate(weights))
        self._rng = rng

    def sample(self) -> int:
        x = self._rng.random() * self._cdf[-1]
        return bisect.bisect_left(self._cdf, x)


class WriteStream:
    """Seeded stream of DML statements against one clustered table.

    Mix by statement: 76% INSERT (4% of them ``USING TTL``), 10% UPDATE,
    6% row DELETE, 5% logged BATCH of 2-4 row writes, 3% INSERT or UPDATE
    ``USING TIMESTAMP`` older than the clock (a late writer that may lose
    last-writer-wins). ``clock`` must track the table clock, which the
    caller guarantees by applying every statement it sends to the model.

    These shares are this benchmark's own fixed choice; no published
    trace gives a CQL statement mix. They follow one rule: INSERT
    dominates, as in YCSB's load phase, so that the stream grows the table
    through several flush and compaction cycles; every other statement
    kind the write path handles differently (cell overwrite, row
    tombstone, batch, TTL expiry, out-of-order timestamp) gets a share
    large enough to occur a few hundred times in a 10 s run, and small
    enough that the table keeps growing.
    """

    def __init__(self, seed: int, partitions: int, rows: int, clock) -> None:
        self.rng = random.Random(seed)
        self.partitions = partitions
        self.rows = rows
        self.clock = clock  # callable -> the model clock before the statement
        self.keys = Zipf(partitions, ZIPF_S, self.rng)

    def key(self, rank: int) -> str:
        return f"p{rank:06d}"

    def _values(self, cols) -> dict:
        r = self.rng
        out = {}
        for col in cols:
            if col == "v":
                out[col] = f"v{r.getrandbits(48):012x}"
            elif col == "n":
                out[col] = r.randrange(1_000_000)
            else:
                out[col] = f"t{r.randrange(N_TAGS)}"
        return out

    def _row_write(self, kind: str, k=None) -> Write:
        r = self.rng
        k = k if k is not None else self.key(self.keys.sample())
        c = r.randrange(self.rows)
        if kind == "insert":
            return Write("insert", k, c, self._values(COLUMNS))
        if kind == "update":
            cols = r.sample(COLUMNS, r.randint(1, 2))
            return Write("update", k, c, self._values(cols))
        return Write("delete", k, c)

    def next(self) -> Statement:
        r = self.rng
        x = r.random()
        if x < 0.76:
            w = self._row_write("insert")
            if r.random() < 0.04:
                w.ttl = r.randrange(2_000, 20_000)
            return Statement("insert", w.cql(), [w])
        if x < 0.86:
            w = self._row_write("update")
            return Statement("update", w.cql(), [w])
        if x < 0.92:
            w = self._row_write("delete")
            return Statement("delete", w.cql(), [w])
        if x < 0.97:
            k = self.key(self.keys.sample())
            writes = [
                self._row_write(r.choice(("insert", "insert", "update")), k)
                for _ in range(r.randint(2, 4))
            ]
            body = "; ".join(w.cql(in_batch=True) for w in writes)
            return Statement("batch", f"BEGIN BATCH {body}; APPLY BATCH", writes)
        kind = r.choice(("insert", "update"))
        w = self._row_write(kind)
        now = self.clock() + 1
        w.ts = max(1, now - r.randrange(1, 2_000))
        return Statement(kind, w.cql(), [w])


def absent_key(rank: int) -> str:
    """A partition key that no stream ever writes."""
    return f"q{rank:06d}"
