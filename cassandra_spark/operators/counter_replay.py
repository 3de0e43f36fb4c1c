"""w10: counter-table DML replay — W6 counter reconcile driven from real
statement text, differentially checked like w9_dml_replay.

Counter semantics `[C* db/counters/CounterContext, cql3 counter-table
validation, unverified]`: counter tables are counter-only, INSERT and
USING are rejected, the only write is ``SET c = c ± n``, and a cell's
value is the SUM of its increments — not LWW. Deletes interact with sums,
not single cells: the engine pins the deterministic reading "increments
strictly newer than the newest covering tombstone count" (the reference
calls post-delete re-increment undefined; see the sum mode of
cql_dml._reconcile_partition, the rule every read runs).

The oracle re-derives the same reconcile in DuckDB SQL over the VALUES
literal of the pinned mutation log (log ≡ parser output asserted in
tests/test_counter_replay.py).

Scale posture: a scan sums each token range's partitions in its own
Spark task, with no shuffle before the sum; a pinned read sums its
partitions on the driver. The continuous form is a
`groupBy(pk, ck).agg(sum)` under Structured Streaming (S6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cassandra_spark.cql_dml import CqlTable, TableSchema, mut_row
from cassandra_spark.dml_oracle import _values
from cassandra_spark.registry import query

COUNTER_SCRIPT: tuple[str, ...] = (
    "UPDATE hits SET views = views + 5 WHERE pk = 'a' AND ck = '1'",
    "UPDATE hits SET views = views + 3, clicks = clicks + 1 "
    "WHERE pk = 'a' AND ck = '1'",
    "UPDATE hits SET views = views + 7 WHERE pk = 'a' AND ck = '2'",
    "UPDATE hits SET clicks = clicks - 2 WHERE pk = 'b' AND ck = '1'",
    "DELETE views FROM hits WHERE pk = 'a' AND ck = '1'",
    # post-delete increment: strictly newer than the tombstone, so it counts
    "UPDATE hits SET views = views + 11 WHERE pk = 'a' AND ck = '1'",
    "DELETE FROM hits WHERE pk = 'a' AND ck = '2'",
    "DELETE FROM hits WHERE pk = 'b'",
    # resurrects the partition for this cell only
    "UPDATE hits SET clicks = clicks + 9 WHERE pk = 'b' AND ck = '1'",
    # counter mutations require the COUNTER batch kind (`[C* cql3/
    # statements/BatchStatement :: verifyBatchType, unverified]` —
    # they are not idempotent, so the logged batch's replay guarantee
    # cannot cover them; a plain BEGIN BATCH here is a CQLError)
    "BEGIN COUNTER BATCH "
    "UPDATE hits SET views = views + 1 WHERE pk = 'c' AND ck = '1'; "
    "UPDATE hits SET views = views + 1 WHERE pk = 'c' AND ck = '1'; "
    "APPLY BATCH",
)

HITS_SCHEMA = TableSchema(
    name="hits", partition_key="pk", clustering="ck",
    regular={"views": "long", "clicks": "long"}, counter=True,
)

EXPECTED_LOG: tuple[tuple, ...] = (
    mut_row("a", "1", "views", "5", "incr", 1, 0, 1),
    mut_row("a", "1", "views", "3", "incr", 2, 0, 2),
    mut_row("a", "1", "clicks", "1", "incr", 2, 0, 3),
    mut_row("a", "2", "views", "7", "incr", 3, 0, 4),
    mut_row("b", "1", "clicks", "-2", "incr", 4, 0, 5),
    mut_row("a", "1", "views", None, "cell_tomb", 5, 0, 6),
    mut_row("a", "1", "views", "11", "incr", 6, 0, 7),
    mut_row("a", "2", None, None, "row_tomb", 7, 0, 8),
    mut_row("b", None, None, None, "part_tomb", 8, 0, 9),
    mut_row("b", "1", "clicks", "9", "incr", 9, 0, 10),
    mut_row("c", "1", "views", "1", "incr", 10, 0, 11),
    mut_row("c", "1", "views", "1", "incr", 10, 0, 12),
)


_ORACLE = f"""
WITH log(pk, ck, col, elem, val, kind, writetime, ttl, seq,
         lo, hi, lo_incl, hi_incl) AS (
    VALUES
        {_values(EXPECTED_LOG)}
),
cell_tombs AS (
    SELECT pk, ck, col, max(writetime) AS ct FROM log
    WHERE kind = 'cell_tomb' GROUP BY pk, ck, col
),
row_tombs AS (
    SELECT pk, ck, max(writetime) AS rt FROM log
    WHERE kind = 'row_tomb' GROUP BY pk, ck
),
part_tombs AS (
    SELECT pk, max(writetime) AS pt FROM log
    WHERE kind = 'part_tomb' GROUP BY pk
),
live AS (
    SELECT i.* FROM log i
    LEFT JOIN cell_tombs c ON i.pk = c.pk AND i.ck = c.ck AND i.col = c.col
    LEFT JOIN row_tombs r ON i.pk = r.pk AND i.ck = r.ck
    LEFT JOIN part_tombs p ON i.pk = p.pk
    WHERE i.kind = 'incr'
      AND (c.ct IS NULL OR i.writetime > c.ct)
      AND (r.rt IS NULL OR i.writetime > r.rt)
      AND (p.pt IS NULL OR i.writetime > p.pt)
)
SELECT pk, ck,
    SUM(CASE WHEN col = 'views' THEN CAST(val AS BIGINT) END) AS views,
    SUM(CASE WHEN col = 'clicks' THEN CAST(val AS BIGINT) END) AS clicks
FROM live GROUP BY pk, ck
"""


@query("w10_counter_replay", oracle=_ORACLE)
def w10_counter_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay COUNTER_SCRIPT through the counter DML path; return the
    visible counter table (fixture-independent)."""
    table = CqlTable(spark, HITS_SCHEMA)
    for stmt in COUNTER_SCRIPT:
        table.execute(stmt)
    return table.snapshot()
