"""Table loader / schema registry — the engine's stand-in for Cassandra's
schema subsystem (`[C* schema/TableMetadata.java]`, unverified; SURVEY.md §0).

A "keyspace" maps to a directory of parquet tables (TESTDATA.md); each table
carries declared partition-key / clustering-key metadata mirroring the
wide-column model (SURVEY.md §1.3, FIXTURES.md "Cassandra-style modeling").
That metadata drives the R-tier read-path constructors and the W-tier merge
semantics — it is *declarative* only; physical layout is parquet and Spark
decides execution.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class TableMeta:
    """Cassandra-style table metadata: partition key + clustering columns.

    Mirrors the split in `[C* schema/TableMetadata.java]` (unverified):
    partition_key = unit of distribution, clustering = sort within partition.
    ``indexes`` is the one index-definition field: a session table's
    entries are read from ``CqlSession.index_names``, and every reader
    (the restriction gate, ANN routing) derives its per-kind view from it.
    """

    name: str
    partition_key: tuple[str, ...] = ()
    clustering: tuple[str, ...] = ()  # prefix "-" means DESC
    notes: str = ""
    # the table's indexes, one (column, kind, option) entry each, kind in
    # {values, keys, entries, full, sai, sasi}; option is the SASI mode
    # or the SAI similarity function (None = the reference default).
    # The kind decides which restrictions pass the ALLOW FILTERING gate
    # (`[C* schema/IndexMetadata; index/internal/CassandraIndex,
    # unverified]`) — analytically an index changes only the
    # *restriction* rule; the scan itself is Spark's job (R5/R6).
    indexes: tuple[tuple[str, str, str | None], ...] = ()
    # STATIC columns (per-partition values): legal SELECT DISTINCT
    # selectors alongside the full partition key (CASSANDRA-8087 lineage
    # `[C* cql3/statements/SelectStatement, unverified]`).
    statics: tuple[str, ...] = ()
    # parquet TIMESTAMP(NANOS) columns: Spark 4 refuses them natively; we
    # read them as long (legacy.parquet.nanosAsLong) and convert to µs
    # TimestampType. Lossless for this corpus (all values µs-aligned —
    # verified: epoch_ns % 1000 == 0 for every row) and matches DuckDB,
    # which surfaces the same column as µs TIMESTAMP.
    nanos_ts_cols: tuple[str, ...] = ()
    # persisted SAI vector-index artifacts: (column, artifact dir) pairs.
    # When an ANN-ordered column appears here, _compile_ann scans the
    # bucket-partitioned artifact (static partition pruning on the
    # multiprobe set) instead of recomputing LSH buckets per row.
    vector_index: tuple[tuple[str, str], ...] = ()

    @property
    def clustering_cols(self) -> tuple[str, ...]:
        return tuple(c.lstrip("-") for c in self.clustering)


# FIXTURES.md "Cassandra-style modeling" assignments.
SCHEMA: dict[str, TableMeta] = {
    m.name: m
    for m in (
        TableMeta("region", ("r_regionkey",)),
        TableMeta("nation", ("n_nationkey",)),
        TableMeta("customer", ("c_custkey",)),
        TableMeta("supplier", ("s_suppkey",)),
        TableMeta("part", ("p_partkey",)),
        TableMeta(
            "orders",
            ("o_custkey",),
            ("-o_orderdate", "o_orderkey"),
            "time-series-per-customer pattern",
        ),
        TableMeta("lineitem", ("l_orderkey",), ("l_linenumber",)),
        TableMeta(
            "events",
            ("user_id",),
            ("-ts", "event_id"),
            "canonical Cassandra time-series layout",
            nanos_ts_cols=("ts",),
        ),
        TableMeta("documents", ("doc_id",)),
        TableMeta("embeddings", ("vec_id",)),
    )
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Declarative scan: Catalyst handles column pruning and
    predicate pushdown into the parquet reader (replaces Cassandra's
    bloom-filter / key-range SSTable skipping, SURVEY.md §4.1)."""
    if name not in SCHEMA:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SCHEMA)}")
    meta = SCHEMA[name]
    if meta.nanos_ts_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in meta.nanos_ts_cols:
        df = restore_ts(df, c)
    return df


def restore_ts(df: DataFrame, c: str) -> DataFrame:
    """Normalize an event-time column to µs TimestampType regardless of how
    the corpus encoded it (dataset generations differ): TIMESTAMP(NANOS)
    arrives as long under nanosAsLong, TIMESTAMP(MICROS isAdjustedToUTC=
    false) as timestamp_ntz; session tz is UTC so the ntz cast is a pure
    relabel. Integer division for the ns case (no double round-trip: ns
    epochs exceed 2^53)."""
    dt = dict(df.dtypes).get(c)
    if dt == "bigint":
        return df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(c, F.col(c).cast("timestamp"))
    return df


class Catalog:
    """Lazy per-sf_dir table accessor. ``cat.lineitem`` → DataFrame."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in SCHEMA:
            return self.table(name)
        raise AttributeError(name)

    def meta(self, name: str) -> TableMeta:
        return SCHEMA[name]

    def register_views(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        """Register temp views so spark.sql() queries see bare table names —
        the analogue of keyspace activation (`USE ks`)."""
        for n in names:
            self.table(n).createOrReplaceTempView(n)
