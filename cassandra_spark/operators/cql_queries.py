"""CQL-driven registry entries: the cql.py front-end run through the same
DuckDB oracle gate as the native DataFrame constructors (SURVEY.md §2.13).

These prove end-to-end that a reference user's literal CQL text produces
oracle-identical results — parse → restriction check → DataFrame plan →
Catalyst. The statements cover the canonical CQL shapes: point lookup,
clustering slice with reversed order, and PER PARTITION LIMIT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cassandra_spark.cql import CQLError, cql_select
from cassandra_spark.registry import query


@query(
    "cql1_point_lookup",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders WHERE o_custkey = 7
    """,
)
def cql1_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL text → single-partition read (R1 through the front-end)."""
    return cql_select(
        spark,
        sf_dir,
        "SELECT o_orderkey, o_orderdate, o_totalprice "
        "FROM orders WHERE o_custkey = 7",
    )


@query(
    "cql2_slice_reversed",
    oracle="""
    SELECT o_orderkey, o_orderdate
    FROM orders
    WHERE o_custkey = 7 AND o_orderdate >= DATE '1995-01-01'
    ORDER BY o_orderdate DESC, o_orderkey ASC
    """,
)
def cql2_slice_reversed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL clustering slice + reversed clustering order (R4/O1)."""
    return cql_select(
        spark,
        sf_dir,
        "SELECT o_orderkey, o_orderdate FROM orders "
        "WHERE o_custkey = 7 AND o_orderdate >= '1995-01-01' "
        "ORDER BY o_orderdate DESC, o_orderkey ASC",
    )


@query(
    "cql3_per_partition_limit",
    oracle="""
    SELECT user_id, event_id
    FROM (
      SELECT user_id, event_id, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
      FROM events
    ) WHERE rn <= 2
    """,
)
def cql3_per_partition_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL PER PARTITION LIMIT over the declared clustering order (O3):
    newest 2 events per user, exactly Cassandra's first-k-rows-per-partition
    under the table's (-ts, event_id) clustering."""
    return cql_select(
        spark, sf_dir, "SELECT user_id, event_id FROM events PER PARTITION LIMIT 2"
    )


@query(
    "cql4_group_by",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           FIRST(o_orderdate ORDER BY o_orderdate DESC, o_orderkey)
             AS o_orderdate,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def cql4_group_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL GROUP BY on the partition key with native aggregates AND a
    non-grouped plain column (o_orderdate → the group's first row in
    clustering order (-o_orderdate, o_orderkey), i.e. the newest order's
    date — the reference's first-value semantics). min/max on raw doubles
    are exact (no summation), so no decimal routing is needed."""
    return cql_select(
        spark,
        sf_dir,
        "SELECT o_custkey, count(*) AS n, o_orderdate, "
        "min(o_totalprice) AS lo, max(o_totalprice) AS hi "
        "FROM orders GROUP BY o_custkey ORDER BY o_custkey",
    )


@query(
    "cql5_distinct_pk",
    oracle="""
    SELECT DISTINCT user_id FROM events
    """,
)
def cql5_distinct_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL SELECT DISTINCT partition keys: the partition directory listing
    (the reference streams distinct partition boundaries; here it is a
    hash-distinct over the single projected column, map-side combined).
    In-body (compile-time gate proofs, no extra Spark jobs): STATIC
    columns are legal DISTINCT selectors alongside the full partition key
    (CASSANDRA-8087 lineage), a regular column is not, and a static
    without the full partition key is not."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE TABLE dst (a text, b int, c bigint, v double, "
        "note text STATIC, PRIMARY KEY ((a, b), c))"
    )
    sess.execute("INSERT INTO dst (a, b, note) VALUES ('x', 1, 's')")
    sess.execute("SELECT DISTINCT a, b, note FROM dst")  # must compile
    for bad in (
        "SELECT DISTINCT a, b, v FROM dst",  # regular column
        "SELECT DISTINCT a, note FROM dst",  # partial partition key
    ):
        try:
            sess.execute(bad)
            raise AssertionError(f"DISTINCT gate must reject: {bad}")
        except CQLError:
            pass
    return cql_select(spark, sf_dir, "SELECT DISTINCT user_id FROM events")


# deterministic 64-dim query vector: v[d] = (((7d + 3) % 19) - 9) / 10
_ANN_V = ", ".join(str(round((((7 * d + 3) % 19) - 9) / 10, 1)) for d in range(64))


@query(
    "cql6_ann",
    oracle=f"""
    SELECT vec_id FROM (
      SELECT vec_id,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(embedding) + 1),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(q[i] AS DOUBLE))),
               (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, len(embedding) + 1),
                    i -> CAST(embedding[i] AS DOUBLE)
                         * CAST(embedding[i] AS DOUBLE))), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, len(q) + 1),
                      i -> CAST(q[i] AS DOUBLE) * CAST(q[i] AS DOUBLE))),
                    (x, y) -> x + y)))
             AS score
      FROM (SELECT vec_id, embedding, [{_ANN_V}] AS q FROM embeddings)
      ORDER BY score DESC, vec_id
      LIMIT 10
    )
    """,
)
def cql6_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's vector search (`ORDER BY .. ANN OF ..`, Cassandra 5
    SAI) through the CQL front-end: cosine top-10 against a literal query
    vector. Exact brute-force scoring — the front-end analogue of
    l3_cosine_topk; l3b/l3c are the bucketed 100 TB candidate paths."""
    return cql_select(
        spark,
        sf_dir,
        f"SELECT vec_id FROM embeddings ORDER BY embedding ANN OF "
        f"[{_ANN_V}] LIMIT 10",
    )


@query(
    "cql7_writetime_ttl",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) AS wt,
           CAST(2592000 AS INTEGER) AS ttl_s
    FROM events WHERE user_id < 5
    """,
)
def cql7_writetime_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITETIME()/TTL() selectors through the CQL front-end (`[C* cql3/
    selection/WritetimeOrTTLSelector]`, unverified): the literal statement
    text projects the SURVEY §1.2 shadow columns the events fixture
    synthesizes (ts → writetime µs, 30-day TTL = 2592000 s). Same plumbing
    f2_writetime_ttl proves for the DataFrame form."""
    return cql_select(
        spark,
        sf_dir,
        "SELECT event_id, user_id, WRITETIME(value) AS wt, "
        # a pk RANGE is a filtered ring scan: the reference (and now the
        # gate) demands ALLOW FILTERING for it without token()
        "TTL(value) AS ttl_s FROM events WHERE user_id < 5 ALLOW FILTERING",
    )


@query(
    "cql8_select_json",
    oracle="""
    SELECT '{"event_id":' || event_id || ',"event_type":"' || event_type
             || '","user_id":' || user_id || '}' AS "[json]"
    FROM events WHERE user_id = 7
    """,
)
def cql8_select_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT JSON through the CQL front-end (`[C* cql3/Json]`, unverified):
    every row renders as one '[json]' column (compact JSON, field order =
    selection order, null fields included). The oracle concatenates the
    identical string — integer/string columns only, engine-independent."""
    return cql_select(
        spark,
        sf_dir,
        "SELECT JSON event_id, event_type, user_id FROM events "
        "WHERE user_id = 7",
    )


# --- cql9: the full session lifecycle (DDL → DML → SELECT) ----------------

from cassandra_spark.cql_dml import mut_row  # noqa: E402
from cassandra_spark.cql_session import CqlSession, parse_create_table  # noqa: E402
from cassandra_spark.dml_oracle import dml_oracle_sql  # noqa: E402

SESSION_DDL = (
    "CREATE TABLE msgs (room text, posted int, author text, body text, "
    "PRIMARY KEY (room, posted))"
)
SESSION_DML: tuple[str, ...] = (
    "INSERT INTO msgs (room, posted, author, body) VALUES "
    "('dev', 1, 'ana', 'hello')",
    "INSERT INTO msgs (room, posted, author, body) VALUES "
    "('dev', 2, 'bo', 'hey')",
    "INSERT INTO msgs (room, posted, author, body) VALUES "
    "('ops', 1, 'cy', 'page')",
    "INSERT INTO msgs (room, posted, author) VALUES ('dev', 3, 'dee')",
    "UPDATE msgs SET body = 'hello!' WHERE room = 'dev' AND posted = 1",
    "DELETE body FROM msgs WHERE room = 'dev' AND posted = 2",
    "DELETE FROM msgs WHERE room = 'dev' AND posted >= 3",
)
SESSION_SELECT = (
    "SELECT posted, author, body FROM msgs WHERE room = 'dev' "
    "ORDER BY posted ASC"
)

# pinned log (asserted in tests/test_cql_session.py)
SESSION_LOG: tuple[tuple, ...] = (
    mut_row('dev', '1', None, None, 'marker', 1, 0, 1),
    mut_row('dev', '1', 'author', 'ana', 'cell', 1, 0, 2),
    mut_row('dev', '1', 'body', 'hello', 'cell', 1, 0, 3),
    mut_row('dev', '2', None, None, 'marker', 2, 0, 4),
    mut_row('dev', '2', 'author', 'bo', 'cell', 2, 0, 5),
    mut_row('dev', '2', 'body', 'hey', 'cell', 2, 0, 6),
    mut_row('ops', '1', None, None, 'marker', 3, 0, 7),
    mut_row('ops', '1', 'author', 'cy', 'cell', 3, 0, 8),
    mut_row('ops', '1', 'body', 'page', 'cell', 3, 0, 9),
    mut_row('dev', '3', None, None, 'marker', 4, 0, 10),
    mut_row('dev', '3', 'author', 'dee', 'cell', 4, 0, 11),
    mut_row('dev', '1', 'body', 'hello!', 'cell', 5, 0, 12),
    mut_row('dev', '2', 'body', None, 'cell_tomb', 6, 0, 13),
    mut_row('dev', '', None, None, 'range_tomb', 7, 0, 14,
            lo='3', hi=None, lo_incl=True, hi_incl=False),
)
SESSION_ASOF = 8

_SESSION_SCHEMA = parse_create_table(SESSION_DDL)


@query(
    "cql9_session",
    oracle=f"""
    SELECT posted, author, body
    FROM ({dml_oracle_sql(_SESSION_SCHEMA, SESSION_LOG, SESSION_ASOF)})
    WHERE room = 'dev'
    """,
)
def cql9_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full session lifecycle through one endpoint: CREATE TABLE →
    INSERT/UPDATE/DELETE (incl. a range delete) → SELECT with a partition
    restriction and clustering order, read back from the visible snapshot.
    The oracle reconciles the pinned mutation log (≡ parser output) and
    applies the same restriction — DDL, write path, and read path checked
    as one pipeline (fixture-independent)."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(SESSION_DDL)
    for stmt in SESSION_DML:
        sess.execute(stmt)
    return sess.execute(SESSION_SELECT)


# --- cql10: multi-table logged batch (Snk2, the denormalized double-write) -

BATCH_DDL_BASE = (
    "CREATE TABLE inbox (room text, posted int, author text, body text, "
    "PRIMARY KEY (room, posted))"
)
BATCH_DDL_TWIN = (
    "CREATE TABLE inbox_by_author (author text, posted int, room text, "
    "body text, PRIMARY KEY (author, posted))"
)
BATCH_DML: tuple[str, ...] = (
    "INSERT INTO inbox (room, posted, author, body) VALUES "
    "('dev', 1, 'ana', 'pre')",
    # atomic double-write: base + query-pattern twin at ONE timestamp
    "BEGIN BATCH "
    "INSERT INTO inbox (room, posted, author, body) VALUES "
    "('dev', 2, 'bo', 'both'); "
    "INSERT INTO inbox_by_author (author, posted, room, body) VALUES "
    "('bo', 2, 'dev', 'both'); "
    "APPLY BATCH",
    # a second batch: coordinated edit + an extra twin-only row
    "BEGIN BATCH "
    "UPDATE inbox SET body = 'edit' WHERE room = 'dev' AND posted = 2; "
    "UPDATE inbox_by_author SET body = 'edit' "
    "WHERE author = 'bo' AND posted = 2; "
    "INSERT INTO inbox_by_author (author, posted, room, body) VALUES "
    "('bo', 3, 'ops', 'page'); "
    "APPLY BATCH",
    "DELETE FROM inbox_by_author WHERE author = 'bo' AND posted = 3",
)
BATCH_SELECT = (
    "SELECT posted, room, body FROM inbox_by_author WHERE author = 'bo' "
    "ORDER BY posted ASC"
)

# pinned logs, one per table (asserted in tests/test_cql_session.py); the
# shared batch timestamps (2 and 3) appearing in BOTH logs are the point
BATCH_LOG_BASE: tuple[tuple, ...] = (
    mut_row('dev', '1', None, None, 'marker', 1, 0, 1),
    mut_row('dev', '1', 'author', 'ana', 'cell', 1, 0, 2),
    mut_row('dev', '1', 'body', 'pre', 'cell', 1, 0, 3),
    mut_row('dev', '2', None, None, 'marker', 2, 0, 4),
    mut_row('dev', '2', 'author', 'bo', 'cell', 2, 0, 5),
    mut_row('dev', '2', 'body', 'both', 'cell', 2, 0, 6),
    mut_row('dev', '2', 'body', 'edit', 'cell', 3, 0, 7),
)
BATCH_LOG_TWIN: tuple[tuple, ...] = (
    mut_row('bo', '2', None, None, 'marker', 2, 0, 1),
    mut_row('bo', '2', 'room', 'dev', 'cell', 2, 0, 2),
    mut_row('bo', '2', 'body', 'both', 'cell', 2, 0, 3),
    mut_row('bo', '2', 'body', 'edit', 'cell', 3, 0, 4),
    mut_row('bo', '3', None, None, 'marker', 3, 0, 5),
    mut_row('bo', '3', 'room', 'ops', 'cell', 3, 0, 6),
    mut_row('bo', '3', 'body', 'page', 'cell', 3, 0, 7),
    mut_row('bo', '3', None, None, 'row_tomb', 4, 0, 8),
)
BATCH_ASOF = 5

_BATCH_TWIN_SCHEMA = parse_create_table(BATCH_DDL_TWIN)


@query(
    "cql10_batch_twin",
    oracle=f"""
    SELECT posted, room, body
    FROM ({dml_oracle_sql(_BATCH_TWIN_SCHEMA, BATCH_LOG_TWIN, BATCH_ASOF)})
    WHERE author = 'bo'
    """,
)
def cql10_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snk2 (logged batch) end-to-end: two tables created in a session,
    written by multi-table BATCHes (atomic, one shared timestamp), the
    denormalized twin then read back. The oracle reconciles the twin's
    pinned mutation log — which carries the shared batch timestamps — so
    the cross-table write path is what's being checked
    (fixture-independent)."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(BATCH_DDL_BASE)
    sess.execute(BATCH_DDL_TWIN)
    for stmt in BATCH_DML:
        sess.execute(stmt)
    return sess.execute(BATCH_SELECT)


# --- cql11: prepared statements + keyset paging through the front door -----

PAGE_USERS = tuple(range(1, 11))
PAGE_SIZE = 100
PAGE_INDEX = 2  # return the third page

PREPARED_SELECT = (
    "SELECT event_id, user_id, ts, event_type, value "
    "FROM events WHERE user_id IN ?"
)


@query(
    "cql11_prepared_paging",
    oracle=f"""
    SELECT event_id, user_id, ts, event_type, value
    FROM events
    WHERE user_id IN {PAGE_USERS}
    ORDER BY user_id, ts DESC, event_id
    LIMIT {PAGE_SIZE} OFFSET {PAGE_INDEX * PAGE_SIZE}
    """,
)
def cql11_prepared_paging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 keyset paging driven entirely through the session surface: a
    PREPARED statement (`?` bind marker taking the partition-key IN list)
    is executed paged, the opaque paging-state token round-trips twice,
    and the third page comes back. Page order is the table's primary-key
    order (user_id, ts DESC, event_id — the reversed clustering is the
    point); every page is an independent range-scan + top-k plan, state
    lives only in the token. The oracle is the same walk as one
    OFFSET/LIMIT query over the total order."""
    sess = CqlSession(spark, sf_dir)
    bound = sess.prepare(PREPARED_SELECT).bind(PAGE_USERS)
    state = None
    for _ in range(PAGE_INDEX):
        state = sess.execute_paged(bound, PAGE_SIZE, state).paging_state()
        if state is None:  # corpus shrank below PAGE_INDEX pages
            raise RuntimeError("fixture has too few rows to reach the page")
    return sess.execute_paged(bound, PAGE_SIZE, state).df


# --- cql12: KEYS() map index + CONTAINS KEY through the restriction gate ---

KEYS_DDL = (
    "CREATE TABLE profiles (uid text PRIMARY KEY, name text, "
    "attrs map<text,text>)"
)
KEYS_DML: tuple[str, ...] = (
    "INSERT INTO profiles (uid, name, attrs) VALUES "
    "('u1', 'ana', {'tier': 'gold', 'region': 'eu'})",
    "INSERT INTO profiles (uid, name, attrs) VALUES ('u2', 'bo', {'region': 'us'})",
    # update-only row: exists through its single map cell, name stays NULL
    "UPDATE profiles SET attrs['tier'] = 'silver' WHERE uid = 'u3'",
    "INSERT INTO profiles (uid, name, attrs) VALUES ('u4', 'cy', {'tier': 'free'})",
    # map-key delete: u1 must drop OUT of the CONTAINS KEY result
    "DELETE attrs['tier'] FROM profiles WHERE uid = 'u1'",
)
KEYS_INDEX_DDL = "CREATE INDEX ON profiles (KEYS(attrs))"
KEYS_SELECT = "SELECT uid, name FROM profiles WHERE attrs CONTAINS KEY 'tier'"

# pinned log (asserted ≡ parser output in tests/test_cql_session.py)
KEYS_LOG: tuple[tuple, ...] = (
    mut_row('u1', '', None, None, 'marker', 1, 0, 1),
    mut_row('u1', '', 'name', 'ana', 'cell', 1, 0, 2),
    mut_row('u1', '', 'attrs', None, 'coll_tomb', 0, 0, 3),
    mut_row('u1', '', 'attrs', 'gold', 'cell', 1, 0, 4, elem='tier'),
    mut_row('u1', '', 'attrs', 'eu', 'cell', 1, 0, 5, elem='region'),
    mut_row('u2', '', None, None, 'marker', 2, 0, 6),
    mut_row('u2', '', 'name', 'bo', 'cell', 2, 0, 7),
    mut_row('u2', '', 'attrs', None, 'coll_tomb', 1, 0, 8),
    mut_row('u2', '', 'attrs', 'us', 'cell', 2, 0, 9, elem='region'),
    mut_row('u3', '', 'attrs', 'silver', 'cell', 3, 0, 10, elem='tier'),
    mut_row('u4', '', None, None, 'marker', 4, 0, 11),
    mut_row('u4', '', 'name', 'cy', 'cell', 4, 0, 12),
    mut_row('u4', '', 'attrs', None, 'coll_tomb', 3, 0, 13),
    mut_row('u4', '', 'attrs', 'free', 'cell', 4, 0, 14, elem='tier'),
    mut_row('u1', '', 'attrs', None, 'cell_tomb', 5, 0, 15, elem='tier'),
)
KEYS_ASOF = 6

_KEYS_SCHEMA = parse_create_table(KEYS_DDL)


@query(
    "cql12_keys_index",
    oracle=f"""
    SELECT uid, name
    FROM ({dml_oracle_sql(_KEYS_SCHEMA, KEYS_LOG, KEYS_ASOF)})
    WHERE list_contains(
        CAST(json_extract_string(attrs, '$[*].key') AS VARCHAR[]), 'tier')
    """,
)
def cql12_keys_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 through the map-key secondary index: ``CREATE INDEX (KEYS(attrs))``
    admits ``attrs CONTAINS KEY 'tier'`` past the restriction gate with no
    ALLOW FILTERING (a values index would NOT — kind-matching is the
    point). The workload exercises the map write path both ways: a
    subscript put creates an update-only row, and a map-key delete drops a
    row out of the result. The oracle reconciles the pinned mutation log
    and applies the same key-membership filter to the JSON-rendered map."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(KEYS_DDL)
    for stmt in KEYS_DML:
        sess.execute(stmt)
    sess.execute(KEYS_INDEX_DDL)
    return sess.execute(KEYS_SELECT)


# --- cql13: vector similarity selectors (Cassandra 5 VectorFcts) -----------

from cassandra_spark.operators.llm_vectors import dot_duck  # noqa: E402

_DOT_EQ = dot_duck("embedding", "q")
_NRM_E = f"sqrt({dot_duck('embedding', 'embedding')})"
_NRM_Q = f"sqrt({dot_duck('q', 'q')})"


@query(
    "cql13_similarity",
    oracle=f"""
    SELECT vec_id, sim FROM (
      SELECT vec_id,
             (1.0 + {_DOT_EQ} / ({_NRM_E} * {_NRM_Q})) / 2.0 AS sim
      FROM (SELECT vec_id, embedding, [{_ANN_V}] AS q FROM embeddings)
      ORDER BY sim DESC, vec_id
      LIMIT 10
    )
    """,
)
def cql13_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cassandra 5's vector similarity selector through the front door:
    ``similarity_cosine(col, [..])`` in the projection combined with
    ``ORDER BY .. ANN OF ..`` — the canonical C*5 idiom for 'return the
    top-k AND their scores'. The selector compiles to the same JVM-side
    fold as the ANN scorer ((1+cos)/2 normalization, score 1 = identical);
    the oracle recomputes it with the DuckDB list fold."""
    return cql_select(
        spark,
        sf_dir,
        f"SELECT vec_id, similarity_cosine(embedding, [{_ANN_V}]) AS sim "
        f"FROM embeddings ORDER BY embedding ANN OF [{_ANN_V}] LIMIT 10",
    )


# --- cql14: CQL user-defined functions through the session -----------------


@query(
    "cql14_udf",
    oracle="""
    SELECT o_orderkey,
           (o_totalprice * 1.07) AS taxed,
           ((o_totalprice * 1.07) - o_totalprice) AS tax_amount
    FROM orders WHERE o_custkey = 7
    """,
)
def cql14_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL UDF DDL end-to-end: CREATE FUNCTION registers an expression
    body, a second function composes the first (expansion runs to a
    fixpoint), and a SELECT projects both — calls are inlined at parse
    time, so the plan is pure whole-stage-codegen arithmetic (no per-row
    interpreter, unlike the reference's sandboxed java bodies — the pinned
    LANGUAGE sql deviation documented in CqlSession._create_function)."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE FUNCTION taxed (p double) RETURNS double "
        "LANGUAGE sql AS 'p * 1.07'"
    )
    sess.execute(
        "CREATE FUNCTION tax_amount (p double) RETURNS double "
        "LANGUAGE sql AS 'taxed(p) - p'"
    )
    return sess.execute(
        "SELECT o_orderkey, taxed(o_totalprice) AS taxed, "
        "tax_amount(o_totalprice) AS tax_amount "
        "FROM orders WHERE o_custkey = 7"
    )


# --- cql15: CQL user-defined aggregates through the session ----------------


@query(
    "cql15_uda",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def cql15_uda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL UDA DDL end-to-end (U2 through the front door): CREATE FUNCTION
    defines the state step, CREATE AGGREGATE wires SFUNC/STYPE/INITCOND,
    and a GROUP BY on the partition key invokes it — compiled to a
    collect_list + fold, order-insensitive because the step is commutative
    (a conditional counter). The oracle is the equivalent SUM(CASE)."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE FUNCTION err_step (s bigint, e text) RETURNS bigint "
        "LANGUAGE sql AS "
        "'CASE WHEN e = ''error'' THEN s + 1 ELSE s END'"
    )
    sess.execute(
        "CREATE AGGREGATE count_errors (text) SFUNC err_step STYPE bigint "
        "INITCOND 0"
    )
    return sess.execute(
        "SELECT user_id, count_errors(event_type) AS n_errors "
        "FROM events GROUP BY user_id ORDER BY user_id"
    )


# --- cql16: system virtual tables (driver metadata surface) ----------------


@query(
    "cql16_system_views",
    oracle="""
    SELECT * FROM (VALUES
      ('session', 'profiles', 'uid',   'partition_key', 'string'),
      ('session', 'profiles', 'name',  'regular',       'string'),
      ('session', 'profiles', 'score', 'regular',       'int'),
      ('session', 'msgs', 'room',   'partition_key', 'string'),
      ('session', 'msgs', 'posted', 'clustering',    'int'),
      ('session', 'msgs', 'author', 'regular',       'string')
    ) AS t(keyspace_name, table_name, column_name, kind, type)
    """,
)
def cql16_system_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver metadata surface: every real driver refreshes its schema
    by querying ``system_schema.tables`` / ``system_schema.columns`` at
    connect time. The session serves them as virtual tables reflecting the
    live DDL (full CQL SELECT semantics apply); the oracle pins the rows
    two CREATE TABLEs must produce."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE TABLE msgs (room text, posted int, author text, "
        "PRIMARY KEY (room, posted))"
    )
    sess.execute(
        "CREATE TABLE profiles (uid text PRIMARY KEY, name text, score int)"
    )
    return sess.execute(
        "SELECT keyspace_name, table_name, column_name, kind, type "
        "FROM system_schema.columns WHERE keyspace_name = 'session'"
    )


# --- cql17: SAI-routed ANN (vector index → bucket probe, not brute force) --

from cassandra_spark.operators.llm_vectors import (  # noqa: E402
    BUCKET_DUCK,
    N_PLANES,
    multiprobe,
    py_bucket,
)

_ANN_QVEC = [round((((7 * d + 3) % 19) - 9) / 10, 1) for d in range(64)]
_ANN_PROBES = multiprobe(py_bucket(_ANN_QVEC, N_PLANES), N_PLANES)


@query(
    "cql17_sai_ann",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {BUCKET_DUCK} AS bucket FROM embeddings
    ),
    cand AS (
      SELECT vec_id, embedding FROM bucketed
      WHERE bucket IN ({", ".join(map(str, _ANN_PROBES))})
    )
    SELECT vec_id FROM (
      SELECT vec_id,
             {dot_duck('embedding', f'[{_ANN_V}]')}
             / (sqrt({dot_duck('embedding', 'embedding')})
                * sqrt({dot_duck(f'[{_ANN_V}]', f'[{_ANN_V}]')})) AS score
      FROM cand
      ORDER BY score DESC, vec_id
      LIMIT 10
    )
    """,
)
def cql17_sai_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ORDER BY embedding ANN OF ..` with a StorageAttachedIndex ON the
    vector column (`[C* index/sai/plan/QueryController, unverified]`):
    the front-end routes through the LSH bucket probe — the literal query
    vector's bucket (+ Hamming-1 multiprobes) is computed at plan time,
    the corpus scan is filtered to those buckets, and exact cosine scores
    candidates only. Contrast cql6_ann (no index → brute force over the
    corpus): same statement text, index DDL alone flips the physical
    plan, exactly the reference's ANN-requires-index contract. Recall vs
    the exact answer is asserted in tests/test_cql_session.py."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE CUSTOM INDEX emb_ann_idx ON embeddings (embedding) "
        "USING 'StorageAttachedIndex'"
    )
    return sess.execute(
        f"SELECT vec_id FROM embeddings ORDER BY embedding ANN OF "
        f"[{_ANN_V}] LIMIT 10"
    )


@query(
    "cql33_sai_ann_filtered",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {BUCKET_DUCK} AS bucket
      FROM embeddings WHERE label = 5
    ),
    cand AS (
      SELECT vec_id, embedding FROM bucketed
      WHERE bucket IN ({", ".join(map(str, _ANN_PROBES))})
    )
    SELECT vec_id FROM (
      SELECT vec_id,
             {dot_duck('embedding', f'[{_ANN_V}]')}
             / (sqrt({dot_duck('embedding', 'embedding')})
                * sqrt({dot_duck(f'[{_ANN_V}]', f'[{_ANN_V}]')})) AS score
      FROM cand
      ORDER BY score DESC, vec_id
      LIMIT 10
    )
    """,
)
def cql33_sai_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE + ANN through the PERSISTED SAI artifact (`[C* index/sai/plan/
    QueryController post-filtering, unverified]` — Cassandra 5 allows
    restrictions alongside `ORDER BY .. ANN OF`). The statement's WHERE
    predicate must survive the routing to the bucket-partitioned index
    layout: the artifact scan is pruned to the multiprobe buckets AND
    filtered by the rewritten predicate (a pushed-down filter inside the
    pruned scan), then exact cosine ranks the survivors. Pins the round-8
    ADVICE fix: previously the artifact branch replaced the filtered plan
    wholesale and the WHERE was silently dropped."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE CUSTOM INDEX emb_ann_idx ON embeddings (embedding) "
        "USING 'StorageAttachedIndex'"
    )
    return sess.execute(
        f"SELECT vec_id FROM embeddings WHERE label = 5 "
        f"ORDER BY embedding ANN OF [{_ANN_V}] LIMIT 10 ALLOW FILTERING"
    )


@query(
    "cql41_sai_ann_appended",
    # cql17's FULL-CORPUS oracle verbatim: bucket assignment is per-row
    # and data-independent, so base build (6/7 of vectors) + appended
    # generation (1/7) must answer the ANN probe bit-identically to a
    # one-shot full build — the equality that proves the append path
    # indexes exactly the missing rows and nothing was re-bucketed.
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {BUCKET_DUCK} AS bucket FROM embeddings
    ),
    cand AS (
      SELECT vec_id, embedding FROM bucketed
      WHERE bucket IN ({", ".join(map(str, _ANN_PROBES))})
    )
    SELECT vec_id FROM (
      SELECT vec_id,
             {dot_duck('embedding', f'[{_ANN_V}]')}
             / (sqrt({dot_duck('embedding', 'embedding')})
                * sqrt({dot_duck(f'[{_ANN_V}]', f'[{_ANN_V}]')})) AS score
      FROM cand
      ORDER BY score DESC, vec_id
      LIMIT 10
    )
    """,
)
def cql41_sai_ann_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAI LSH-bucket artifact's SSTable lifecycle (round-10 —
    closing the one persisted index that was still build-once): base
    CREATE-INDEX build over vec_id % 7 <> 3, an APPENDED generation
    holding the remaining vectors (only the batch is hashed — the
    indexed corpus is never re-bucketed, monkeypatch-asserted in
    tests/test_vector_index.py), then `ANN OF` through the session
    front-end serves from base + generation with the same multiprobe
    partition pruning. A compact_index fold then collapses the family
    to one segment and the probe re-answers IDENTICALLY (inline-
    asserted). Runs against a CLONE of the cached base artifact so
    bench re-runs never see a previous run's generations."""
    import tempfile

    from cassandra_spark.operators import vector_index as vi

    base = vi.build_lsh_bucket_index(
        spark,
        sf_dir,
        "embeddings",
        "embedding",
        index_dir=vi.index_root(sf_dir, "lsh_embedding_base7"),
        where=vi._APPEND_SPLIT_BASE,
    )
    work = vi.clone_index(base, tempfile.mkdtemp(prefix="cql41_idx_"))
    vi.append_lsh_bucket_index(spark, sf_dir, work, vi._APPEND_SPLIT_NEW, "b1")
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE CUSTOM INDEX emb_ann_idx ON embeddings (embedding) "
        "USING 'StorageAttachedIndex'"
    )
    # route the probe through the appended artifact (the DDL built the
    # cached full-corpus one; the scenario's private clone is the
    # append-lifecycle view under test)
    sess.sai_vector_index["embeddings"]["embedding"] = work
    stmt = (
        f"SELECT vec_id FROM embeddings ORDER BY embedding ANN OF "
        f"[{_ANN_V}] LIMIT 10"
    )
    assert vi.index_generations(work) == ["b1"]
    before = [r.vec_id for r in sess.execute(stmt).collect()]
    assert vi.compact_index(spark, work) is True
    assert vi.index_generations(work) == []
    out = sess.execute(stmt)
    assert [r.vec_id for r in out.collect()] == before, (
        "the folded artifact must answer identically"
    )
    return out


@query(
    "cql42_maxwritetime",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id AS VARCHAR) AS k,
             row_number() OVER (ORDER BY event_id) - 1 AS i
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 24)
    )
    SELECT k,
           CAST(100 + i AS BIGINT) AS wt_v,
           CAST(CASE WHEN i % 2 = 0 THEN 500 + i ELSE 200 + i END
                AS BIGINT) AS mwt_tags
    FROM src
    """,
)
def cql42_maxwritetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXWRITETIME selector (`[C* CASSANDRA-17425 — 4.1, unverified]`):
    the max LIVE cell writetime of a column — equal to WRITETIME on a
    single-cell column, and the max element-cell writetime on a
    multi-cell collection. NOT a twin of f9_maxwritetime: f9 models the
    aggregate SHAPE over the events fixture's synthesized shadows; this
    entry is the CQL FRONT-END selector (previously rejected by the
    selector grammar) over the DML snapshot's real per-collection
    element-cell shadows. Scenario: v written @100+i, tags overwritten
    @200+i, every 2nd key's set APPENDED to @500+i — so
    maxwritetime(tags) reads the append time exactly where an append
    happened and the overwrite time elsewhere, while writetime(v) stays
    the scalar cell time. The oracle re-derives all three timelines in
    SQL."""
    import tempfile

    from cassandra_spark.catalog import Catalog

    rows = (
        Catalog(spark, sf_dir)
        .events.orderBy("event_id")
        .limit(24)
        .select("event_id")
        .collect()
    )  # bounded: 24 rows through the (inherently driver-side) CQL FE
    sess = CqlSession(spark, spill_dir=tempfile.mkdtemp(prefix="cql42_"))
    sess.execute(
        "CREATE TABLE mwt (k text PRIMARY KEY, v int, tags set<text>)"
    )
    for i, r in enumerate(rows):
        sess.execute(
            f"INSERT INTO mwt (k, v) VALUES ('{r.event_id}', {i}) "
            f"USING TIMESTAMP {100 + i}"
        )
        sess.execute(
            f"UPDATE mwt USING TIMESTAMP {200 + i} SET tags = {{'a'}} "
            f"WHERE k = '{r.event_id}'"
        )
        if i % 2 == 0:
            sess.execute(
                f"UPDATE mwt USING TIMESTAMP {500 + i} "
                f"SET tags = tags + {{'b'}} WHERE k = '{r.event_id}'"
            )
    return sess.execute(
        "SELECT k, writetime(v) AS wt_v, maxwritetime(tags) AS mwt_tags "
        "FROM mwt"
    )


@query(
    "cql43_collection_functions",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id AS VARCHAR) AS k,
             row_number() OVER (ORDER BY event_id) - 1 AS i
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 24)
    )
    SELECT k,
           CAST(CASE WHEN i = 0 THEN 2 ELSE 3 END AS INT) AS s_cnt,
           CAST(i AS INT) AS s_min,
           CAST(100 + i AS INT) AS s_max,
           CAST(CASE WHEN i = 0 THEN 100 ELSE 4 * i + 100 END AS DOUBLE)
             AS s_sum,
           CAST(CASE WHEN i = 0 THEN 100 ELSE 4 * i + 100 END AS DOUBLE)
             / (CASE WHEN i = 0 THEN 2 ELSE 3 END) AS s_avg,
           CAST(2 * i + 1 AS DOUBLE) AS m_sum
    FROM src
    """,
)
def cql43_collection_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cassandra 5 collection functions (`[C* CASSANDRA-18060 —
    cql3/functions/CollectionFcts, unverified]`): collection_count /
    _min / _max / _sum / _avg over a set column and collection_sum over
    a map (through its values, the reference's rule) — the CQL FRONT-END
    selector surface, distinct from f4_collections' raw DataFrame
    collection ops over tokenized text — compiled to
    whole-stage-codegen Spark collection algebra (size / array_min /
    array_max / aggregate folds — no Python). Each key's set is
    {i, 2i, 100+i} (i=0 collapses two elements — set semantics feed the
    count) and its map {'a': i, 'b': i+1}; the oracle re-derives every
    aggregate closed-form."""
    import tempfile

    from cassandra_spark.catalog import Catalog

    rows = (
        Catalog(spark, sf_dir)
        .events.orderBy("event_id")
        .limit(24)
        .select("event_id")
        .collect()
    )  # bounded: 24 rows through the (inherently driver-side) CQL FE
    sess = CqlSession(spark, spill_dir=tempfile.mkdtemp(prefix="cql43_"))
    sess.execute(
        "CREATE TABLE cf (k text PRIMARY KEY, s set<int>, m map<text, int>)"
    )
    for i, r in enumerate(rows):
        sess.execute(
            f"INSERT INTO cf (k, s, m) VALUES ('{r.event_id}', "
            f"{{{i}, {2 * i}, {100 + i}}}, {{'a': {i}, 'b': {i + 1}}})"
        )
    return sess.execute(
        "SELECT k, collection_count(s) AS s_cnt, "
        "collection_min(s) AS s_min, collection_max(s) AS s_max, "
        "collection_sum(s) AS s_sum, collection_avg(s) AS s_avg, "
        "collection_sum(m) AS m_sum FROM cf"
    )


@query(
    "cql44_arithmetic_cast",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id AS VARCHAR) AS k,
             row_number() OVER (ORDER BY event_id) - 1 AS i
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 24)
    )
    SELECT k,
           CAST(7 * i + 3 + i AS INT) AS s_add,
           CAST((7 * i + 3) * i AS INT) AS s_mul,
           CAST((7 * i + 3) // (i + 1) AS INT) AS s_div,
           CAST((7 * i + 3) % (i + 1) AS INT) AS s_mod,
           CAST(7 * i + 3 AS VARCHAR) AS a_text,
           CAST(i AS DOUBLE) / 2 AS b_half
    FROM src
    """,
)
def cql44_arithmetic_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL 4.0 arithmetic operators + the 3.10 CAST selector (`[C*
    cql3/functions/OperationFcts, castFcts, unverified]`): +, *, %
    delegate to Catalyst (semantics coincide), `/` on two integer
    operands rewrites to integer division (`div`) — the reference's
    rule, where Spark alone would promote to double — and CAST maps
    CQL type names (text/varchar/...) onto Spark's. The oracle
    re-derives each expression closed-form (DuckDB's `//` is the
    integer-division twin)."""
    import tempfile

    from cassandra_spark.catalog import Catalog

    rows = (
        Catalog(spark, sf_dir)
        .events.orderBy("event_id")
        .limit(24)
        .select("event_id")
        .collect()
    )  # bounded: 24 rows through the (inherently driver-side) CQL FE
    sess = CqlSession(spark, spill_dir=tempfile.mkdtemp(prefix="cql44_"))
    sess.execute("CREATE TABLE ar (k text PRIMARY KEY, a int, b int)")
    for i, r in enumerate(rows):
        sess.execute(
            f"INSERT INTO ar (k, a, b) VALUES "
            f"('{r.event_id}', {7 * i + 3}, {i + 1})"
        )
    return sess.execute(
        "SELECT k, a + b - 1 AS s_add, a * (b - 1) AS s_mul, "
        "a / b AS s_div, a % b AS s_mod, CAST(a AS text) AS a_text, "
        "CAST(b - 1 AS double) / 2 AS b_half FROM ar"
    )


@query(
    "cql45_settings_table",
    oracle="""
    SELECT * FROM (VALUES
      ('cluster_name', 'cassandra_spark'),
      ('guardrails.allow_filtering_fail_threshold', ''),
      ('guardrails.allow_filtering_warn_threshold', '0'),
      ('guardrails.tombstones_per_read_fail_threshold', '500'),
      ('guardrails.tombstones_per_read_warn_threshold', '100'),
      ('partitioner', 'MultiplicativeHashPartitioner'),
      ('release_version', '4.0-spark')
    ) AS t(name, value)
    """,
)
def cql45_settings_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``system_views.settings`` (`[C* db/virtual/SettingsTable — 4.0,
    unverified]`): the runtime-readable settings view — node identity
    plus every CONFIGURED guardrail threshold, i.e. exactly the knobs
    this engine lets an operator change live (set_guardrail ≡ the
    reference's JMX/yaml setters). Unset thresholds render as the
    reference's empty value; full CQL SELECT semantics apply to the
    virtual table like any other."""
    sess = CqlSession(spark, sf_dir)
    sess.set_guardrail("tombstones_per_read", warn=100, fail=500)
    sess.set_guardrail("allow_filtering", warn=0)
    return sess.execute("SELECT name, value FROM system_views.settings")


@query(
    "cql19_masked_select",
    oracle="""
    SELECT c_custkey,
           CASE WHEN length(c_name) <= 6 THEN c_name
                ELSE substring(c_name, 1, 4)
                     || repeat('*', CAST(length(c_name) - 6 AS INT))
                     || substring(c_name, length(c_name) - 1, 2) END AS m,
           sha256(CAST(c_acctbal AS VARCHAR)) AS h
    FROM customer WHERE c_custkey % 100 = 31
    """,
)
def cql19_masked_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cassandra 5 masking functions through the LITERAL CQL text path:
    the front-end expands mask_* selectors into codegen text algebra
    (cql.py::_rewrite_masks) — proving a reference user's masked SELECT
    statement round-trips oracle-identically, not just the Column API."""
    return cql_select(
        spark,
        sf_dir,
        "SELECT c_custkey, mask_inner(c_name, 4, 2) AS m, "
        "mask_hash(c_acctbal) AS h "
        "FROM customer WHERE c_custkey % 100 = 31 ALLOW FILTERING",
    )


@query(
    "cql20_auth",
    oracle="""
    SELECT * FROM (VALUES
      ('analyst', '<data/session/events>', 'SELECT'),
      ('analyst', '<data/session/metrics>', 'SELECT'),
      ('pipeline', '<data/session>', 'MODIFY'),
      ('pipeline', '<data/session/events>', 'ALTER')
    ) AS t(role, resource, permission)
    """,
)
def cql20_auth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auth surface end-to-end (`[C* auth/CassandraAuthorizer,
    unverified]`): roles created, permissions granted/revoked on the
    table/keyspace resource hierarchy, read back through the
    ``system_auth.role_permissions`` virtual table exactly as a driver
    or `nodetool` would; the oracle pins the expected grant rows."""
    sess = CqlSession(spark, sf_dir)
    sess.execute("CREATE TABLE events (id int PRIMARY KEY, kind text)")
    sess.execute("CREATE TABLE metrics (id int PRIMARY KEY, val int)")
    sess.execute("CREATE ROLE analyst WITH LOGIN = true")
    sess.execute("CREATE ROLE pipeline")
    sess.execute("GRANT SELECT ON TABLE events TO analyst")
    sess.execute("GRANT SELECT ON TABLE metrics TO analyst")
    sess.execute("GRANT MODIFY ON KEYSPACE session TO pipeline")
    sess.execute("GRANT ALTER ON events TO pipeline")
    sess.execute("GRANT DROP ON TABLE metrics TO pipeline")
    sess.execute("REVOKE DROP ON TABLE metrics FROM pipeline")
    return sess.execute(
        "SELECT role, resource, permission "
        "FROM system_auth.role_permissions"
    )


@query(
    "cql21_tracing",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'Parsing INSERT'),
      (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 'Executing statement'),
      (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'Parsing UPDATE'),
      (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'Executing statement'),
      (CAST(3 AS BIGINT), CAST(1 AS BIGINT), 'Parsing SELECT'),
      (CAST(3 AS BIGINT), CAST(2 AS BIGINT),
       'Merged data from memtables and 0 sstables'),
      (CAST(3 AS BIGINT), CAST(3 AS BIGINT),
       'Read 1 live rows and 0 tombstone cells'),
      (CAST(3 AS BIGINT), CAST(4 AS BIGINT), 'Executing statement')
    ) AS t(session_id, event_id, activity)
    """,
)
def cql21_tracing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query tracing (`[C* tracing/Tracing, TraceKeyspace, unverified]`):
    TRACING ON records a sessions row + ordered phase events per
    statement into the ``system_traces`` virtual tables, the point read
    with its read-path events; the oracle pins the deterministic columns
    (ids + activities — durations are real wall micros and excluded by
    projection)."""
    sess = CqlSession(spark, sf_dir)
    sess.execute("CREATE TABLE kv (k text PRIMARY KEY, n int)")
    sess.execute("TRACING ON")
    sess.execute("INSERT INTO kv (k, n) VALUES ('a', 1)")
    sess.execute("UPDATE kv SET n = 2 WHERE k = 'a'")
    sess.execute("SELECT * FROM kv WHERE k = 'a'")
    sess.execute("TRACING OFF")
    sess.execute("INSERT INTO kv (k, n) VALUES ('b', 9)")  # not traced
    return sess.execute(
        "SELECT session_id, event_id, activity FROM system_traces.events"
    )


@query(
    "cql22_mat_view",
    oracle="""
    SELECT * FROM (VALUES
      ('a@x', 'u1', 'sec'),
      ('c@x', 'u3', 'eng')
    ) AS t(email, uid, org)
    """,
)
def cql22_mat_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view DDL through the front door (`[C* db/view/View,
    unverified]`): the view re-keys the base table, reads filter on the
    VIEW partition key (rejected on the base without ALLOW FILTERING),
    NULL view-key rows are excluded, and the view serves the base's LWW
    state after overwrites and deletes. The oracle pins the post-mutation
    view rows."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE TABLE users (uid text PRIMARY KEY, email text, org text)"
    )
    sess.execute(
        "CREATE MATERIALIZED VIEW users_by_email AS "
        "SELECT uid, email, org FROM users "
        "WHERE email IS NOT NULL AND uid IS NOT NULL "
        "PRIMARY KEY (email, uid)"
    )
    for uid, email, org in (
        ("u1", "'a@x'", "eng"), ("u2", "'b@x'", "ops"),
        ("u3", "'c@x'", "eng"), ("u4", "NULL", "sec"),
    ):
        sess.execute(
            f"INSERT INTO users (uid, email, org) "
            f"VALUES ('{uid}', {email}, '{org}')"
        )
    sess.execute("UPDATE users SET org = 'sec' WHERE uid = 'u1'")
    sess.execute("DELETE FROM users WHERE uid = 'u2'")
    return sess.execute(
        "SELECT email, uid, org FROM users_by_email"
    )


@query(
    "cql23_keyspaces",
    oracle="""
    SELECT * FROM (VALUES
      ('analytics',
       '{''class'': ''NetworkTopologyStrategy'', ''east'': ''3'', ''west'': ''2''}'),
      ('app',
       '{''class'': ''SimpleStrategy'', ''replication_factor'': ''3''}'),
      ('session',
       '{''class'': ''SimpleStrategy'', ''replication_factor'': ''1''}')
    ) AS t(keyspace_name, replication)
    """,
)
def cql23_keyspaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyspace DDL surface: CREATE KEYSPACE with both replication
    strategies, read back through ``system_schema.keyspaces`` exactly as
    a driver does at connect time; DROP removes the row. The oracle pins
    the canonical replication-map text per keyspace."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE KEYSPACE app WITH replication = "
        "{'class': 'SimpleStrategy', 'replication_factor': '3'}"
    )
    sess.execute(
        "CREATE KEYSPACE analytics WITH replication = "
        "{'class': 'NetworkTopologyStrategy', 'east': '3', 'west': '2'}"
    )
    sess.execute(
        "CREATE KEYSPACE dropped WITH replication = "
        "{'class': 'SimpleStrategy', 'replication_factor': '1'}"
    )
    sess.execute("DROP KEYSPACE dropped")
    return sess.execute(
        "SELECT keyspace_name, replication FROM system_schema.keyspaces"
    )


@query(
    "cql24_copy_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
      ('a', 'x,y', 9), ('b', 'it''s', 2), ('c', NULL, 3)
    ) AS t(k, v, n)
    """,
)
def cql24_copy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cqlsh COPY through the front door: export the reconciled snapshot
    (LWW applied) to one CSV, re-import it into a second table through
    the normal INSERT path, and read the COPY back. Quotes and commas
    round-trip; empty cells come back as unset columns. The oracle pins
    the copied rows."""
    import os
    import shutil
    import tempfile

    sess = CqlSession(spark, sf_dir)
    sess.execute("CREATE TABLE src (k text PRIMARY KEY, v text, n int)")
    sess.execute("INSERT INTO src (k, v, n) VALUES ('a', 'x,y', 1)")
    sess.execute("INSERT INTO src (k, v, n) VALUES ('b', 'it''s', 2)")
    sess.execute("INSERT INTO src (k, n) VALUES ('c', 3)")
    sess.execute("UPDATE src SET n = 9 WHERE k = 'a'")
    tmp = tempfile.mkdtemp(prefix="cql24_")
    path = os.path.join(tmp, "out.csv")
    try:
        sess.execute(f"COPY src TO '{path}'")
        sess.execute("CREATE TABLE dst (k text PRIMARY KEY, v text, n int)")
        # COPY FROM replays through eager INSERTs, so the CSV is fully
        # consumed here and the temp dir can go before the lazy SELECT
        sess.execute(f"COPY dst FROM '{path}'")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return sess.execute("SELECT k, v, n FROM dst")


@query(
    "cql25_type_evolution",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'a st', CAST(NULL AS VARCHAR)),
      (CAST(2 AS BIGINT), 'b st', 'fr')
    ) AS t(id, street, country)
    """,
)
def cql25_type_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TYPE ADD end-to-end: rows written before the evolution read
    the new field as NULL (their JSON cells lack it), rows written after
    carry it — the reference's visible UDT-evolution behavior, pinned by
    a literal oracle."""
    sess = CqlSession(spark, sf_dir)
    sess.execute("CREATE TYPE addr (street text, zip int)")
    sess.execute("CREATE TABLE ppl (id bigint PRIMARY KEY, home addr)")
    sess.execute(
        "INSERT INTO ppl (id, home) VALUES (1, {street: 'a st', zip: 7})"
    )
    sess.execute("ALTER TYPE addr ADD country text")
    sess.execute(
        "INSERT INTO ppl (id, home) VALUES "
        "(2, {street: 'b st', zip: 9, country: 'fr'})"
    )
    return sess.execute(
        "SELECT id, home.street AS street, home.country AS country FROM ppl"
    )


@query(
    "cql26_twcs_expiry",
    oracle="""
    SELECT * FROM (VALUES
      ('c0', CAST(0 AS INTEGER)), ('c1', 1), ('c2', 2), ('c3', 3),
      ('c4', 4), ('c5', 5), ('c6', 6), ('c7', 7)
    ) AS t(k, n)
    """,
)
def cql26_twcs_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeWindowCompactionStrategy end-to-end through the session: a
    1-minute-windowed table takes a generation of short-TTL writes
    (window 0) and a later generation (window 1); ``flush()`` /
    ``twcs_compact()`` are the nodetool flush/compact analogues. By
    compaction time the logical clock (one tick per statement) has
    passed window-0's max deletion time, so its segment DROPS WHOLE —
    a footer-stats decision, no data read or rewrite — while the open
    window survives. The oracle pins the surviving rows; the dropped
    cells were already TTL-invisible, so the answer is unchanged by the
    drop (asserted structurally in tests/test_table_options.py)."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE TABLE twt (k text PRIMARY KEY, n int) WITH compaction = "
        "{'class': 'TimeWindowCompactionStrategy', "
        "'compaction_window_unit': 'MINUTES', "
        "'compaction_window_size': '1'}"
    )
    t = sess.table("twt")
    minute = 60_000_000
    for i in range(3):
        sess.execute(
            f"INSERT INTO twt (k, n) VALUES ('a{i}', {i}) "
            f"USING TIMESTAMP {i + 1} AND TTL 5"
        )
    t.flush()
    for i in range(8):
        sess.execute(
            f"INSERT INTO twt (k, n) VALUES ('c{i}', {i}) "
            f"USING TIMESTAMP {2 * minute + i} AND TTL {20 * minute}"
        )
    t.flush()
    assert len(t._segments) == 2
    t.twcs_compact()
    assert len(t._segments) == 1, "expired window-0 segment should drop"
    return sess.execute("SELECT k, n FROM twt")


@query(
    "w22_bulk_load",
    oracle="""
    SELECT o_custkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey,
           MAX(o_orderpriority) AS max_prio
    FROM orders GROUP BY o_custkey
    """,
)
def w22_bulk_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk ingest (``sstableloader`` analogue): the full orders table
    loads into a session table as executor-written parquet segments —
    no driver-side statement parsing (the measured DML front-end bound
    is ~31k stmt/s single-threaded; this path is Spark write bandwidth)
    — then a CQL GROUP BY over the partition key aggregates it. The
    oracle is the same aggregate over the source table, so the result
    proves the loaded segments reconcile identically to the statement
    path's log shape."""
    from pyspark.sql import functions as F

    from cassandra_spark.catalog import Catalog

    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE TABLE bulk_orders (custkey bigint, okey bigint, "
        "priority text, PRIMARY KEY (custkey, okey))"
    )
    src = Catalog(spark, sf_dir).orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("priority"),
    )
    sess.table("bulk_orders").bulk_load(src, n_segments=8)
    return sess.execute(
        "SELECT custkey, count(*) AS n_orders, sum(okey) AS sum_okey, "
        "max(priority) AS max_prio FROM bulk_orders GROUP BY custkey"
    )


@query(
    "cql27_lcs_leveling",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id AS VARCHAR) AS k,
             CAST(user_id AS BIGINT) AS u,
             row_number() OVER (ORDER BY event_id) AS rn
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 60)
    )
    SELECT k,
           CASE WHEN rn % 3 = 1 THEN u + 1000 ELSE u END AS u
    FROM src
    """,
)
def cql27_lcs_leveling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LeveledCompactionStrategy end-to-end through the session: 60
    events-derived INSERTs land in several flushed L0 generations, a
    second generation overwrites every third key, and ``lcs_compact()``
    (the nodetool-compact analogue for an LCS table) promotes everything
    into level 1 — target-size segments with pairwise-disjoint Murmur3
    token ranges, whole partitions only, so a point read touches at most
    one leveled segment (asserted structurally in tests/test_lcs.py; the
    leveling itself is asserted inline below). History rows survive the
    re-split byte-for-byte, so the oracle is plain LWW over the inserts:
    overwritten keys read the second generation, the rest the first."""
    import tempfile

    from cassandra_spark.catalog import Catalog

    rows = (
        Catalog(spark, sf_dir)
        .events.orderBy("event_id")
        .limit(60)
        .select("event_id", "user_id")
        .collect()
    )  # bounded: 60 rows through the (inherently driver-side) CQL FE
    sess = CqlSession(
        spark, spill_dir=tempfile.mkdtemp(prefix="cql27_lcs_")
    )
    sess.execute(
        "CREATE TABLE lev (k text PRIMARY KEY, u bigint) WITH compaction "
        "= {'class': 'LeveledCompactionStrategy', 'sstable_size_in_mb': "
        "'1'}"
    )
    t = sess.table("lev")
    t.lcs_target_bytes = 4096  # test-scale segment target
    for i, r in enumerate(rows):
        sess.execute(
            f"INSERT INTO lev (k, u) VALUES ('{r.event_id}', {r.user_id})"
        )
        if i % 15 == 14:
            t.flush()
    for i, r in enumerate(rows):
        if i % 3 == 0:
            sess.execute(
                f"INSERT INTO lev (k, u) VALUES "
                f"('{r.event_id}', {r.user_id + 1000})"
            )
    t.flush()
    t.lcs_compact()
    levels = {t._seg_level.get(s, 0) for s in t._segments}
    assert levels == {1}, f"L0 should fully promote, got {levels}"
    assert len(t._segments) > 1, "re-split should emit multiple segments"
    return sess.execute("SELECT k, u FROM lev")


@query(
    "cql28_trigger_audit",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id AS VARCHAR) AS k,
             CAST(user_id AS VARCHAR) AS u,
             row_number() OVER (ORDER BY event_id) AS rn
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 40)
    )
    SELECT k, 'u' AS src_col, u AS v, CAST(100 + rn AS BIGINT) AS wt
    FROM src
    """,
)
def cql28_trigger_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TRIGGER end-to-end: an ITrigger-style audit class (the
    reference's canonical trigger example) registered on ``acct``
    mirrors every data cell a write appends — with the triggering
    statement's own writetime — into an ``audit`` table, applied
    server-side with the mutation (augment() semantics: bypasses client
    permissions, stays out of the FQL so replays never double-apply,
    never fires for rejected LWTs). 40 pinned-timestamp INSERTs fire 40
    augments; the oracle states the ENTIRE audit table including
    writetimes, proving exactly-once augment application."""
    from cassandra_spark.catalog import Catalog

    rows = (
        Catalog(spark, sf_dir)
        .events.orderBy("event_id")
        .limit(40)
        .select("event_id", "user_id")
        .collect()
    )  # bounded: 40 rows through the (inherently driver-side) CQL FE
    sess = CqlSession(spark)
    sess.execute("CREATE TABLE acct (k text PRIMARY KEY, u text)")
    sess.execute(
        "CREATE TABLE audit (k text, src_col text, v text, wt bigint, "
        "PRIMARY KEY (k, src_col))"
    )

    def audit_fn(s, table, cells):
        return [
            f"INSERT INTO audit (k, src_col, v, wt) VALUES "
            f"('{c[0]}', '{c[2]}', '{c[4]}', {c[6]}) "
            f"USING TIMESTAMP {c[6]}"
            for c in cells
            if c[5] == "cell"
        ]

    sess.register_trigger_class("AuditTrigger", audit_fn)
    sess.execute("CREATE TRIGGER aud ON acct USING 'AuditTrigger'")
    for i, r in enumerate(rows, start=1):
        sess.execute(
            f"INSERT INTO acct (k, u) VALUES "
            f"('{r.event_id}', '{r.user_id}') USING TIMESTAMP {100 + i}"
        )
    return sess.execute("SELECT k, src_col, v, wt FROM audit")


# --- cql29/cql30: ENTRIES() and FULL() collection index kinds ---------------
#
# The remaining two CREATE INDEX target kinds (`[C* cql3/statements/
# IndexTarget, index/internal/composites/*, unverified]`): ENTRIES on a
# map admits map-subscript equality (attrs['k'] = v) through the
# restriction gate; FULL on a frozen collection admits whole-value
# equality. Kind-matching is still the point: neither admits the other's
# predicate, and a values/KEYS index admits neither.

ENTRIES_INDEX_DDL = "CREATE INDEX ON profiles (ENTRIES(attrs))"
ENTRIES_SELECT = (
    "SELECT uid, name FROM profiles WHERE attrs['tier'] = 'silver'"
)


@query(
    "cql29_entries_index",
    oracle=f"""
    SELECT uid, name
    FROM ({dml_oracle_sql(_KEYS_SCHEMA, KEYS_LOG, KEYS_ASOF)})
    WHERE COALESCE(
      (CAST(json_extract_string(attrs, '$[*].value') AS VARCHAR[]))[
        list_position(
          CAST(json_extract_string(attrs, '$[*].key') AS VARCHAR[]),
          'tier')
      ] = 'silver', FALSE)
    """,
)
def cql29_entries_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-entry secondary index: ``CREATE INDEX (ENTRIES(attrs))`` admits
    ``attrs['tier'] = 'silver'`` past the restriction gate with no ALLOW
    FILTERING. Same fixture/mutation-log as cql12 (incl. the map-key
    delete and the update-only row), so the entry predicate reconciles
    against subscripted writes; only u3 (subscript-written tier=silver)
    qualifies — u1's gold tier is deleted, u4's is 'free'. The oracle
    pairs the JSON-rendered map's key/value arrays positionally."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(KEYS_DDL)
    for stmt in KEYS_DML:
        sess.execute(stmt)
    sess.execute(ENTRIES_INDEX_DDL)
    return sess.execute(ENTRIES_SELECT)


FULL_DDL = (
    "CREATE TABLE tagged (id text PRIMARY KEY, name text, "
    "tags frozen<list<text>>)"
)
FULL_DML: tuple[str, ...] = (
    "INSERT INTO tagged (id, name, tags) VALUES ('a', 'ana', ['x', 'y'])",
    "INSERT INTO tagged (id, name, tags) VALUES ('b', 'bo', ['x'])",
    "INSERT INTO tagged (id, name, tags) VALUES ('c', 'cy', ['x', 'y'])",
    # whole-value overwrite: b must NOT match ['x'] afterwards
    "UPDATE tagged SET tags = ['z'] WHERE id = 'b'",
)
FULL_INDEX_DDL = "CREATE INDEX ON tagged (FULL(tags))"
FULL_SELECT = "SELECT id, name FROM tagged WHERE tags = ['x', 'y']"

# pinned log (asserted ≡ parser output in tests/test_cql_session.py);
# list positions are the session's arrival-ordered 10^9-origin keys
FULL_LOG: tuple[tuple, ...] = (
    mut_row('a', '', None, None, 'marker', 1, 0, 1),
    mut_row('a', '', 'name', 'ana', 'cell', 1, 0, 2),
    mut_row('a', '', 'tags', None, 'coll_tomb', 0, 0, 3),
    mut_row('a', '', 'tags', 'x', 'cell', 1, 0, 4, elem='1000000001'),
    mut_row('a', '', 'tags', 'y', 'cell', 1, 0, 5, elem='1000000002'),
    mut_row('b', '', None, None, 'marker', 2, 0, 6),
    mut_row('b', '', 'name', 'bo', 'cell', 2, 0, 7),
    mut_row('b', '', 'tags', None, 'coll_tomb', 1, 0, 8),
    mut_row('b', '', 'tags', 'x', 'cell', 2, 0, 9, elem='1000000003'),
    mut_row('c', '', None, None, 'marker', 3, 0, 10),
    mut_row('c', '', 'name', 'cy', 'cell', 3, 0, 11),
    mut_row('c', '', 'tags', None, 'coll_tomb', 2, 0, 12),
    mut_row('c', '', 'tags', 'x', 'cell', 3, 0, 13, elem='1000000004'),
    mut_row('c', '', 'tags', 'y', 'cell', 3, 0, 14, elem='1000000005'),
    mut_row('b', '', 'tags', None, 'coll_tomb', 3, 0, 15),
    mut_row('b', '', 'tags', 'z', 'cell', 4, 0, 16, elem='1000000006'),
)
FULL_ASOF = 5

_FULL_SCHEMA = parse_create_table(FULL_DDL)


@query(
    "cql30_full_index",
    oracle=f"""
    SELECT id, name
    FROM ({dml_oracle_sql(_FULL_SCHEMA, FULL_LOG, FULL_ASOF)})
    WHERE tags = '["x","y"]'
    """,
)
def cql30_full_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-collection FULL index: ``CREATE INDEX (FULL(tags))`` admits
    whole-value equality ``tags = ['x', 'y']`` through the gate (the CQL
    list literal compiles to an array literal). b is overwritten whole
    (frozen semantics: the coll_tomb + fresh cells in the pinned log)
    so only a and c match. The oracle compares the canonical JSON
    rendering of the position-ordered list."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(FULL_DDL)
    for stmt in FULL_DML:
        sess.execute(stmt)
    sess.execute(FULL_INDEX_DDL)
    return sess.execute(FULL_SELECT)


# --- cql31: audit logging (4.0 audit log, distinct from FQL) ----------------

_AUDIT_SCRIPT: tuple[str, ...] = (
    "CREATE TABLE audlog (k text PRIMARY KEY, v int)",
    "INSERT INTO audlog (k, v) VALUES ('a', 1)",
    "SELECT k, v FROM audlog",  # QUERY category: excluded by the filter
    "CREATE ROLE analyst WITH LOGIN = true",
    "GRANT SELECT ON audlog TO analyst",
)


@query(
    "cql31_audit_log",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'cassandra', 'DDL', 'CREATE_TABLE', 'session', 'audlog',
       'CREATE TABLE audlog (k text PRIMARY KEY, v int)', NULL),
      (2, 'cassandra', 'DML', 'UPDATE', 'session', 'audlog',
       'INSERT INTO audlog (k, v) VALUES (''a'', 1)', NULL),
      (3, 'cassandra', 'DCL', 'CREATE_ROLE', NULL, NULL,
       'CREATE ROLE analyst WITH LOGIN = true', NULL),
      (4, 'cassandra', 'DCL', 'GRANT', 'session', 'audlog',
       'GRANT SELECT ON audlog TO analyst', NULL),
      (5, 'analyst', 'AUTH', 'LOGIN_SUCCESS', NULL, NULL,
       'login analyst', NULL),
      (6, 'analyst', 'ERROR', 'UPDATE', 'session', 'audlog',
       'INSERT INTO audlog (k, v) VALUES (''b'', 2)',
       'role ''analyst'' has no MODIFY permission on table session.audlog'),
      (7, 'cassandra', 'AUTH', 'LOGIN_SUCCESS', NULL, NULL,
       'login cassandra', NULL)
    ) AS t(seq, "user", category, type, keyspace, scope, operation, error)
    """,
)
def cql31_audit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4.0 audit log (`[C* audit/AuditLogManager, unverified]`),
    distinct from FQL: WHO did WHAT, including auth events and FAILED
    statements (ERROR category with the message), with category/keyspace
    filter knobs — here QUERY is excluded, so the SELECT between seq 2
    and 3 leaves no row. The oracle states the expected log literally:
    entries are keyed by the session's deterministic sequence, not wall
    time."""
    sess = CqlSession(spark, sf_dir)
    sess.enable_audit_log(excluded_categories=["QUERY"])
    for stmt in _AUDIT_SCRIPT:
        sess.execute(stmt)
    sess.login("analyst")
    try:
        sess.execute("INSERT INTO audlog (k, v) VALUES ('b', 2)")
    except Exception:
        pass  # the denial itself is the audited event
    sess.login("cassandra")
    return sess.audit_log()


@query(
    "cql32_indexed_read",
    oracle="""
    SELECT * FROM (VALUES
      ('r01', 'n1', 11), ('r04', 'n1', 14), ('r07', 'n1', 17),
      ('r10', 'n1', 20), ('r13', 'n1', 23)
    ) AS t(k, site, v)
    """,
)
def cql32_indexed_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2i-ACCELERATED equality read (`[C* index/internal
    CassandraIndexSearcher, unverified]`): CREATE INDEX on a session
    table, spill across several segments, then SELECT with an equality
    restriction on the indexed column. The read probes per-segment value
    Blooms, reconciles only the candidate partitions, and re-applies the
    predicate — tests/test_indexed_read.py pins that segments are
    actually skipped and that LWW overwrites/tombstones survive the
    pruning. The oracle states the surviving rows literally: r04 keeps
    site n1 (a later non-site UPDATE must not eject it), r16 moved OFF n1
    and r13's delete-then-reinsert stays, while r19 is gone."""
    import tempfile

    sess = CqlSession(
        spark, sf_dir, spill_dir=tempfile.mkdtemp(), spill_threshold=5
    )
    sess.execute(
        "CREATE TABLE readings (k text PRIMARY KEY, site text, v int)"
    )
    sess.execute("CREATE INDEX site_idx ON readings (site)")
    sites = ["n0", "n1", "n2"]
    for i in range(20):
        sess.execute(
            f"INSERT INTO readings (k, site, v) VALUES "
            f"('r{i:02d}', '{sites[i % 3]}', {10 + i})"
        )
    # churn that the index path must survive:
    sess.execute("UPDATE readings SET v = 14 WHERE k = 'r04'")
    sess.execute("UPDATE readings SET site = 'n2' WHERE k = 'r16'")
    sess.execute("DELETE FROM readings WHERE k = 'r19'")
    sess.execute("DELETE FROM readings WHERE k = 'r13'")
    sess.execute(
        "INSERT INTO readings (k, site, v) VALUES ('r13', 'n1', 23)"
    )
    return sess.execute(
        "SELECT k, site, v FROM readings WHERE site = 'n1'"
    )


@query(
    "cql34_contains_indexed",
    oracle="""
    SELECT * FROM (VALUES
      ('m02', 2), ('m07', 7), ('m12', 12), ('m17', 17)
    ) AS t(k, n)
    """,
)
def cql34_contains_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2i-ACCELERATED collection CONTAINS (`[C* index/internal/composites
    CollectionValueIndex, unverified]`): a values index on a set column
    admits CONTAINS without ALLOW FILTERING AND routes through the
    per-segment value Blooms — element cells log individually, so the
    same probe that serves scalar equality serves containment
    (tests/test_indexed_read.py pins the segment skips). Churn included:
    m12's tags are overwritten to keep 'rare' (survives), m03's 'rare'
    is overwritten away (must not surface)."""
    import tempfile

    sess = CqlSession(
        spark, sf_dir, spill_dir=tempfile.mkdtemp(), spill_threshold=5
    )
    sess.execute(
        "CREATE TABLE marked (k text PRIMARY KEY, n int, tags set<text>)"
    )
    sess.execute("CREATE INDEX marked_tags ON marked (tags)")
    for i in range(20):
        tag = "'rare', " if i in (2, 3, 7, 17) else ""
        sess.execute(
            f"INSERT INTO marked (k, n, tags) VALUES "
            f"('m{i:02d}', {i}, {{{tag}'base'}})"
        )
    sess.execute("UPDATE marked SET tags = {'rare', 'late'} WHERE k = 'm12'")
    sess.execute("UPDATE marked SET tags = {'base'} WHERE k = 'm03'")
    return sess.execute(
        "SELECT k, n FROM marked WHERE tags CONTAINS 'rare'"
    )


@query(
    "cql35_indexed_range",
    oracle="""
    SELECT * FROM (VALUES
      ('g01', 21), ('g06', 18), ('g09', 27), ('g10', 30),
      ('g11', 33), ('g12', 36), ('g13', 19)
    ) AS t(k, v)
    """,
)
def cql35_indexed_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2i-ACCELERATED numeric RANGE read (`[C* index/sai, unverified]`:
    SAI serves range restrictions from its per-SSTable index). A SAI
    index on an int column admits ``v >= lo AND v < hi`` without ALLOW
    FILTERING AND routes through per-segment [min, max] value stats (the
    SAI SegmentMetadata min/max term analogue) — segments whose range
    cannot intersect the probe interval are skipped without a data read
    (tests/test_indexed_read.py pins the skips and the differential
    equality with the full-scan route under churn). Churn included: g01
    moves INTO the range (3→21), g08 moves OUT (24→100), g07 is deleted,
    g13 is deleted then reinserted at v=19 (stays)."""
    import tempfile

    sess = CqlSession(
        spark, sf_dir, spill_dir=tempfile.mkdtemp(), spill_threshold=5
    )
    sess.execute("CREATE TABLE gauges (k text PRIMARY KEY, v int)")
    sess.execute(
        "CREATE CUSTOM INDEX gauges_v ON gauges (v) "
        "USING 'StorageAttachedIndex'"
    )
    for i in range(20):
        sess.execute(
            f"INSERT INTO gauges (k, v) VALUES ('g{i:02d}', {3 * i})"
        )
    sess.execute("UPDATE gauges SET v = 21 WHERE k = 'g01'")
    sess.execute("UPDATE gauges SET v = 100 WHERE k = 'g08'")
    sess.execute("DELETE FROM gauges WHERE k = 'g07'")
    sess.execute("DELETE FROM gauges WHERE k = 'g13'")
    sess.execute("INSERT INTO gauges (k, v) VALUES ('g13', 19)")
    return sess.execute(
        "SELECT k, v FROM gauges WHERE v >= 18 AND v < 40"
    )


@query(
    "cql36_ucs_compaction",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id AS VARCHAR) AS k,
             CAST(user_id AS BIGINT) AS u,
             row_number() OVER (ORDER BY event_id) AS rn
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 60)
    )
    SELECT k,
           CASE WHEN rn % 3 = 1 THEN u + 2000 ELSE u END AS u
    FROM src
    """,
)
def cql36_ucs_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UnifiedCompactionStrategy end-to-end through the session (`[C*
    db/compaction/unified — CEP-26, unverified]`, the Cassandra-5
    default-recommended strategy): 60 events-derived INSERTs land in 3
    flushed L0 generations; 'scaling_parameters': 'T3' merges them, and
    the 2KiB 'target_sstable_size' with 'base_shard_count': 2 SHARDS
    the merged output into token-disjoint level-1 segments (asserted
    inline; the full trigger/shard/cascade matrix is
    tests/test_ucs.py). A second generation overwrites every third key
    and a second compaction cascades it into the sharded level. History
    survives byte-for-byte, so the oracle is plain LWW over the
    inserts."""
    import tempfile

    from cassandra_spark.catalog import Catalog

    rows = (
        Catalog(spark, sf_dir)
        .events.orderBy("event_id")
        .limit(60)
        .select("event_id", "user_id")
        .collect()
    )  # bounded: 60 rows through the (inherently driver-side) CQL FE
    sess = CqlSession(
        spark, spill_dir=tempfile.mkdtemp(prefix="cql36_ucs_")
    )
    sess.execute(
        "CREATE TABLE uni (k text PRIMARY KEY, u bigint) WITH compaction "
        "= {'class': 'UnifiedCompactionStrategy', 'scaling_parameters': "
        "'T3', 'target_sstable_size': '2KiB', 'base_shard_count': 2}"
    )
    t = sess.table("uni")
    for i, r in enumerate(rows):
        sess.execute(
            f"INSERT INTO uni (k, u) VALUES ('{r.event_id}', {r.user_id})"
        )
        if i % 20 == 19:
            t.flush()
    created = t.ucs_compact()
    assert len(created) >= 2, "2KiB target must shard the merged output"
    levels = {t._seg_level.get(s, 0) for s in t._segments}
    assert levels == {1}, f"L0 should fully merge to level 1, got {levels}"
    rngs = sorted(t._seg_token_range(s) for s in t._segments)
    assert all(
        rngs[i][1] < rngs[i + 1][0] for i in range(len(rngs) - 1)
    ), "UCS shards must hold disjoint token ranges"
    for i, r in enumerate(rows):
        if i % 3 == 0:
            sess.execute(
                f"INSERT INTO uni (k, u) VALUES "
                f"('{r.event_id}', {r.user_id + 2000})"
            )
    t.flush()
    t.ucs_compact()
    return sess.execute("SELECT k, u FROM uni")


@query(
    "w23_pitr_restore",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id AS VARCHAR) AS k,
             CAST(user_id AS BIGINT) AS u,
             row_number() OVER (ORDER BY event_id) AS rn
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 40)
    )
    SELECT k,
           CASE WHEN rn % 2 = 1 THEN u + 1000 ELSE u END AS u
    FROM src
    """,
)
def w23_pitr_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time restore (`[C* db/commitlog/CommitLogArchiver
    restore_point_in_time, unverified]`): three write generations at
    pinned timestamps (inserts @100, updates of every other key @200,
    deletes of every fifth + a late insert @300) pass through flushes
    AND a major compaction, the keyspace is snapshotted and restored
    into a FRESH session, and ``snapshot_pitr(250)`` reads the restored
    table AS OF t=250 — updates applied, deletes and the late key not
    yet in existence. The reference needs snapshot + archived-commitlog
    replay for this; here history survives byte-for-byte in the
    segments, so the as-of view is one reconcile with a writetime
    cutoff. The current view is inline-asserted to differ (deletes
    applied), so the oracle match proves the cutoff, not a no-op."""
    import tempfile

    from cassandra_spark.catalog import Catalog

    rows = (
        Catalog(spark, sf_dir)
        .events.orderBy("event_id")
        .limit(40)
        .select("event_id", "user_id")
        .collect()
    )  # bounded: 40 rows through the (inherently driver-side) CQL FE
    sess = CqlSession(
        spark, spill_dir=tempfile.mkdtemp(prefix="w23_pitr_")
    )
    sess.execute("CREATE TABLE pt (k text PRIMARY KEY, u bigint)")
    t = sess.table("pt")
    for r in rows:
        sess.execute(
            f"INSERT INTO pt (k, u) VALUES ('{r.event_id}', {r.user_id}) "
            f"USING TIMESTAMP 100"
        )
    t.flush()
    for i, r in enumerate(rows):
        if i % 2 == 0:
            sess.execute(
                f"UPDATE pt USING TIMESTAMP 200 SET u = {r.user_id + 1000} "
                f"WHERE k = '{r.event_id}'"
            )
    t.flush()
    t.compact_segments()  # history must survive a major compaction
    for i, r in enumerate(rows):
        if i % 5 == 0:
            sess.execute(
                f"DELETE FROM pt USING TIMESTAMP 300 "
                f"WHERE k = '{r.event_id}'"
            )
    sess.execute(
        "INSERT INTO pt (k, u) VALUES ('zz_late', 1) USING TIMESTAMP 300"
    )
    t.flush()

    snap = tempfile.mkdtemp(prefix="w23_snap_")
    sess.snapshot_keyspace(snap)
    restored = CqlSession(
        spark, spill_dir=tempfile.mkdtemp(prefix="w23_restored_")
    )
    restored.restore_keyspace(snap)
    rt = restored.table("pt")
    n_now = rt.snapshot().count()
    assert n_now == len(rows) - 8 + 1, (
        f"current view must show the deletes + late key, got {n_now}"
    )
    return rt.snapshot_pitr(250).select("k", "u")


@query(
    "cql37_sai_ann_euclidean",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {BUCKET_DUCK} AS bucket FROM embeddings
    ),
    cand AS (
      SELECT vec_id, embedding FROM bucketed
      WHERE bucket IN ({", ".join(map(str, _ANN_PROBES))})
    )
    SELECT vec_id FROM (
      SELECT vec_id,
             {dot_duck('embedding', 'embedding')}
             - 2 * {dot_duck('embedding', f'[{_ANN_V}]')}
             + {dot_duck(f'[{_ANN_V}]', f'[{_ANN_V}]')} AS d2
      FROM cand
      ORDER BY d2 ASC, vec_id
      LIMIT 10
    )
    """,
)
def cql37_sai_ann_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAI ANN with a non-default ranking function (`[C* index/sai —
    CREATE CUSTOM INDEX ... WITH OPTIONS = {{'similarity_function':
    'euclidean'}}, unverified]`): the same statement text as cql17, but
    the index DDL's option flips the ORDER BY semantics from cosine
    (descending similarity) to squared-L2 (ascending distance —
    order-equivalent to the reference's 1/(1+d^2) similarity). The
    candidate route is unchanged: the literal query vector's LSH bucket
    multiprobe set prunes the persisted artifact's partitions at plan
    time; only the ranking of survivors differs, which the oracle
    states exactly."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE CUSTOM INDEX emb_l2_idx ON embeddings (embedding) "
        "USING 'StorageAttachedIndex' "
        "WITH OPTIONS = {'similarity_function': 'EUCLIDEAN'}"
    )
    return sess.execute(
        f"SELECT vec_id FROM embeddings ORDER BY embedding ANN OF "
        f"[{_ANN_V}] LIMIT 10"
    )


@query(
    "cql38_clustering_index",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id
    FROM events WHERE event_id % 5000 = 7
    """,
)
def cql38_clustering_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary index ON A CLUSTERING COLUMN (`[C* cql3/statements/
    CreateIndexStatement, unverified]` — legal in the reference; only
    the partition key is rejected): ``event_id`` is events' clustering
    column, so a partition-free restriction on it is a full-ring scan
    the gate refuses without ALLOW FILTERING (asserted inline — the
    round-9 gate faithfulness fix). The SAI index admits it, and the
    scan stays one Catalyst-pushed filter over the corpus — the
    analytics-engine shape of the reference's index lookup."""
    from cassandra_spark.cql import CQLError

    sess = CqlSession(spark, sf_dir)
    try:
        sess.execute(
            "SELECT user_id, event_id FROM events WHERE event_id % 5000 = 7"
        )
        raise AssertionError("partition-free clustering restriction must "
                             "need ALLOW FILTERING before the index exists")
    except CQLError:
        pass
    sess.execute(
        "CREATE CUSTOM INDEX ev_eid_idx ON events (event_id) "
        "USING 'StorageAttachedIndex'"
    )
    return sess.execute(
        "SELECT user_id, event_id FROM events WHERE event_id % 5000 = 7"
    )


@query(
    "cql39_compaction_history",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'a', 'stcs',    2, 1, CAST(20 AS BIGINT),
       CAST(20 AS BIGINT)),
      (CAST(0 AS BIGINT), 'b', 'compact', 2, 1, CAST(12 AS BIGINT),
       CAST(12 AS BIGINT)),
      (CAST(0 AS BIGINT), 'c', 'ucs',     2, 1, CAST(8 AS BIGINT),
       CAST(8 AS BIGINT))
    ) AS t(id, columnfamily_name, compaction_type, n_inputs, n_outputs,
           rows_in, rows_out)
    """,
)
def cql39_compaction_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``system.compaction_history`` (`[C* db/SystemKeyspace ::
    updateCompactionHistory; nodetool compactionhistory, unverified]`):
    every merge/drop across every table records one row in the virtual
    table. Three tables exercise three strategies — STCS tier merge,
    default major compaction, UCS overlap merge — and the oracle states
    the full deterministic projection (ids, strategy tags, input/output
    segment counts, mutation-row counts; wall-clock ``compacted_at`` and
    codec-dependent byte sizes are projected out). Rows are counted in
    mutation-log cells: one INSERT of (k, v) is a row MARKER plus one
    cell."""
    import tempfile

    sess = CqlSession(
        spark, spill_dir=tempfile.mkdtemp(prefix="cql39_hist_")
    )
    sess.execute(
        "CREATE TABLE a (k text PRIMARY KEY, v int) WITH compaction = "
        "{'class': 'SizeTieredCompactionStrategy', 'min_threshold': '2'}"
    )
    sess.execute("CREATE TABLE b (k text PRIMARY KEY, v int)")
    sess.execute(
        "CREATE TABLE c (k text PRIMARY KEY, v int) WITH compaction = "
        "{'class': 'UnifiedCompactionStrategy', 'scaling_parameters': 'T2'}"
    )
    for tbl, per_flush in (("a", 5), ("b", 3), ("c", 2)):
        t = sess.table(tbl)
        for g in range(2):
            for i in range(per_flush):
                sess.execute(
                    f"INSERT INTO {tbl} (k, v) VALUES "
                    f"('{tbl}{g}{i}', {i})"
                )
            t.flush()
    sess.table("a").stcs_compact()
    sess.table("b").compact_segments()
    sess.table("c").ucs_compact()
    return sess.execute(
        "SELECT id, columnfamily_name, compaction_type, n_inputs, "
        "n_outputs, rows_in, rows_out FROM system.compaction_history"
    )


@query(
    "cql40_guardrails",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id AS VARCHAR) AS k,
             CAST(user_id AS BIGINT) AS u,
             row_number() OVER (ORDER BY event_id) AS rn
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 30)
    )
    SELECT k, u, CAST(3 AS BIGINT) AS n_tags FROM src WHERE rn <= 30
    """,
)
def cql40_guardrails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guardrails end-to-end (`[C* db/guardrails/Guardrails — the 4.1
    framework, unverified]`): warn thresholds record client warnings
    (the protocol warning frame, drained via ``pop_warnings``), fail
    thresholds ABORT the statement atomically — the aborted write's row
    marker does not leak (inline-asserted; the reference applies a
    mutation atomically or not at all). 30 events-derived rows insert
    3-item tag sets under ``items_per_collection`` (warn 2, fail 4):
    every insert warns, none fail; a 5-item insert is refused and
    leaves nothing; ``partition_keys_in_select`` bounds the IN fan-out.
    The returned table is the surviving data, whose oracle proves the
    guardrail never corrupted a passing write."""
    import tempfile

    from cassandra_spark.catalog import Catalog
    from cassandra_spark.cql import CQLError

    rows = (
        Catalog(spark, sf_dir)
        .events.orderBy("event_id")
        .limit(30)
        .select("event_id", "user_id")
        .collect()
    )  # bounded: 30 rows through the (inherently driver-side) CQL FE
    sess = CqlSession(
        spark, spill_dir=tempfile.mkdtemp(prefix="cql40_guard_")
    )
    sess.execute(
        "CREATE TABLE gd (k text PRIMARY KEY, u bigint, tags set<text>)"
    )
    sess.set_guardrail("items_per_collection", warn=2, fail=4)
    sess.set_guardrail("partition_keys_in_select", fail=3)
    for r in rows:
        sess.execute(
            f"INSERT INTO gd (k, u, tags) VALUES ('{r.event_id}', "
            f"{r.user_id}, {{'t1', 't2', 't3'}})"
        )
    warns = sess.pop_warnings()
    assert len(warns) == len(rows), "every 3-item set must warn at warn=2"
    try:
        sess.execute(
            "INSERT INTO gd (k, u, tags) VALUES ('zz', 1, "
            "{'a','b','c','d','e'})"
        )
        raise AssertionError("5-item set must violate fail=4")
    except CQLError:
        pass
    assert sess.execute("SELECT k FROM gd WHERE k = 'zz'").count() == 0, (
        "aborted write must not leak its row marker"
    )
    try:
        sess.execute("SELECT k FROM gd WHERE k IN ('a','b','c','d')")
        raise AssertionError("IN of 4 partitions must violate fail=3")
    except CQLError:
        pass
    return sess.execute(
        "SELECT k, u, size(tags) AS n_tags FROM gd"
    )


@query(
    "w25_garbage_collect",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id AS VARCHAR) AS k,
             CAST(user_id AS BIGINT) AS u,
             row_number() OVER (ORDER BY event_id) - 1 AS i
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 36)
    )
    SELECT k,
           CASE WHEN i % 3 = 0 THEN u + 3000 ELSE u END AS u
    FROM src
    WHERE NOT (i % 4 = 0 AND i % 3 <> 0)
    """,
)
def w25_garbage_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``nodetool garbagecollect`` end-to-end (`[C* db/compaction/
    CompactionController :: getPurgeEvaluator, unverified]`): inserts
    @100, deletes of every 4th key @200, overwrites of every 3rd @300;
    ``garbage_collect(gc_horizon_us=250)`` purges the @200 tombstones
    (past grace) together with the data they shadow, while the @300
    overwrites — newer than their tombstones — survive untouched. The
    physical reduction is inline-asserted (per-key logs of purged keys
    empty; tombstone kinds gone) and the oracle states the visible LWW
    state, proving the destructive rewrite changed bytes, never
    answers."""
    import tempfile

    from cassandra_spark.catalog import Catalog

    rows = (
        Catalog(spark, sf_dir)
        .events.orderBy("event_id")
        .limit(36)
        .select("event_id", "user_id")
        .collect()
    )  # bounded: 36 rows through the (inherently driver-side) CQL FE
    sess = CqlSession(spark, spill_dir=tempfile.mkdtemp(prefix="w25_gc_"))
    sess.execute("CREATE TABLE gct (k text PRIMARY KEY, u bigint)")
    t = sess.table("gct")
    for r in rows:
        sess.execute(
            f"INSERT INTO gct (k, u) VALUES ('{r.event_id}', {r.user_id}) "
            f"USING TIMESTAMP 100"
        )
    t.flush()
    for i, r in enumerate(rows):
        if i % 4 == 0:
            sess.execute(
                f"DELETE FROM gct USING TIMESTAMP 200 "
                f"WHERE k = '{r.event_id}'"
            )
    for i, r in enumerate(rows):
        if i % 3 == 0:
            sess.execute(
                f"INSERT INTO gct (k, u) VALUES "
                f"('{r.event_id}', {r.user_id + 3000}) USING TIMESTAMP 300"
            )
    stats = t.garbage_collect(gc_horizon_us=250)
    assert stats["dropped"] > 0, "the @200 tombstones must purge"
    log = t.mutation_log()
    assert log.filter("kind LIKE '%TOMB%'").count() == 0, (
        "no tombstone is younger than the 250 horizon"
    )
    purged = [
        r.event_id for i, r in enumerate(rows) if i % 4 == 0 and i % 3 != 0
    ]
    from pyspark.sql import functions as F

    assert log.filter(F.col("pk").isin(purged)).count() == 0, (
        "fully-shadowed keys must leave no physical trace"
    )
    return sess.execute("SELECT k, u FROM gct")


from cassandra_spark.operators import murmur3 as _murmur3  # noqa: E402

# the synthetic lineitem is not TPC-H-unique on (orderkey, linenumber):
# aggregate to one row per composite key on BOTH sides
_CQL46_STAGE = (
    "SELECT l_orderkey, l_linenumber, MAX(l_quantity) AS l_quantity "
    "FROM lineitem WHERE l_orderkey <= 200 GROUP BY 1, 2"
)


@query(
    "cql46_composite_pk",
    oracle=f"""
    WITH __toks AS MATERIALIZED (
      {_murmur3.duckdb_token_query_composite(
          _CQL46_STAGE, "l_orderkey", "l_linenumber", out="tok")}
    )
    SELECT l_orderkey, l_linenumber, l_quantity, tok FROM __toks
    WHERE tok > 0
    """,
)
def cql46_composite_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE partition keys end-to-end in the session FE (`[C*
    db/marshal/CompositeType; cql3/statements/CreateTableStatement,
    unverified]`): ``PRIMARY KEY ((l_orderkey, l_linenumber))`` parses,
    bulk-loads executor-side (the log keys each partition on the
    SEP-joined component serialization — the analogue of the reference's
    composite key bytes), point-reads under the full-equality gate, and
    serves a ``token(a, b)``-range scan whose tokens are the bit-exact
    Murmur3 hash of the CompositeType framing (2-byte BE length + bytes
    + 0x00 per component), assembled in Spark SQL and recomputed
    independently by the DuckDB oracle's 18-lane chain. DESCRIBE
    round-trips the composite spec through re-parse; partial-partition
    restrictions are rejected without ALLOW FILTERING (asserted
    in-body)."""
    from pyspark.sql import functions as F

    from cassandra_spark.cql import CQLError
    from cassandra_spark.catalog import Catalog

    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE TABLE li (l_orderkey bigint, l_linenumber int, "
        "l_quantity double, PRIMARY KEY ((l_orderkey, l_linenumber)))"
    )
    src = (
        Catalog(spark, sf_dir)
        .lineitem.filter(F.col("l_orderkey") <= 200)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.max("l_quantity").alias("l_quantity"))
    )
    sess.table("li").bulk_load(src)

    # proof obligation 1: point read under the full-composite-equality
    # gate returns exactly one row (first staged key — SF-independent)
    k = src.orderBy("l_orderkey", "l_linenumber").first()
    assert sess.execute(
        f"SELECT l_quantity FROM li WHERE l_orderkey = {k.l_orderkey} "
        f"AND l_linenumber = {k.l_linenumber}"
    ).count() == 1, "composite point read must hit one row"
    # proof obligation 2: a partial partition restriction is rejected
    try:
        sess.execute("SELECT * FROM li WHERE l_orderkey = 1")
        raise AssertionError("partial composite pk must require "
                             "ALLOW FILTERING")
    except CQLError:
        pass
    # proof obligation 3: DESCRIBE re-parses to the same composite key
    reparsed = parse_create_table(sess._table_ddl("li"))
    assert reparsed.partition_cols == ("l_orderkey", "l_linenumber"), (
        "DESCRIBE must round-trip the composite partition key"
    )

    return sess.execute(
        "SELECT l_orderkey, l_linenumber, l_quantity, "
        "token(l_orderkey, l_linenumber) AS tok FROM li "
        "WHERE token(l_orderkey, l_linenumber) > 0"
    )


@query(
    "cql48_tuple_relations",
    oracle="""
    SELECT o_custkey AS custkey, CAST(o_orderdate AS VARCHAR) AS odate,
           o_orderkey AS okey, o_totalprice AS total
    FROM orders
    WHERE o_custkey IN (5, 16, 33, 52)
      AND (CAST(o_orderdate AS VARCHAR), o_orderkey) >= ('1995-06-01', 0)
    """,
)
def cql48_tuple_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column clustering relations in the CQL gate (`[C*
    cql3/restrictions/MultiColumnRestriction, unverified]`): ``(odate,
    okey) >= ('..', 0)`` compiles to the expanded per-column boolean form
    the batch tier pins (p3_tuple_range) — fully pushdown-able, no struct
    comparison at scan time — while DuckDB evaluates the native row
    comparison, a true cross-engine differential of the expansion. The
    in-body proof drives R9's keyset pager over one partition and checks
    the tuple-relation spelling reproduces exactly the pager's remaining
    rows after page one (the cursor IS a multi-column relation)."""
    from pyspark.sql import functions as F

    from cassandra_spark.catalog import Catalog

    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE TABLE cust_orders (custkey bigint, odate text, "
        "okey bigint, total double, PRIMARY KEY (custkey, odate, okey))"
    )
    src = (
        Catalog(spark, sf_dir)
        .orders.filter(F.col("o_custkey").isin(5, 16, 33, 52))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").cast("string").alias("odate"),
            F.col("o_orderkey").alias("okey"),
            F.col("o_totalprice").alias("total"),
        )
    )
    sess.table("cust_orders").bulk_load(src)

    # keyset-paging parity: page 1 of the fullest partition, then the
    # tuple relation from its last key must equal the pager's remainder
    # (partition + page size are data-driven so every SF tier pages)
    top = (
        src.groupBy("custkey").count()
        .orderBy(F.desc("count"), "custkey").first()
    )
    pk_val, n = int(top["custkey"]), int(top["count"])
    assert n >= 2, "fixture needs a partition with at least two rows"
    psize = max(1, min(8, n // 2))
    stmt1 = (
        f"SELECT custkey, odate, okey FROM cust_orders "
        f"WHERE custkey = {pk_val}"
    )
    page = sess.execute_paged(stmt1, psize)
    rows1 = page.df.collect()
    assert len(rows1) == psize, "fixture must fill the first page"
    last = rows1[-1]
    rest_pager = []
    state = page.paging_state()
    while state is not None:
        nxt = sess.execute_paged(stmt1, psize, state)
        rest_pager.extend(nxt.df.collect())
        state = nxt.paging_state()
    rest_tuple = sess.execute(
        f"SELECT odate, okey FROM cust_orders WHERE custkey = {pk_val} "
        f"AND (odate, okey) > ('{last.odate}', {last.okey})"
    ).collect()
    assert {(r.odate, r.okey) for r in rest_pager} == {
        (r.odate, r.okey) for r in rest_tuple
    }, "tuple relation must reproduce the keyset cursor's remainder"

    # the IN variant of the multi-column restriction: a tuple list is a
    # disjunction of per-tuple equality conjunctions
    two = [(r.odate, r.okey) for r in rows1[:2]]
    in_rows = sess.execute(
        f"SELECT odate, okey FROM cust_orders WHERE custkey = {pk_val} "
        f"AND (odate, okey) IN (('{two[0][0]}', {two[0][1]}), "
        f"('{two[1][0]}', {two[1][1]}))"
    ).collect()
    assert {(r.odate, r.okey) for r in in_rows} == set(two), (
        "multi-column IN must select exactly the named tuples"
    )

    return sess.execute(
        "SELECT custkey, odate, okey, total FROM cust_orders "
        "WHERE custkey IN (5, 16, 33, 52) "
        "AND (odate, okey) >= ('1995-06-01', 0)"
    )


@query(
    "cql47_udt_columns",
    oracle="""
    SELECT p_partkey AS pk,
           to_json({'name': p_name, 'size': p_size}) AS info,
           to_json([{'c0': p_brand, 'c1': p_size},
                    {'c0': p_type, 'c1': p_size + 1}]) AS variants,
           CAST(100 AS BIGINT) AS wt
    FROM part WHERE p_partkey <= 40
    """,
)
def cql47_udt_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-collection columns in the session FE (`[C* cql3/CQL3Type —
    frozen<udt> / frozen<tuple>, unverified]`): ``list<frozen<tuple<text,
    int>>>`` and a ``frozen<udt>`` scalar round-trip through CQL literals
    → canonical-JSON element cells in the mutation log → from_json
    re-typing at snapshot. The oracle rebuilds the same structs natively
    in DuckDB and compares the canonical JSON renderings byte-for-byte
    (the w14 convention), plus the pinned WRITETIME shadow. In-body:
    ALTER TYPE ADD interop (a field added to the UDT appears in new
    writes while old cells read back unchanged) and element append."""
    from pyspark.sql import functions as F

    from cassandra_spark.catalog import Catalog

    sess = CqlSession(spark, sf_dir)
    sess.execute("CREATE TYPE pinfo (name text, size int)")
    sess.execute(
        "CREATE TABLE parts (pk bigint, info frozen<pinfo>, "
        "variants list<frozen<tuple<text, int>>>, PRIMARY KEY (pk))"
    )
    rows = (
        Catalog(spark, sf_dir)
        .part.filter(F.col("p_partkey") <= 40)
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .collect()
    )  # bounded: <=41 rows through the (inherently driver-side) CQL FE
    for r in rows:

        def q(s: str) -> str:
            return s.replace("'", "''")

        sess.execute(
            f"INSERT INTO parts (pk, info, variants) VALUES ({r.p_partkey}, "
            f"{{name: '{q(r.p_name)}', size: {r.p_size}}}, "
            f"[('{q(r.p_brand)}', {r.p_size})]) USING TIMESTAMP 100"
        )
        # element append is a first-class collection write, same shadow
        sess.execute(
            f"UPDATE parts USING TIMESTAMP 100 SET variants = variants + "
            f"[('{q(r.p_type)}', {r.p_size + 1})] WHERE pk = {r.p_partkey}"
        )

    # ALTER TYPE ADD interop: new writes carry the field, old cells are
    # untouched (asserted against pinned JSON, not part of the oracle)
    sess.execute("ALTER TYPE pinfo ADD grade text")
    sess.execute(
        "INSERT INTO parts (pk, info) VALUES "
        "(999999, {name: 'new', size: 1, grade: 'a'}) USING TIMESTAMP 100"
    )
    js = {
        r.pk: r.j
        for r in sess.execute("SELECT pk, info FROM parts")
        .select("pk", F.to_json("info").alias("j"))
        .collect()
        if r.pk in (999999, rows[0].p_partkey)
    }
    assert js[999999] == '{"name":"new","size":1,"grade":"a"}', js
    first = rows[0]
    assert js[first.p_partkey] == (
        '{"name":"%s","size":%d}' % (first.p_name, first.p_size)
    ), js
    # pinned-timestamp session: the tombstone must outrank the @100 writes
    sess.execute("DELETE FROM parts USING TIMESTAMP 200 WHERE pk = 999999")

    snap = sess.execute("SELECT pk, info, variants, WRITETIME(info) AS wt "
                        "FROM parts")
    return snap.select(
        "pk",
        F.to_json("info").alias("info"),
        F.to_json("variants").alias("variants"),
        "wt",
    )


@query(
    "cql49_like_search",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE text LIKE 'key %'
    """,
)
def cql49_like_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE through the CQL FE on a SASI-indexed column (`[C*
    index/sasi/SASIIndex — the reference's only LIKE-admitting index
    class, unverified]`): ``CREATE CUSTOM INDEX .. USING '..SASIIndex'``
    on ``documents (text)`` relaxes the restriction gate so ``WHERE text
    LIKE 'key %'`` compiles — Catalyst turns the prefix form into a
    StartsWith that pushes into the parquet scan, so at 100 TB the scan
    skips row groups on column statistics instead of evaluating a regex
    per row. In-body negatives (compile-time, no jobs): LIKE on a
    plain-2i column and on an SAI column is rejected without ALLOW
    FILTERING — SAI admits eq/range/CONTAINS but never LIKE, the
    kind-faithful class split — while ALLOW FILTERING still runs it, and
    the CONTAINS-mode spelling ``LIKE '%mid%'`` is admitted by the same
    SASI index."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE CUSTOM INDEX doc_text_sasi ON documents (text) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex' "
        "WITH OPTIONS = {'mode': 'CONTAINS'}"
    )
    neg = CqlSession(spark, None)
    neg.execute("CREATE TABLE lt (k int PRIMARY KEY, v text, w text)")
    neg.execute("CREATE INDEX ON lt (v)")
    neg.execute(
        "CREATE CUSTOM INDEX ON lt (w) USING 'StorageAttachedIndex'"
    )
    for bad in (
        "SELECT k FROM lt WHERE v LIKE 'a%'",  # plain 2i: no LIKE
        "SELECT k FROM lt WHERE w LIKE 'a%'",  # SAI: no LIKE either
    ):
        try:
            neg.execute(bad)
            raise AssertionError(f"LIKE must require SASI: {bad}")
        except CQLError:
            pass
    neg.execute("SELECT k FROM lt WHERE v LIKE 'a%' ALLOW FILTERING")
    # CONTAINS-mode LIKE admitted through the same index (compile only)
    sess.execute("SELECT doc_id FROM documents WHERE text LIKE '%window%'")
    return sess.execute(
        "SELECT doc_id, lang, n_chars FROM documents "
        "WHERE text LIKE 'key %'"
    )


@query(
    "cql50_nested_collections",
    oracle="""
    SELECT p_partkey AS pk,
           to_json(CASE WHEN p_partkey % 2 = 1
             THEN MAP {'a': [p_size * 2]}
             ELSE MAP {'a': [p_size * 2], 'b': [p_size, p_size + 1]}
           END) AS m,
           to_json([list_sort(list_distinct([p_brand, p_type]))]) AS l
    FROM part WHERE p_partkey <= 40
    """,
)
def cql50_nested_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen NESTED collections in the session FE (`[C* cql3/CQL3Type.Raw
    — frozen<list/set/map> inside collections, unverified]`):
    ``map<text, frozen<list<int>>>`` and ``list<frozen<set<text>>>``
    round-trip through CQL literals → canonical-JSON element cells in the
    mutation log (the round-11 struct convention extended one nesting
    level) → from_json re-typing at snapshot. Exercised per row: INSERT
    with nested literals, a SUBSCRIPT overwrite of one nested value
    (``m['a'] = [..]``), and a nested-key tombstone (``DELETE m['b']``)
    on odd keys — LWW across all three. The DuckDB oracle rebuilds the
    same maps/lists natively and compares the canonical JSON renderings
    byte-for-byte (the cql47 convention). In-body: non-frozen nesting is
    rejected at DDL time (the reference's rule)."""
    from pyspark.sql import functions as F

    from cassandra_spark.catalog import Catalog

    sess = CqlSession(spark, sf_dir)
    try:
        sess.execute(
            "CREATE TABLE badnest (pk int PRIMARY KEY, "
            "m map<text, list<int>>)"
        )
        raise AssertionError("non-frozen nested collection must be "
                             "rejected at DDL time")
    except CQLError:
        pass
    sess.execute(
        "CREATE TABLE np (pk bigint, m map<text, frozen<list<int>>>, "
        "l list<frozen<set<text>>>, PRIMARY KEY (pk))"
    )
    rows = (
        Catalog(spark, sf_dir)
        .part.filter(F.col("p_partkey") <= 40)
        .select("p_partkey", "p_brand", "p_type", "p_size")
        .collect()
    )  # bounded: <=41 rows through the (inherently driver-side) CQL FE
    for r in rows:

        def q(s: str) -> str:
            return s.replace("'", "''")

        sess.execute(
            f"INSERT INTO np (pk, m, l) VALUES ({r.p_partkey}, "
            f"{{'b': [{r.p_size}, {r.p_size + 1}], 'a': [{r.p_size}]}}, "
            f"[{{'{q(r.p_type)}', '{q(r.p_brand)}'}}]) USING TIMESTAMP 100"
        )
        sess.execute(
            f"UPDATE np USING TIMESTAMP 200 SET m['a'] = "
            f"[{r.p_size * 2}] WHERE pk = {r.p_partkey}"
        )
        if r.p_partkey % 2 == 1:
            sess.execute(
                f"DELETE m['b'] FROM np USING TIMESTAMP 300 "
                f"WHERE pk = {r.p_partkey}"
            )

    snap = sess.execute("SELECT pk, m, l FROM np")
    return snap.select(
        "pk",
        F.to_json("m").alias("m"),
        F.to_json("l").alias("l"),
    )


@query(
    "cql51_group_by_time_bucket",
    oracle="""
    SELECT user_id,
           make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
             AS bucket,
           count(event_id) AS n,
           min(value) AS lo
    FROM events GROUP BY user_id, bucket
    """,
)
def cql51_group_by_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket GROUP BY (`[C* cql3/functions/TimeFcts ::
    FloorTimestampFunction — CASSANDRA-11871 lineage, unverified]`):
    ``GROUP BY user_id, floor(ts, 1h)`` in the CQL FE grammar, compiled
    to epoch-aligned integer-µs bucketing — ``timestamp_micros((
    unix_micros(ts) div 3600000000) * 3600000000)`` — which stays
    whole-stage-codegen inside the single hash-aggregate shuffle (no
    second exchange, no UDF). The gate keeps the PK-prefix rule: the
    floored column must be the next clustering column after the grouped
    prefix; months/years (variable length) are rejected. The DuckDB
    oracle recomputes the same integer bucket arithmetic independently."""
    return cql_select(
        spark, sf_dir,
        "SELECT user_id, floor(ts, 1h) AS bucket, "
        "count(event_id) AS n, min(value) AS lo "
        "FROM events GROUP BY user_id, floor(ts, 1h)",
    )


@query(
    "cql52_between",
    oracle="""
    SELECT o_custkey AS ck, o_orderkey AS okey, o_totalprice AS total
    FROM orders
    WHERE o_custkey = 16
      AND o_orderkey BETWEEN 10000 AND 400000
    UNION ALL
    SELECT o_custkey AS ck, o_orderkey AS okey, o_totalprice AS total
    FROM orders
    WHERE o_totalprice BETWEEN 100000.0 AND 101000.0
    """,
)
def cql52_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CQL 5.0 ``BETWEEN`` (`[C* CASSANDRA-18584, unverified]`): an
    inclusive range restriction through the FE — legal on clustering
    columns under a restricted partition (the slice rule) and on
    SAI-indexed regular columns (SAI serves ranges); a plain-2i or
    unindexed column still demands ALLOW FILTERING (asserted in-body).
    Catalyst evaluates the textual BETWEEN natively (same semantics as
    DuckDB, inclusive both ends), so both legs stay pushdown-able
    scans."""
    from cassandra_spark.cql import CQLError

    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE CUSTOM INDEX ON orders (o_totalprice) "
        "USING 'StorageAttachedIndex'"
    )
    # negative: BETWEEN on an unindexed regular column needs filtering
    # (the column must EXIST in the staged table — a nonexistent one is
    # rejected earlier, as an unresolvable reference, which would not
    # exercise the ALLOW FILTERING gate)
    try:
        sess.execute(
            "SELECT o_orderkey FROM orders "
            "WHERE o_orderpriority BETWEEN '1' AND '3'"
        )
        raise AssertionError("unindexed BETWEEN must demand ALLOW FILTERING")
    except CQLError as exc:
        assert "ALLOW FILTERING" in str(exc), exc
    clustering_leg = sess.execute(
        "SELECT o_custkey AS ck, o_orderkey AS okey, o_totalprice AS total "
        "FROM orders WHERE o_custkey = 16 "
        "AND o_orderkey BETWEEN 10000 AND 400000"
    )
    sai_leg = sess.execute(
        "SELECT o_custkey AS ck, o_orderkey AS okey, o_totalprice AS total "
        "FROM orders WHERE o_totalprice BETWEEN 100000.0 AND 101000.0"
    )
    return clustering_leg.unionAll(sai_leg)


@query(
    "cql53_dropped_columns",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(NULL AS INTEGER), 'x'),
      (CAST(2 AS BIGINT), 88, 'y'),
      (CAST(3 AS BIGINT), 30, 'z')
    ) AS t(id, a, b)
    """,
)
def cql53_dropped_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dropped-column timestamps end-to-end (`[C* schema/DroppedColumn —
    CASSANDRA-3919 lineage; ALTER ... DROP ... USING TIMESTAMP —
    CASSANDRA-7784, unverified]`, round 13): DROP records the drop time
    in the schema registry (mirrored as system_schema.dropped_columns)
    and purges only cells at or below it, so a cell written BEFORE the
    drop with a FUTURE timestamp survives and reappears when the name is
    re-added — while a LATE write carrying a pre-drop timestamp stays
    invisible forever and writetime() of the shadowed cell is NULL. A
    re-add must keep the dropped type and kind (both rejections asserted
    in-body). The literal oracle pins the visible end state: id 1's
    pre-drop cell gone, id 2's fresh post-re-add write visible, id 3's
    future-stamped cell resurrected."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE TABLE dcx (id bigint PRIMARY KEY, a int, b text)"
    )
    sess.execute("INSERT INTO dcx (id, a, b) VALUES (1, 10, 'x')")
    sess.execute("INSERT INTO dcx (id, a, b) VALUES (2, 20, 'y')")
    sess.execute(
        "INSERT INTO dcx (id, a, b) VALUES (3, 30, 'z') "
        "USING TIMESTAMP 999999"
    )
    sess.execute("ALTER TABLE dcx DROP a")
    try:
        sess.execute("ALTER TABLE dcx ADD a text")
        raise AssertionError("type flip on re-add must be rejected")
    except CQLError as exc:
        assert "incompatible with previous type" in str(exc), exc
    try:
        sess.execute("ALTER TABLE dcx ADD a int STATIC")
        raise AssertionError("kind flip on re-add must be rejected")
    except CQLError as exc:
        assert "different kind" in str(exc), exc
    sess.execute("ALTER TABLE dcx ADD a int")
    # late write with a pre-drop timestamp: applied, but born-shadowed
    sess.execute(
        "INSERT INTO dcx (id, a) VALUES (1, 77) USING TIMESTAMP 1"
    )
    sess.execute("INSERT INTO dcx (id, a) VALUES (2, 88)")
    vt = sess.execute(
        "SELECT table_name, column_name, type, kind "
        "FROM system_schema.dropped_columns"
    ).collect()
    assert [(r.table_name, r.column_name, r.type, r.kind) for r in vt] == [
        ("dcx", "a", "int", "regular")
    ], vt
    wt = sess.execute(
        "SELECT writetime(a) AS wt FROM dcx WHERE id = 1"
    ).collect()
    assert [r.wt for r in wt] == [None], wt
    return sess.execute("SELECT id, a, b FROM dcx")


@query(
    "cql54_network_auth",
    oracle="""
    SELECT * FROM (VALUES
      ('etl', 'dc1'), ('regional', 'dc2')
    ) AS t(role, dc)
    """,
)
def cql54_network_auth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4.0 network authorizer end-to-end (`[C*
    auth/CassandraNetworkAuthorizer — CASSANDRA-13985, unverified]`):
    `ACCESS TO DATACENTERS {'dc'}` on CREATE/ALTER ROLE restricts which
    datacenters a role may log in from (this cluster model's ring
    topology has dc1/dc2); `ACCESS TO ALL DATACENTERS` lifts it;
    superusers hold implicit all-DC access; unknown datacenters are
    rejected against the ring topology. Enforcement, the ALTER ROLE
    merge, the superuser bypass and the ALTER permission gate are
    asserted in-body; the result (pinned by the literal oracle) is the
    exploded `system_auth.network_permissions` virtual table — one row
    per (restricted role, granted DC)."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE ROLE regional WITH LOGIN = true "
        "AND ACCESS TO DATACENTERS {'dc1'}"
    )
    sess.execute("CREATE ROLE etl WITH LOGIN = true")
    sess.execute(
        "CREATE ROLE chief WITH LOGIN = true AND SUPERUSER = true "
        "AND ACCESS TO DATACENTERS {'dc2'}"
    )
    # ALTER merges: flip regional to dc2 only, restrict etl to dc1
    sess.execute("ALTER ROLE regional WITH ACCESS TO DATACENTERS {'dc2'}")
    sess.execute("ALTER ROLE etl WITH ACCESS TO DATACENTERS {'dc1'}")
    # enforcement: regional may not connect through dc1 (the local DC)
    try:
        sess.login("regional")
        raise AssertionError("dc-restricted login must be rejected")
    except CQLError as exc:
        assert "no access to datacenter" in str(exc), exc
    sess.login("regional", datacenter="dc2")
    sess.login("cassandra")
    # superusers bypass the network authorizer
    sess.login("chief")
    sess.login("cassandra")
    # unknown datacenters are rejected against the ring topology
    try:
        sess.execute("CREATE ROLE bad WITH ACCESS TO DATACENTERS {'dc9'}")
        raise AssertionError("unknown datacenter must be rejected")
    except CQLError as exc:
        assert "unknown datacenter" in str(exc), exc
    # ACCESS TO ALL DATACENTERS removes the row from the virtual table
    sess.execute("CREATE ROLE opened WITH ACCESS TO DATACENTERS {'dc1'}")
    sess.execute("ALTER ROLE opened WITH ACCESS TO ALL DATACENTERS")
    from pyspark.sql import functions as F

    vt = sess.execute(
        "SELECT role, dcs FROM system_auth.network_permissions"
    )
    return (
        vt.filter(F.col("role") != "chief")
        .select("role", F.explode("dcs").alias("dc"))
    )


@query(
    "cql55_pk_component_index",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS INTEGER), CAST(1 AS INTEGER), 10),
      (1, 2, 50), (2, 1, 20)
    ) AS t(bucket, ck, v)
    """,
)
def cql55_pk_component_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary index on a composite partition-key COMPONENT (`[C*
    cql3/statements/CreateIndexStatement — rejects only the sole
    partition-key column, unverified]`, round 13): an indexed component
    admits a LONE equality restriction without ALLOW FILTERING (the
    partial-partition gate's one exception), while a range on the same
    component still demands filtering, the sole-column case stays
    rejected with the reference's message, and custom index classes
    still refuse partition components — all asserted in-body. The
    literal oracle pins the index-served read."""
    sess = CqlSession(spark, sf_dir)
    sess.execute(
        "CREATE TABLE pkx (region text, bucket int, ck int, v int, "
        "PRIMARY KEY ((region, bucket), ck))"
    )
    for region, bucket, ck, v in [
        ("eu", 1, 1, 10), ("eu", 2, 1, 20), ("us", 1, 1, 30),
        ("us", 2, 1, 40), ("eu", 1, 2, 50),
    ]:
        sess.execute(
            f"INSERT INTO pkx (region, bucket, ck, v) VALUES "
            f"('{region}', {bucket}, {ck}, {v})"
        )
    # unindexed partial partition restriction: gated
    try:
        sess.execute("SELECT v FROM pkx WHERE region = 'eu'")
        raise AssertionError("partial pk restriction must be gated")
    except CQLError as exc:
        assert "partially restricted" in str(exc), exc
    sess.execute("CREATE INDEX ON pkx (region)")
    # range on the indexed component: still gated (2i is equality-only)
    try:
        sess.execute("SELECT v FROM pkx WHERE region > 'a'")
        raise AssertionError("component range must still demand filtering")
    except CQLError:
        pass
    # the sole partition key of a non-composite table stays unindexable
    sess.execute("CREATE TABLE pkx_solo (pk int PRIMARY KEY, v int)")
    try:
        sess.execute("CREATE INDEX ON pkx_solo (pk)")
        raise AssertionError("sole pk column must stay unindexable")
    except CQLError as exc:
        assert "only" in str(exc), exc
    try:
        sess.execute(
            "CREATE CUSTOM INDEX ON pkx (bucket) "
            "USING 'StorageAttachedIndex'"
        )
        raise AssertionError("custom classes must refuse pk components")
    except CQLError:
        pass
    return sess.execute(
        "SELECT bucket, ck, v FROM pkx WHERE region = 'eu'"
    )


@query(
    "cql56_nonfrozen_udt",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'new st', CAST(11 AS INTEGER), 'f st'),
      (CAST(2 AS BIGINT), 'b st', CAST(NULL AS INTEGER),
       CAST(NULL AS VARCHAR)),
      (CAST(3 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
       CAST(NULL AS VARCHAR))
    ) AS t(id, street, zip, fstreet)
    """,
)
def cql56_nonfrozen_udt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-frozen UDT columns end-to-end (`[C* cql3/CQL3Type — bare UDT
    spellings are multi-cell since 3.6, unverified]`, round 13): each
    field is its own cell merged per-field LWW, so ``SET u.f = v``
    updates one field while siblings survive, ``DELETE u.f`` removes
    one field, a FULL assignment replaces (its ts-1 tombstone shadows
    even later-arriving older-stamped field cells), and a column whose
    last live field cell is deleted reads NULL — while ``frozen<udt>``
    keeps the single-cell form and rejects per-field writes (asserted
    in-body alongside the LWT gate). The lifted pinned simplification:
    this engine previously treated every UDT column as frozen. The
    literal oracle pins the end state: id 1 with a surviving replaced+
    re-updated struct, id 2 with a field deleted, id 3 all-fields-
    deleted -> NULL."""
    sess = CqlSession(spark, sf_dir)
    sess.execute("CREATE TYPE naddr (street text, zip int)")
    sess.execute(
        "CREATE TABLE nfu (id bigint PRIMARY KEY, home naddr, "
        "fr frozen<naddr>)"
    )
    sess.execute(
        "INSERT INTO nfu (id, home, fr) VALUES "
        "(1, {street: 'a st', zip: 7}, {street: 'f st', zip: 1})"
    )
    sess.execute("INSERT INTO nfu (id, home) VALUES (2, {street: 'b st', zip: 9})")
    sess.execute("INSERT INTO nfu (id, home) VALUES (3, {street: 'c st'})")
    # replace then field-update: the replace's tombstone shadows the
    # old zip, the newer field write lands
    sess.execute("UPDATE nfu SET home = {street: 'new st'} WHERE id = 1")
    sess.execute("UPDATE nfu SET home.zip = 11 WHERE id = 1")
    # single-field delete keeps the sibling
    sess.execute("DELETE home.zip FROM nfu WHERE id = 2")
    # deleting the LAST live field nulls the column
    sess.execute("DELETE home.street FROM nfu WHERE id = 3")
    # gates: frozen twin rejects per-field writes; LWT refuses
    # non-frozen conditions; unknown fields error
    try:
        sess.execute("UPDATE nfu SET fr.street = 'x' WHERE id = 1")
        raise AssertionError("frozen per-field write must be rejected")
    except CQLError as exc:
        assert "non-frozen" in str(exc), exc
    try:
        sess.execute(
            "UPDATE nfu SET fr = {street: 'x', zip: 0} WHERE id = 1 "
            "IF home = {street: 'new st'}"
        )
        raise AssertionError("LWT on non-frozen UDT must be rejected")
    except CQLError as exc:
        assert "non-frozen UDT" in str(exc), exc
    try:
        sess.execute("UPDATE nfu SET home.nope = 'x' WHERE id = 1")
        raise AssertionError("unknown field must be rejected")
    except CQLError as exc:
        assert "unknown field" in str(exc), exc
    return sess.execute(
        "SELECT id, home.street AS street, home.zip AS zip, "
        "fr.street AS fstreet FROM nfu"
    )


@query(
    "w32_toppartitions",
    oracle="""
    SELECT * FROM (VALUES
      (CAST('9' AS VARCHAR), CAST(24 AS BIGINT)),
      ('4', 14), ('1', 8), ('6', 4)
    ) AS t(partition_key, writes)
    """,
)
def w32_toppartitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``nodetool toppartitions`` (`[C* tools/nodetool/TopPartitions —
    sampled partition heat, unverified]`, round 13): the hottest
    partitions of a table by WRITE count inside a sampling window. The
    reference samples with a StreamSummary during a live window and
    reports approximate counts; this engine's window is a writetime
    range over the mutation log and the counts are EXACT — the honest
    analytic recast (reads are not tracked; the reference's READS mode
    needs coordinator sampling hooks, documented as out of scope). The
    skewed workload below makes partition 9 hottest (24 cells), then 4,
    1, 6; writes OUTSIDE the window must not count (pinned by the
    pre-window burst on partition 0)."""
    sess = CqlSession(spark, sf_dir)
    sess.execute("CREATE TABLE hot (pk int, ck int, v int, "
                 "PRIMARY KEY (pk, ck))")
    t = sess.table("hot")
    # pre-window burst: must be invisible to the windowed report
    for i in range(30):
        sess.execute(f"INSERT INTO hot (pk, ck, v) VALUES (0, {i}, {i})")
    window_start = t._clock + 1
    # skewed in-window workload: 12 rows on pk 9, 7 on 4, 4 on 1, 2 on 6
    # (each INSERT writes a row marker + one value cell = 2 cells)
    for pk, n in ((9, 12), (4, 7), (1, 4), (6, 2)):
        for i in range(n):
            sess.execute(
                f"INSERT INTO hot (pk, ck, v) VALUES ({pk}, {i}, {i})"
            )
    window_end = t._clock
    from pyspark.sql import functions as F

    log = t.mutation_log()
    return (
        log.filter(
            (F.col("writetime") >= window_start)
            & (F.col("writetime") <= window_end)
        )
        .groupBy(F.col("pk").alias("partition_key"))
        .agg(F.count(F.lit(1)).alias("writes"))
        .orderBy(F.col("writes").desc(), "partition_key")
        .limit(4)
    )
