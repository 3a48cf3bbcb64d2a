"""JDBC chunked sources/sinks: the cluster-scale analog of the reference's
DBI modes (BatchChunker.pm:1297-1350).

* Reads: each chunk range becomes one JDBC pushdown predicate → one Spark
  partition (`spark.read.jdbc(predicates=[...])`). This is exactly the
  reference's keyset pagination (`id BETWEEN ? AND ?`,
  BatchChunker.pm:1188-1199) mapped onto Spark's partitioned-read API —
  the database sees N independent indexed range scans, Spark sees N
  partitions it can schedule across executors.
* Writes/DML: Spark JDBC reads can't push UPDATE/DELETE, so per-chunk DML
  runs through a DBAPI connection factory on the executors inside
  ``foreachPartition`` — one connection per partition, batched statements.
  The work MUST be idempotent: Spark retries tasks
  (`spark.task.maxFailures`), mirroring the reference's own idempotency
  requirement (BatchChunker.pm:109-112).

No JDBC database ships in this container; predicate/partition logic is unit
tested and the network paths are exercised by the DBAPI modes in
chunker.py (same dispatch semantics through sqlite3).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Optional, Sequence, Tuple

try:
    from pyspark.sql import DataFrame, SparkSession
except ImportError:  # pragma: no cover
    DataFrame = SparkSession = None  # type: ignore[assignment]


def chunk_predicates(
    ranges: Iterable[Tuple[int, int]], id_name: str, quote: Optional[str] = None
) -> list[str]:
    """BETWEEN predicates, one per chunk range → one Spark partition each.

    ``quote`` wraps the identifier (ANSI ``'"'`` for case-sensitive columns —
    Spark's JDBC writer quotes column names, so folding databases like Derby
    store them case-sensitively and the predicate must match; MySQL would
    take a backtick).
    """
    ident = f"{quote}{id_name}{quote}" if quote else id_name
    return [f"{ident} BETWEEN {start} AND {end}" for start, end in ranges]


def stride_ranges(
    min_id: int, max_id: int, num_partitions: int
) -> list[Tuple[int, int]]:
    """Evenly-strided ranges covering [min_id, max_id], JDBC-reader style."""
    span = max_id - min_id + 1
    stride = max(1, -(-span // num_partitions))
    out = []
    start = min_id
    while start <= max_id:
        end = min(start + stride - 1, max_id)
        out.append((start, end))
        start = end + 1
    return out


def primary_key_columns(
    spark: "SparkSession",
    url: str,
    table: str,
    properties: Optional[dict] = None,
) -> list[str]:
    """Primary-key column names of a JDBC table, in KEY_SEQ order.

    The reference auto-resolves ``id_name`` from the ORM's PK metadata
    (BatchChunker.pm:509-513: ``(primary_columns)[0]``); Spark DataFrames
    carry no key metadata, but JDBC databases do — one driver-side
    ``DatabaseMetaData.getPrimaryKeys`` call through the session's JVM.
    Unquoted identifiers are CASE-FOLDED by the database (Derby/Oracle fold
    up, Postgres folds down) while Spark's JDBC writer quotes names into
    exact case, so the lookup tries the given spelling, then upper, then
    lower. A ``schema.table`` name is split and the schema passed to the
    metadata call; for an UNQUALIFIED name that matches same-named tables
    in several schemas, the lookup raises (chunking on the wrong schema's
    key column would be silent data corruption) rather than guessing.
    """
    schema = None
    if "." in table:
        schema, table = table.rsplit(".", 1)
    jvm = spark._jvm  # noqa: SLF001 — the documented py4j JVM bridge
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    driver = (properties or {}).get("driver")
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        meta = conn.getMetaData()
        for cand_schema in dict.fromkeys(
            (schema,)
            if schema is None
            else (schema, schema.upper(), schema.lower())
        ):
            for candidate in dict.fromkeys(
                (table, table.upper(), table.lower())
            ):
                rs = meta.getPrimaryKeys(None, cand_schema, candidate)
                by_table: dict = {}
                while rs.next():
                    key = (rs.getString("TABLE_SCHEM"), rs.getString("TABLE_NAME"))
                    by_table.setdefault(key, []).append(
                        (rs.getInt("KEY_SEQ"), rs.getString("COLUMN_NAME"))
                    )
                rs.close()
                if len(by_table) > 1:
                    raise ValueError(
                        f"table name {candidate!r} is ambiguous across schemas "
                        f"{sorted(s for s, _t in by_table)}; qualify it as "
                        "'schema.table'"
                    )
                if by_table:
                    (cols,) = by_table.values()
                    return [name for _seq, name in sorted(cols)]
        return []
    finally:
        conn.close()


def chunker_from_jdbc(
    spark: "SparkSession",
    url: str,
    table: str,
    properties: Optional[dict] = None,
    id_name: Optional[str] = None,
    **chunker_kwargs: Any,
):
    """Construct a :class:`BatchChunker` over a JDBC table, resolving
    ``id_name`` from primary-key metadata when omitted — the JDBC-mode
    analog of the reference's id auto-introspection (BatchChunker.pm:
    509-513 takes the FIRST primary-key column; same here, composite keys
    chunk on their leading column exactly as the reference does).
    """
    if id_name is None:
        pk = primary_key_columns(spark, url, table, properties)
        if not pk:
            raise ValueError(
                f"table {table!r} has no primary key; pass id_name explicitly"
            )
        id_name = pk[0]
    from ..chunker import BatchChunker

    # a live source: each probe COUNTs the table as it is then
    return BatchChunker(
        df_fn=lambda: spark.read.jdbc(url=url, table=table, properties=properties or {}),
        id_name=id_name,
        **chunker_kwargs,
    )


def read_chunked(
    spark: "SparkSession",
    url: str,
    table: str,
    id_name: str,
    ranges: Iterable[Tuple[int, int]],
    properties: Optional[dict] = None,
    quote: Optional[str] = None,
) -> "DataFrame":
    """Partitioned JDBC read: one partition per chunk range.

    ``ranges`` typically comes from :meth:`BatchChunker.chunk_ranges` (static)
    or a completed adaptive run. Filters/projections applied on the result
    push down into each partition's WHERE clause (Catalyst JDBC pushdown).
    Exercised end-to-end against embedded Derby in
    tests/test_sources_and_plans.py.
    """
    return spark.read.jdbc(
        url=url,
        table=table,
        predicates=chunk_predicates(ranges, id_name, quote=quote),
        properties=properties or {},
    )


def execute_dml_per_chunk(
    df: "DataFrame",
    connection_factory: Callable[[], Any],
    sql: str,
    row_binds: Callable[[Any], Sequence[Any]],
    batch_size: int = 1000,
) -> None:
    """Run DML for every row of ``df`` on the executors, one DBAPI connection
    per partition, committing per batch. The Spark-native replacement for
    the reference's Active-DBI per-chunk UPDATE/DELETE.

    ``connection_factory`` must be picklable (top-level function or
    functools.partial) — it runs on executors.
    """

    def process_partition(rows: Iterator[Any]) -> None:
        conn = connection_factory()
        try:
            cur = conn.cursor()
            pending = 0
            for row in rows:
                cur.execute(sql, tuple(row_binds(row)))
                pending += 1
                if pending >= batch_size:
                    conn.commit()
                    pending = 0
            if pending:
                conn.commit()
        finally:
            conn.close()

    df.foreachPartition(process_partition)


def write_chunked(
    df: "DataFrame",
    url: str,
    table: str,
    mode: str = "append",
    num_partitions: Optional[int] = None,
    properties: Optional[dict] = None,
) -> None:
    """Bulk JDBC write; ``num_partitions`` caps concurrent DB connections
    (the write-side analog of the reference's `sleep` throttle — protect the
    database, not Spark)."""
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    df.write.jdbc(url=url, table=table, mode=mode, properties=properties or {})
