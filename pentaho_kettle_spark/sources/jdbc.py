"""JDBC table input/output + database lookup/join — the Kettle step family
the engine was missing (SURVEY §2.1 tableinput/TableInput.java,
tableoutput/TableOutput.java; §2.3 databaselookup/DatabaseLookup.java,
databasejoin/DatabaseJoin.java).

This module is structured like tableio/iceberg.py: everything decidable
without a live DB — option construction, pushdown SQL generation,
partitioned-read planning, and the join semantics — is pure, unit-tested
code; the final `spark.read.jdbc` call additionally has a runtime smoke
against embedded Derby (the one JDBC engine whose jars ship with Spark):
write → partitioned read → database_lookup, see
tests/test_jdbc.py::test_jdbc_runtime_roundtrip_embedded_derby.

Scale notes:
  * Table input parallelism comes from `partition_column/num_partitions`
    (Spark issues one bounded query per partition) — the Kettle analog is
    "launch N step copies", but here the bounds are computed, not manual.
  * Database lookup at 10^10 rows must NOT be a per-row query (Kettle's
    row-at-a-time cache). The Spark shape: snapshot the lookup table once
    (jdbc read), broadcast if small, and theta-join. `database_lookup`
    implements Kettle's operator matrix (=, <>, <, <=, >, >=, BETWEEN,
    LIKE, IS NULL) + its multi-match policy (order-by pick / fail).
  * Database join (a correlated per-row query) decorrelates into a lateral
    join: equi-params become join keys, the query's ORDER BY/LIMIT becomes
    a per-key window top-k. One shuffle instead of 10^10 round trips.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pentaho_kettle_spark.operators.filter_rows import _FUNCS

__all__ = [
    "JdbcSpec",
    "jdbc_read_options",
    "jdbc_partition_predicates",
    "jdbc_write_options",
    "jdbc_input",
    "jdbc_output",
    "database_lookup",
    "database_join",
]


@dataclass
class JdbcSpec:
    """Connection + read shape for a JDBC table input."""

    url: str
    table: str | None = None  # table name, or use `query`
    query: str | None = None  # free-form SQL (wrapped as a subquery)
    columns: list[str] | None = None  # projection pushdown
    where: str | None = None  # filter pushdown (SQL fragment)
    partition_column: str | None = None  # numeric/date column for ranges
    lower_bound: int | None = None
    upper_bound: int | None = None
    num_partitions: int = 1
    fetchsize: int = 10000  # Kettle rowset size analog
    driver: str | None = None
    properties: dict = field(default_factory=dict)


def _dbtable(spec: JdbcSpec) -> str:
    """Pushdown-bearing dbtable value: projection + filter folded into a
    subquery so the database scans only what the plan needs."""
    if spec.query is not None:
        inner = spec.query
    else:
        cols = ", ".join(spec.columns) if spec.columns else "*"
        inner = f"SELECT {cols} FROM {spec.table}"
        if spec.where:
            inner += f" WHERE {spec.where}"
    return f"({inner}) AS pks_sub"


def jdbc_read_options(spec: JdbcSpec) -> dict:
    """The exact option map handed to spark.read.format('jdbc') — pure and
    unit-testable without a database."""
    if (spec.table is None) == (spec.query is None):
        raise ValueError("exactly one of table/query is required")
    opts = {
        "url": spec.url,
        "dbtable": _dbtable(spec),
        "fetchsize": str(spec.fetchsize),
    }
    if spec.driver:
        opts["driver"] = spec.driver
    if spec.partition_column is not None:
        if spec.lower_bound is None or spec.upper_bound is None:
            raise ValueError("partition_column requires lower/upper bounds")
        opts.update(
            partitionColumn=spec.partition_column,
            lowerBound=str(spec.lower_bound),
            upperBound=str(spec.upper_bound),
            numPartitions=str(spec.num_partitions),
        )
    opts.update({k: str(v) for k, v in spec.properties.items()})
    return opts


def jdbc_partition_predicates(
    column: str, lower: int, upper: int, n: int
) -> list[str]:
    """The WHERE predicates Spark derives for a partitioned JDBC read —
    exposed so tests (and capacity planning) can see the per-task ranges.
    Mirrors JDBCRelation.columnPartition: first/last partitions unbounded."""
    if n <= 1:
        return ["1=1"]
    stride = (upper - lower) // n
    preds = []
    lo = lower
    for i in range(n):
        if i == 0:
            preds.append(f"{column} < {lo + stride} OR {column} IS NULL")
        elif i == n - 1:
            preds.append(f"{column} >= {lo}")
        else:
            preds.append(f"{column} >= {lo} AND {column} < {lo + stride}")
        lo += stride
    return preds


def jdbc_write_options(
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10000,
    isolation_level: str = "READ_COMMITTED",
    truncate: bool = False,
    driver: str | None = None,
) -> dict:
    """Table-output options (tableoutput/TableOutput.java: commit size ->
    batchsize, truncate-table flag -> truncate on overwrite)."""
    opts = {
        "url": url,
        "dbtable": table,
        "batchsize": str(batchsize),
        "isolationLevel": isolation_level,
        "truncate": str(truncate).lower(),
    }
    if driver:
        opts["driver"] = driver
    return opts


def jdbc_input(spark: SparkSession, spec: JdbcSpec) -> DataFrame:
    """Runtime-gated: requires a JDBC driver jar on the Spark classpath."""
    reader = spark.read.format("jdbc")
    for k, v in jdbc_read_options(spec).items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_output(df: DataFrame, url: str, table: str, mode: str = "append", **kw) -> None:
    writer = df.write.format("jdbc").mode(mode)
    for k, v in jdbc_write_options(url, table, mode=mode, **kw).items():
        writer = writer.option(k, v)
    writer.save()


# ---------------------------------------------------------------------------
# Database lookup (theta-operator matrix + multi-match policy)
# ---------------------------------------------------------------------------

_THETA = {"=", "<>", "<", "<=", ">", ">=", "LIKE", "BETWEEN", "IS NULL", "IS NOT NULL"}


def _cond(stream_col: Column, op: str, a: Column | None, b: Column | None) -> Column:
    """One lookup condition, built from Condition.java's operator table
    (operators/filter_rows.py `_FUNCS`) with lookup-side operands."""
    op = op.upper()
    if op not in _THETA:
        raise ValueError(f"unknown lookup operator {op!r}")
    if op == "LIKE":
        # LIKE needs the lookup-side column as the *pattern*; Column.like only
        # takes a literal, so callers must build `s.x LIKE l.y` via F.expr
        # (database_lookup does).  Raising here keeps any future direct caller
        # from silently getting a match-everything predicate.
        raise ValueError("LIKE is handled by the caller via F.expr, not _cond")
    if op in ("IS NULL", "IS NOT NULL"):
        return _FUNCS[op](a, None)  # Kettle tests the lookup-side field
    return _FUNCS[op](stream_col, (a, b) if op == "BETWEEN" else a)


def database_lookup(
    stream: DataFrame,
    lookup: DataFrame,
    conditions: list[tuple],
    return_fields: list[tuple[str, str]],
    defaults: dict | None = None,
    order_by: str | None = None,
    order_desc: bool = False,
    fail_on_multiple: bool = False,
) -> DataFrame:
    """Kettle Database lookup over a snapshotted lookup table.

    conditions: (stream_field, op, lookup_field) — op from the Kettle matrix
        (=, <>, <, <=, >, >=, LIKE, BETWEEN, IS NULL, IS NOT NULL); BETWEEN
        takes (stream_field, 'BETWEEN', (lo_field, hi_field)).
    return_fields: (lookup_field, out_name) pairs; unmatched rows get
        `defaults[out_name]` (else NULL) — Kettle's "eat row / use default".
    order_by / fail_on_multiple: Kettle's multi-match policy — deterministic
        pick by ORDER BY, or error when a stream row matches >1 lookup row.

    Plan shape: ONE left theta-join (broadcast when the snapshot is small —
    Catalyst/AQE decides) + a single min_by aggregate for the pick; never a
    per-row query.  The aggregate groups on `_rid` ALONE (a slim long) — the
    stream payload rides through as a first(struct(...)) value, so the
    post-join shuffle never hashes/compares wide text keys.  Match detection
    uses a synthetic `_m = 1` probe column, not NULL-ness of a data column,
    so a matching lookup row holding NULL in the first return field still
    counts as matched (no spurious default substitution).
    """
    defaults = defaults or {}
    src = stream.withColumn("_rid", F.monotonically_increasing_id())
    s, l = src.alias("s"), lookup.withColumn("_m", F.lit(1)).alias("l")
    cond = F.lit(True)
    for sf, op, lf in conditions:
        op = op.upper()
        if op == "LIKE":
            cc = F.expr(f"s.{sf} LIKE l.{lf}")
        else:
            lo, hi = lf if op == "BETWEEN" else (lf, None)
            cc = _cond(
                F.col(f"s.{sf}"), op, F.col(f"l.{lo}"), hi and F.col(f"l.{hi}")
            )
        cond = cond & cc

    joined = s.join(l, cond, "left")

    # one aggregate picks the winning match per stream row; _rid keeps
    # duplicate stream rows independent (Kettle processes rows one by one)
    ordk = F.col(f"l.{order_by or return_fields[0][0]}")
    pickfn = F.max_by if order_desc else F.min_by
    # min_by/max_by drop rows whose ordering key is NULL — wrap in a struct so
    # a matching row with a NULL order field is still pickable (non-null order
    # values win; NULL-only matches survive)
    ordk = (
        F.struct(ordk.isNotNull().alias("nn"), ordk.alias("v"))
        if order_desc
        else F.struct(ordk.isNull().alias("n"), ordk.alias("v"))
    )
    pick = pickfn(
        F.struct(*[F.col(f"l.{lf}").alias(out) for lf, out in return_fields]), ordk
    )
    payload = F.first(
        F.struct(*[F.col(f"s.{c}").alias(c) for c in stream.columns])
    )  # identical across a _rid's joined copies — first() is deterministic here
    aggs = [
        payload.alias("_row"),
        pick.alias("_pick"),
        F.sum(F.col("l._m")).alias("_n"),
    ]
    agg = joined.groupBy(F.col("s._rid")).agg(*aggs)

    def _guard(expr):
        # deferred assertion: fused into EVERY output expression so it fires
        # at action time (no extra eager job / double compute) and survives
        # Catalyst column pruning no matter which subset the caller selects —
        # a guard on only one column would be deleted along with that column.
        if not fail_on_multiple:
            return expr
        return F.when(
            F.col("_n") > 1,
            F.raise_error(
                F.lit("database_lookup: stream row matched multiple lookup rows")
            ),
        ).otherwise(expr)

    out_cols = [_guard(F.col(f"_row.{c}")).alias(c) for c in stream.columns]
    for lf, out in return_fields:
        expr = F.when(F.col("_n").isNull(), F.lit(defaults.get(out))).otherwise(
            F.col(f"_pick.{out}")
        )
        out_cols.append(_guard(expr).alias(out))
    return agg.select(*out_cols)


def database_join(
    stream: DataFrame,
    inner: DataFrame,
    params: list[tuple[str, str]],
    order_by: list[tuple[str, bool]] | None = None,
    limit: int = 0,
    outer: bool = True,
    select: list[str] | None = None,
) -> DataFrame:
    """Kettle Database join: a parameterized SQL executed per input row,
    decorrelated into a lateral join (databasejoin/DatabaseJoin.java).

    params: (stream_field, inner_field) equalities — the '?' bindings.
    order_by: [(inner_field, desc)] — the inner query's ORDER BY.
    limit: inner query LIMIT per input row (Kettle "number of rows"; 0=all).
    outer: Kettle "outer join?" flag — keep stream rows with no match.

    At scale this is one shuffle join + one window, not 10^10 queries.
    """
    src = stream.withColumn("_rid", F.monotonically_increasing_id())
    s, i = src.alias("s"), inner.alias("i")
    cond = F.lit(True)
    for sf, inf in params:
        cond = cond & (F.col(f"s.{sf}") == F.col(f"i.{inf}"))
    joined = s.join(i, cond, "left" if outer else "inner")
    inner_cols = select or [c for c in inner.columns]
    if limit and limit > 0:
        from pyspark.sql import Window

        order_cols = []
        for f_, desc in order_by or []:
            col = F.col(f"i.{f_}")
            order_cols.append(col.desc() if desc else col.asc())
        if not order_cols:
            order_cols = [F.col(f"i.{inner_cols[0]}").asc()]
        w = Window.partitionBy(F.col("s._rid")).orderBy(*order_cols)
        joined = (
            joined.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= limit)
            .drop("_rk")
        )
    out = [F.col(f"s.{c}") for c in stream.columns]
    out += [F.col(f"i.{c}").alias(c) for c in inner_cols]
    return joined.select(*out)
