"""Small operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def literal_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A small literal DataFrame as a pure JVM expression plan
    (``inline(array(struct(...)))`` over ``range(1)``) instead of
    ``spark.createDataFrame``'s pickled-RDD path.

    A parallelize-backed literal embedded in an executed plan schedules a
    Python-deserialization stage EVERY time the plan runs — measured
    ~0.5 s per execution on a warm local session for a 1-row marker
    unioned into a commit write, vs ~0 for the expression form, which
    constant-folds into a LocalRelation (TUNING.md r14). Marker rows ride
    inside every streaming state commit, so they pay that cost per
    micro-batch; single-row result frames pay it on every collect.

    Intended for BOUNDED literal sets (watermark markers, stat rows,
    centroid seeds): the expression tree is linear in ``len(rows)``, so
    keep it under a few hundred rows — for larger literal sets use the
    Arrow path (``spark.createDataFrame(pandas.DataFrame(...), schema)``).
    ``rows`` are tuples of plain Python scalars/lists matching ``schema``
    (a ``StructType`` or DDL string); ``None`` becomes a typed NULL.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], schema)
    structs = [
        F.struct(
            *[
                (F.lit(None) if v is None else F.lit(v))
                .cast(f.dataType)
                .alias(f.name)
                for f, v in zip(schema.fields, row)
            ]
        )
        for row in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))


def sql_literal(v) -> str | None:
    """``v`` rendered as a Spark SQL literal, or None when the type has
    no exact text form here (timestamps, decimals, binary, non-finite
    floats) and the caller must fall back to ``F.lit``."""
    import datetime as _dt
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v) if math.isfinite(v) else None
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, _dt.datetime):  # before date: datetime is a date
        return None
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    return None


def sql_ident(name: str) -> str:
    """A column name quoted for Spark SQL text."""
    return "`" + name.replace("`", "``") + "`"


def in_list(col_name: str, values) -> "F.Column":
    """``F.col(col_name).isin(values)`` built as ONE parsed SQL
    expression instead of one py4j round-trip per element.

    ``Column.isin`` creates every literal through a separate JVM call
    (~0.8 ms each on this host): a 500-key IN-list costs ~0.4 s of
    driver time PER USE, and the streaming slice-replace path builds
    several per micro-batch (r14 cProfile: 4,009
    ``_create_column_from_literal`` calls = 3.1 s over two batches).
    Rendering the list into a single ``col IN (...)`` string hands the
    JVM one expression to parse — identical semantics (Catalyst ``In``
    over the same literals, same null/coercion behavior).

    Fast-path types: those ``sql_literal`` renders. Anything else falls
    back to ``isin`` so literal fidelity is never at risk. Empty lists
    also fall back (``IN ()`` does not parse).
    """
    vals = list(values)
    rendered = [sql_literal(v) for v in vals]
    if not vals or any(r is None for r in rendered):
        return F.col(col_name).isin(vals)
    return F.expr(f"{sql_ident(col_name)} IN ({', '.join(rendered)})")


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least ``min_partitions`` (default: cluster parallelism)
    before a fan-out-heavy stage (explode, cross join, wide per-row compute).

    A small parquet file arrives as 1-2 input splits; an explode that
    multiplies rows 100× would then run on 2 cores while 30 idle. At real
    scale inputs already have many splits and this is a no-op — the check is
    on the *current* partition count, so no gratuitous shuffle is added.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
