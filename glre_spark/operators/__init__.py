"""Operator registry backing ``__spark_entry__.queries()`` /
``oracle_sql()`` (driver contract; SURVEY.md §2).

Each operator registers a (spark, sf_dir) → DataFrame callable plus an
equivalent DuckDB SQL string (or None for non-SQL-expressible ops, which
the driver checks rows-only). Conventions (SURVEY.md §3.3):

- alias every computed column identically on both sides;
- cast away engine-specific widths (DuckDB SUM(BIGINT) → HUGEINT, Spark
  row_number → int, …);
- round floating aggregates (2-4 dp) so both engines land on the same
  double bit pattern for the driver's value-hash;
- deterministic tie-breaks everywhere a LIMIT/top-k can tie.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def op(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def fan_out(df: DataFrame, factor: int = 2) -> DataFrame:
    """Spread a narrow input across the cluster before a CPU-heavy
    per-row stage (guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read").

    A parquet file is splittable only at row-group granularity: the
    driver testdata ships ONE row group per table, so every scan arrives
    as 1-2 partitions and any expensive scan-stage expression (shingle
    hashing, plane dot products, Arrow stages) runs serial no matter how
    many cores the master has (measured sf1.0: minhash signatures 28.7 s
    on the 2-task scan vs 1.6 s fanned out to 64).

    Scale-adaptive by construction: when the input already carries at
    least ``defaultParallelism`` partitions — any real-scale table, whose
    scan yields thousands of splits — this is a no-op and NO extra
    exchange is added. Only a sub-cluster-width input pays one
    round-robin shuffle of the (projected) rows, which is exactly the
    case where those bytes are small."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(factor * sc.defaultParallelism)


def fround(col, d: int = 4):
    """Engine-stable rounding: +1e-9 nudges half-way values off the
    boundary (Spark rounds HALF_UP on the decimal string, DuckDB on the
    binary double — they disagree exactly at .5), +0.0 normalizes -0.0.
    Oracle twin: ``ROUND(x + 1e-9, d) + 0``."""
    from pyspark.sql import functions as F

    return F.round(col + F.lit(1e-9), d) + F.lit(0.0)


def cents(col, scale: int = 100):
    """Fixed-point lift: money/metric doubles → exact BIGINT (order-
    independent sums — float SUM order differs across engines/partitions).
    Oracle twin: ``CAST(ROUND(x * scale) AS BIGINT)``."""
    from pyspark.sql import functions as F

    return F.round(col * scale, 0).cast("bigint")


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {k: v[0] for k, v in REGISTRY.items()}


# Side-effect hooks run when the oracle SQL set is handed out: an oracle
# that reads a file the OP normally materializes (scan_docred_json's
# nested-JSON corpus) registers a prep here so the file exists even if the
# driver runs DuckDB before the Spark query.
_ORACLE_PREP: list[Callable[[], None]] = []


def all_oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    for prep in _ORACLE_PREP:
        prep()
    return {k: v[1] for k, v in REGISTRY.items() if v[1] is not None}


_LOADED = False


def _ensure_loaded() -> None:
    global _LOADED
    if not _LOADED:
        # import for registration side effects; registry order is this
        # module import order
        from glre_spark.operators import (  # noqa: F401
            aggs,
            graphops,
            joins,
            kgops,
            mm_ops,
            scans,
            sets_sorts,
            sinks_ops,
            streaming_ops,
            textops,
            udfops,
            windows_ops,
        )

        _LOADED = True
