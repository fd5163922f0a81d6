"""Oracle-deterministic expression builders.

The driver's correctness gate compares Spark results against DuckDB by
order-insensitive value hash, so every computed column must be
**bit-identical** across two independent engines. Three rules make that
true:

1. **Never sum raw doubles.** Floating-point addition is not
   associative; two engines (or two partitionings of the same engine!)
   accumulate in different orders. All double aggregation goes through
   ``DECIMAL(28,6)`` — exact, order-independent — and casts the final
   value back to double. This is also the right call at 100 TB: a
   partial/final HashAggregate over decimals is deterministic across
   reruns, retries, and AQE re-partitioning.
2. **Bucket timestamps via integer epoch arithmetic**, not engine
   window structs (FIXTURES.md oracle-compat notes).
3. **Derive hashes from md5**, which both engines implement identically,
   never from engine-native ``hash()`` (Spark=Murmur3, DuckDB=custom).

Each helper documents its DuckDB twin; oracle SQL strings in
``__spark_entry__.py`` are built from the same templates.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# Scale 6 is load-bearing, not cosmetic: source money columns carry 2
# decimal digits, so any product of ≤3 of them has ≤6 true decimal digits
# and the double→decimal cast is EXACT — no rounding ever happens. At a
# smaller scale the cast must round, and Spark rounds the double's
# shortest-string repr (HALF_UP on "x.45065") while DuckDB rounds the
# binary value — an off-by-1e-4 divergence on midpoint-printing doubles.
# 22 integer digits of headroom cover 100 TB-scale sums. Both engines
# widen the sum to decimal(38,6); the final cast to double erases the
# metadata difference.
#
# LIMITS of the scale-6 rule (hit empirically by q_corr_quantity_price):
# (a) it assumes the double holds ≤6 true decimals — false once the
#     product's MAGNITUDE pushes the double's representation error into
#     the 6th decimal (|x| ≳ 1e10, e.g. extendedprice²). Fix: cast each
#     factor to its exact decimal(18,2) form FIRST and multiply in
#     decimal arithmetic — fully exact at any magnitude.
# (b) the final decimal→double cast itself: when the decimal ulp sits
#     below the double's ulp (big magnitudes again), DuckDB's native
#     cast double-rounds (integer value / 10^scale — two roundings)
#     while Spark's BigDecimal path rounds once, correctly. Oracle-side
#     fix: CAST(CAST(x AS VARCHAR) AS DOUBLE) — string parse is
#     correctly rounded in both engines.
# Also: never put libm transcendentals (ln/exp/pow) in compared values —
# only +,-,*,/ and sqrt are IEEE exact-rounded. See q_tfidf_top_terms's
# log-free BM25 idf and q_corr_quantity_price's moment form.
DEC = "decimal(28,6)"


def ensure_session_conf(spark: SparkSession) -> None:
    """Pin session confs that change result values.

    The driver passes us *its* SparkSession; we cannot assume our
    factory's config. Timezone affects epoch↔timestamp rendering; ANSI
    affects overflow/cast semantics (we want errors, matching DuckDB,
    not silent wraps).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    # Arrow transfer is a PERFORMANCE conf, not a value-changing one,
    # but it belongs in the same vanilla-session safety net: the
    # pagerank small-graph guard moves edge lists driver-side with
    # toPandas/createDataFrame(pandas), which silently fall back to
    # row-at-a-time serialization (~10x slower at 10^6 rows) when the
    # driver's own session never enabled Arrow.
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # NOT set here: spark.sql.legacy.parquet.nanosAsLong. The events.ts
    # time unit is sniffed per file by schemas.load_table (the generator
    # has shipped both NANOS and MICROS across rounds); the legacy conf
    # is set there, only when a NANOS footer is detected — setting it
    # unconditionally is harmless for micros files but hides the fact
    # that the loader, not the session, owns the unit decision.


def sql_ident(name: str) -> str:
    """A column name as a Spark-SQL identifier, for splicing into SQL
    strings: backquoted, embedded backquotes doubled, so names with
    spaces, dashes or reserved words parse as one column."""
    return "`" + name.replace("`", "``") + "`"


def dec_to_double_portable(s: Column) -> Column:
    """Decimal → double conversion that is bit-identical across engines
    at ANY magnitude (round-6 sf1 find): a direct cast of a DECIMAL(p,6)
    whose scaled integer exceeds 2^53 double-rounds (scaled-int → double,
    then /1e6 — Spark and DuckDB land on adjacent ulps; TPC-H Q1's
    sum_charge diverged at sf1 exactly this way). Splitting first —
    floor(s) and (s - floor(s)) are EXACT decimal ops — leaves three
    singly-rounded IEEE steps (int→double is correctly rounded on both
    engines at any size, frac<1 → correctly rounded, one final add), so
    both engines produce the same bits.

    DuckDB twin: ``(CAST(FLOOR(s) AS DOUBLE) + CAST(s - FLOOR(s) AS
    DOUBLE))`` — floor(DECIMAL) stays DECIMAL on both engines (verified;
    a double-domain floor would re-introduce the rounding it avoids).
    """
    whole = F.floor(s)
    return whole.cast("double") + (s - whole).cast("double")


def dec_sum(col: Column | str) -> Column:
    """Order-independent double sum: exact DECIMAL(28,6) accumulation,
    then the portable split conversion (dec_to_double_portable).

    DuckDB twin: ``(CAST(FLOOR(SUM(CAST(x AS DECIMAL(28,6)))) AS DOUBLE)
    + CAST(SUM(CAST(x AS DECIMAL(28,6))) - FLOOR(SUM(CAST(x AS
    DECIMAL(28,6)))) AS DOUBLE))`` (sql_dec_sum_duckdb builds it).
    """
    c = F.col(col) if isinstance(col, str) else col
    return dec_to_double_portable(F.sum(c.cast(DEC)))


def dec_avg(col: Column | str) -> Column:
    """Order-independent double mean: exact decimal sum, portable
    conversion, then one double division (identical operands ⇒
    identical quotient on both engines).

    DuckDB twin: ``sql_dec_sum_duckdb(x) / COUNT(x)``
    """
    c = F.col(col) if isinstance(col, str) else col
    return dec_to_double_portable(F.sum(c.cast(DEC))) / F.count(c)


def sql_dec_to_double_duckdb(dec_expr: str) -> str:
    """The DuckDB twin of dec_to_double_portable over an already-decimal
    SQL expression (e.g. a windowed-sum alias): exact floor/frac split,
    three singly-rounded IEEE steps, bit-stable past 2^53."""
    return (
        f"(CAST(FLOOR({dec_expr}) AS DOUBLE) + "
        f"CAST({dec_expr} - FLOOR({dec_expr}) AS DOUBLE))"
    )


def sql_dec_sum_duckdb(expr: str) -> str:
    """The DuckDB twin of dec_sum over a SQL expression string."""
    return sql_dec_to_double_duckdb(f"SUM(CAST({expr} AS DECIMAL(28,6)))")


def ts_bucket(col: Column | str, seconds: int) -> Column:
    """Tumbling-window start as a timestamp, via integer epoch bucketing.

    ``floor(unix_timestamp(ts)/N)*N`` — equal to
    ``floor(floor(epoch(ts))/N)*N`` because N divides into integers, so
    DuckDB's fractional ``epoch()`` and Spark's floored
    ``unix_timestamp`` agree.

    DuckDB twin: ``to_timestamp(CAST(floor(epoch(ts)/N)*N AS BIGINT))``
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds(
        (F.floor(F.unix_timestamp(c) / seconds) * seconds).cast("long")
    )


def stable_token_hash(col: Column | str) -> Column:
    """Engine-portable 60-bit token hash: first 15 hex chars of md5.

    DuckDB twin: ``CAST('0x' || substring(md5(t),1,15) AS BIGINT)``
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def arrow_local_df(spark: SparkSession, rows, schema: str, columns: list[str]):
    """Driver-computed rows → DataFrame over the ARROW path, never the
    pickled-RDD path.

    ``spark.createDataFrame(list_of_tuples, ...)`` parallelizes the rows
    into ``defaultParallelism`` pickled partitions, and *every
    downstream action* then launches that many Python-worker tasks just
    to unpickle them — measured on q_dedup_components' union-find fast
    path: one 32-task stage with 8.3 s of task time against 0.22 s of
    CPU (the rest is Python worker spawn/connect), for 303 rows.
    Routing the same rows through pandas + Arrow plans them as Arrow
    batches deserialized JVM-side: no Python workers at execution time,
    ~one small JVM task per batch (guide §4 — eliminate the Python
    boundary; this is the *driver-side* instance of it).

    Values are unchanged — same rows, same explicit schema — only the
    transport differs. Column NAMES must match the schema (pandas
    carries them; the Arrow path maps by position against the schema).
    """
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=columns), schema=schema)


# The DuckDB twin of each helper is documented in its docstring; oracle
# SQL that is structurally complex (MinHash, SimHash, LSH, lang-ID) is
# generated from shared constants in operators/*.py `sql_*_duckdb`
# builders, while simple aggregates spell the CAST(SUM(CAST(...)))
# pattern inline at each oracle for readability.
