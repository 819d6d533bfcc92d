"""Seeded, in-process inputs for the benchmark workloads.

Every row is a pure function of ``(seed, id)``: ``spark.range`` supplies
the ids and ``xxhash64`` over ``(seed, salt, id)`` supplies the values, so
the same seed always yields the same table and nothing is read from disk.
``ts`` advances with ``id`` (``rows_per_day`` consecutive ids share one
UTC day), which is what makes day-partition and id-bound pruning
meaningful; the seed drives ``user_id``, ``cat`` and ``amount``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_rust_archive_spark.spec import (
    NestedField, PartitionField, PartitionSpec, Schema, StructTypeSpec,
)

SCHEMA = Schema(0, StructTypeSpec((
    NestedField(1, "id", "long", True),
    NestedField(2, "ts", "timestamp", True),
    NestedField(3, "user_id", "long", True),
    NestedField(4, "cat", "string", True),
    NestedField(5, "amount", "long", True),
)))
DAY_SPEC = PartitionSpec(0, (PartitionField(2, 1000, "ts_day", "day"),))

EPOCH = dt.datetime(2024, 1, 1)
BASE_S = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds())
USERS = 10_000
CATS = "abcdefgh"
AMOUNT_MAX = 100_000  # amounts are whole cents, so sums compare exactly


def day_start(day: int) -> dt.datetime:
    """Start of benchmark day ``day`` (day 0 is ``EPOCH``)."""
    return EPOCH + dt.timedelta(days=day)


def _hash(seed: int, salt: int, col: str = "id"):
    return F.xxhash64(F.lit(seed), F.lit(salt), F.col(col))


def with_values(ids: DataFrame, seed: int, rows_per_day: int,
                salt: int = 0) -> DataFrame:
    """Turn a frame of ``id`` longs into event rows. ``salt`` gives a
    second, independent value draw for the same ids (a MERGE source
    that rewrites existing keys)."""
    return ids.select(
        F.col("id"),
        F.timestamp_seconds(F.expr(
            f"{BASE_S} + id * 86400 div {int(rows_per_day)}")).alias("ts"),
        F.pmod(_hash(seed, salt + 1), F.lit(USERS)).alias("user_id"),
        F.element_at(F.array(*[F.lit(c) for c in CATS]),
                     (F.pmod(_hash(seed, salt + 2), F.lit(len(CATS))) + 1)
                     .cast("int")).alias("cat"),
        F.pmod(_hash(seed, salt + 3), F.lit(AMOUNT_MAX)).alias("amount"))


def events(spark: SparkSession, seed: int, lo: int, hi: int,
           rows_per_day: int) -> DataFrame:
    """Event rows with ids ``lo .. hi-1``."""
    return with_values(spark.range(lo, hi), seed, rows_per_day)


def deleted_users(spark: SparkSession, seed: int, modulus: int) -> DataFrame:
    """About ``1/modulus`` of all user ids, chosen by seed: the rows an
    equality delete on ``user_id`` removes."""
    return (spark.range(0, USERS)
            .filter(F.pmod(_hash(seed, 7), F.lit(modulus)) == 0)
            .select(F.col("id").alias("user_id")))


def merge_source(spark: SparkSession, seed: int, round_no: int,
                 old_ids: tuple[int, int, int], new_lo: int,
                 rows_per_day: int) -> DataFrame:
    """MERGE source for one DML round: the existing ids
    ``range(*old_ids)`` (start, stop, step) with freshly drawn values,
    plus as many brand-new ids from ``new_lo`` on. Ids are unique, so no
    target row matches twice."""
    old = spark.range(*old_ids)
    new = spark.range(new_lo, new_lo + len(range(*old_ids)))
    return with_values(old.unionByName(new), seed, rows_per_day,
                       salt=100 * (round_no + 1))
