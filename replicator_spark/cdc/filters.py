"""Stream filters: table include/exclude and the table-name merge
rewrite.

Reference:
- include/exclude: AugmenterContext.shouldAugmentTable (:711-730) —
  exclude regex + exclude list, overridden by an include whitelist.
- table-name merge: TableNameMergePatternFilter.java:42-100 — strips a
  `_YYYYMM`-style suffix so monthly physical tables merge into one
  logical table (pattern `([_][12]\\d{3}(0[1-9]|1[0-2]))`,
  AugmenterTest.java:19-38).

Both are single codegen'd expressions — rlike / regexp_replace — that
Catalyst pushes into the scan.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .envelope import CHANGE_FEED_SQL, change_feed

# AugmenterTest.java:19-38 / TableNameMergeFilterTestImpl pattern.
MERGE_PATTERN = "([_][12][0-9]{3}(0[1-9]|1[0-2]))$"


def merge_table_name(col: Column) -> Column:
    return F.regexp_replace(col, MERGE_PATTERN, "")


def _sql_str(value: str) -> str:
    """A Spark SQL string literal (backslash escapes on, the default)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def should_augment_table_sql(
    name: str,
    include: Optional[Sequence[str]] = None,
    exclude: Optional[Sequence[str]] = None,
    exclude_pattern: Optional[str] = None,
) -> str:
    """shouldAugmentTable as a Spark SQL predicate over column ``name``
    (include wins)."""
    cond = "true"
    if exclude_pattern:
        cond = f"({cond} AND NOT ({name} RLIKE {_sql_str(exclude_pattern)}))"
    if exclude:
        names = ", ".join(map(_sql_str, exclude))
        cond = f"({cond} AND NOT ({name} IN ({names})))"
    if include:
        names = ", ".join(map(_sql_str, include))
        cond = f"({cond} OR {name} IN ({names}))"
    return cond


def table_merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged logical-table event counts (monthly partitions unified)."""
    feed = change_feed(spark, sf_dir)
    return (
        feed.withColumn(
            "merged_table", merge_table_name(F.col("table_name"))
        )
        .groupBy("merged_table")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("table_name").alias("n_physical_tables"),
        )
    )


TABLE_MERGE_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL})
SELECT regexp_replace(table_name, '{MERGE_PATTERN}', '') AS merged_table,
       COUNT(*) AS n_events,
       COUNT(DISTINCT table_name) AS n_physical_tables
FROM feed
GROUP BY 1
"""

# Deterministic include/exclude scenario over the synthetic feed:
# exclude all 2024-H1 monthly tables by regex, but whitelist January.
_EXCLUDE_PATTERN = "users_2024(0[1-6])$"
_INCLUDE = ("users_202401",)


def include_exclude_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    feed = change_feed(spark, sf_dir)
    kept = feed.where(
        should_augment_table_sql(
            "table_name", include=_INCLUDE, exclude_pattern=_EXCLUDE_PATTERN
        )
    )
    return kept.groupBy("table_name").agg(F.count("*").alias("n_events"))


INCLUDE_EXCLUDE_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL})
SELECT table_name, COUNT(*) AS n_events
FROM feed
WHERE (NOT regexp_matches(table_name, '{_EXCLUDE_PATTERN}'))
   OR table_name IN ('{_INCLUDE[0]}')
GROUP BY table_name
"""
