"""Time-machine sink: the HBase "every row version preserved" store as a
long-format versioned table, plus the as-of snapshot read path.

Reference semantics (HBaseApplierMutationGenerator.java:113-334,
FIXTURES.md F6):
- one cell per (rowkey, column, version_us); single column family
- INSERT writes all columns, NULL → the literal string 'NULL'
  (AugmentedRow.java:13; HBaseApplierMutationGenerator.java:268-270)
- UPDATE writes only columns whose before != after (changed-column
  delta projection, :186-260)
- DELETE writes only a row_status='D' tombstone — no physical delete
- every mutation also writes the row_status cell (I/U/D) + txn metadata

Spark-first shape: a conditional array-of-structs per change event,
exploded — one scan of the feed, no per-op union re-reads, whole-stage
codegen throughout. The store itself is an *append-only* parquet/Delta
table partitioned by table_name; idempotence under replay comes from
deterministic version timestamps (same cell key + ts overwrites —
HBaseApplier.java:166-196), which we reproduce exactly.

The as-of snapshot ("state of table T at time t") is the time-machine's
read query: latest cell per (rowkey, column) at or before the cutoff,
dropping rows whose latest row_status is the tombstone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..cdc.transactions import ORGANIZED_FEED_SQL, organized_feed

NULL_SENTINEL = "NULL"

# as-of cutoff used by the oracle-checked snapshot query (any constant
# works; both engines use the same literal). 2024-03-01T00:00:00Z in µs.
SNAPSHOT_CUTOFF_US = 1_709_251_200_000_000

_CELL_T = "array<struct<column_name:string,cell_value:string>>"


def _cell(name: str, value: str) -> str:
    return f"struct('{name}' AS column_name, {value} AS cell_value)"


def timemachine_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed → long-format versioned cells."""
    return cells_from(organized_feed(spark, sf_dir))


def cells_from(feed: DataFrame) -> DataFrame:
    empty = f"CAST(array() AS {_CELL_T})"
    null = f"'{NULL_SENTINEL}'"
    value = _cell("value", f"coalesce(CAST(value_after AS STRING), {null})")
    props = _cell("props", f"coalesce(props_after, {null})")
    status = {op: _cell("row_status", f"'{op[0]}'")
              for op in ("INSERT", "UPDATE", "DELETE")}
    insert_cells = f"array({value}, {props}, {status['INSERT']})"
    update_cells = f"""concat(
        CASE WHEN NOT (value_before <=> value_after)
             THEN array({value}) ELSE {empty} END,
        CASE WHEN NOT (props_before <=> props_after)
             THEN array({props}) ELSE {empty} END,
        array({status['UPDATE']}))"""
    delete_cells = f"array({status['DELETE']})"
    return feed.sparkSession.sql(f"""
SELECT event_id, table_name, rowkey, cell.column_name AS column_name,
    cell.cell_value AS cell_value, version_us, txn_uuid, txn_xid
FROM (
    SELECT event_id, table_name, rowkey, txn_uuid, txn_xid, version_us,
        explode(CASE WHEN op = 'INSERT' THEN {insert_cells}
                     WHEN op = 'UPDATE' THEN {update_cells}
                     WHEN op = 'DELETE' THEN {delete_cells} END) AS cell
    FROM {{df}}
    WHERE op <> 'QUERY'
)""", df=feed)


TIMEMACHINE_CELLS_SQL = (
    ORGANIZED_FEED_SQL
    + f"""
, mutations AS (SELECT * FROM organized WHERE op <> 'QUERY')
SELECT event_id, table_name, rowkey, column_name, cell_value,
       version_us, txn_uuid, txn_xid
FROM (
    SELECT *, 'value' AS column_name,
        COALESCE(CAST(value_after AS VARCHAR), '{NULL_SENTINEL}') AS cell_value
    FROM mutations
    WHERE op = 'INSERT'
       OR (op = 'UPDATE' AND value_before IS DISTINCT FROM value_after)
    UNION ALL
    SELECT *, 'props' AS column_name,
        COALESCE(props_after, '{NULL_SENTINEL}') AS cell_value
    FROM mutations
    WHERE op = 'INSERT'
       OR (op = 'UPDATE' AND props_before IS DISTINCT FROM props_after)
    UNION ALL
    SELECT *, 'row_status' AS column_name,
        CASE op WHEN 'INSERT' THEN 'I' WHEN 'UPDATE' THEN 'U' ELSE 'D' END
        AS cell_value
    FROM mutations
)
"""
)


def write_timemachine(cells: DataFrame, path: str, mode: str = "append") -> None:
    """Persist the versioned store partitioned by table (the analog of
    one HBase table per source table, HBaseTimeMachineWriter.java:232-237;
    group-by-table write batching comes free from partitionBy)."""
    cells.write.mode(mode).partitionBy("table_name").parquet(path)


def asof_snapshot(
    cells: DataFrame, cutoff_us: int = SNAPSHOT_CUTOFF_US
) -> DataFrame:
    """Current state of every row as of ``cutoff_us``.

    ONE aggregation, no window + no self-join: per (table, rowkey) a
    conditional max_by per column picks that column's latest cell in a
    single combiner-backed shuffle (rows of other columns carry a NULL
    ordering key, which max_by skips — the same conditional-latest
    fold `snapshot_delta_query` uses). The previous shape stacked a
    per-(table, rowkey, column_name) latest under a second pivoting
    groupBy — a second exchange + sort over the same rows for the same
    winners: within one cell key event_id is unique, so "latest per
    (key, column), then the one row per column" ≡ "latest among the
    column's rows per key".
    """
    capped = cells.where(F.col("version_us") <= F.lit(cutoff_us))

    def _latest(col: str) -> Column:
        cond = F.col("column_name") == col
        return F.max_by(
            F.when(cond, F.col("cell_value")),
            F.when(cond, F.struct("version_us", "event_id")),
        ).alias(col)

    pivoted = capped.groupBy("table_name", "rowkey").agg(
        _latest("value"), _latest("props"), _latest("row_status")
    )
    return (
        pivoted.where(F.col("row_status") != "D")
        .where(F.col("value").isNotNull() | F.col("props").isNotNull())
        .select("table_name", "rowkey", "value", "props")
    )


def asof_snapshot_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_snapshot(timemachine_cells(spark, sf_dir))


def row_history_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full version history of selected row keys — the HBase
    `get(rowkey, ALL_VERSIONS)` read path (the "time machine" itself).
    At scale this is a partition-pruned point scan of the store
    (partitioned by table, sorted by rowkey): no shuffle, no window.
    """
    cells = timemachine_cells(spark, sf_dir)
    return cells.where(F.col("rowkey").like("%;1") | F.col("rowkey").like("%;7")).select(
        "table_name",
        "rowkey",
        "column_name",
        "cell_value",
        "version_us",
        "txn_uuid",
    )


ROW_HISTORY_SQL = (
    "WITH cells AS ("
    + TIMEMACHINE_CELLS_SQL
    + """
)
SELECT table_name, rowkey, column_name, cell_value, version_us, txn_uuid
FROM cells
WHERE rowkey LIKE '%;1' OR rowkey LIKE '%;7'
"""
)


# HBase mirrored tables keep at most 1000 versions per cell
# (HBaseSchemaManager.java:57-58); compaction is the maintenance job
# that enforces it on the append-only store. MAX_VERSIONS is small here
# so the test data actually exercises eviction.
MAX_VERSIONS = 3


def compact_timemachine(
    cells: DataFrame, max_versions: int = MAX_VERSIONS
) -> DataFrame:
    """Keep only the newest `max_versions` versions per cell key — the
    HBase max-versions eviction as a batch rewrite. One combiner-less
    window per cell key; at scale this runs per table partition and
    rewrites files in place (here: returns the surviving cells)."""
    w = W.partitionBy("table_name", "rowkey", "column_name").orderBy(
        F.col("version_us").desc(), F.col("event_id").desc()
    )
    return (
        cells.withColumn("vrank", F.row_number().over(w))
        .where(F.col("vrank") <= max_versions)
        .drop("vrank")
    )


def compaction_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction audit: per table, cells before/after eviction and the
    number of over-limit cell keys."""
    cells = timemachine_cells(spark, sf_dir)
    kept = compact_timemachine(cells)
    before = cells.groupBy("table_name").agg(
        F.count("*").alias("cells_before")
    )
    after = kept.groupBy("table_name").agg(
        F.count("*").alias("cells_after")
    )
    over = (
        cells.groupBy("table_name", "rowkey", "column_name")
        .agg(F.count("*").alias("nv"))
        .where(F.col("nv") > MAX_VERSIONS)
        .groupBy("table_name")
        .agg(F.count("*").alias("overlimit_cell_keys"))
    )
    return (
        before.join(after, "table_name")
        .join(over, "table_name", "left")
        .select(
            "table_name",
            "cells_before",
            "cells_after",
            F.coalesce("overlimit_cell_keys", F.lit(0)).alias(
                "overlimit_cell_keys"
            ),
        )
    )


COMPACTION_SQL = (
    "WITH cells AS ("
    + TIMEMACHINE_CELLS_SQL
    + f"""
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY table_name, rowkey, column_name
        ORDER BY version_us DESC, event_id DESC) AS vrank
    FROM cells
), per_key AS (
    SELECT table_name, rowkey, column_name, COUNT(*) AS nv
    FROM cells GROUP BY 1, 2, 3
)
SELECT c.table_name,
    (SELECT COUNT(*) FROM cells WHERE table_name = c.table_name)
        AS cells_before,
    CAST(SUM(CASE WHEN vrank <= {MAX_VERSIONS} THEN 1 ELSE 0 END)
        AS BIGINT) AS cells_after,
    (SELECT COUNT(*) FROM per_key
     WHERE table_name = c.table_name AND nv > {MAX_VERSIONS})
        AS overlimit_cell_keys
FROM ranked c
GROUP BY c.table_name
"""
)


def scd2_intervals_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 materialization of the change feed: each row version
    becomes a validity interval [valid_from_us, valid_to_us) closed by
    the next version of the same (table, rowkey); the open interval is
    the current state unless it is a tombstone. The classic downstream
    of a replicator ("give me dimension history as intervals") — the
    interval view of the same history the time-machine stores as cells
    (reference read path HBaseSnapshotter §1.4; this is its
    batch-export twin).

    Scale shape: ONE exchange on (table_name, rowkey) feeding a single
    lead() window — the same partitioning the versioned store is
    bucketed by, so on a partitioned store this is exchange-free."""
    feed = organized_feed(spark, sf_dir).where(F.col("op") != "QUERY")
    w = W.partitionBy("table_name", "rowkey").orderBy(
        "version_us", "event_id"
    )
    iv = feed.select(
        "table_name",
        "rowkey",
        "op",
        F.coalesce(F.col("value_after").cast("string"),
                   F.lit(NULL_SENTINEL)).alias("value"),
        F.coalesce(F.col("props_after"), F.lit(NULL_SENTINEL)).alias(
            "props"
        ),
        F.col("version_us").alias("valid_from_us"),
        F.lead("version_us").over(w).alias("valid_to_us"),
    )
    return iv.withColumn(
        "is_current",
        F.col("valid_to_us").isNull() & (F.col("op") != "DELETE"),
    )


SCD2_INTERVALS_SQL = (
    ORGANIZED_FEED_SQL
    + f""",
mutations AS (SELECT * FROM organized WHERE op <> 'QUERY'),
iv AS (
    SELECT table_name, rowkey, op,
        COALESCE(CAST(value_after AS VARCHAR), '{NULL_SENTINEL}') AS value,
        COALESCE(props_after, '{NULL_SENTINEL}') AS props,
        version_us AS valid_from_us,
        LEAD(version_us) OVER (
            PARTITION BY table_name, rowkey
            ORDER BY version_us, event_id) AS valid_to_us
    FROM mutations
)
SELECT *, valid_to_us IS NULL AND op <> 'DELETE' AS is_current
FROM iv
"""
)


# max_by key: version_us*1e10 + event_id (scalar HUGEINT) orders
# identically to Spark's struct(version_us, event_id) — event_id < 1e10.
ASOF_SNAPSHOT_SQL = (
    "WITH cells AS ("
    + TIMEMACHINE_CELLS_SQL
    + f"""
), capped AS (
    SELECT * FROM cells WHERE version_us <= {SNAPSHOT_CUTOFF_US}
), latest AS (
    SELECT table_name, rowkey, column_name,
        max_by(cell_value,
               CAST(version_us AS HUGEINT) * 10000000000 + event_id)
            AS cell_value
    FROM capped
    GROUP BY table_name, rowkey, column_name
), pivoted AS (
    SELECT table_name, rowkey,
        MAX(CASE WHEN column_name = 'value' THEN cell_value END) AS value,
        MAX(CASE WHEN column_name = 'props' THEN cell_value END) AS props,
        MAX(CASE WHEN column_name = 'row_status' THEN cell_value END)
            AS row_status
    FROM latest
    GROUP BY table_name, rowkey
)
SELECT table_name, rowkey, value, props
FROM pivoted
WHERE row_status <> 'D' AND (value IS NOT NULL OR props IS NOT NULL)
"""
)


# ----------------------------------------------- snapshot delta
#
# "What changed between t1 and t2" — the HBase time-range-scan analog
# (Scan.setTimeRange) and the audit query every replication consumer
# eventually asks. Spark-first shape: ONE scan of the cells with two
# CONDITIONAL max_by aggregates (state at t1, state at t2) instead of
# materializing two snapshots and full-outer-joining them — the
# two-snapshot join evaluates the cells subtree twice and adds a junk
# third shuffle; this is the same two-stacked-aggs shape as
# asof_snapshot, same single exchange. Both engines skip NULL ordering
# keys in max_by, which is what scopes each aggregate to its cutoff.

DELTA_T1_US = 1_705_276_800_000_000  # 2024-01-15T00:00:00Z


def snapshot_delta_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (table, rowkey): ADDED / REMOVED / CHANGED between the state
    as of DELTA_T1_US and as of SNAPSHOT_CUTOFF_US, with both value
    images. Unchanged rows are dropped (the delta is the point)."""
    cells = timemachine_cells(spark, sf_dir)
    capped = cells.where(
        F.col("version_us") <= F.lit(SNAPSHOT_CUTOFF_US)
    )

    # one combiner-backed aggregation: per (table, rowkey) each
    # (column, cutoff) pair folds to its latest cell directly — rows
    # outside the column or cutoff carry a NULL max_by ordering key
    # and are skipped, so this is the stacked latest-then-pivot pair
    # (same winners: event_id is unique within a cell key) minus the
    # second exchange + sort
    def at(col: str, cutoff_us: int, alias: str) -> Column:
        cond = (F.col("column_name") == col) & (
            F.col("version_us") <= F.lit(cutoff_us)
        )
        return F.max_by(
            F.when(cond, F.col("cell_value")),
            F.when(cond, F.struct("version_us", "event_id")),
        ).alias(alias)

    pivoted = capped.groupBy("table_name", "rowkey").agg(
        at("value", DELTA_T1_US, "value_v1"),
        at("props", DELTA_T1_US, "props_v1"),
        at("row_status", DELTA_T1_US, "row_status_v1"),
        at("value", SNAPSHOT_CUTOFF_US, "value_v2"),
        at("props", SNAPSHOT_CUTOFF_US, "props_v2"),
        at("row_status", SNAPSHOT_CUTOFF_US, "row_status_v2"),
    )

    def alive(s: str) -> Column:
        return (
            F.col(f"row_status_{s}").isNotNull()
            & (F.col(f"row_status_{s}") != "D")
            & (
                F.col(f"value_{s}").isNotNull()
                | F.col(f"props_{s}").isNotNull()
            )
        )

    changed = ~(
        F.col("value_v1").eqNullSafe(F.col("value_v2"))
    ) | ~(F.col("props_v1").eqNullSafe(F.col("props_v2")))
    kind = (
        F.when(alive("v2") & ~alive("v1"), "ADDED")
        .when(alive("v1") & ~alive("v2"), "REMOVED")
        .when(alive("v1") & alive("v2") & changed, "CHANGED")
    )
    return (
        pivoted.withColumn("change_kind", kind)
        .where(F.col("change_kind").isNotNull())
        .select(
            "table_name",
            "rowkey",
            "change_kind",
            F.col("value_v1").alias("value_before"),
            F.col("value_v2").alias("value_after"),
            F.col("props_v1").alias("props_before"),
            F.col("props_v2").alias("props_after"),
        )
    )


SNAPSHOT_DELTA_SQL = (
    "WITH cells AS ("
    + TIMEMACHINE_CELLS_SQL
    + f"""
), capped AS (
    SELECT * FROM cells WHERE version_us <= {SNAPSHOT_CUTOFF_US}
), latest AS (
    SELECT table_name, rowkey, column_name,
        max_by(cell_value,
               CASE WHEN version_us <= {DELTA_T1_US}
                    THEN CAST(version_us AS HUGEINT) * 10000000000
                         + event_id END) AS v1,
        max_by(cell_value,
               CAST(version_us AS HUGEINT) * 10000000000 + event_id)
            AS v2
    FROM capped
    GROUP BY table_name, rowkey, column_name
), pivoted AS (
    SELECT table_name, rowkey,
        MAX(CASE WHEN column_name = 'value' THEN v1 END) AS value_v1,
        MAX(CASE WHEN column_name = 'props' THEN v1 END) AS props_v1,
        MAX(CASE WHEN column_name = 'row_status' THEN v1 END)
            AS row_status_v1,
        MAX(CASE WHEN column_name = 'value' THEN v2 END) AS value_v2,
        MAX(CASE WHEN column_name = 'props' THEN v2 END) AS props_v2,
        MAX(CASE WHEN column_name = 'row_status' THEN v2 END)
            AS row_status_v2
    FROM latest
    GROUP BY table_name, rowkey
), flagged AS (
    SELECT *,
        (row_status_v1 IS NOT NULL AND row_status_v1 <> 'D'
         AND (value_v1 IS NOT NULL OR props_v1 IS NOT NULL)) AS alive1,
        (row_status_v2 IS NOT NULL AND row_status_v2 <> 'D'
         AND (value_v2 IS NOT NULL OR props_v2 IS NOT NULL)) AS alive2
    FROM pivoted
)
SELECT table_name, rowkey,
    CASE WHEN alive2 AND NOT alive1 THEN 'ADDED'
         WHEN alive1 AND NOT alive2 THEN 'REMOVED'
         ELSE 'CHANGED' END AS change_kind,
    value_v1 AS value_before, value_v2 AS value_after,
    props_v1 AS props_before, props_v2 AS props_after
FROM flagged
WHERE (alive2 AND NOT alive1) OR (alive1 AND NOT alive2)
   OR (alive1 AND alive2
       AND (value_v1 IS DISTINCT FROM value_v2
            OR props_v1 IS DISTINCT FROM props_v2))
"""
)


# -------------------------------------- time-weighted interval rollup
#
# Aggregate OVER the SCD2 intervals: per table, the time-weighted
# average of the row value — each version weighted by how long it was
# valid. The query a billing/metering system runs over dimension
# history ("average price while valid"), and the canonical consumer of
# the interval export above. Open intervals close at the feed's max
# version so every weight is finite and both engines see the same
# horizon. Weights are integer µs and weighted sums go through
# DECIMAL, so the division is the only float step.


def scd2_weighted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = scd2_intervals_query(spark, sf_dir)
    horizon = iv.agg(
        F.max("valid_from_us").alias("horizon_us")
    )
    closed = (
        iv.where(F.col("op") != "DELETE")
        .where(F.col("value") != NULL_SENTINEL)
        .crossJoin(F.broadcast(horizon))
        .select(
            "table_name",
            F.col("value").cast("double").alias("v"),
            (
                F.coalesce(F.col("valid_to_us"), F.col("horizon_us"))
                - F.col("valid_from_us")
            ).alias("w_us"),
        )
        .where(F.col("w_us") > 0)
    )
    # integer MICRO-UNIT fold, not round(v,6)→DECIMAL: floor(v*1e6+.5)
    # is pure IEEE double ops, bit-identical in both engines, while
    # each engine's own decimal-rounding path disagrees for values
    # within an ulp of a 5e-7 boundary (the sources/formats.py:146
    # mechanism that once turned a driver row red)
    vw = (
        F.floor(F.col("v") * F.lit(1e6) + F.lit(0.5)).cast("decimal(20,0)")
        * F.col("w_us").cast("decimal(18,0)")
    )
    agg = closed.groupBy("table_name").agg(
        F.count("*").alias("n_intervals"),
        F.sum("w_us").alias("total_us"),
        F.sum(vw).alias("_svw"),
    )
    return agg.select(
        "table_name",
        "n_intervals",
        "total_us",
        F.round(
            F.col("_svw").cast("double")
            / 1e6
            / F.col("total_us").cast("double"),
            6,
        ).alias("tw_avg_value"),
    )


SCD2_WEIGHTED_SQL = (
    "WITH scd2 AS ("
    + SCD2_INTERVALS_SQL
    + f"""
), horizon AS (SELECT MAX(valid_from_us) AS horizon_us FROM scd2),
closed AS (
    SELECT table_name, CAST(value AS DOUBLE) AS v,
        COALESCE(valid_to_us, horizon_us) - valid_from_us AS w_us
    FROM scd2 CROSS JOIN horizon
    WHERE op <> 'DELETE' AND value <> '{NULL_SENTINEL}'
      AND COALESCE(valid_to_us, horizon_us) - valid_from_us > 0
)
SELECT table_name, COUNT(*) AS n_intervals,
    CAST(SUM(w_us) AS BIGINT) AS total_us,
    round(
        CAST(SUM(CAST(floor(v * 1e6 + 0.5) AS DECIMAL(20,0))
                 * CAST(w_us AS DECIMAL(18,0))) AS DOUBLE)
        / 1e6 / CAST(SUM(w_us) AS DOUBLE), 6) AS tw_avg_value
FROM closed
GROUP BY table_name
"""
)



# ------------------------------------------------- retention (K + TTL)
#
# The two HBase retention knobs together (HBaseSchemaManager.java:57-58
# sets maxVersions; TTL is the column-family twin): a version survives
# only if it is among the newest RETAIN_K for its cell AND not older
# than the TTL floor. The floor here is derived deterministically from
# the data (midpoint of the observed version range) so the oracle sees
# the same cutoff. Scale shape: one scalar agg (broadcast) + the same
# per-cell-key window compaction already uses; the audit agg is
# combiner-backed per table.

RETAIN_K = 2


def retention_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention_audit(timemachine_cells(spark, sf_dir))


def retention_audit(cells: DataFrame) -> DataFrame:
    # integer floor-div in BOTH engines — a double midpoint would
    # round in DuckDB's CAST but truncate in Spark's
    rng = cells.agg(
        F.min("version_us").alias("mn"), F.max("version_us").alias("mx")
    ).select(F.expr("(mn + mx) div 2").alias("ttl_floor_us"))
    w = W.partitionBy("table_name", "rowkey", "column_name").orderBy(
        F.col("version_us").desc(), F.col("event_id").desc()
    )
    flagged = (
        cells.withColumn("vrank", F.row_number().over(w))
        .crossJoin(F.broadcast(rng))
        .select(
            "table_name",
            (F.col("vrank") > RETAIN_K).alias("evict_versions"),
            (F.col("version_us") < F.col("ttl_floor_us")).alias(
                "evict_age"
            ),
        )
    )
    return flagged.groupBy("table_name").agg(
        F.count("*").alias("cells_total"),
        F.sum(
            F.when(
                ~F.col("evict_versions") & ~F.col("evict_age"), 1
            ).otherwise(0)
        ).cast("long").alias("cells_kept"),
        F.sum(
            F.when(
                F.col("evict_versions") & ~F.col("evict_age"), 1
            ).otherwise(0)
        ).cast("long").alias("evicted_by_versions"),
        F.sum(
            F.when(
                ~F.col("evict_versions") & F.col("evict_age"), 1
            ).otherwise(0)
        ).cast("long").alias("evicted_by_age"),
        F.sum(
            F.when(
                F.col("evict_versions") & F.col("evict_age"), 1
            ).otherwise(0)
        ).cast("long").alias("evicted_by_both"),
    )


RETENTION_SQL = (
    "WITH cells AS ("
    + TIMEMACHINE_CELLS_SQL
    + f"""
), rng AS (
    SELECT (MIN(version_us) + MAX(version_us)) // 2 AS ttl_floor_us
    FROM cells
), flagged AS (
    SELECT table_name,
        ROW_NUMBER() OVER (
            PARTITION BY table_name, rowkey, column_name
            ORDER BY version_us DESC, event_id DESC) > {RETAIN_K}
            AS evict_versions,
        version_us < ttl_floor_us AS evict_age
    FROM cells CROSS JOIN rng
)
SELECT table_name, COUNT(*) AS cells_total,
    CAST(SUM(CASE WHEN NOT evict_versions AND NOT evict_age
             THEN 1 ELSE 0 END) AS BIGINT) AS cells_kept,
    CAST(SUM(CASE WHEN evict_versions AND NOT evict_age
             THEN 1 ELSE 0 END) AS BIGINT) AS evicted_by_versions,
    CAST(SUM(CASE WHEN NOT evict_versions AND evict_age
             THEN 1 ELSE 0 END) AS BIGINT) AS evicted_by_age,
    CAST(SUM(CASE WHEN evict_versions AND evict_age
             THEN 1 ELSE 0 END) AS BIGINT) AS evicted_by_both
FROM flagged
GROUP BY table_name
"""
)


# ---------------------------------------------- version-depth histogram
#
# How deep is the history? Distribution of versions-per-cell-key
# ((table, rowkey, column) → version count) — the capacity/compaction
# planning view of the store (the reference sizes maxVersions against
# exactly this distribution, HBaseSchemaManager.java:57-58: this is
# the report you read BEFORE picking maxVersions; tm_retention audits
# AFTER). Two combiner-backed aggs: per-key count (corpus-sized
# exchange) then the tiny (table, depth) histogram; shares are
# integer-count ratios.


def version_depth_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = timemachine_cells(spark, sf_dir)  # organized_feed preps
    per_key = cells.groupBy("table_name", "rowkey", "column_name").agg(
        F.count("*").alias("depth")
    )
    hist = per_key.groupBy("table_name", "depth").agg(
        F.count("*").alias("n_keys")
    )
    tot = hist.groupBy("table_name").agg(
        F.sum("n_keys").alias("table_keys")
    )
    return (
        hist.join(F.broadcast(tot), "table_name")
        .select(
            "table_name",
            "depth",
            "n_keys",
            F.round(
                F.col("n_keys").cast("double")
                / F.col("table_keys").cast("double"),
                6,
            ).alias("share"),
        )
    )


VERSION_DEPTH_SQL = (
    "WITH cells AS ("
    + TIMEMACHINE_CELLS_SQL
    + """
), per_key AS (
    SELECT table_name, rowkey, column_name, COUNT(*) AS depth
    FROM cells GROUP BY table_name, rowkey, column_name
), hist AS (
    SELECT table_name, depth, COUNT(*) AS n_keys
    FROM per_key GROUP BY table_name, depth
), tot AS (
    SELECT table_name, CAST(SUM(n_keys) AS BIGINT) AS table_keys
    FROM hist GROUP BY table_name
)
SELECT h.table_name, depth, n_keys,
    round(CAST(n_keys AS DOUBLE) / CAST(table_keys AS DOUBLE), 6) AS share
FROM hist h JOIN tot USING (table_name)
"""
)


# ------------------------------------------------ time-travel sweep
#
# Table-cardinality time travel: row counts of every table as-of K
# fixed cutoffs in one pass — the HBase multi-timestamp Scan audit
# ("how did this table's live row count evolve") consumers run after
# a backfill or a retention change. For each cutoff, a row is ALIVE
# if its latest row_status cell at-or-before the cutoff is not the
# 'D' tombstone (same rule as asof_snapshot,
# HBaseApplierMutationGenerator.java:113-334's delete marker).
#
# Scale: only row_status cells enter the plan (one per row VERSION,
# not per cell); the K cutoffs fan out map-side (K×versions rows)
# into ONE combiner-backed max_by shuffle keyed by (cutoff, table,
# rowkey) — never K separate snapshot scans. K is constant.
# Determinism: max_by on the exact (version_us, event_id) total
# order; outputs are integers.

TT_CUTOFFS_US = (
    1_704_672_000_000_000,  # 2024-01-08T00:00:00Z
    1_705_276_800_000_000,  # 2024-01-15
    1_705_881_600_000_000,  # 2024-01-22
    SNAPSHOT_CUTOFF_US,     # 2024-03-01 (end of history)
)


def timetravel_counts_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    status = timemachine_cells(spark, sf_dir).where(
        F.col("column_name") == "row_status"
    )
    fan = status.select(
        "table_name",
        "rowkey",
        "cell_value",
        "version_us",
        "event_id",
        F.explode(
            F.array(*[F.lit(c) for c in TT_CUTOFFS_US])
        ).alias("cutoff_us"),
    ).where(F.col("version_us") <= F.col("cutoff_us"))
    latest = fan.groupBy("cutoff_us", "table_name", "rowkey").agg(
        F.max_by(
            "cell_value", F.struct("version_us", "event_id")
        ).alias("st")
    )
    return latest.groupBy("cutoff_us", "table_name").agg(
        F.count("*").alias("n_rows_seen"),
        F.sum((F.col("st") != "D").cast("long")).alias("n_alive"),
        F.sum((F.col("st") == "D").cast("long")).alias("n_deleted"),
    )


TIMETRAVEL_COUNTS_SQL = (
    "WITH cells AS ("
    + TIMEMACHINE_CELLS_SQL
    + f"""
), cuts AS (
    SELECT unnest([{", ".join(str(c) for c in TT_CUTOFFS_US)}])
        AS cutoff_us
), fan AS (
    SELECT cutoff_us, table_name, rowkey, cell_value, version_us,
        event_id
    FROM cells CROSS JOIN cuts
    WHERE column_name = 'row_status' AND version_us <= cutoff_us
), latest AS (
    SELECT cutoff_us, table_name, rowkey,
        max_by(cell_value,
               CAST(version_us AS HUGEINT) * 10000000000 + event_id)
            AS st
    FROM fan GROUP BY cutoff_us, table_name, rowkey
)
SELECT cutoff_us, table_name,
    CAST(COUNT(*) AS BIGINT) AS n_rows_seen,
    CAST(SUM(CASE WHEN st <> 'D' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_alive,
    CAST(SUM(CASE WHEN st = 'D' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_deleted
FROM latest GROUP BY cutoff_us, table_name
"""
)


# ------------------------------------------------ cell lifetimes
#
# Version-interval churn: for every versioned cell key, the time
# between consecutive versions — the TTL/compaction-policy input the
# retention op consumes ("how long does a cell version stay current
# before it is overwritten"). The histogram buckets by DECIMAL DIGIT
# COUNT of the gap in seconds (a pure string-length op, identical in
# both engines — log-ish bucketing with zero float risk).
#
# Scale: the lag window is PARTITIONED by the cell key (no global
# sort); the histogram agg is (table x column x <=8 buckets)-sized.
# Determinism: integer gaps, exact total order (version_us, event_id)
# within key. Ref parity: complements version_depth (counts per key)
# with the TEMPORAL spacing of those versions
# (HBaseTimeMachineWriter.java's one-version-per-timestamp model).


def cell_lifetimes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = timemachine_cells(spark, sf_dir)
    wk = W.partitionBy("table_name", "rowkey", "column_name").orderBy(
        "version_us", "event_id"
    )
    gaps = (
        cells.withColumn("prev_us", F.lag("version_us").over(wk))
        .where(F.col("prev_us").isNotNull())
        .select(
            "table_name",
            "column_name",
            # integer `div`, not double `/` then cast: a double
            # quotient can round across the integer boundary for
            # large µs gaps and disagree with DuckDB's exact `//`
            F.expr("(version_us - prev_us) div 1000000").alias(
                "gap_s"
            ),
        )
    )
    return (
        gaps.groupBy(
            "table_name",
            "column_name",
            F.length(F.col("gap_s").cast("string")).alias("gap_digits"),
        )
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap_s").alias("min_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
            F.round(
                F.sum("gap_s").cast("double")
                / F.count("*").cast("double"),
                3,
            ).alias("avg_gap_s"),
        )
    )


CELL_LIFETIMES_SQL = (
    "WITH cells AS ("
    + TIMEMACHINE_CELLS_SQL
    + """
), gaps AS (
    SELECT table_name, column_name,
        CAST((version_us - LAG(version_us) OVER (
            PARTITION BY table_name, rowkey, column_name
            ORDER BY version_us, event_id)) // 1000000 AS BIGINT)
            AS gap_s
    FROM cells
)
SELECT table_name, column_name,
    CAST(length(CAST(gap_s AS VARCHAR)) AS INT) AS gap_digits,
    CAST(COUNT(*) AS BIGINT) AS n_gaps,
    CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
    CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
    round(CAST(SUM(gap_s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 3)
        AS avg_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY table_name, column_name, length(CAST(gap_s AS VARCHAR))
"""
)


# ------------------------------------------------ bitemporal as-of
#
# Two-axis time travel: VALID time (version_us — when the change
# happened upstream) × TRANSACTION time (arrival_us — when the
# replicator learned it). The HBase time-machine only indexes valid
# time; a bitemporal read answers the audit question "what did the
# sink BELIEVE the table looked like at V, as of ingest time T" —
# under replication lag, a strict read (T = V) misses changes that
# had happened but not yet arrived, while a settled read
# (T = V + max-lag) sees the corrected history. The delta between
# the two rows is exactly the late-arrival exposure a downstream
# consumer inherits (the reference's delay gauge measures the SAME
# lag on the write path — cdc/metrics.py:80).
#
# Arrival lag is simulated deterministically as
# (event_id % 7) HOURS — integer arithmetic, identical in both
# engines, nothing random; sized to the feed's version cadence
# (days between versions) so the strict/settled delta is actually
# exercised — a seconds-scale lag against weekly cutoffs never
# lands a latest-version inside the exposure window.
#
# Scale: the timetravel-counts contract — ONE scan of the row_status
# cells fanned across the (valid, txn) cutoff grid (a constant-size
# explode), conditional max_by per (cutoff pair, rowkey), then a
# |grid|×|tables|-row reduction. No windows, no joins, no rescans.

BT_LAG_MOD = 7  # event_id % 7 hours of simulated replication lag
BT_LAG_UNIT_US = 3_600_000_000  # one hour
BT_SETTLE_US = 6 * BT_LAG_UNIT_US  # settled read waits out the max lag


def bitemporal_asof_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    status = timemachine_cells(spark, sf_dir).where(
        F.col("column_name") == "row_status"
    )
    arrival = (
        F.col("version_us")
        + (F.col("event_id") % BT_LAG_MOD) * F.lit(BT_LAG_UNIT_US)
    )
    fan = (
        status.select(
            "table_name",
            "rowkey",
            "cell_value",
            "version_us",
            "event_id",
            arrival.alias("arrival_us"),
            F.explode(
                F.array(*[F.lit(c) for c in TT_CUTOFFS_US])
            ).alias("valid_cut_us"),
        )
        .select(
            "*",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("strict").alias("txn_mode"),
                        F.lit(0).alias("delta_us"),
                    ),
                    F.struct(
                        F.lit("settled").alias("txn_mode"),
                        F.lit(BT_SETTLE_US).alias("delta_us"),
                    ),
                )
            ).alias("m"),
        )
        .where(
            (F.col("version_us") <= F.col("valid_cut_us"))
            & (
                F.col("arrival_us")
                <= F.col("valid_cut_us") + F.col("m.delta_us")
            )
        )
    )
    latest = fan.groupBy(
        "valid_cut_us", F.col("m.txn_mode").alias("txn_mode"),
        "table_name", "rowkey",
    ).agg(
        F.max_by(
            "cell_value", F.struct("version_us", "event_id")
        ).alias("st")
    )
    return latest.groupBy("valid_cut_us", "txn_mode", "table_name").agg(
        F.count("*").alias("n_rows_seen"),
        F.sum((F.col("st") != "D").cast("long")).alias("n_alive"),
        F.sum((F.col("st") == "D").cast("long")).alias("n_deleted"),
    )


BITEMPORAL_ASOF_SQL = (
    "WITH cells AS ("
    + TIMEMACHINE_CELLS_SQL
    + f"""
), cuts AS (
    SELECT unnest([{", ".join(str(c) for c in TT_CUTOFFS_US)}])
        AS valid_cut_us
), modes AS (
    SELECT * FROM (VALUES ('strict', 0), ('settled', {BT_SETTLE_US}))
        AS m(txn_mode, delta_us)
), fan AS (
    SELECT valid_cut_us, txn_mode, table_name, rowkey, cell_value,
        version_us, event_id
    FROM cells CROSS JOIN cuts CROSS JOIN modes
    WHERE column_name = 'row_status'
      AND version_us <= valid_cut_us
      AND version_us + (event_id % {BT_LAG_MOD}) * {BT_LAG_UNIT_US}
          <= valid_cut_us + delta_us
), latest AS (
    SELECT valid_cut_us, txn_mode, table_name, rowkey,
        max_by(cell_value,
               CAST(version_us AS HUGEINT) * 10000000000 + event_id)
            AS st
    FROM fan GROUP BY valid_cut_us, txn_mode, table_name, rowkey
)
SELECT valid_cut_us, txn_mode, table_name,
    CAST(COUNT(*) AS BIGINT) AS n_rows_seen,
    CAST(SUM(CASE WHEN st <> 'D' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_alive,
    CAST(SUM(CASE WHEN st = 'D' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_deleted
FROM latest GROUP BY valid_cut_us, txn_mode, table_name
"""
)
