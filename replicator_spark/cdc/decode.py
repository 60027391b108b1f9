"""MySQL scalar decode library — the reference's entire per-cell
"expression surface" (format/MysqlTypeDeserializer.java:48-236,
SURVEY.md §1.2/§2.9) re-expressed as Spark column expressions.

Every function is a built-in-composed Column (JVM-side, codegen'd) —
no UDFs. The oracle query exercises the surface over the `part` /
`lineitem` tables with deterministic synthetic inputs.

Decode rules ported (reference line cites):
- unsigned reinterpretation tiny/small/medium/int   (:37-41, :172-190)
- unsigned BIGINT two-word reassembly → decimal(20) (:192-207)
- BINARY zero-pad to CHAR_MAX_LENGTH then hex       (:60-75)
- BLOB → hex                                        (:77-83)
- BIT → bit string                                  (:111-121)
- DATE 'yyyy-MM-dd' / TIME 'HH:mm:ss'               (:123-129)
- DATETIME/TIMESTAMP → epoch millis (UTC-pinned)    (:131-142)
- ENUM 1-based index → label                        (:144-152)
- SET bitmask → joined labels                       (:154-170)
- DECIMAL → plain string                            (:215-218)
- NULL → 'NULL' sentinel (AugmentedRow.java:13)
- bytes → string by column collation                (:85-97)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import prep, read_table

TWO_POW_64 = "18446744073709551616"


def unsigned_reinterpret(col: Column, bits: int) -> Column:
    """Signed → unsigned reinterpretation for tiny/small/medium/int."""
    mod = 1 << bits
    return ((col % mod) + mod) % mod


def unsigned_bigint(col: Column) -> Column:
    """Unsigned BIGINT via 2^64 wraparound, as plain decimal string."""
    dec = col.cast("decimal(20,0)")
    return F.when(
        col < 0, (dec + F.expr(f"cast({TWO_POW_64} as decimal(21,0))"))
    ).otherwise(dec.cast("decimal(21,0)")).cast("string")


def binary_hex(col: Column, pad_to: int = 0) -> Column:
    """BINARY(n): zero-pad to n bytes then hex (BLOB: pad_to=0)."""
    h = F.hex(col)
    if pad_to:
        h = F.rpad(h, 2 * pad_to, "0")
    return h


def bit_string(col: Column, width: int = 8) -> Column:
    return F.lpad(F.bin(col), width, "0")


def date_str(col: Column) -> Column:
    return F.date_format(col, "yyyy-MM-dd")


def enum_label(col_idx: Column, labels: Sequence[str]) -> Column:
    """1-based ENUM index → label (index 0 / out of range → NULL).
    An explicit CASE chain, NOT element_at: element_at THROWS on
    index 0 (MySQL's invalid/empty-ENUM sentinel in non-strict mode)
    and reads from the tail on negatives — a wire row carrying 0 must
    decode to NULL, not kill the job (try_element_at throws on 0
    too)."""
    out = F.when(col_idx == 1, F.lit(labels[0]))
    for i, lab in enumerate(labels[1:], start=2):
        out = out.when(col_idx == i, F.lit(lab))
    return out.otherwise(F.lit(None))


def set_labels(col_mask: Column, labels: Sequence[str]) -> Column:
    """SET bitmask → comma-joined labels (concat_ws drops the nulls)."""
    parts = [
        F.when((col_mask.bitwiseAND(F.lit(1 << i))) != 0, F.lit(lab))
        for i, lab in enumerate(labels)
    ]
    return F.concat_ws(",", *parts)


def decimal_plain(col: Column, precision: int = 18, scale: int = 2) -> Column:
    return col.cast(f"decimal({precision},{scale})").cast("string")


def null_sentinel(col: Column) -> Column:
    return F.coalesce(col.cast("string"), F.lit("NULL"))


# MySQL collation-name prefix → Java charset, mirroring the reference's
# latin1-vs-UTF-8 branch (MysqlTypeDeserializer.java:85-97). Checked in
# order; unknown collations fall through to UTF-8 (MySQL 8 default).
_COLLATION_CHARSETS = (
    ("latin1", "ISO-8859-1"),
    ("ascii", "US-ASCII"),
    ("utf8", "UTF-8"),
)


def string_by_collation(bytes_col: Column, collation_col: Column) -> Column:
    """CHAR/VARCHAR/TEXT bytes → string using the charset implied by the
    column's collation (e.g. 'latin1_swedish_ci' → ISO-8859-1,
    'utf8mb4_general_ci' → UTF-8)."""
    out = F.decode(bytes_col, "UTF-8")
    for prefix, charset in reversed(_COLLATION_CHARSETS):
        out = F.when(
            collation_col.startswith(prefix), F.decode(bytes_col, charset)
        ).otherwise(out)
    return out


def encode_by_collation(str_col: Column, collation_col: Column) -> Column:
    """Inverse of string_by_collation (test fixture: produce the raw
    bytes a binlog cell would carry for a given column collation)."""
    out = F.encode(str_col, "UTF-8")
    for prefix, charset in reversed(_COLLATION_CHARSETS):
        out = F.when(
            collation_col.startswith(prefix), F.encode(str_col, charset)
        ).otherwise(out)
    return out


# ---- binlog-client compatibility modes ------------------------------
# BinaryLogSupplier.getClient (BinaryLogSupplier.java:113-117) registers
# CHAR_AND_BINARY_AS_BYTE_ARRAY and DATE_AND_TIME_AS_LONG on the binlog
# client's EventDeserializer, which changes the raw cell representation
# MysqlTypeDeserializer.convertToObject receives:
#  - compat ON (the reference's production config): CHAR/VARCHAR/TEXT
#    cells arrive as byte[] and are decoded by the column's collation
#    (MysqlTypeDeserializer.java:85-97); DATETIME/TIMESTAMP cells arrive
#    as UTC epoch-millis longs, and the decoder subtracts the server
#    zone's offset AT THAT INSTANT before emitting the adjusted millis
#    as a string (:131-142, pinned by MysqlTypeDeserializerTest.
#    testTimestampType: String.valueOf(epochUTC - offset)).
#  - compat OFF (the binlog client's default): CHAR cells are already
#    decoded Strings (the collation branch never runs — identity), and
#    DATETIME cells are materialized Date objects (no long arithmetic).
#
# The server zone is modeled as a fixed standard offset plus the EU DST
# rule (offset +1h from the last Sunday of March 01:00 UTC to the last
# Sunday of October 01:00 UTC) in pure integer calendar arithmetic, so
# the instant-dependent offset the reference reads from the JVM zone
# (ZonedDateTime...getOffset():135-139) is reproducible engine-
# identically (no ICU dependency on the oracle side).

#: standard (non-DST) offset of the modeled server zone, seconds east
#: of UTC — Europe/Paris-like (+01:00)
SERVER_BASE_OFFSET_S = 3600


def _last_sunday_epoch_day(year_col: Column, month: int) -> Column:
    """Epoch day of the last Sunday of `month` (which has 31 days).
    1970-01-01 was a Thursday, so day-of-week with Sunday=0 is
    pmod(epoch_day + 4, 7) — the SIGN-SAFE remainder: pre-1970 dates
    make d31 negative, and %'s dividend-sign rule would land the
    'last Sunday' after the 31st (the SQL mirror in
    TYPE_DECODE_COMPAT_SQL carries the same ((x%7)+7)%7 form)."""
    d31 = F.unix_date(F.make_date(year_col, F.lit(month), F.lit(31)))
    return d31 - F.pmod(d31 + F.lit(4), F.lit(7))


def server_zone_offset_seconds(
    millis: Column, base_offset_s: int = SERVER_BASE_OFFSET_S
) -> Column:
    """The modeled server zone's UTC offset at the instant `millis`
    (epoch ms): base + 3600 inside the EU DST window of that year.
    Window edges compared in millis (long — the epoch-day product
    overflows int32 past 2038, hence the cast before the multiply).
    The year comes from timezone-free DATE arithmetic (epoch day →
    DateType), NOT from timestamp_millis, whose year() would follow
    spark.sql.session.timeZone on an unpinned session."""
    y = F.year(
        F.date_add(
            F.to_date(F.lit("1970-01-01")), _epoch_day(millis).cast("int")
        )
    )
    dst_start_ms = (
        _last_sunday_epoch_day(y, 3).cast("long") * 86400 + 3600
    ) * 1000  # last Sunday of March, 01:00 UTC
    dst_end_ms = (
        _last_sunday_epoch_day(y, 10).cast("long") * 86400 + 3600
    ) * 1000
    m = millis.cast("long")
    return F.lit(base_offset_s) + F.when(
        (m >= dst_start_ms) & (m < dst_end_ms), F.lit(3600)
    ).otherwise(F.lit(0))


def datetime_cell(
    millis: Column, compat: bool = True,
    base_offset_s: int = SERVER_BASE_OFFSET_S,
) -> Column:
    """DATETIME/TIMESTAMP cell decode. compat=True models
    DATE_AND_TIME_AS_LONG: the cell is a UTC epoch-millis long and the
    output is String.valueOf(millis - offset*1000) with the server
    zone's instant-dependent offset (MysqlTypeDeserializer.java:
    131-142). compat=False: the client materialized the value already —
    emit the raw millis unadjusted."""
    if not compat:
        return millis.cast("long").cast("string")
    off = server_zone_offset_seconds(millis, base_offset_s)
    return (millis.cast("long") - off.cast("long") * 1000).cast("string")


def char_cell(
    cell: Column, collation: Column, compat: bool = True
) -> Column:
    """CHAR/VARCHAR/TEXT cell decode. compat=True models
    CHAR_AND_BINARY_AS_BYTE_ARRAY: the cell is the raw byte[] and must
    be decoded by the column's collation (latin1 → ISO-8859-1, else
    UTF-8, MysqlTypeDeserializer.java:85-97). compat=False: the client
    already decoded the string — identity."""
    return string_by_collation(cell, collation) if compat else cell


def _floor_div(col: Column, d: int) -> Column:
    """Exact FLOOR division of a long column by a positive int for the
    full long range: subtract the sign-safe remainder in long
    arithmetic, then `div` (truncating, but the operand is divisible)
    — no double anywhere, so no 2^53 precision cliff."""
    rem = ((col % d) + d) % d
    return F.call_function("div", col - rem, F.lit(d))


def _epoch_day(millis: Column) -> Column:
    """UTC epoch day of an epoch-millis long — pure integer floor
    division, independent of the session timezone."""
    return _floor_div(millis.cast("long"), 86400000)


def date_cell(millis: Column) -> Column:
    """DATE cell decode under DATE_AND_TIME_AS_LONG: the cell is an
    epoch-millis long and the UTC-pinned 'yyyy-MM-dd' formatter renders
    it (MysqlTypeDeserializer.java:34,44,123-125 —
    MysqlTypeDeserializerTest.testDateType: '2019-02-01'). Built as
    epoch-day arithmetic on a DateType (dates are timezone-free), so
    the output never depends on spark.sql.session.timeZone — unlike a
    timestamp_millis+date_format chain, which would silently shift a
    day on a session whose zone conf was not pinned."""
    d = F.date_add(
        F.to_date(F.lit("1970-01-01")), _epoch_day(millis).cast("int")
    )
    return date_str(d)


def time_cell(millis: Column) -> Column:
    """TIME cell decode under DATE_AND_TIME_AS_LONG: the cell is a
    millis-of-epoch long rendered by the UTC-pinned 'HH:mm:ss.SSS'
    formatter (MysqlTypeDeserializer.java:35,45,127-129 — test vector
    42972123 → '11:56:12.123'). The millis are first reduced to the
    sign-safe time-of-day (SimpleDateFormat renders the INSTANT's UTC
    time-of-day, so new Date(-1) is '23:59:59.999'), then the fields
    come from plain integer arithmetic on the non-negative day offset —
    engine-identical, NULL-propagating (F.concat, like the oracle's
    `||` chain), and timezone-free."""
    m = millis.cast("long")
    day_ms = ((m % 86400000) + 86400000) % 86400000
    return F.concat(
        F.lpad(_floor_div(day_ms, 3600000).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((_floor_div(day_ms, 60000) % 60).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((_floor_div(day_ms, 1000) % 60).cast("string"), 2, "0"),
        F.lit("."),
        F.lpad((day_ms % 1000).cast("string"), 3, "0"),
    )


_ENUM_LABELS = ("animalia", "plantae")
_SET_LABELS = ("read", "write", "admin")


def type_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full decode surface over `part` (+ synthetic signed inputs)."""
    prep(spark)
    part = read_table(spark, sf_dir, "part")
    signed = (F.col("p_size") - F.lit(100)).cast("long")  # goes negative
    collation = F.when(
        F.col("p_partkey") % 2 == 0, F.lit("latin1_swedish_ci")
    ).otherwise(F.lit("utf8mb4_general_ci"))
    txt = F.concat(F.col("p_name"), F.lit(" é"))
    part = part.withColumn("collation", collation).withColumn(
        "raw_bytes", encode_by_collation(txt, F.col("collation"))
    )
    return part.select(
        "p_partkey",
        unsigned_reinterpret(signed, 8).cast("long").alias("utiny"),
        unsigned_reinterpret(signed, 16).cast("long").alias("usmall"),
        unsigned_reinterpret(signed, 24).cast("long").alias("umedium"),
        unsigned_reinterpret(signed, 32).cast("long").alias("uint"),
        unsigned_bigint((F.col("p_partkey") * F.lit(-1)).cast("long")).alias(
            "ubigint"
        ),
        binary_hex(F.col("p_brand"), pad_to=16).alias("bin_hex"),
        bit_string(F.col("p_size") % 256, 8).alias("bits"),
        date_str(F.to_date(F.lit("2024-01-01"))).alias("d"),
        enum_label((F.col("p_size") % 2 + 1).cast("int"), _ENUM_LABELS).alias(
            "kingdom"
        ),
        set_labels(F.col("p_size") % 8, _SET_LABELS).alias("perms"),
        decimal_plain(F.col("p_retailprice"), 12, 2).alias("price_str"),
        null_sentinel(
            F.when(F.col("p_size") % 7 == 0, F.col("p_type"))
        ).alias("maybe_type"),
        # Collation-aware string decode: round-trip through the charset
        # the collation implies; byte length proves which encoding ran
        # ('é' is 1 byte in latin1, 2 in UTF-8).
        F.col("collation"),
        string_by_collation(F.col("raw_bytes"), F.col("collation")).alias(
            "text_decoded"
        ),
        F.length(F.col("raw_bytes")).cast("long").alias("raw_byte_len"),
    )


TYPE_DECODE_SQL = f"""
WITH src AS (
    SELECT *, CAST(p_size - 100 AS BIGINT) AS signed_v FROM part
)
SELECT p_partkey,
    ((signed_v % 256) + 256) % 256 AS utiny,
    ((signed_v % 65536) + 65536) % 65536 AS usmall,
    ((signed_v % 16777216) + 16777216) % 16777216 AS umedium,
    ((signed_v % 4294967296) + 4294967296) % 4294967296 AS uint,
    CAST(CASE WHEN -p_partkey < 0
        THEN CAST(-p_partkey AS DECIMAL(20,0))
             + CAST({TWO_POW_64} AS DECIMAL(21,0))
        ELSE CAST(-p_partkey AS DECIMAL(21,0)) END AS VARCHAR) AS ubigint,
    rpad(hex(p_brand), 32, '0') AS bin_hex,
    lpad(bin(p_size % 256), 8, '0') AS bits,
    strftime(DATE '2024-01-01', '%Y-%m-%d') AS d,
    (['animalia', 'plantae'])[CAST(p_size % 2 + 1 AS INT)] AS kingdom,
    concat_ws(',',
        CASE WHEN (p_size % 8) & 1 <> 0 THEN 'read' END,
        CASE WHEN (p_size % 8) & 2 <> 0 THEN 'write' END,
        CASE WHEN (p_size % 8) & 4 <> 0 THEN 'admin' END) AS perms,
    CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str,
    COALESCE(CASE WHEN p_size % 7 = 0 THEN p_type END, 'NULL')
        AS maybe_type,
    CASE WHEN p_partkey % 2 = 0 THEN 'latin1_swedish_ci'
         ELSE 'utf8mb4_general_ci' END AS collation,
    p_name || ' é' AS text_decoded,
    CAST(length(p_name) + 1
         + CASE WHEN p_partkey % 2 = 0 THEN 1 ELSE 2 END
         AS BIGINT) AS raw_byte_len
FROM src
"""


def type_decode_compat_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compat-mode decode surface over `events`: every row decoded
    under BOTH client configurations — compat ON (the reference's
    production registration, BinaryLogSupplier.java:113-117: CHAR as
    collation-decoded bytes, DATETIME as offset-adjusted epoch-millis
    string) and compat OFF (the binlog client's defaults: CHAR identity,
    raw millis). The instant-dependent server-zone offset column proves
    the DST branch runs against real data (events span the DST window).
    """
    prep(spark)
    ev = read_table(spark, sf_dir, "events")
    collation = F.when(
        F.col("user_id") % 2 == 0, F.lit("latin1_swedish_ci")
    ).otherwise(F.lit("utf8mb4_general_ci"))
    txt = F.concat(F.col("event_type"), F.lit(" é"))
    ev = (
        ev.withColumn("millis", F.expr("ts div 1000000"))
        .withColumn("collation", collation)
        .withColumn("raw_bytes", encode_by_collation(txt, F.col("collation")))
    )
    return ev.select(
        "event_id",
        F.col("millis").cast("long").alias("millis"),
        server_zone_offset_seconds(F.col("millis"))
        .cast("long")
        .alias("offset_s"),
        datetime_cell(F.col("millis"), compat=True).alias("dt_compat"),
        datetime_cell(F.col("millis"), compat=False).alias("dt_default"),
        date_cell(F.col("millis")).alias("date_compat"),
        time_cell(F.col("millis")).alias("time_compat"),
        "collation",
        char_cell(F.col("raw_bytes"), F.col("collation"), compat=True).alias(
            "char_compat"
        ),
        F.length(F.col("raw_bytes")).cast("long").alias("raw_byte_len"),
        char_cell(txt, F.col("collation"), compat=False).alias(
            "char_default"
        ),
    )


TYPE_DECODE_COMPAT_SQL = """
WITH src AS (
    SELECT event_id, user_id, event_type, epoch_ms(ts) AS millis
    FROM events
), cal AS (
    SELECT *, year(make_timestamp(millis * 1000)) AS y FROM src
), win AS (
    SELECT *,
        (make_date(y, 3, 31) - DATE '1970-01-01') AS mar31,
        (make_date(y, 10, 31) - DATE '1970-01-01') AS oct31
    FROM cal
), dst AS (
    SELECT *,
        (CAST(mar31 - ((((mar31 + 4) % 7) + 7) % 7) AS BIGINT)
            * 86400 + 3600) * 1000 AS dst_start_ms,
        (CAST(oct31 - ((((oct31 + 4) % 7) + 7) % 7) AS BIGINT)
            * 86400 + 3600) * 1000 AS dst_end_ms
    FROM win
), off AS (
    SELECT *,
        3600 + CASE WHEN millis >= dst_start_ms AND millis < dst_end_ms
                    THEN 3600 ELSE 0 END AS offset_s,
        ((millis % 86400000) + 86400000) % 86400000 AS day_ms
    FROM dst
)
SELECT event_id,
    CAST(millis AS BIGINT) AS millis,
    CAST(offset_s AS BIGINT) AS offset_s,
    CAST(millis - CAST(offset_s AS BIGINT) * 1000 AS VARCHAR) AS dt_compat,
    CAST(millis AS VARCHAR) AS dt_default,
    strftime(DATE '1970-01-01'
             + CAST(((millis - ((millis % 86400000) + 86400000) % 86400000)
                     // 86400000) AS INTEGER),
             '%Y-%m-%d') AS date_compat,
    lpad(CAST(day_ms // 3600000 AS VARCHAR), 2, '0') || ':'
        || lpad(CAST((day_ms // 60000) % 60 AS VARCHAR), 2, '0') || ':'
        || lpad(CAST((day_ms // 1000) % 60 AS VARCHAR), 2, '0') || '.'
        || lpad(CAST(day_ms % 1000 AS VARCHAR), 3, '0') AS time_compat,
    CASE WHEN user_id % 2 = 0 THEN 'latin1_swedish_ci'
         ELSE 'utf8mb4_general_ci' END AS collation,
    event_type || ' é' AS char_compat,
    CAST(length(event_type) + 1
         + CASE WHEN user_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT)
        AS raw_byte_len,
    event_type || ' é' AS char_default
FROM off
"""
