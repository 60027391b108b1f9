"""Byte-level tests of the MySQL binlog v4 codec (sources/binlog.py).

The golden byte strings below are hand-computed from the PUBLIC binlog
format layout (the same layout the reference's binlog-connector client
decodes — `supplier/.../BinaryLogSupplier.java` registers its
deserializers over it), so the parser is pinned against the spec, not
merely against this repo's own writer.
"""

from __future__ import annotations

import struct
import zlib
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from replicator_spark.sources import binlog as B


# ---------------------------------------------------------------------------
# primitives, golden
# ---------------------------------------------------------------------------


def test_lenenc_boundaries():
    # <0xfb: one literal byte; 0xfc: 2-byte LE; 0xfd: 3-byte LE
    assert B._lenenc(0) == b"\x00"
    assert B._lenenc(250) == b"\xfa"
    assert B._lenenc(251) == b"\xfc\xfb\x00"
    assert B._lenenc(0xFFFF) == b"\xfc\xff\xff"
    assert B._lenenc(0x10000) == b"\xfd\x00\x00\x01"
    assert B._lenenc(0xFFFFFF) == b"\xfd\xff\xff\xff"
    assert B._lenenc(0x1000000)[0:1] == b"\xfe"
    for n in (0, 1, 250, 251, 65535, 65536, 2**24 - 1, 2**24, 2**40):
        v, pos = B._read_lenenc(B._lenenc(n), 0)
        assert v == n and pos == len(B._lenenc(n))


def test_newdecimal_golden_mysql_doc_example():
    """The decimal.c documentation example: DECIMAL(14,4) value
    1234567890.1234 → 81 0D FB 38 D2 04 D2 (leading 1-digit group
    '1' in one byte, 234567890 in four, frac 1234 in two, first byte
    sign-flipped)."""
    enc = B.encode_newdecimal(Decimal("1234567890.1234"), 14, 4)
    assert enc.hex() == "810dfb38d204d2"
    val, pos = B.decode_newdecimal(enc, 0, 14, 4)
    assert val == "1234567890.1234" and pos == 7
    # negative: all bytes inverted
    neg = B.encode_newdecimal(Decimal("-1234567890.1234"), 14, 4)
    assert neg == bytes(b ^ 0xFF for b in enc)
    val, _ = B.decode_newdecimal(neg, 0, 14, 4)
    assert val == "-1234567890.1234"


def test_newdecimal_wide_scale_groups():
    # scale 13 = one full 9-digit group + a 4-digit trailing group
    enc = B.encode_newdecimal(Decimal("5.1234567890123"), 14, 13)
    val, _ = B.decode_newdecimal(enc, 0, 14, 13)
    assert val == "5.1234567890123"


def test_timestamp2_golden():
    """TIMESTAMP2(6): 4-byte BIG-endian epoch seconds + 3-byte
    big-endian microseconds."""
    ts_us = 1_000_000_000 * 1_000_000 + 123456  # 2001-09-09 01:46:40 UTC
    enc = B.encode_timestamp2(ts_us, 6)
    assert enc == struct.pack(">I", 1_000_000_000) + (123456).to_bytes(3, "big")
    val, pos = B.decode_timestamp2(enc, 0, 6)
    assert val == ts_us and pos == 7
    # fsp=0: no fractional bytes
    enc0 = B.encode_timestamp2(ts_us, 0)
    assert len(enc0) == 4
    val0, _ = B.decode_timestamp2(enc0, 0, 0)
    assert val0 == 1_000_000_000 * 1_000_000
    # fsp=3: two bytes, units of 100µs... (stored to 4 even digits)
    enc3 = B.encode_timestamp2(ts_us, 3)
    assert len(enc3) == 6
    val3, _ = B.decode_timestamp2(enc3, 0, 3)
    assert val3 == 1_000_000_000 * 1_000_000 + 123400


def test_datetime2_golden():
    """DATETIME2 5-byte packed big-endian: sign bit, year*13+month
    (17 bits), day (5), hour (5), minute (6), second (6)."""
    enc = B.encode_datetime2(2024, 3, 5, 12, 34, 56, 789012, 6)
    packed = (
        (1 << 39) | ((2024 * 13 + 3) << 22) | (5 << 17) | (12 << 12)
        | (34 << 6) | 56
    )
    assert enc[:5] == packed.to_bytes(5, "big")
    assert enc[5:] == (789012).to_bytes(3, "big")
    txt, pos = B.decode_datetime2(enc, 0, 6)
    assert txt == "2024-03-05 12:34:56.789012" and pos == 8
    # fsp=0 omits the fraction entirely
    txt0, _ = B.decode_datetime2(B.encode_datetime2(1999, 12, 31, 23, 59, 59), 0, 6)
    assert txt0.startswith("1999-12-31 23:59:59")


def test_legacy_timestamp_v0_golden():
    """Pre-5.6.4 MYSQL_TYPE_TIMESTAMP: 4-byte LITTLE-endian epoch
    seconds (v2 is big-endian — the byte order IS the format
    difference the golden bytes pin)."""
    enc = B.encode_timestamp_v0(1_000_000_000 * 1_000_000)
    assert enc == struct.pack("<I", 1_000_000_000)
    assert enc == bytes.fromhex("00ca9a3b")  # LE, not 3b9aca00
    val, pos = B.decode_timestamp_v0(enc, 0)
    assert val == 1_000_000_000 * 1_000_000 and pos == 4
    # no fractional storage: sub-second input must raise, not truncate
    with pytest.raises(ValueError, match="fractional"):
        B.encode_timestamp_v0(1_000_000_000 * 1_000_000 + 1)


def test_legacy_time_v0_golden():
    """Pre-5.6.4 MYSQL_TYPE_TIME: signed 3-byte LE of
    hour*10000 + minute*100 + second."""
    enc = B.encode_time_v0(12, 34, 56)
    assert enc == (123456).to_bytes(3, "little") == bytes.fromhex("40e201")
    txt, pos = B.decode_time_v0(enc, 0)
    assert txt == "12:34:56" and pos == 3
    # negative: two's-complement int24 of -(H*10000+M*100+S)
    neg = B.encode_time_v0(1, 2, 3, neg=True)
    assert neg == ((-10203) & 0xFFFFFF).to_bytes(3, "little")
    assert B.decode_time_v0(neg, 0)[0] == "-01:02:03"
    # TIME range reaches 838:59:59 — above the 24h clock
    big = B.encode_time_v0(838, 59, 59)
    assert B.decode_time_v0(big, 0)[0] == "838:59:59"


def test_legacy_datetime_v0_golden():
    """Pre-5.6.4 MYSQL_TYPE_DATETIME: 8-byte LE unsigned
    YYYYMMDDHHMMSS."""
    enc = B.encode_datetime_v0(2024, 3, 5, 12, 34, 56)
    assert enc == struct.pack("<Q", 20240305123456)
    txt, pos = B.decode_datetime_v0(enc, 0)
    assert txt == "2024-03-05 12:34:56" and pos == 8
    # value shape matches decode_datetime2's fsp=0 string exactly
    txt2, _ = B.decode_datetime2(
        B.encode_datetime2(2024, 3, 5, 12, 34, 56, 0, 0), 0, 0
    )
    assert txt == txt2


def test_legacy_temporals_in_rows_event():
    """A row image mixing legacy TIMESTAMP/TIME/DATETIME with modern
    types roundtrips through a WRITE_ROWS event — the retained-log
    restore path."""
    types = [
        B.MYSQL_TYPE_LONG, B.MYSQL_TYPE_TIMESTAMP, B.MYSQL_TYPE_TIME,
        B.MYSQL_TYPE_DATETIME, B.MYSQL_TYPE_VARCHAR,
    ]
    metas = [b"", b"", b"", b"", struct.pack("<H", 80)]
    rows = [
        [1, 1_700_000_000 * 1_000_000, (9, 30, 0), (2005, 7, 1, 0, 0, 1),
         "old fleet"],
        [2, None, (838, 59, 59, 0, True), None, None],
    ]
    w = B.BinlogWriter()
    w.table_map(9, "legacy", "t", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 9, types, metas,
           [list(r) for r in rows])
    evs = list(B.parse_binlog_file(w.getvalue()))
    got = evs[-1]["rows"]
    assert got[0] == [1, 1_700_000_000 * 1_000_000, "09:30:00",
                      "2005-07-01 00:00:01", "old fleet"]
    assert got[1] == [2, None, "-838:59:59", None, None]


def test_pre50_decimal_rejected_both_sides():
    """MYSQL_TYPE_DECIMAL (0) storage is server-build dependent: the
    codec must refuse with a clear remediation, on both the writer and
    the parser surface, at table-map compile time."""
    with pytest.raises(ValueError, match="NEWDECIMAL"):
        B.BinlogWriter._compile_encoders([B.MYSQL_TYPE_DECIMAL], [b""])
    with pytest.raises(ValueError, match="NEWDECIMAL"):
        B._compile_decoders([B.MYSQL_TYPE_DECIMAL], [b""])


# ---------------------------------------------------------------------------
# event framing
# ---------------------------------------------------------------------------


def test_file_magic_and_header_layout():
    w = B.BinlogWriter(server_id=7, ts_sec=1700000000)
    w.xid(99)
    blob = w.getvalue()
    assert blob[:4] == b"\xfebin"
    # first event (the FDE) starts at 4: u32 ts, u8 type, u32 server_id
    ts, etype, sid = struct.unpack_from("<IBI", blob, 4)
    assert (ts, etype, sid) == (1700000000, B.FORMAT_DESCRIPTION_EVENT, 7)
    evs = list(B.parse_binlog_file(blob))
    assert [e["type"] for e in evs] == [B.FORMAT_DESCRIPTION_EVENT, B.XID_EVENT]
    assert evs[1]["xid"] == 99


def test_crc32_trailer_verified():
    w = B.BinlogWriter()
    w.xid(1)
    blob = bytearray(w.getvalue())
    blob[-7] ^= 0x01  # flip a bit inside the XID body
    with pytest.raises(ValueError, match="CRC32"):
        list(B.parse_binlog_file(bytes(blob)))


def test_bad_magic_rejected():
    with pytest.raises(ValueError, match="magic"):
        list(B.parse_binlog_file(b"\x00bin" + bytes(30)))


def test_truncated_event_rejected():
    w = B.BinlogWriter()
    w.xid(1)
    blob = w.getvalue()
    with pytest.raises(ValueError, match="truncated"):
        list(B.parse_binlog_file(blob[:-3]))


def test_unknown_event_type_skipped_by_size():
    w = B.BinlogWriter()
    w._event(36, b"\x01\x02\x03")  # TRANSACTION_CONTEXT: not decoded
    w.xid(5)
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert [e["type"] for e in evs] == [B.FORMAT_DESCRIPTION_EVENT, B.XID_EVENT]


def test_query_rotate_gtid_events():
    w = B.BinlogWriter()
    w.gtid(bytes(range(16)), 42)
    w.query("CREATE TABLE t (a int)", db="mydb", thread_id=9)
    w.rotate("binlog.000042", position=4)
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[1]["gno"] == 42 and evs[1]["sid"] == bytes(range(16))
    assert evs[2]["db"] == "mydb" and evs[2]["sql"] == "CREATE TABLE t (a int)"
    assert evs[3]["next_file"] == "binlog.000042" and evs[3]["position"] == 4


# ---------------------------------------------------------------------------
# row events
# ---------------------------------------------------------------------------

_TYPES = [
    B.MYSQL_TYPE_TINY, B.MYSQL_TYPE_SHORT, B.MYSQL_TYPE_LONG,
    B.MYSQL_TYPE_LONGLONG, B.MYSQL_TYPE_FLOAT, B.MYSQL_TYPE_DOUBLE,
    B.MYSQL_TYPE_VARCHAR, B.MYSQL_TYPE_VARCHAR,
    B.MYSQL_TYPE_TIMESTAMP2, B.MYSQL_TYPE_DATETIME2,
    B.MYSQL_TYPE_NEWDECIMAL,
]
_METAS = [
    b"", b"", b"", b"", bytes([4]), bytes([8]),
    struct.pack("<H", 100), struct.pack("<H", 300),  # 1- and 2-byte paths
    bytes([6]), bytes([6]), bytes([14, 4]),
]
_ROW = [
    -5, -1000, -100000, -(2**40), 1.5, -2.25,
    "héllo", "x" * 280,
    1_700_000_000 * 1_000_000 + 42, (2024, 1, 2, 3, 4, 5, 6, ),
    "1234567890.1234",
]
_WANT = [
    -5, -1000, -100000, -(2**40), 1.5, -2.25,
    "héllo", "x" * 280,
    1_700_000_000 * 1_000_000 + 42, "2024-01-02 03:04:05.000006",
    "1234567890.1234",
]


def _one_rows_event(etype, rows):
    w = B.BinlogWriter()
    w.table_map(9, "db1", "t1", _TYPES, _METAS)
    w.rows(etype, 9, _TYPES, _METAS, rows)
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["db"] == "db1" and evs[-1]["table"] == "t1"
    return evs[-1]["rows"]


def test_write_rows_all_types_signed_and_unicode():
    got = _one_rows_event(B.WRITE_ROWS_EVENT, [list(_ROW)])
    assert got == [_WANT]


def test_null_bitmap_multibyte():
    # 11 columns → 2-byte null bitmap; null out columns 0, 7, 8
    # (bits in different bitmap bytes, LSB-first within each byte)
    row = list(_ROW)
    row[0] = row[7] = row[8] = None
    want = list(_WANT)
    want[0] = want[7] = want[8] = None
    got = _one_rows_event(B.WRITE_ROWS_EVENT, [row])
    assert got == [want]


def test_multi_row_event():
    rows = [list(_ROW), list(_ROW), list(_ROW)]
    rows[1][0] = 7
    got = _one_rows_event(B.WRITE_ROWS_EVENT, rows)
    assert len(got) == 3 and got[1][0] == 7 and got[2] == _WANT


def test_update_rows_before_after_images_distinct():
    before = list(_ROW)
    after = list(_ROW)
    after[2] = 123
    after[6] = "changed"
    got = _one_rows_event(B.UPDATE_ROWS_EVENT, [(before, after)])
    (gb, ga), = got
    assert gb[2] == -100000 and ga[2] == 123
    assert gb[6] == "héllo" and ga[6] == "changed"


def test_delete_rows():
    got = _one_rows_event(B.DELETE_ROWS_EVENT, [list(_ROW)])
    assert got == [_WANT]


def test_extended_types_golden_and_roundtrip():
    """INT24/DATE/YEAR/TIME2/CHAR/BLOB row-image encodings."""
    types = [
        B.MYSQL_TYPE_INT24, B.MYSQL_TYPE_DATE, B.MYSQL_TYPE_YEAR,
        B.MYSQL_TYPE_TIME2, B.MYSQL_TYPE_STRING, B.MYSQL_TYPE_STRING,
        B.MYSQL_TYPE_BLOB, B.MYSQL_TYPE_BLOB,
    ]
    metas = [
        b"", b"", b"", bytes([6]),
        B._string_meta(20), B._string_meta(900),  # 1- and 2-byte paths
        bytes([1]), bytes([3]),                    # TINYBLOB, MEDIUMBLOB
    ]
    row = [
        -(2**23) + 5, (2024, 3, 5), 1999, (13, 59, 7, 250000),
        "char", "y" * 500, b"\x00\xffbin", b"big" * 40,
    ]
    want = [
        -(2**23) + 5, "2024-03-05", 1999, "13:59:07.250000",
        "char", "y" * 500, b"\x00\xffbin", b"big" * 40,
    ]
    w = B.BinlogWriter()
    w.table_map(3, "d", "t", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 3, types, metas, [row])
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["rows"] == [want]


def test_date_golden_bytes():
    # DATE: 3-byte LE of year<<9 | month<<5 | day
    packed = (2024 << 9) | (3 << 5) | 5
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", [B.MYSQL_TYPE_DATE], [b""])
    w.rows(B.WRITE_ROWS_EVENT, 1, [B.MYSQL_TYPE_DATE], [b""],
           [[(2024, 3, 5)]])
    blob = w.getvalue()
    assert packed.to_bytes(3, "little") in blob


def test_string_meta_pack_trick():
    """CHAR byte lengths above 255 pack their high bits, inverted,
    into the metadata's real-type byte."""
    assert B._string_meta(100) == bytes([B.MYSQL_TYPE_STRING, 100])
    assert B._string_meta_length(B._string_meta(100)) == 100
    for n in (255, 256, 512, 767, 1000, 1023):
        m = B._string_meta(n)
        assert B._string_meta_length(m) == n
    # the >255 encoding really does flip bits 4-5 of byte0
    assert B._string_meta(256)[0] != B.MYSQL_TYPE_STRING
    with pytest.raises(ValueError):
        B._string_meta(1024)


def test_time2_negative_roundtrip():
    """Negative TIME2 stores the two's complement of the whole packed
    number over its full (3 + frac_bytes)-byte width."""
    # negative hour must go through the magnitude + neg flag
    with pytest.raises(ValueError):
        B.encode_time2(-1, 0, 0)
    # golden: -00:00:01 fsp=0 → 2^24 - 0x800001 = 0x7FFFFF
    assert B.encode_time2(0, 0, 1, fsp=0, neg=True) == bytes(
        [0x7F, 0xFF, 0xFF]
    )
    v, _ = B.decode_time2(bytes([0x7F, 0xFF, 0xFF]), 0, 0)
    assert v == "-00:00:01"
    # fractional negative: complement spans the fraction bytes too
    for args in ((13, 59, 7, 250000), (0, 0, 0, 500000), (838, 59, 59, 0)):
        enc = B.encode_time2(*args, fsp=6, neg=True)
        v, pos = B.decode_time2(enc, 0, 6)
        h, mi, sec, us = args
        want = f"-{h:02d}:{mi:02d}:{sec:02d}.{us:06d}"
        if (h, mi, sec, us) == (0, 0, 0, 0):
            want = want[1:]
        assert v == want and pos == len(enc)
    # -00:00:00.000000 normalizes to +zero
    v, _ = B.decode_time2(B.encode_time2(0, 0, 0, 0, fsp=6, neg=True), 0, 6)
    assert v == "00:00:00.000000"
    # and through a row image (5-tuple with the neg flag)
    types, metas = [B.MYSQL_TYPE_TIME2], [bytes([6])]
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas,
           [[(13, 59, 7, 250000, True)]])
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["rows"] == [["-13:59:07.250000"]]


def test_two_interleaved_table_maps():
    w = B.BinlogWriter()
    t_a = [B.MYSQL_TYPE_LONG]
    m_a = [b""]
    t_b = [B.MYSQL_TYPE_VARCHAR]
    m_b = [struct.pack("<H", 10)]
    w.table_map(1, "d", "a", t_a, m_a)
    w.table_map(2, "d", "b", t_b, m_b)
    w.rows(B.WRITE_ROWS_EVENT, 2, t_b, m_b, [["hi"]])
    w.rows(B.WRITE_ROWS_EVENT, 1, t_a, m_a, [[5]])
    evs = [e for e in B.parse_binlog_file(w.getvalue()) if "rows" in e]
    assert (evs[0]["table"], evs[0]["rows"]) == ("b", [["hi"]])
    assert (evs[1]["table"], evs[1]["rows"]) == ("a", [[5]])


def test_rows_event_for_unmapped_table_rejected():
    w = B.BinlogWriter()
    w.rows(B.WRITE_ROWS_EVENT, 77, [B.MYSQL_TYPE_LONG], [b""], [[1]])
    with pytest.raises(ValueError, match="unmapped"):
        list(B.parse_binlog_file(w.getvalue()))


def test_checksum_off_file_parses():
    """A 5.6.1+ file with checksum alg 0 (OFF): no trailers anywhere,
    the FDE's last body byte is the alg byte."""
    w = B.BinlogWriter.__new__(B.BinlogWriter)
    w.server_id, w.ts_sec = 1, 0
    w.buf = bytearray(B.MAGIC)

    def raw_event(etype, body):
        size = B.HEADER_LEN + len(body)
        header = struct.pack(
            "<IBIIIH", 0, etype, 1, size, len(w.buf) + size, 0
        )
        w.buf += header + body

    fde = struct.pack("<H", 4) + b"5.7.0-test".ljust(50, b"\x00")
    fde += struct.pack("<I", 0) + bytes([B.HEADER_LEN])
    fde += bytes(B._N_EVENT_TYPES) + bytes([0])  # alg = OFF
    raw_event(B.FORMAT_DESCRIPTION_EVENT, fde)
    raw_event(B.XID_EVENT, struct.pack("<Q", 321))
    evs = list(B.parse_binlog_file(bytes(w.buf)))
    assert evs[-1]["xid"] == 321


# ---------------------------------------------------------------------------
# property: file-level roundtrip through the events-table image
# ---------------------------------------------------------------------------

_ops = st.sampled_from(["INSERT", "UPDATE", "DELETE"])
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
).filter(lambda s: len(s.encode()) <= 64)
_props = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)
_record = st.tuples(
    _ops,
    st.integers(min_value=-(2**62), max_value=2**62),      # event_id
    st.integers(min_value=0, max_value=(2**32 - 1) * 10**6  # ts_us in
                ),                                          # u32-seconds range
    st.integers(min_value=-(2**62), max_value=2**62),      # user_id
    _text,                                                  # event_type
    st.floats(allow_nan=False, width=64),                   # value
    _props,                                                 # props
)


@settings(max_examples=40, deadline=None)
@given(st.lists(_record, min_size=1, max_size=130))
def test_file_roundtrip_property(records):
    blob = B.encode_binlog_file(records)
    got = []
    for ev in B.parse_binlog_file(blob):
        op = B._EVENT_TO_OP.get(ev["type"])
        if op is None:
            continue
        for row in ev["rows"]:
            img = row[1] if op == "UPDATE" else row
            got.append((op, *img))
    assert got == [tuple(r) for r in records]


def test_transaction_choreography():
    """>_TXN_ROWS records split into GTID/BEGIN/TABLE_MAP/…/XID
    transactions with monotone gno."""
    n = B._TXN_ROWS + 3
    recs = [("INSERT", i, 1000 + i, 1, "signup", 0.5, "{}") for i in range(n)]
    evs = list(B.parse_binlog_file(B.encode_binlog_file(recs)))
    gnos = [e["gno"] for e in evs if e["type"] == B.GTID_EVENT]
    xids = [e["xid"] for e in evs if e["type"] == B.XID_EVENT]
    begins = [e for e in evs if e["type"] == B.QUERY_EVENT]
    assert gnos == [1, 2] and xids == [1, 2] and len(begins) == 2
    n_rows = sum(len(e["rows"]) for e in evs if "rows" in e)
    assert n_rows == n


# ---------------------------------------------------------------------------
# the Spark path (one distributed smoke; the oracle gate covers scale)
# ---------------------------------------------------------------------------


def test_read_binlog_files_from_disk(spark, tmp_path):
    """The production path: rotated binlog FILES on storage →
    binaryFile source → parsed change rows."""
    from replicator_spark.sources.binlog import read_binlog_files

    recs_a = [("INSERT", 1, 5_000_000, 10, "signup", 1.0, "{}"),
              ("DELETE", 2, 6_000_000, 11, "error", 2.0, "{}")]
    recs_b = [("UPDATE", 3, 7_000_000, 12, "click", 3.0, '{"k":1}')]
    (tmp_path / "binlog.000001").write_bytes(B.encode_binlog_file(recs_a))
    (tmp_path / "binlog.000002").write_bytes(B.encode_binlog_file(recs_b))
    got = sorted(
        read_binlog_files(spark, str(tmp_path)).collect(),
        key=lambda r: r["event_id"],
    )
    assert [tuple(r)[:7] for r in got] == recs_a + recs_b
    # rows carry the file/pos checkpoint coordinates
    assert [r["source_file"] for r in got] == [
        "binlog.000001", "binlog.000001", "binlog.000002"
    ]
    assert all(r["log_pos"] > 4 for r in got)
    # within a file, log_pos is monotone in event order
    assert got[0]["log_pos"] < got[1]["log_pos"]
    # file-level parallelism: one input partition per file, no shuffle
    assert "Exchange" not in read_binlog_files(
        spark, str(tmp_path)
    )._jdf.queryExecution().executedPlan().toString()


def test_resume_after_file_pos(spark, tmp_path):
    """File/pos resume (the reference's non-GTID checkpoint mode):
    resuming AFTER a stored (file, pos) yields exactly the rows the
    first consumer had not yet applied."""
    from replicator_spark.sources.binlog import (
        read_binlog_files,
        resume_after,
    )

    # distinct ops → distinct ROWS events → distinct log_pos (a
    # checkpoint is per-EVENT: rows sharing one multi-row event share
    # its position, exactly as on a real binlog)
    (tmp_path / "binlog.000001").write_bytes(B.encode_binlog_file(
        [("INSERT", 1, 1_000_000, 1, "signup", 1.0, "{}"),
         ("UPDATE", 2, 2_000_000, 2, "click", 2.0, "{}")]))
    (tmp_path / "binlog.000002").write_bytes(B.encode_binlog_file(
        [("DELETE", 3, 3_000_000, 3, "error", 3.0, "{}")]))
    rows = read_binlog_files(spark, str(tmp_path))
    all_rows = sorted(rows.collect(), key=lambda r: r["event_id"])
    # checkpoint taken after applying event 1
    ckpt = all_rows[0]
    resumed = resume_after(
        rows, ckpt["source_file"], ckpt["log_pos"]
    ).collect()
    assert sorted(r["event_id"] for r in resumed) == [2, 3]
    # a checkpoint at the end of file 1 resumes exactly at file 2
    resumed2 = resume_after(rows, "binlog.000001", 10**9).collect()
    assert [r["event_id"] for r in resumed2] == [3]


def test_spark_binlog_roundtrip(spark, sf_dir):
    from replicator_spark.cdc.envelope import OP_CASE_SQL
    from replicator_spark.session import read_table
    from replicator_spark.sources.binlog import binlog_roundtrip_query

    import pyspark.sql.functions as F

    got = binlog_roundtrip_query(spark, sf_dir)
    want = (
        read_table(spark, sf_dir, "events")
        .select(
            F.expr(OP_CASE_SQL).alias("op"),
            "event_id",
            F.expr("ts div 1000").alias("ts_us"),
            "user_id", "event_type", "value", "props",
        )
        .where(F.col("op") != "QUERY")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_wire_gtids_feed_safe_watermark(spark):
    """Composition: GTID events decoded from the WIRE feed the
    checkpoint algebra (cdc/checkpoint.py safe_watermark), which must
    stop at the first gno hole per server — the GtidSetAlgebra
    safe-checkpoint rule computed from real bytes."""
    from replicator_spark.cdc.checkpoint import safe_watermark

    sid_a, sid_b = bytes([1] * 16), bytes([2] * 16)
    w = B.BinlogWriter()
    # server A acks 1,2,3,5 (hole at 4); server B acks 1,2
    for sid, gnos in ((sid_a, (1, 2, 3, 5)), (sid_b, (1, 2))):
        for g in gnos:
            w.gtid(sid, g)
            w.query("BEGIN")
            w.xid(g)
    acked = [
        (ev["sid"].hex(), ev["gno"])
        for ev in B.parse_binlog_file(w.getvalue())
        if ev["type"] == B.GTID_EVENT
    ]
    df = spark.createDataFrame(acked, "server_uuid string, gno long")
    got = {
        r["server_uuid"]: (r["safe_checkpoint"], r["acked_contiguous"])
        for r in safe_watermark(df, "server_uuid", "gno").collect()
    }
    assert got == {sid_a.hex(): (3, 3), sid_b.hex(): (2, 2)}


def test_fde_post_header_lengths_match_bodies():
    """A spec-compliant reader seeks post_header_len[type-1] bytes into
    each event; the writer's declared lengths must not exceed what it
    actually emits (GTID's fixed post-header must be exactly present)."""
    w = B.BinlogWriter()
    w.gtid(bytes(16), 7, last_committed=3, sequence_number=4)
    w.query("BEGIN")
    w.table_map(1, "d", "t", [B.MYSQL_TYPE_LONG], [b""])
    w.rows(B.WRITE_ROWS_EVENT, 1, [B.MYSQL_TYPE_LONG], [b""], [[1]])
    w.xid(1)
    w.rotate("next.bin")
    blob = w.getvalue()
    # read the declared table out of the FDE
    pos = 4
    _, _, _, size, _, _ = struct.unpack_from("<IBIIIH", blob, pos)
    fde_body = blob[pos + B.HEADER_LEN : pos + size - 4]
    ph = fde_body[2 + 50 + 4 + 1 : 2 + 50 + 4 + 1 + B._N_EVENT_TYPES]
    assert ph[B.GTID_EVENT - 1] == 42
    assert ph[B.FORMAT_DESCRIPTION_EVENT - 1] == len(fde_body) - 1
    # walk every event: body length >= declared post-header length
    pos = 4
    while pos < len(blob):
        _, etype, _, size, _, _ = struct.unpack_from("<IBIIIH", blob, pos)
        body_len = size - B.HEADER_LEN - 4  # minus CRC trailer
        assert body_len >= ph[etype - 1], (etype, body_len, ph[etype - 1])
        if etype == B.GTID_EVENT:
            assert body_len == 42
        pos += size


def test_corrupted_fde_crc_is_corruption_not_checksum_off():
    w = B.BinlogWriter()
    w.xid(1)
    blob = bytearray(w.getvalue())
    # corrupt a byte inside the FDE's server-version field
    blob[4 + B.HEADER_LEN + 10] ^= 0xFF
    with pytest.raises(ValueError, match="FORMAT_DESCRIPTION"):
        list(B.parse_binlog_file(bytes(blob)))


def test_partial_row_image_rejected():
    """binlog_row_image=MINIMAL-style present bitmaps (cleared bits)
    must be rejected loudly — decoding would misalign silently."""
    w = B.BinlogWriter()
    types, metas = [B.MYSQL_TYPE_LONG, B.MYSQL_TYPE_LONG], [b"", b""]
    w.table_map(1, "d", "t", types, metas)
    # hand-build a WRITE_ROWS body with only column 0 present
    body = (1).to_bytes(6, "little") + struct.pack("<H", 0)
    body += struct.pack("<H", 2)
    body += B._lenenc(2)
    body += bytes([0b01])          # present: col 0 only
    body += bytes([0b00])          # null bitmap over 1 present col
    body += struct.pack("<i", 5)   # the single present value
    w._event(B.WRITE_ROWS_EVENT, body)
    with pytest.raises(ValueError, match="FULL"):
        list(B.parse_binlog_file(w.getvalue()))


def test_binlog_files_stream_exactly_once_across_restart(spark, tmp_path):
    """The streaming reader decodes each rotated file exactly once: a
    second lifetime over the same checkpoint picks up ONLY files that
    arrived after the first drained — BinaryLogSupplier's
    resume-from-checkpoint contract, carried by the file-stream
    seen-files log."""
    from replicator_spark.sources.binlog import read_binlog_files

    logs = tmp_path / "logs"
    logs.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (logs / "binlog.000001").write_bytes(
        B.encode_binlog_file(
            [("INSERT", 1, 5_000_000, 10, "signup", 1.0, "{}"),
             ("DELETE", 2, 6_000_000, 11, "error", 2.0, "{}")]
        )
    )

    def drain():
        q = (
            read_binlog_files(spark, str(logs), stream=True)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got1 = {r["event_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 2}
    (logs / "binlog.000002").write_bytes(
        B.encode_binlog_file(
            [("UPDATE", 3, 7_000_000, 12, "click", 3.0, "{}")]
        )
    )
    drain()  # restart lifetime: only the new file decodes
    rows = spark.read.parquet(out).collect()
    assert {r["event_id"] for r in rows} == {1, 2, 3}
    assert len(rows) == 3  # no re-decode of file 1


def test_run_stream_binlog_source(spark, tmp_path):
    """run_stream with source.type=binlog_files composes the tailed
    wire decode into the same per-epoch foreachBatch pipeline."""
    from replicator_spark.runner import run_stream

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "binlog.000001").write_bytes(
        B.encode_binlog_file(
            [("INSERT", 1, 5_000_000, 10, "signup", 1.0, "{}"),
             ("INSERT", 2, 6_000_000, 11, "signup", 2.0, "{}"),
             ("DELETE", 3, 7_000_000, 12, "error", 3.0, "{}")]
        )
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_stream(
        spark, None,
        {"source.type": "binlog_files", "source.binlog.path": str(logs),
         "applier.type": "count"},
        out, ckpt,
    )
    got = {
        (r["op"], r["n_events"])
        for r in spark.read.parquet(out + "/epoch=0").collect()
    }
    assert got == {("INSERT", 2), ("DELETE", 1)}

    from replicator_spark.runner import run_batch

    with pytest.raises(ValueError, match="source.type"):
        run_batch(spark, None, {"source.type": "nope"})


def test_enum_set_under_string_decode():
    """ENUM/SET ride MYSQL_TYPE_STRING with their real type in meta[0]
    (247/248); the value is a 1/2-byte 1-based index (ENUM) or a 1..8
    byte bitmask (SET) — the codec transports the raw int, and a later
    string column in the same row stays aligned."""
    types = [B.MYSQL_TYPE_STRING] * 3 + [B.MYSQL_TYPE_VARCHAR]
    metas = [
        B.enum_meta(3),       # 1-byte ENUM
        B.enum_meta(300),     # 2-byte ENUM (>255 labels)
        B.set_meta(10),       # 2-byte SET bitmask
        struct.pack("<H", 32),
    ]
    assert metas[0] == bytes([247, 1])
    assert metas[1] == bytes([247, 2])
    assert metas[2] == bytes([248, 2])
    rows = [[2, 290, 0b1000000011, "after"], [0, None, 0, ""]]
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas, [list(r) for r in rows])
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["rows"] == rows


def test_enum_set_hand_built_bytes():
    """Golden bytes: a 1-byte ENUM index written by hand decodes to
    the raw index (the post-client label mapping is cdc/decode's)."""
    types, metas = [B.MYSQL_TYPE_STRING], [bytes([247, 1])]  # ENUM, 1B
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas)
    # hand-build a row: null bitmap + a 1-byte enum index
    body = (1).to_bytes(6, "little") + struct.pack("<H", 0)
    body += struct.pack("<H", 2) + B._lenenc(1) + bytes([0xFF])
    body += bytes([0]) + bytes([2])
    w._event(B.WRITE_ROWS_EVENT, body)
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["rows"] == [[2]]


def test_unknown_real_type_under_string_rejected():
    """A STRING-packed real type that is neither STRING nor ENUM/SET
    must reject rather than misalign the rest of the row."""
    types, metas = [B.MYSQL_TYPE_STRING], [bytes([246, 1])]
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas)
    body = (1).to_bytes(6, "little") + struct.pack("<H", 0)
    body += struct.pack("<H", 2) + B._lenenc(1) + bytes([0xFF])
    body += bytes([0]) + bytes([2])
    w._event(B.WRITE_ROWS_EVENT, body)
    with pytest.raises(ValueError, match="real type"):
        list(B.parse_binlog_file(w.getvalue()))


def test_year_zero_roundtrip():
    types, metas = [B.MYSQL_TYPE_YEAR, B.MYSQL_TYPE_YEAR], [b"", b""]
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas, [[0, 2024]])
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["rows"] == [[0, 2024]]


def test_wire_op_is_authoritative_in_runner(spark, tmp_path):
    """A WRITE_ROWS row whose event_type payload would re-classify as
    QUERY must SURVIVE the augmenter's QUERY gate: the wire op is the
    truth (re-deriving from the payload would silently drop a real row
    change)."""
    from replicator_spark.runner import run_batch

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "binlog.000001").write_bytes(
        B.encode_binlog_file(
            # 'view' is outside the payload op mapping (ELSE 'QUERY')
            [("INSERT", 1, 5_000_000, 10, "view", 1.0, "{}"),
             ("DELETE", 2, 6_000_000, 11, "error", 2.0, "{}")]
        )
    )
    got = {
        (r["op"], r["n_events"])
        for r in run_batch(
            spark, None,
            {"source.type": "binlog_files",
             "source.binlog.path": str(logs),
             "applier.type": "count"},
        ).collect()
    }
    assert got == {("INSERT", 1), ("DELETE", 1)}


def test_snapshot_to_binlog_files_uniform_stream(spark, sf_dir, tmp_path):
    """The flusher analog: a snapshot written AS binlog files, plus an
    incremental file landing later, is consumed as ONE uniform wire
    stream — the tail decodes both with no special casing and
    exactly-once across the arrival."""
    from replicator_spark.session import read_table
    from replicator_spark.sources.binlog import (
        encode_binlog_file,
        read_binlog_files,
        snapshot_to_binlog_files,
    )
    import pyspark.sql.functions as F

    logs = tmp_path / "logs"
    snap = (
        read_table(spark, sf_dir, "customer")
        .limit(50)
        .select(
            F.lit("INSERT").alias("op"),
            (-F.col("c_custkey")).alias("event_id"),
            F.lit(1_000_000).alias("ts_us"),
            F.col("c_custkey").alias("user_id"),
            F.lit("snapshot").alias("event_type"),
            F.col("c_acctbal").cast("double").alias("value"),
            F.col("c_mktsegment").alias("props"),
        )
    )
    files = snapshot_to_binlog_files(snap, str(logs))
    assert files and all(f.startswith("binlog.") for f in files)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            read_binlog_files(spark, str(logs), stream=True)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 50
    # incremental change lands later; only IT decodes on the next drain
    (logs / "binlog.9999").write_bytes(
        encode_binlog_file(
            [("UPDATE", 1, 2_000_000, 1, "click", 9.0, "{}")]
        )
    )
    drain()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 51
    snap_rows = [r for r in rows if r["event_type"] == "snapshot"]
    assert len(snap_rows) == 50 and all(r["op"] == "INSERT" for r in snap_rows)
    (upd,) = [r for r in rows if r["op"] == "UPDATE"]
    assert upd["value"] == 9.0 and upd["event_id"] == 1


def test_json_column_composes_with_jsonb_codec():
    """MYSQL_TYPE_JSON: the wire value is a length-prefixed JSONB
    document — the same binary-JSON layout cdc/jsonb.py decodes in the
    reference's post-client pipeline; here the two codecs compose at
    the row-image level."""
    import json

    types, metas = [B.MYSQL_TYPE_LONG, B.MYSQL_TYPE_JSON], [b"", bytes([4])]
    doc = {"k": 1, "arr": [1, 2, "x"], "nested": {"b": True, "n": None},
           "s": "日本語", "f": 2.5}
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas, [[7, doc], [8, None]])
    evs = list(B.parse_binlog_file(w.getvalue()))
    (r1, r2) = evs[-1]["rows"]
    assert r1[0] == 7 and json.loads(r1[1]) == doc
    assert r2 == [8, None]  # NULL JSON rides the null bitmap


# random-schema fuzz: any mix of supported types, values, and NULLs
# must roundtrip through a rows event byte-exactly
_COLSPECS = {
    "tiny": (B.MYSQL_TYPE_TINY, b"",
             st.integers(min_value=-128, max_value=127)),
    "short": (B.MYSQL_TYPE_SHORT, b"",
              st.integers(min_value=-(2**15), max_value=2**15 - 1)),
    "int24": (B.MYSQL_TYPE_INT24, b"",
              st.integers(min_value=-(2**23), max_value=2**23 - 1)),
    "long": (B.MYSQL_TYPE_LONG, b"",
             st.integers(min_value=-(2**31), max_value=2**31 - 1)),
    "longlong": (B.MYSQL_TYPE_LONGLONG, b"",
                 st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    "double": (B.MYSQL_TYPE_DOUBLE, bytes([8]),
               st.floats(allow_nan=False, width=64)),
    "varchar1": (B.MYSQL_TYPE_VARCHAR, struct.pack("<H", 80),
                 st.text(max_size=20).filter(
                     lambda s: len(s.encode()) <= 80)),
    "varchar2": (B.MYSQL_TYPE_VARCHAR, struct.pack("<H", 400),
                 st.text(max_size=120).filter(
                     lambda s: len(s.encode()) <= 400)),
    "char2": (B.MYSQL_TYPE_STRING, B._string_meta(600),
              st.text(max_size=150).filter(
                  lambda s: len(s.encode()) <= 600)),
    "blob": (B.MYSQL_TYPE_BLOB, bytes([2]),
             st.binary(max_size=300)),
    "year": (B.MYSQL_TYPE_YEAR, b"",
             st.sampled_from([0] + list(range(1901, 2156)))),
    "ts2": (B.MYSQL_TYPE_TIMESTAMP2, bytes([6]),
            st.integers(min_value=0, max_value=(2**32 - 1)) .map(
                lambda s: s * 1_000_000 + (s % 1_000_000))),
    # legacy pre-5.6.4 TIMESTAMP: second-aligned epoch-µs (no
    # fractional storage in the v0 format)
    "ts0": (B.MYSQL_TYPE_TIMESTAMP, b"",
            st.integers(min_value=0, max_value=(2**32 - 1)).map(
                lambda s: s * 1_000_000)),
    # ENUM/SET: packed under MYSQL_TYPE_STRING with real type in
    # meta[0] — 1/2-byte 1-based index, 1/2-byte bitmask
    "enum1": (B.MYSQL_TYPE_STRING, B.enum_meta(7),
              st.integers(min_value=0, max_value=7)),
    "enum2": (B.MYSQL_TYPE_STRING, B.enum_meta(300),
              st.integers(min_value=0, max_value=300)),
    "set1": (B.MYSQL_TYPE_STRING, B.set_meta(8),
             st.integers(min_value=0, max_value=255)),
    "set2": (B.MYSQL_TYPE_STRING, B.set_meta(16),
             st.integers(min_value=0, max_value=2**16 - 1)),
    "bit8": (B.MYSQL_TYPE_BIT, B.bit_meta(8),
             st.integers(min_value=0, max_value=255)),
    "bit64": (B.MYSQL_TYPE_BIT, B.bit_meta(64),
              st.integers(min_value=0, max_value=2**64 - 1)),
    # BINARY(n): raw non-UTF-8 bytes under MYSQL_TYPE_STRING
    "binary16": (B.MYSQL_TYPE_STRING, B._string_meta(16),
                 st.binary(min_size=1, max_size=16).filter(
                     lambda b: not _is_utf8(b))),
}


def _is_utf8(b: bytes) -> bool:
    try:
        b.decode()
        return True
    except UnicodeDecodeError:
        return False


def _closure_image(buf: bytes, pos: int, decoders: list):
    """The reference row-image walk: the null bitmap, then one
    `_compile_decoders` closure call per non-NULL column."""
    nb = (len(decoders) + 7) // 8
    nullbits = buf[pos : pos + nb]
    pos += nb
    row = []
    for i, dec in enumerate(decoders):
        if nullbits[i >> 3] & (1 << (i & 7)):
            row.append(None)
        else:
            v, pos = dec(buf, pos)
            row.append(v)
    return row, pos


def _as_collated(v, coll):
    """What a character column written from ``v`` decodes to under
    collation ``coll``: the writer stores str as utf-8; binary gives
    the raw bytes back, a text codec decodes them (raw on failure)."""
    raw = v.encode() if isinstance(v, str) else v
    codec = B._collation_codec(coll)
    try:
        return raw if codec is None else raw.decode(codec)
    except UnicodeDecodeError:
        return raw


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_random_schema_rows_roundtrip(data):
    """Any mix of types, NULLs and (optionally) charset TLVs
    roundtrips through a rows event, and the generated image decoder
    returns exactly what the per-column closures return — over narrow
    tables and over tables wider than 8 columns (a multi-byte NULL
    bitmap)."""
    keys = data.draw(st.one_of(
        st.lists(st.sampled_from(sorted(_COLSPECS)), min_size=1,
                 max_size=8),
        st.lists(st.sampled_from(sorted(_COLSPECS)), min_size=9,
                 max_size=16),
    ))
    types = [_COLSPECS[k][0] for k in keys]
    metas = [_COLSPECS[k][1] for k in keys]
    n_rows = data.draw(st.integers(min_value=1, max_value=5))
    rows = []
    for _ in range(n_rows):
        row = []
        for k in keys:
            if data.draw(st.booleans()) and data.draw(st.booleans()):
                row.append(None)  # ~25% NULLs exercise the bitmap
            else:
                row.append(data.draw(_COLSPECS[k][2]))
        rows.append(row)
    charsets = None
    if data.draw(st.booleans()):
        # latin1 / binary / utf8mb4 per character column
        charsets = {
            i: data.draw(st.sampled_from([8, 63, 255]))
            for i, (t, m) in enumerate(zip(types, metas))
            if B._is_character_col(t, m)
        }
    w = B.BinlogWriter()
    w.table_map(5, "d", "t", types, metas, charsets=charsets)
    w.rows(B.WRITE_ROWS_EVENT, 5, types, metas,
           [list(r) for r in rows])
    evs = list(B.parse_binlog_file(w.getvalue()))
    want = [
        [_as_collated(v, charsets[i])
         if charsets and i in charsets and v is not None else v
         for i, v in enumerate(r)]
        for r in rows
    ]
    assert evs[-1]["rows"] == want
    # generated decoder == closures, value for value and byte for byte
    tm = B._TableMap("d", "t", types, metas, col_charsets=charsets)
    encoders = B.BinlogWriter._compile_encoders(types, metas)
    buf = b"".join(B.BinlogWriter._image(r, encoders) for r in rows)
    pos_gen = pos_ref = 0
    for _ in rows:
        got, pos_gen = tm.image(buf, pos_gen)
        ref, pos_ref = _closure_image(buf, pos_ref, tm.decoders)
        assert got == ref and pos_gen == pos_ref
    assert pos_gen == len(buf)


# legacy TIME/DATETIME take component tuples on the encode side and
# return fsp=0 strings on decode (the same asymmetry as their v2
# twins, which the shared identity fuzz therefore can't cover): fuzz
# them against the expected string directly
@settings(max_examples=50, deadline=None)
@given(
    h=st.integers(min_value=0, max_value=838),
    mi=st.integers(min_value=0, max_value=59),
    s=st.integers(min_value=0, max_value=59),
    neg=st.booleans(),
)
def test_legacy_time_v0_component_fuzz(h, mi, s, neg):
    enc = B.encode_time_v0(h, mi, s, neg=neg)
    assert len(enc) == 3
    sign = "-" if neg and (h, mi, s) != (0, 0, 0) else ""
    assert B.decode_time_v0(enc, 0)[0] == f"{sign}{h:02d}:{mi:02d}:{s:02d}"


@settings(max_examples=50, deadline=None)
@given(
    y=st.integers(min_value=1000, max_value=9999),
    mo=st.integers(min_value=1, max_value=12),
    d=st.integers(min_value=1, max_value=31),
    h=st.integers(min_value=0, max_value=23),
    mi=st.integers(min_value=0, max_value=59),
    s=st.integers(min_value=0, max_value=59),
)
def test_legacy_datetime_v0_component_fuzz(y, mo, d, h, mi, s):
    enc = B.encode_datetime_v0(y, mo, d, h, mi, s)
    assert len(enc) == 8
    assert B.decode_datetime_v0(enc, 0)[0] == (
        f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"
    )


# ---------------------------------------------------------------------------
# GTID coordinates + GTID-set resume (the reference's primary
# checkpoint mode, BinaryLogSupplier.java:206-228)
# ---------------------------------------------------------------------------


def _recs(ids, op="INSERT", user=10):
    return [(op, i, i * 1_000_000, user, "signup", float(i), "{}")
            for i in ids]


def test_gtid_coordinates_on_file_rows(spark, tmp_path):
    """Every decoded row carries its enclosing transaction's (uuid,
    gno): 130 records chunk into txns 1,2,3 at _TXN_ROWS=64."""
    from replicator_spark.sources.binlog import _SID_UUID, read_binlog_files

    (tmp_path / "binlog.000001").write_bytes(
        B.encode_binlog_file(_recs(range(1, 131)))
    )
    rows = sorted(
        read_binlog_files(spark, str(tmp_path)).collect(),
        key=lambda r: r["event_id"],
    )
    assert {r["gtid_uuid"] for r in rows} == {_SID_UUID}
    seqs = [r["gtid_seq"] for r in rows]
    assert seqs == [1] * 64 + [2] * 64 + [3] * 2


def test_parse_gtid_set_grammar():
    from replicator_spark.sources.binlog import parse_gtid_set

    got = parse_gtid_set(
        "AAAAAAAA-0000-0000-0000-000000000001:1-5:8,"
        " bbbbbbbb-0000-0000-0000-000000000002:7-7"
    )
    assert got == {
        "aaaaaaaa-0000-0000-0000-000000000001": [(1, 5), (8, 8)],
        "bbbbbbbb-0000-0000-0000-000000000002": [(7, 7)],
    }
    with pytest.raises(ValueError, match="intervals"):
        parse_gtid_set("aaaaaaaa-0000-0000-0000-000000000001")
    with pytest.raises(ValueError, match="inverted"):
        parse_gtid_set("a:5-3")


def test_resume_after_gtid(spark, tmp_path):
    """The client skips exactly the transactions INSIDE the stored
    set; an unseen server UUID replays in full."""
    from replicator_spark.sources.binlog import (
        _SID_UUID,
        read_binlog_files,
        resume_after_gtid,
    )

    (tmp_path / "binlog.000001").write_bytes(
        B.encode_binlog_file(_recs(range(1, 131)))  # txns 1,2,3
    )
    rows = read_binlog_files(spark, str(tmp_path))
    r1 = resume_after_gtid(rows, f"{_SID_UUID}:1-2")
    assert sorted(r["gtid_seq"] for r in r1.collect()) == [3, 3]
    # multi-interval: skip txns 1 and 3, replay txn 2
    r2 = resume_after_gtid(rows, f"{_SID_UUID}:1-1:3")
    assert {r["gtid_seq"] for r in r2.collect()} == {2}
    # a set naming only an unknown server skips nothing
    r3 = resume_after_gtid(
        rows, "ffffffff-0000-0000-0000-00000000000f:1-999"
    )
    assert r3.count() == 130
    # a server id that needs SQL quoting is a literal, not SQL
    assert resume_after_gtid(rows, "it's-no-uuid:1-999").count() == 130
    # the filter is map-side: no exchange in the plan
    assert "Exchange" not in (
        r1._jdf.queryExecution().executedPlan().toString()
    )


def test_resume_after_safe_acks_stops_at_hole(spark, tmp_path):
    """Composed with the GtidSetAlgebra scan: acks {1, 3} have a hole
    at 2, so the safe set is 1-1 — transactions 2 AND 3 replay (3 was
    acked, but past the hole it is NOT safe)."""
    from replicator_spark.sources.binlog import (
        _SID_UUID,
        read_binlog_files,
        resume_after_safe_acks,
    )

    (tmp_path / "binlog.000001").write_bytes(
        B.encode_binlog_file(_recs(range(1, 131)))  # txns 1,2,3
    )
    rows = read_binlog_files(spark, str(tmp_path))
    acks = spark.createDataFrame(
        [(f"{_SID_UUID}:1-1",), (f"{_SID_UUID}:3-3",)], "gtid string"
    )
    got = resume_after_safe_acks(rows, acks)
    assert sorted({r["gtid_seq"] for r in got.collect()}) == [2, 3]
    # no acks at all → nothing is safe → full replay
    empty = spark.createDataFrame([], "gtid string")
    assert resume_after_safe_acks(rows, empty).count() == 130


def test_gtid_resume_replays_null_coordinate_rows(spark, tmp_path):
    """Rows with NULL GTID coordinates — rows preceding any GTID event
    in the file, or a gtid_mode=OFF server's log — must REPLAY under
    GTID resume, not vanish into a NULL predicate: the module's
    at-least-once policy (the same rule file/pos resume applies to
    unorderable file names)."""
    from replicator_spark.sources.binlog import (
        _EV_METAS,
        _EV_TYPES,
        _SID,
        _SID_UUID,
        _TABLE_ID,
        read_binlog_files,
        resume_after_gtid,
    )

    w = B.BinlogWriter()
    # two rows BEFORE any GTID event (coordinate-less)
    w.table_map(_TABLE_ID, "testdb", "events", _EV_TYPES, _EV_METAS)
    w.rows(B.WRITE_ROWS_EVENT, _TABLE_ID, _EV_TYPES, _EV_METAS,
           [[1, 1_000_000, 10, "signup", 1.0, "{}"],
            [2, 2_000_000, 10, "signup", 2.0, "{}"]])
    # then a normal transaction the stored set covers
    w.gtid(_SID, 1)
    w.query("BEGIN")
    w.table_map(_TABLE_ID, "testdb", "events", _EV_TYPES, _EV_METAS)
    w.rows(B.WRITE_ROWS_EVENT, _TABLE_ID, _EV_TYPES, _EV_METAS,
           [[3, 3_000_000, 10, "signup", 3.0, "{}"]])
    w.xid(1)
    (tmp_path / "binlog.000001").write_bytes(w.getvalue())

    rows = read_binlog_files(spark, str(tmp_path))
    got = resume_after_gtid(rows, f"{_SID_UUID}:1")
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == [1, 2]  # covered txn skipped, NULL-coord rows replay


def test_resume_after_numeric_suffix_rollover(spark, tmp_path):
    """MySQL extends binlog numbering past 6 digits: binlog.1000000
    rotates AFTER binlog.999999 though it sorts lexicographically
    before it — the file/pos predicate must compare the numeric
    suffix."""
    from replicator_spark.sources.binlog import (
        read_binlog_files,
        resume_after,
    )

    (tmp_path / "binlog.999999").write_bytes(
        B.encode_binlog_file(_recs([1, 2]))
    )
    (tmp_path / "binlog.1000000").write_bytes(
        B.encode_binlog_file(_recs([3]))
    )
    rows = read_binlog_files(spark, str(tmp_path))
    resumed = resume_after(rows, "binlog.999999", 10**9)
    assert [r["event_id"] for r in resumed.collect()] == [3]


def test_update_wire_before_image_surfaced(spark, tmp_path):
    """UPDATE rows surface the wire before-image's payload columns —
    on real binlog_row_image=FULL logs these are authoritative, and
    consumers can prefer them over the envelope's lag heuristic."""
    from replicator_spark.sources.binlog import read_binlog_files

    (tmp_path / "binlog.000001").write_bytes(
        B.encode_binlog_file(
            [("INSERT", 1, 1_000_000, 1, "signup", 1.0, "{}"),
             ("UPDATE", 2, 2_000_000, 1, "click", 2.0, '{"k":1}')]
        )
    )
    rows = {
        r["event_id"]: r
        for r in read_binlog_files(spark, str(tmp_path)).collect()
    }
    # the synthesized UPDATE before-image is the zeroed row
    assert rows[2]["value_before_wire"] == 0.0
    assert rows[2]["props_before_wire"] == "{}"
    assert rows[1]["value_before_wire"] is None
    assert rows[1]["props_before_wire"] is None


def test_encode_nulls_and_big_ints_exact(spark):
    """Both seams are mapInArrow, not pandas: NULL longs hit the
    writer's null-bitmap path (not NaN), and int64 above 2^53 keeps
    full precision through the roundtrip."""
    from replicator_spark.sources.binlog import (
        BINLOG_ROWS_GTID_SCHEMA,
        _encode_partition,
        _parse_partition,
    )

    big = (1 << 60) + 7
    src = spark.createDataFrame(
        [("INSERT", big, 1_000_000, None, "signup", None, "{}")],
        "op string, event_id long, ts_us long, user_id long,"
        " event_type string, value double, props string",
    )
    blobs = src.mapInArrow(_encode_partition, "data binary")
    got = blobs.mapInArrow(
        _parse_partition, BINLOG_ROWS_GTID_SCHEMA
    ).collect()
    assert len(got) == 1
    assert got[0]["event_id"] == big
    assert got[0]["user_id"] is None and got[0]["value"] is None


def test_big_int_beside_null_decodes_exact(spark, tmp_path):
    """A BIGINT above 2^53 in a column that also holds a NULL comes
    back exact through the file reader: the decoder's columns are
    typed int64 from the output schema, not a float64 column that the
    NULL would force."""
    from replicator_spark.sources.binlog import read_binlog_files

    big = 1152921504606846983  # 2^60 + 7: not a float64
    (tmp_path / "binlog.000001").write_bytes(B.encode_binlog_file([
        ("INSERT", 1, 1_000_000, big, "signup", 1.0, "{}"),
        ("INSERT", 2, 2_000_000, None, "signup", 2.0, "{}"),
    ]))
    got = {
        r["event_id"]: r["user_id"]
        for r in read_binlog_files(spark, str(tmp_path)).collect()
    }
    assert got == {1: big, 2: None}


def test_trim_import_caches_drops_only_subpackage_zipimporters(tmp_path):
    """The worker-side trim leaves one zipimporter per archive: the
    sub-package entries go, the root entry stays, and a submodule not
    imported yet still imports from the archive afterwards."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from replicator_spark.sources.binlog import _trim_import_caches

    archive = str(tmp_path / "trimpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("trimpkg/__init__.py", "")
        z.writestr("trimpkg/sub/__init__.py", "")
        z.writestr("trimpkg/sub/a.py", "A = 1\n")
        z.writestr("trimpkg/sub/b.py", "B = 2\n")

    def importers():
        return [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
            and f.archive == archive
        ]

    sys.path.insert(0, archive)
    try:
        importlib.import_module("trimpkg.sub.a")
        assert {f.prefix for f in importers()} >= {"", "trimpkg/sub/"}
        _trim_import_caches()
        assert [f.prefix for f in importers()] == [""]
        assert sys.path_importer_cache[archive].prefix == ""
        importlib.invalidate_caches()  # what the worker does per task
        assert importlib.import_module("trimpkg.sub.b").B == 2
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.startswith("trimpkg")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(archive)]:
            del sys.path_importer_cache[key]


def test_trim_import_caches_takes_python_free_jars_off_the_path(tmp_path):
    """A jar whose zip directory holds no Python (the spark-core jar on
    the worker's path) leaves `sys.path` and the importer cache, so a
    per-task cache invalidation no longer re-reads it; an archive that
    holds Python stays, `.jar` or not, and imports still work."""
    import importlib
    import sys
    import zipfile

    from replicator_spark.sources.binlog import _trim_import_caches

    java = str(tmp_path / "java-only.jar")
    with zipfile.ZipFile(java, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
        z.writestr("org/example/Main.class", b"\xca\xfe\xba\xbe")
    py_jar = str(tmp_path / "with-python.jar")
    with zipfile.ZipFile(py_jar, "w") as z:
        z.writestr("jarpkg/__init__.py", "")
        z.writestr("jarpkg/a.py", "A = 1\n")
    py_zip = str(tmp_path / "with-python.zip")
    with zipfile.ZipFile(py_zip, "w") as z:
        z.writestr("zippkg/__init__.py", "")
        z.writestr("zippkg/b.py", "B = 2\n")

    # the Java jar first, so every import below searches it (and caches
    # its directory) before it finds the package further down the path
    sys.path[0:0] = [java, py_jar, py_zip]
    try:
        importlib.import_module("jarpkg")
        importlib.import_module("zippkg")
        assert java in sys.path_importer_cache
        _trim_import_caches()
        assert java not in sys.path and java not in sys.path_importer_cache
        assert sys.path[:2] == [py_jar, py_zip]
        importlib.invalidate_caches()  # what the worker does per task
        assert importlib.import_module("jarpkg.a").A == 1
        assert importlib.import_module("zippkg.b").B == 2
    finally:
        for entry in (java, py_jar, py_zip):
            while entry in sys.path:
                sys.path.remove(entry)
        for name in [m for m in sys.modules
                     if m.split(".")[0] in ("jarpkg", "zippkg")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(str(tmp_path))]:
            del sys.path_importer_cache[key]


# ---------------------------------------------------------------------------
# reference-fixture parity: the organisms table (mysql.init.sql:3-17)
# through the wire, including the types it exercises that plain
# testdata does not — BIT(8), BINARY(16), unsigned extremes, ENUM
# ---------------------------------------------------------------------------


def test_organisms_fixture_through_the_wire(spark):
    """The reference's own integration fixture (mysql-replicator/
    src/test/resources/mysql.init.sql: INTEGER, VARCHAR utf8, five
    UNSIGNED int widths at their maxima, BIT(8), BINARY(16),
    TIMESTAMP, DECIMAL(27,9), ENUM('animalia','plantae')) transits the
    byte-level wire and lands — after the post-client mapping layer
    (`cdc/decode.py`, the MysqlTypeDeserializer analog) — exactly as
    the reference deserializes it."""
    from pyspark.sql import functions as F

    from replicator_spark.cdc.decode import (
        binary_hex,
        bit_string,
        enum_label,
        unsigned_bigint,
        unsigned_reinterpret,
    )

    types = [
        B.MYSQL_TYPE_LONG,        # id
        B.MYSQL_TYPE_VARCHAR,     # name (utf8, 30 chars -> up to 90B)
        B.MYSQL_TYPE_TINY,        # lifespan TINYINT UNSIGNED
        B.MYSQL_TYPE_SHORT,       # lifespan_small SMALLINT UNSIGNED
        B.MYSQL_TYPE_INT24,       # lifespan_medium MEDIUMINT UNSIGNED
        B.MYSQL_TYPE_LONG,        # lifespan_int INT UNSIGNED
        B.MYSQL_TYPE_LONGLONG,    # lifespan_bigint BIGINT UNSIGNED
        B.MYSQL_TYPE_BIT,         # bits bit(8)
        B.MYSQL_TYPE_STRING,      # soylent_dummy_id BINARY(16)
        B.MYSQL_TYPE_TIMESTAMP2,  # dob
        B.MYSQL_TYPE_NEWDECIMAL,  # mydecimal DECIMAL(27,9)
        B.MYSQL_TYPE_STRING,      # kingdom ENUM(2 labels)
    ]
    metas = [
        b"", struct.pack("<H", 90), b"", b"", b"", b"", b"",
        B.bit_meta(8), B._string_meta(16), bytes([0]),
        bytes([27, 9]), B.enum_meta(2),
    ]
    soylent = bytes.fromhex("000001348BB470A5129E6C8D332D8900")
    # mysql.init.sql:21 — unsigned maxima stored as their signed raw
    # reinterpretations (the wire stores bytes; sign is schema-side)
    row = [
        1, "example é",
        255 - 256,                   # TINYINT UNSIGNED max
        65535 - 65536,               # SMALLINT UNSIGNED max
        16777215 - 16777216,         # MEDIUMINT UNSIGNED max
        4294967295 - 2**32,          # INT UNSIGNED max
        18446744073709551615 - 2**64,  # BIGINT UNSIGNED max
        0b10101010,                  # bit(8)
        soylent,                     # BINARY(16)
        1_700_000_000 * 1_000_000,   # dob
        "100.000000000",             # DECIMAL(27,9)
        1,                           # ENUM 'animalia'
    ]
    w = B.BinlogWriter()
    w.table_map(7, "replicator", "organisms", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 7, types, metas, [list(row)])
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["db"] == "replicator"
    got = evs[-1]["rows"][0]
    assert got == row  # lossless transport, incl. bytes for BINARY(16)

    # post-client mapping layer — the reference's deserializer output
    df = spark.createDataFrame(
        [(got[2], got[3], got[4], got[5], got[6], got[7],
          bytearray(got[8]), got[11])],
        "tiny int, small int, medium int, big int, bigint long,"
        " bits int, soylent binary, kingdom int",
    ).select(
        unsigned_reinterpret(F.col("tiny"), 8).alias("lifespan"),
        unsigned_reinterpret(F.col("small"), 16).alias("lifespan_small"),
        unsigned_reinterpret(F.col("medium"), 24).alias("lifespan_medium"),
        unsigned_reinterpret(F.col("big"), 32).alias("lifespan_int"),
        unsigned_bigint(F.col("bigint")).alias("lifespan_bigint"),
        bit_string(F.col("bits")).alias("bits"),
        binary_hex(F.col("soylent")).alias("soylent_dummy_id"),
        enum_label(F.col("kingdom"), ("animalia", "plantae")).alias(
            "kingdom"
        ),
    )
    r = df.collect()[0]
    assert r["lifespan"] == 255
    assert r["lifespan_small"] == 65535
    assert r["lifespan_medium"] == 16777215
    assert r["lifespan_int"] == 4294967295
    assert str(r["lifespan_bigint"]) == "18446744073709551615"
    assert r["bits"] == "10101010"
    assert r["soylent_dummy_id"].lower() == soylent.hex()
    assert r["kingdom"] == "animalia"


def test_bit_widths_roundtrip():
    types = [B.MYSQL_TYPE_BIT] * 3
    metas = [B.bit_meta(1), B.bit_meta(12), B.bit_meta(64)]
    rows = [[1, 0xABC, 2**63 + 5], [0, None, 0]]
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas, [list(r) for r in rows])
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["rows"] == rows


# ---------------------------------------------------------------------------
# TRANSACTION_PAYLOAD envelope (8.0.20+ binlog_transaction_compression)
# ---------------------------------------------------------------------------


def test_transaction_payload_envelope_splices_inner_events():
    """Type-40 envelope: lenenc TLV header (compression/size/end-mark)
    + checksum-less inner event stream — the parser splices the
    wrapped BEGIN/TABLE_MAP/ROWS/XID into the stream in place, so
    GTID coordinates (written OUTSIDE the envelope, the server's
    layout) attach to the wrapped rows exactly as to plain ones."""
    w = B.BinlogWriter()
    w.gtid(B._SID, 1)
    inner = w.payload_writer()
    inner.query("BEGIN")
    inner.table_map(B._TABLE_ID, "testdb", "events",
                    B._EV_TYPES, B._EV_METAS)
    inner.rows(B.WRITE_ROWS_EVENT, B._TABLE_ID, B._EV_TYPES,
               B._EV_METAS,
               [[1, 1_000_000, 10, "signup", 1.0, "{}"],
                [2, 2_000_000, 11, "click", 2.0, "{}"]])
    inner.xid(1)
    w.transaction_payload(inner)
    w.gtid(B._SID, 2)  # a plain transaction after the envelope
    w.query("BEGIN")
    w.table_map(B._TABLE_ID, "testdb", "events",
                B._EV_TYPES, B._EV_METAS)
    w.rows(B.WRITE_ROWS_EVENT, B._TABLE_ID, B._EV_TYPES, B._EV_METAS,
           [[3, 3_000_000, 12, "view", 3.0, "{}"]])
    w.xid(2)

    evs = list(B.parse_binlog_file(w.getvalue()))
    types = [e["type"] for e in evs]
    assert B.TRANSACTION_PAYLOAD_EVENT not in types  # fully unwrapped
    assert types == [B.FORMAT_DESCRIPTION_EVENT,
                     B.GTID_EVENT, B.QUERY_EVENT, B.WRITE_ROWS_EVENT,
                     B.XID_EVENT,
                     B.GTID_EVENT, B.QUERY_EVENT, B.WRITE_ROWS_EVENT,
                     B.XID_EVENT]
    rows = [r for e in evs if e["type"] == B.WRITE_ROWS_EVENT
            for r in e["rows"]]
    assert [r[0] for r in rows] == [1, 2, 3]
    # golden header check: the body opens with the COMPRESSION TLV
    # (type 2, len 1, NONE=255-as-lenenc is 0xfc ff 00 → len 3)
    raw = w.getvalue()
    tlv = (bytes([B._PAYLOAD_COMPRESSION_FIELD]) + B._lenenc(3)
           + B._lenenc(B._PAYLOAD_COMP_NONE))
    assert tlv in raw


def test_transaction_payload_malformed_rejects():
    w = B.BinlogWriter()
    inner = w.payload_writer()
    inner.xid(1)
    w.transaction_payload(inner)
    good = w.getvalue()
    assert list(B.parse_binlog_file(good))[-1]["type"] == B.XID_EVENT

    # missing end mark: body truncated before HEADER_END
    w2 = B.BinlogWriter()
    body = (B._lenenc(B._PAYLOAD_COMPRESSION_FIELD) + B._lenenc(3)
            + B._lenenc(B._PAYLOAD_COMP_NONE))
    w2._event(B.TRANSACTION_PAYLOAD_EVENT, body)
    with pytest.raises(ValueError, match="end mark"):
        list(B.parse_binlog_file(w2.getvalue()))

    # truncated inner stream vs the declared SIZE field
    w3 = B.BinlogWriter()
    body = (B._lenenc(B._PAYLOAD_SIZE_FIELD) + B._lenenc(1)
            + B._lenenc(99) + B._lenenc(B._PAYLOAD_HEADER_END)
            + b"\x00" * 10)
    w3._event(B.TRANSACTION_PAYLOAD_EVENT, body)
    with pytest.raises(ValueError, match="truncated"):
        list(B.parse_binlog_file(w3.getvalue()))

    # unknown compression algorithm
    w4 = B.BinlogWriter()
    body = (B._lenenc(B._PAYLOAD_COMPRESSION_FIELD) + B._lenenc(1)
            + B._lenenc(7) + B._lenenc(B._PAYLOAD_HEADER_END))
    w4._event(B.TRANSACTION_PAYLOAD_EVENT, body)
    with pytest.raises(ValueError, match="compression"):
        list(B.parse_binlog_file(w4.getvalue()))

    # nested envelopes are corruption, not recursion
    w5 = B.BinlogWriter()
    outer_inner = w5.payload_writer()
    nested = outer_inner.payload_writer()
    nested.xid(1)
    outer_inner.transaction_payload(nested)
    w5.transaction_payload(outer_inner)
    with pytest.raises(ValueError, match="nested"):
        list(B.parse_binlog_file(w5.getvalue()))


def test_transaction_payload_zstd_path():
    """ZSTD(0) is the server's only real compression algorithm; the
    sandbox has no zstd binding, so the import gate must raise the
    actionable error — and when a binding IS present, the compressed
    envelope must roundtrip."""
    try:
        import zstandard  # noqa: F401
        have = True
    except ImportError:
        have = False
    w = B.BinlogWriter()
    w.gtid(B._SID, 1)
    inner = w.payload_writer()
    inner.table_map(B._TABLE_ID, "testdb", "events",
                    B._EV_TYPES, B._EV_METAS)
    inner.rows(B.WRITE_ROWS_EVENT, B._TABLE_ID, B._EV_TYPES,
               B._EV_METAS, [[1, 1_000_000, 10, "signup", 1.0, "{}"]])
    if have:
        w.transaction_payload(inner, compression=B._PAYLOAD_COMP_ZSTD)
        rows = [r for e in B.parse_binlog_file(w.getvalue())
                if e["type"] == B.WRITE_ROWS_EVENT for r in e["rows"]]
        assert rows == [[1, 1_000_000, 10, "signup", 1.0, "{}"]]
    else:
        with pytest.raises(ValueError, match="zstandard"):
            w.transaction_payload(
                inner, compression=B._PAYLOAD_COMP_ZSTD
            )


def test_envelope_rows_carry_outer_log_pos(spark, tmp_path):
    """Events spliced out of an envelope must carry the OUTER
    envelope event's log_pos (the wire's inner positions are
    envelope-relative), so log_pos stays monotonic within the file
    and file/pos resume keeps its contract across wrapped
    transactions: checkpointing after plain txn 1 must NOT drop the
    enveloped txn 2 that follows it in the file."""
    from replicator_spark.sources.binlog import (
        read_binlog_files,
        resume_after,
    )

    recs = [("INSERT", 1, 1_000_000, 10, "signup", 1.0, "{}"),
            ("INSERT", 2, 2_000_000, 10, "click", 2.0, "{}"),
            ("INSERT", 3, 3_000_000, 11, "view", 3.0, "{}")]
    blob = B.encode_binlog_file(recs, txn_ids=[1, 1, 2],
                                payload_mode="mixed")  # txn 2 wrapped
    poss = [e["log_pos"] for e in B.parse_binlog_file(blob)]
    assert poss == sorted(poss), poss  # monotonic despite the splice
    (tmp_path / "binlog.000001").write_bytes(blob)
    rows = read_binlog_files(spark, str(tmp_path)).collect()
    ckpt = max(r["log_pos"] for r in rows if r["gtid_seq"] == 1)
    resumed = resume_after(
        read_binlog_files(spark, str(tmp_path)), "binlog.000001", ckpt
    ).collect()
    assert sorted(r["event_id"] for r in resumed) == [3]


def test_json_path_escaped_quotes():
    assert B._json_path_segments('$."a\\"b"') == ['a"b']
    assert B._json_path_segments('$."a\\\\".c') == ["a\\", "c"]
    with pytest.raises(ValueError):
        B._json_path_segments('$."unterminated')


def test_rows_query_scope_ends_without_xid():
    """A transaction committed via QUERY 'COMMIT' (non-transactional
    tables write no XID) and the next GTID both end the statement
    scope — ROWS_QUERY text never leaks onto a later transaction's
    rows."""
    w = B.BinlogWriter()
    w.query("BEGIN")
    w.rows_query("INSERT INTO t VALUES (1)")
    w.table_map(B._TABLE_ID, "testdb", "events",
                B._EV_TYPES, B._EV_METAS)
    w.rows(B.WRITE_ROWS_EVENT, B._TABLE_ID, B._EV_TYPES, B._EV_METAS,
           [[1, 1_000_000, 7, "signup", 1.0, "{}"]])
    w.query("COMMIT")  # no XID
    w.query("BEGIN")
    w.table_map(B._TABLE_ID, "testdb", "events",
                B._EV_TYPES, B._EV_METAS)
    w.rows(B.WRITE_ROWS_EVENT, B._TABLE_ID, B._EV_TYPES, B._EV_METAS,
           [[2, 2_000_000, 8, "click", 2.0, "{}"]])
    w.query("COMMIT")
    rows_evs = [e for e in B.parse_binlog_file(w.getvalue())
                if e["type"] == B.WRITE_ROWS_EVENT]
    assert rows_evs[0]["rows_query"] == "INSERT INTO t VALUES (1)"
    assert rows_evs[1]["rows_query"] is None
    # GTID also opens a fresh scope
    w2 = B.BinlogWriter()
    w2.rows_query("stale")
    w2.gtid(B._SID, 1)
    w2.table_map(B._TABLE_ID, "testdb", "events",
                 B._EV_TYPES, B._EV_METAS)
    w2.rows(B.WRITE_ROWS_EVENT, B._TABLE_ID, B._EV_TYPES, B._EV_METAS,
            [[3, 3_000_000, 9, "view", 3.0, "{}"]])
    (ev,) = [e for e in B.parse_binlog_file(w2.getvalue())
             if e["type"] == B.WRITE_ROWS_EVENT]
    assert ev["rows_query"] is None


def test_encode_binlog_file_mixed_payload_mode():
    """payload_mode='mixed' wraps even-gno transactions; the decoded
    row stream and GTID coordinates are IDENTICAL to the plain
    encoding — the envelope is transport framing, not semantics."""
    recs = [("INSERT", i, i * 1_000_000, 10, "signup", float(i), "{}")
            for i in range(1, 200)]  # txns 1,2,3,4 at _TXN_ROWS=64
    plain = B.encode_binlog_file(recs)
    mixed = B.encode_binlog_file(recs, payload_mode="mixed")
    assert any(e["type"] == B.TRANSACTION_PAYLOAD_EVENT
               for e in _raw_event_types(mixed))

    def decoded(blob):
        out = []
        gno = None
        for e in B.parse_binlog_file(blob):
            if e["type"] == B.GTID_EVENT:
                gno = e["gno"]
            elif e["type"] == B.WRITE_ROWS_EVENT:
                out.extend((gno, tuple(r)) for r in e["rows"])
        return out

    assert decoded(mixed) == decoded(plain)


def _raw_event_types(blob):
    """Header-walk the raw file (no unwrap) to see envelope framing."""
    pos, out = 4, []
    while pos < len(blob):
        ts, etype, sid, size, lp, fl = struct.unpack_from(
            "<IBIIIH", blob, pos)
        out.append({"type": etype})
        pos += size
    return out


def test_partial_update_rows_reconstructs_after_image():
    """PARTIAL_UPDATE_ROWS_EVENT (type 39, binlog_row_value_options=
    PARTIAL_JSON): the after-image's JSON diff vector (REPLACE /
    INSERT / REMOVE with $-rooted paths) reconstructs the FULL after
    document against the before image — byte-for-byte what a
    full-image UPDATE of the same state decodes to (MySQL key order,
    same scalar forms). Non-JSON cells and a second, root-replaced
    JSON column ride the same row."""
    import json
    import struct as _s

    types = [B.MYSQL_TYPE_LONGLONG, B.MYSQL_TYPE_JSON,
             B.MYSQL_TYPE_JSON, B.MYSQL_TYPE_VARCHAR]
    metas = [b"", bytes([4]), bytes([4]), _s.pack("<H", 20)]
    before1 = {"a": 1, "tags": ["x", "y"], "deep": {"k": [1, 2]}}
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas)
    w.partial_update_rows(1, types, metas, [
        ([7, before1, {"n": 5}, "s"],
         [7, None, None, "s2"],
         {1: [(B._JSON_DIFF_REPLACE, "$.a", 42),
              (B._JSON_DIFF_INSERT, "$.tags[1]", "mid"),
              (B._JSON_DIFF_REMOVE, "$.deep.k[0]", None),
              (B._JSON_DIFF_INSERT, "$.b", {"new": True})],
          2: [(B._JSON_DIFF_REPLACE, "$", [1, 2, 3])]}),
    ])
    ev = list(B.parse_binlog_file(w.getvalue()))[-1]
    assert ev["type"] == B.PARTIAL_UPDATE_ROWS_EVENT
    (b, a), = ev["rows"]
    assert json.loads(a[1]) == {
        "a": 42, "tags": ["x", "mid", "y"], "deep": {"k": [2]},
        "b": {"new": True},
    }
    assert json.loads(a[2]) == [1, 2, 3]
    assert a[0] == 7 and a[3] == "s2"
    # byte parity with a FULL-image update of the same end state
    w2 = B.BinlogWriter()
    w2.table_map(1, "d", "t", types, metas)
    w2.rows(B.UPDATE_ROWS_EVENT, 1, types, metas, [
        ([7, before1, {"n": 5}, "s"],
         [7, {"a": 42, "tags": ["x", "mid", "y"], "deep": {"k": [2]},
              "b": {"new": True}}, [1, 2, 3], "s2"]),
    ])
    (b2, a2), = list(B.parse_binlog_file(w2.getvalue()))[-1]["rows"]
    assert a2 == a and b2 == b


def test_partial_update_inapplicable_diff_rejects():
    """The server validated every diff when it applied it — an
    inapplicable diff (missing member, bad path, REMOVE of the root)
    is stream corruption and must raise, never guess."""
    types = [B.MYSQL_TYPE_LONGLONG, B.MYSQL_TYPE_JSON]
    metas = [b"", bytes([4])]

    def one(diffs, before=None):
        w = B.BinlogWriter()
        w.table_map(1, "d", "t", types, metas)
        w.partial_update_rows(1, types, metas, [
            ([1, before if before is not None else {"a": 1}],
             [1, None], {1: diffs})])
        return w.getvalue()

    with pytest.raises(ValueError, match="inapplicable"):
        list(B.parse_binlog_file(
            one([(B._JSON_DIFF_REPLACE, "$.missing", 9)])))
    with pytest.raises(ValueError, match="inapplicable"):
        list(B.parse_binlog_file(
            one([(B._JSON_DIFF_REMOVE, "$.b[3]", None)],
                before={"b": [1]})))
    with pytest.raises(ValueError, match="root"):
        list(B.parse_binlog_file(
            one([(B._JSON_DIFF_REMOVE, "$", None)])))
    with pytest.raises(ValueError, match="path"):
        list(B.parse_binlog_file(
            one([(B._JSON_DIFF_REPLACE, "a.b", 1)])))
    # diffs on a non-JSON column are a writer-side error
    with pytest.raises(ValueError, match="non-JSON"):
        w = B.BinlogWriter()
        w.table_map(1, "d", "t", types, metas)
        w.partial_update_rows(1, types, metas,
                              [([1, {}], [1, None], {0: []})])


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_partial_json_random_diff_sequences_roundtrip(data):
    """Property: a random VALID diff sequence (REPLACE/REMOVE on
    existing paths, INSERT at fresh members or in-range array slots)
    applied through the wire equals applying the same operations to
    the python document directly — for any nesting the generator
    produces, and independent of diff order (the wire applies them
    sequentially, as the server did)."""
    import json

    from replicator_spark.cdc.jsonb import (
        json_value_to_jsonb,
        jsonb_to_json,
    )

    scalars = st.one_of(
        st.none(), st.booleans(),
        st.integers(min_value=-(2**40), max_value=2**40),
        st.text(max_size=8),
    )
    doc = data.draw(st.dictionaries(
        st.text(
            alphabet=st.characters(
                min_codepoint=97, max_codepoint=122),
            min_size=1, max_size=6),
        st.one_of(
            scalars,
            st.lists(scalars, max_size=4),
            st.dictionaries(
                st.text(alphabet=st.characters(min_codepoint=97,
                                               max_codepoint=122),
                        min_size=1, max_size=6),
                scalars, max_size=3),
        ),
        min_size=1, max_size=5,
    ))
    state = json.loads(json.dumps(doc))  # deep copy
    diffs = []
    for _ in range(data.draw(st.integers(min_value=1, max_value=6))):
        op = data.draw(st.sampled_from(
            [B._JSON_DIFF_REPLACE, B._JSON_DIFF_INSERT,
             B._JSON_DIFF_REMOVE]))
        keys = sorted(state)
        if op == B._JSON_DIFF_INSERT:
            k = data.draw(st.text(
                alphabet=st.characters(min_codepoint=97,
                                       max_codepoint=122),
                min_size=1, max_size=6))
            target = state.get(k)
            if isinstance(target, list):
                # in-range array insert
                idx = data.draw(st.integers(
                    min_value=0, max_value=len(target)))
                v = data.draw(scalars)
                target.insert(idx, v)
                diffs.append((op, f"$.{k}[{idx}]", v))
            elif k not in state:
                # the server only logs INSERT for FRESH members
                v = data.draw(scalars)
                state[k] = v
                diffs.append((op, f"$.{k}", v))
            else:
                continue
        elif not keys:
            continue
        else:
            k = data.draw(st.sampled_from(keys))
            if op == B._JSON_DIFF_REPLACE:
                v = data.draw(scalars)
                state[k] = v
                diffs.append((op, f"$.{k}", v))
            else:
                del state[k]
                diffs.append((op, f"$.{k}", None))
    types = [B.MYSQL_TYPE_LONGLONG, B.MYSQL_TYPE_JSON]
    metas = [b"", bytes([4])]
    w = B.BinlogWriter()
    w.table_map(9, "d", "t", types, metas)
    w.partial_update_rows(9, types, metas,
                          [([1, doc], [1, None], {1: diffs})])
    ev = list(B.parse_binlog_file(w.getvalue()))[-1]
    (before, after), = ev["rows"]
    want = jsonb_to_json(json_value_to_jsonb(state))
    assert after[1] == want
    assert json.loads(before[1]) == doc


def test_json_path_segments_grammar():
    f = B._json_path_segments
    assert f("$") == []
    assert f("$.a.b") == ["a", "b"]
    assert f("$[0][12]") == [0, 12]
    assert f('$."spaced key".x[3]') == ["spaced key", "x", 3]
    with pytest.raises(ValueError):
        f("$..a")
    with pytest.raises(ValueError):
        f("x.a")


def test_rows_query_event_attaches_statement_text(spark, tmp_path):
    """ROWS_QUERY_EVENT (binlog_rows_query_log_events=ON): the
    original statement rides with the row events it produced and its
    scope ends at the transaction's XID."""
    sql = "UPDATE events SET value = value + 1 WHERE user_id = 7"
    w = B.BinlogWriter()
    w.gtid(B._SID, 1)
    w.query("BEGIN")
    w.rows_query(sql)
    w.table_map(B._TABLE_ID, "testdb", "events",
                B._EV_TYPES, B._EV_METAS)
    w.rows(B.WRITE_ROWS_EVENT, B._TABLE_ID, B._EV_TYPES, B._EV_METAS,
           [[1, 1_000_000, 7, "signup", 1.0, "{}"]])
    w.xid(1)
    # second txn WITHOUT a rows-query: no stale attachment
    w.gtid(B._SID, 2)
    w.query("BEGIN")
    w.table_map(B._TABLE_ID, "testdb", "events",
                B._EV_TYPES, B._EV_METAS)
    w.rows(B.WRITE_ROWS_EVENT, B._TABLE_ID, B._EV_TYPES, B._EV_METAS,
           [[2, 2_000_000, 8, "click", 2.0, "{}"]])
    w.xid(2)
    evs = list(B.parse_binlog_file(w.getvalue()))
    rq = [e for e in evs if e["type"] == B.ROWS_QUERY_EVENT]
    assert [e["query"] for e in rq] == [sql]
    rows_evs = [e for e in evs if e["type"] == B.WRITE_ROWS_EVENT]
    assert rows_evs[0]["rows_query"] == sql
    assert rows_evs[1]["rows_query"] is None
    # the generic reader surfaces it as the per-record `query` column
    # (the Debezium source-info `query` analog)
    from replicator_spark.sources.binlog import read_binlog_records

    (tmp_path / "binlog.000001").write_bytes(w.getvalue())
    recs = {r["row_seq"]: r["query"]
            for r in read_binlog_records(spark, str(tmp_path)).collect()}
    assert recs == {0: sql, 1: None}
    # a long statement (>255 bytes) survives the 1-byte legacy length
    long_sql = "UPDATE t SET c = '" + "x" * 400 + "'"
    w2 = B.BinlogWriter()
    w2.rows_query(long_sql)
    ev2 = list(B.parse_binlog_file(w2.getvalue()))[-1]
    assert ev2["query"] == long_sql


def test_incident_event_refuses_replay_and_audits(spark, tmp_path):
    """INCIDENT_EVENT is the server's own possible-lost-events marker:
    the file readers — the rows, records and DDL channels alike —
    REFUSE to replay past it (silently continuing would accept a gap —
    the corruption policy), while the chain audit reports it per file,
    including in the newest file (no successor)."""
    from replicator_spark.sources.binlog import (
        audit_binlog_chain,
        read_binlog_ddl,
        read_binlog_files,
        read_binlog_records,
    )

    w = B.BinlogWriter()
    w.gtid(B._SID, 2)  # continues file 1's gno chain (no gtid_gap)
    w.table_map(B._TABLE_ID, "testdb", "events",
                B._EV_TYPES, B._EV_METAS)
    w.rows(B.WRITE_ROWS_EVENT, B._TABLE_ID, B._EV_TYPES, B._EV_METAS,
           [[1, 1_000_000, 7, "signup", 1.0, "{}"]])
    w.incident(1, "relay log damaged")
    w.xid(2)
    (tmp_path / "binlog.000001").write_bytes(
        B.encode_binlog_file(_recs([1, 2]))
    )
    (tmp_path / "binlog.000002").write_bytes(w.getvalue())

    for reader in (read_binlog_files, read_binlog_records, read_binlog_ddl):
        with pytest.raises(Exception, match="INCIDENT"):
            reader(spark, str(tmp_path)).collect()
    flagged = audit_binlog_chain(spark, str(tmp_path)).collect()
    assert len(flagged) == 1
    (row,) = flagged
    assert row["source_file"] == "binlog.000002"  # the newest file
    assert row["incident_signalled"] and row["succ_file"] is None
    assert not row["suffix_gap"] and not row["rotate_mismatch"]


def test_generic_and_typed_readers_agree(spark, tmp_path):
    """The generic schema-on-read reader (`read_binlog_records`) and
    the typed events reader (`read_binlog_files`) must agree
    row-for-row on the SAME file set — same (source_file, log_pos,
    row_seq) coordinates, same GTID coordinates, same op, same
    after-image payload, and the SAME UPDATE wire before-image — so
    the two paths cannot drift. The fixture mixes INSERT/UPDATE/DELETE
    across two files, with TRANSACTION_PAYLOAD envelopes on even-gno
    transactions (both readers must unwrap identically)."""
    import json

    from replicator_spark.sources.binlog import (
        read_binlog_files,
        read_binlog_records,
    )

    recs1 = [("INSERT", 1, 5_000_000, 10, "signup", 1.0, "{}"),
             ("UPDATE", 2, 6_000_000, 11, "click", 2.5, '{"k":1}'),
             ("DELETE", 3, 7_000_000, 12, "error", 3.0, "{}"),
             ("UPDATE", 4, 8_000_000, 13, "view", 4.5, '{"x":2}')]
    recs2 = [("UPDATE", 5, 9_000_000, 14, "scroll", 5.5, "{}"),
             ("INSERT", 6, 9_500_000, 15, "signup", 6.0, "{}")]
    (tmp_path / "binlog.000001").write_bytes(
        B.encode_binlog_file(recs1, txn_ids=[1, 2, 2, 3],
                             payload_mode="mixed"))
    (tmp_path / "binlog.000002").write_bytes(
        B.encode_binlog_file(recs2, txn_ids=[4, 4],
                             payload_mode="mixed"))

    typed = {
        (r["source_file"], r["log_pos"], r["row_seq"]): r
        for r in read_binlog_files(spark, str(tmp_path)).collect()
    }
    generic = {
        (r["source_file"], r["log_pos"], r["row_seq"]): r
        for r in read_binlog_records(spark, str(tmp_path)).collect()
    }
    assert set(typed) == set(generic) and len(typed) == 6
    for key, t in typed.items():
        g = generic[key]
        assert g["db"] == "testdb" and g["table_name"] == "events"
        assert g["op"] == t["op"]
        assert (g["gtid_uuid"], g["gtid_seq"]) == (
            t["gtid_uuid"], t["gtid_seq"])
        rec = json.loads(g["record"])  # positional c0..c5 (no names)
        assert rec["c0"] == t["event_id"]
        assert rec["c1"] == t["ts_us"]
        assert rec["c2"] == t["user_id"]
        assert rec["c3"] == t["event_type"]
        assert rec["c4"] == t["value"]
        assert rec["c5"] == t["props"]
        if t["op"] == "UPDATE":
            before = json.loads(g["before"])
            assert before["c4"] == t["value_before_wire"]
            assert before["c5"] == t["props_before_wire"]
            # the synthesized before-image zeroes value/props
            assert before["c4"] == 0.0 and before["c5"] == "{}"
        else:
            assert g["before"] is None
            assert t["value_before_wire"] is None


# ---------------------------------------------------------------------------
# corruption fuzz: ANY single corrupted byte must raise, never return
# silently-wrong rows (CRC trailers + framing cover the whole file)
# ---------------------------------------------------------------------------


def _kitchen_sink_blob() -> bytes:
    """One file exercising every round-13 event kind: FULL metadata
    (charsets/PK/labels), ROWS_QUERY, a partial-JSON update inside a
    TRANSACTION_PAYLOAD envelope, and an enum-bearing plain txn —
    the widest corruption surface the writer can produce."""
    types = [B.MYSQL_TYPE_LONGLONG, B.MYSQL_TYPE_JSON,
             B.MYSQL_TYPE_VARCHAR]
    metas = [b"", bytes([4]), struct.pack("<H", 40)]
    w = B.BinlogWriter()
    w.gtid(B._SID, 1)
    inner = w.payload_writer()
    inner.query("BEGIN")
    inner.rows_query("UPDATE t SET j = JSON_SET(j, '$.k', 2)")
    inner.table_map(7, "d", "t", types, metas,
                    col_names=["id", "j", "s"],
                    charsets={2: 8}, primary_key=[0])
    inner.partial_update_rows(7, types, metas, [
        ([1, {"k": 1}, "café".encode("latin1")],
         [1, None, "café".encode("latin1")],
         {1: [(B._JSON_DIFF_REPLACE, "$.k", 2)]}),
    ])
    inner.xid(1)
    w.transaction_payload(inner)
    w.gtid(B._SID, 2)
    w.query("BEGIN")
    et = [B.MYSQL_TYPE_STRING]
    em = [B.enum_meta(2)]
    w.table_map(8, "d", "e", et, em, enum_labels={0: ("a", "b")},
                enumset_charsets={0: 255})
    w.rows(B.WRITE_ROWS_EVENT, 8, et, em, [[1]])
    w.xid(2)
    # a legacy-temporal txn (pre-5.6.4 v0 formats) widens the surface
    # to the retained-log restore path
    lt = [B.MYSQL_TYPE_TIMESTAMP, B.MYSQL_TYPE_TIME,
          B.MYSQL_TYPE_DATETIME]
    lm = [b"", b"", b""]
    w.gtid(B._SID, 3)
    w.query("BEGIN")
    w.table_map(9, "d", "old", lt, lm)
    w.rows(B.WRITE_ROWS_EVENT, 9, lt, lm,
           [[1_500_000_000 * 1_000_000, (8, 0, 0), (2010, 1, 2, 3, 4, 5)]])
    w.xid(3)
    return w.getvalue()


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_any_single_byte_corruption_raises(data):
    recs = [("INSERT", 1, 5_000_000, 10, "signup", 1.0, "{}"),
            ("UPDATE", 2, 6_000_000, 11, "click", 2.0, '{"k":1}'),
            ("DELETE", 3, 7_000_000, 12, "error", 3.0, "{}")]
    mode = data.draw(st.sampled_from(["none", "mixed", "kitchen"]))
    if mode == "kitchen":
        blob = bytearray(_kitchen_sink_blob())
    else:
        txn_ids = [1, 2, 2] if mode == "mixed" else None  # force a wrap
        blob = bytearray(B.encode_binlog_file(
            recs, txn_ids=txn_ids, payload_mode=mode))
    idx = data.draw(st.integers(min_value=0, max_value=len(blob) - 1))
    mask = data.draw(st.integers(min_value=1, max_value=255))
    blob[idx] ^= mask
    with pytest.raises(ValueError):
        list(B.parse_binlog_file(bytes(blob)))


# ---------------------------------------------------------------------------
# multi-server GTID resume: per-UUID interval sets compose
# ---------------------------------------------------------------------------


def test_multi_server_gtid_resume(spark, tmp_path):
    """Two source servers interleave transactions in one relay-style
    file; a stored set naming both UUIDs trims each server's stream
    independently (the per-server interval semantics of
    GtidSetAlgebra + the client's skip rule)."""
    from replicator_spark.sources.binlog import (
        _EV_METAS,
        _EV_TYPES,
        _sid_to_uuid,
        read_binlog_files,
        resume_after_gtid,
    )

    sid_a, sid_b = bytes([0xAA] * 16), bytes([0xBB] * 16)
    w = B.BinlogWriter()
    eid = 0

    def txn(sid, gno, n_rows):
        nonlocal eid
        w.gtid(sid, gno)
        w.query("BEGIN")
        w.table_map(23, "testdb", "events", _EV_TYPES, _EV_METAS)
        rows = []
        for _ in range(n_rows):
            eid += 1
            rows.append([eid, eid * 1_000_000, 10, "signup", 1.0, "{}"])
        w.rows(B.WRITE_ROWS_EVENT, 23, _EV_TYPES, _EV_METAS, rows)
        w.xid(gno)

    txn(sid_a, 1, 2)   # events 1,2
    txn(sid_b, 1, 1)   # event 3
    txn(sid_a, 2, 1)   # event 4
    txn(sid_b, 2, 2)   # events 5,6
    (tmp_path / "binlog.000001").write_bytes(w.getvalue())
    rows = read_binlog_files(spark, str(tmp_path))
    ua, ub = _sid_to_uuid(sid_a), _sid_to_uuid(sid_b)
    got = resume_after_gtid(rows, f"{ua}:1-2,{ub}:1")
    # all of A skipped, B's txn 1 skipped, B's txn 2 replays
    assert sorted(r["event_id"] for r in got.collect()) == [5, 6]
    assert {r["gtid_uuid"] for r in got.collect()} == {ub}


def test_runner_checkpoint_override_selection(spark, tmp_path):
    """The config-driven startup checkpoint mirrors the reference's
    selection rule (BinaryLogSupplier.java:207-229): a non-empty
    gtid_set wins; else file/pos; with neither the full log replays —
    in BOTH the batch and streaming runner paths."""
    from replicator_spark.runner import run_batch, run_stream
    from replicator_spark.sources.binlog import _SID_UUID, encode_binlog_file

    logs = tmp_path / "logs"
    logs.mkdir()
    # txns 1 and 2 in file 1, txn 3 in file 2 (gno continues)
    (logs / "binlog.000001").write_bytes(encode_binlog_file(
        [("INSERT", 1, 1_000_000, 1, "signup", 1.0, "{}"),
         ("INSERT", 2, 2_000_000, 2, "signup", 2.0, "{}")],
        txn_ids=[1, 2]))
    (logs / "binlog.000002").write_bytes(encode_binlog_file(
        [("INSERT", 3, 3_000_000, 3, "signup", 3.0, "{}")],
        txn_ids=[3]))
    base = {"source.type": "binlog_files",
            "source.binlog.path": str(logs), "applier.type": "count"}

    def n_events(cfg):
        rows = run_batch(spark, None, cfg).collect()
        return sum(r["n_events"] for r in rows)

    assert n_events(base) == 3  # no checkpoint: full replay
    # GTID mode: txns 1-2 inside the stored set are skipped
    assert n_events(
        {**base,
         "source.binlog.checkpoint.gtid_set": f"{_SID_UUID}:1-2"}
    ) == 1
    # file/pos mode: resume after end of file 1
    assert n_events(
        {**base, "source.binlog.checkpoint.file": "binlog.000001",
         "source.binlog.checkpoint.pos": 10**9}
    ) == 1
    # precedence: a non-empty gtid_set wins over file/pos
    assert n_events(
        {**base,
         "source.binlog.checkpoint.gtid_set": f"{_SID_UUID}:1-3",
         "source.binlog.checkpoint.file": "binlog.000001",
         "source.binlog.checkpoint.pos": 4}
    ) == 0

    # the streaming path applies the same override, in both modes, and
    # agrees with the batch path's count
    filepos = {"source.binlog.checkpoint.file": "binlog.000001",
               "source.binlog.checkpoint.pos": 10**9}
    gtid = {"source.binlog.checkpoint.gtid_set": f"{_SID_UUID}:1-2"}
    for mode, over in (("gtid", gtid), ("filepos", filepos)):
        out = str(tmp_path / f"out_{mode}")
        ckpt = str(tmp_path / f"ckpt_{mode}")
        run_stream(spark, None, {**base, **over}, out, ckpt)
        got = spark.read.parquet(out + "/epoch=0").collect()
        assert sum(r["n_events"] for r in got) == n_events(
            {**base, **over}) == 1


def test_gtid_logical_clock_surfaced():
    """5.7+ GTID events carry the (last_committed, sequence_number)
    logical-clock pair MTS schedulers use — the parser surfaces it."""
    w = B.BinlogWriter()
    w.gtid(bytes(range(16)), 9, last_committed=3, sequence_number=7)
    evs = list(B.parse_binlog_file(w.getvalue()))
    g = evs[-1]
    assert (g["gno"], g["last_committed"], g["sequence_number"]) == (9, 3, 7)


def test_restore_table_from_binlog_files(spark, tmp_path):
    """The db-recovery analog: current table state reconstructed from
    retained binlog files alone — last image per PK in binlog order
    ((file suffix, in-file row ordinal)), DELETEs dropped, UPDATEs
    applied, a later file's image superseding an earlier file's."""
    from replicator_spark.sources.binlog import (
        encode_binlog_file,
        restore_table_from_binlog_files,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    # file 1: INSERT 1,2,3 then (same file) UPDATE row 2
    (logs / "binlog.000001").write_bytes(encode_binlog_file(
        [("INSERT", 1, 1_000_000, 10, "signup", 1.0, "{}"),
         ("INSERT", 2, 2_000_000, 11, "signup", 2.0, "{}"),
         ("INSERT", 3, 3_000_000, 12, "signup", 3.0, "{}"),
         ("UPDATE", 2, 4_000_000, 11, "click", 22.0, '{"u":1}')]))
    # file 2: DELETE row 3, UPDATE row 1
    (logs / "binlog.000002").write_bytes(encode_binlog_file(
        [("DELETE", 3, 5_000_000, 12, "error", 3.0, "{}"),
         ("UPDATE", 1, 6_000_000, 10, "click", 11.0, "{}")]))
    got = {
        r["event_id"]: r
        for r in restore_table_from_binlog_files(
            spark, str(logs)
        ).collect()
    }
    assert set(got) == {1, 2}
    assert got[1]["value"] == 11.0 and got[1]["event_type"] == "click"
    assert got[2]["value"] == 22.0 and got[2]["props"] == '{"u":1}'


def test_row_seq_totally_orders_within_file(spark, tmp_path):
    """Rows inside one multi-row event share log_pos; row_seq breaks
    the tie deterministically in file order."""
    from replicator_spark.sources.binlog import read_binlog_files

    (tmp_path / "binlog.000001").write_bytes(B.encode_binlog_file(
        [("INSERT", i, i * 1_000_000, 1, "signup", float(i), "{}")
         for i in range(1, 6)]))
    rows = sorted(
        read_binlog_files(spark, str(tmp_path)).collect(),
        key=lambda r: r["row_seq"],
    )
    assert [r["event_id"] for r in rows] == [1, 2, 3, 4, 5]
    # one 5-row WRITE event → one shared log_pos, five ordinals
    assert len({r["log_pos"] for r in rows}) == 1
    assert [r["row_seq"] for r in rows] == [0, 1, 2, 3, 4]


def test_geometry_and_var_string_aliases():
    """GEOMETRY rides the BLOB layout (length-prefixed WKB); legacy
    VAR_STRING decodes exactly like VARCHAR."""
    wkb = bytes.fromhex("0101000000000000000000f03f0000000000000040")
    types = [B.MYSQL_TYPE_GEOMETRY, B.MYSQL_TYPE_VAR_STRING]
    metas = [bytes([2]), struct.pack("<H", 300)]
    rows = [[wkb, "x" * 280], [None, ""]]
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas, [list(r) for r in rows])
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["rows"] == rows


# ---------------------------------------------------------------------------
# PREVIOUS_GTIDS + file-level pruning for GTID resume
# ---------------------------------------------------------------------------


def test_previous_gtids_payload_roundtrip():
    from replicator_spark.sources.binlog import (
        decode_gtid_set_payload,
        encode_gtid_set_payload,
    )

    gtids = {
        "aaaaaaaa-0000-0000-0000-000000000001": [(1, 5), (8, 8)],
        "bbbbbbbb-0000-0000-0000-000000000002": [(3, 9)],
    }
    assert decode_gtid_set_payload(encode_gtid_set_payload(gtids)) == gtids
    with pytest.raises(ValueError, match="truncated"):
        decode_gtid_set_payload(b"\x01\x02\x03")


def test_previous_gtids_event_decodes():
    from replicator_spark.sources.binlog import PREVIOUS_GTIDS_EVENT

    gtids = {"cccccccc-0000-0000-0000-000000000003": [(1, 7)]}
    w = B.BinlogWriter()
    w.previous_gtids(gtids)
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["type"] == PREVIOUS_GTIDS_EVENT
    assert evs[-1]["gtids"] == gtids


def test_gtid_set_containment_algebra():
    from replicator_spark.sources.binlog import _gtid_set_contains

    sup = {"a": [(1, 10)], "b": [(1, 3), (5, 9)]}
    assert _gtid_set_contains(sup, {"a": [(2, 7)]})
    assert _gtid_set_contains(sup, {"b": [(1, 3), (6, 9)]})
    assert not _gtid_set_contains(sup, {"b": [(3, 5)]})  # hole at 4
    assert not _gtid_set_contains(sup, {"c": [(1, 1)]})  # unknown server
    assert _gtid_set_contains(sup, {})  # empty set always contained
    # adjacent intervals merge: [1-3],[4-9] covers [2-8]
    assert _gtid_set_contains({"x": [(1, 3), (4, 9)]}, {"x": [(2, 8)]})


def test_gtid_resume_prunes_whole_files(spark, tmp_path):
    """With PREVIOUS_GTIDS headers, GTID-mode resume drops every file
    wholly inside the stored set from the SCAN (the server's
    start-file search) — the plan reads only the surviving files —
    and row-trims the boundary file."""
    from replicator_spark.sources.binlog import (
        _SID_UUID,
        encode_binlog_file,
        read_binlog_files,
        start_file_for_gtid_resume,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    # three files: txns 1-2 | 3-4 | 5, with server-style headers
    (logs / "binlog.000001").write_bytes(encode_binlog_file(
        [("INSERT", 1, 1_000_000, 1, "signup", 1.0, "{}"),
         ("INSERT", 2, 2_000_000, 2, "signup", 2.0, "{}")],
        txn_ids=[1, 2], prev_gtids={}))
    (logs / "binlog.000002").write_bytes(encode_binlog_file(
        [("INSERT", 3, 3_000_000, 3, "signup", 3.0, "{}"),
         ("INSERT", 4, 4_000_000, 4, "signup", 4.0, "{}")],
        txn_ids=[3, 4], prev_gtids={_SID_UUID: [(1, 2)]}))
    (logs / "binlog.000003").write_bytes(encode_binlog_file(
        [("INSERT", 5, 5_000_000, 5, "signup", 5.0, "{}")],
        txn_ids=[5], prev_gtids={_SID_UUID: [(1, 4)]}))

    # checkpoint covers txns 1-3: file 2 is the latest whose previous
    # set (1-2) is inside the checkpoint → file 1 pruned entirely
    stored = f"{_SID_UUID}:1-3"
    assert start_file_for_gtid_resume(str(logs), stored) == "binlog.000002"
    rows = read_binlog_files(spark, str(logs), resume_gtid_set=stored)
    assert sorted(r["event_id"] for r in rows.collect()) == [4, 5]
    # the pruned file never enters the scan
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "binlog.000001" not in plan

    # checkpoint covering everything: start file = last; only its
    # rows are decoded, and the row filter drops them too
    stored_all = f"{_SID_UUID}:1-5"
    assert (
        start_file_for_gtid_resume(str(logs), stored_all)
        == "binlog.000003"
    )
    assert read_binlog_files(
        spark, str(logs), resume_gtid_set=stored_all
    ).count() == 0

    # a headerless file (no PREVIOUS_GTIDS) never advances the start
    # index itself, but later files' headers still prune past it —
    # correctness is row-trim either way
    (logs / "binlog.000001").write_bytes(encode_binlog_file(
        [("INSERT", 1, 1_000_000, 1, "signup", 1.0, "{}"),
         ("INSERT", 2, 2_000_000, 2, "signup", 2.0, "{}")],
        txn_ids=[1, 2]))
    got = read_binlog_files(
        spark, str(logs), resume_gtid_set=f"{_SID_UUID}:1-4"
    )
    assert sorted(r["event_id"] for r in got.collect()) == [5]


def test_resume_after_unorderable_file_replays(spark, tmp_path):
    """A file with no numeric suffix cannot be ordered against a
    numeric checkpoint — its rows REPLAY (at-least-once) instead of
    being silently dropped."""
    from replicator_spark.sources.binlog import (
        read_binlog_files,
        resume_after,
    )

    (tmp_path / "binlog.000001").write_bytes(
        B.encode_binlog_file(_recs([1])))
    (tmp_path / "binlog-weird").write_bytes(
        B.encode_binlog_file(_recs([9])))
    (tmp_path / "binlog'x").write_bytes(B.encode_binlog_file(_recs([5])))
    rows = read_binlog_files(spark, str(tmp_path))
    got = resume_after(rows, "binlog.000001", 10**9).collect()
    assert sorted(r["event_id"] for r in got) == [5, 9]
    # a checkpoint name that needs SQL quoting orders by name:
    # "binlog'x" < "binlog-weird" < "binlog.000001"
    got = resume_after(rows, "binlog'x", 10**9).collect()
    assert sorted(r["event_id"] for r in got) == [1, 9]


@pytest.fixture
def junk_ahead(tmp_path):
    """(valid, logs): two binlog files with PREVIOUS_GTIDS heads (txns
    1-2 | 3-4), and the same two behind a junk `binlog.000001` that
    does not decode."""
    valid, logs = tmp_path / "valid", tmp_path / "logs"
    for d in (valid, logs):
        d.mkdir()
        (d / "binlog.000002").write_bytes(B.encode_binlog_file(
            _recs([1, 2]), txn_ids=[1, 2], prev_gtids={}))
        (d / "binlog.000003").write_bytes(B.encode_binlog_file(
            _recs([3, 4]), txn_ids=[3, 4],
            prev_gtids={B._SID_UUID: [(1, 2)]}))
    (logs / "binlog.000001").write_bytes(b"not a binlog file")
    return str(valid), str(logs)


@pytest.mark.parametrize("mode", ["gtid", "filepos"])
@pytest.mark.parametrize("stream", [False, True], ids=["batch", "stream"])
def test_startup_checkpoint_prunes_before_decode(
    spark, junk_ahead, stream, mode
):
    """The reader applies the startup checkpoint once, for batch and
    stream alike: the start file (GTID start-file search, or the
    file/pos checkpoint's file) prunes every earlier file of its
    rotation before the decode, so the junk file never decodes, and
    the rows are those the row trim alone keeps over the valid
    files."""
    from replicator_spark.sources.binlog import (
        read_binlog_files,
        resume_after,
        resume_after_gtid,
    )
    from replicator_spark.streaming.drive import file_sink

    valid, logs = junk_ahead
    every = read_binlog_files(spark, valid)
    if mode == "gtid":
        ckpt = {"resume_gtid_set": f"{B._SID_UUID}:1-3"}
        want = resume_after_gtid(every, ckpt["resume_gtid_set"])
    else:
        (pos,) = [r["log_pos"] for r in every.where("event_id = 1").collect()]
        ckpt = {"resume_file_pos": ("binlog.000002", pos)}
        want = resume_after(every, "binlog.000002", pos)
    got = read_binlog_files(spark, logs, stream=stream, **ckpt)
    if stream:
        got = file_sink(got, "startup_ckpt_")
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(tuple(r) for r in want.collect())
    assert [r[1] for r in rows] == ([4] if mode == "gtid" else [2, 3, 4])


def test_no_checkpoint_lists_nothing(spark, tmp_path, monkeypatch):
    """With no checkpoint the reader neither lists the directory nor
    filters the scan, in batch and in stream."""
    from replicator_spark.sources import binlog as BL
    from replicator_spark.streaming.drive import file_sink

    (tmp_path / "binlog.000001").write_bytes(
        B.encode_binlog_file(_recs([1, 2])))

    def refuse(path):
        raise AssertionError(f"listed {path}")

    monkeypatch.setattr(BL, "_list_files", refuse)
    for stream in (False, True):
        df = BL.read_binlog_files(spark, str(tmp_path), stream=stream)
        assert "Filter" not in df._jdf.queryExecution().logical().toString()
        got = file_sink(df, "no_ckpt_") if stream else df
        assert sorted(r["event_id"] for r in got.collect()) == [1, 2]


def test_start_file_that_prunes_nothing_scans_the_directory(
    spark, junk_ahead
):
    """A start file that prunes nothing (the checkpoint sits on the
    first file of its rotation) loads the directory itself, so the
    batch scan is the no-checkpoint one, for file/pos and GTID alike;
    a later start file loads the pruned list."""
    import re

    from replicator_spark.sources.binlog import (
        read_binlog_files,
        start_file_for_gtid_resume,
    )

    valid, _ = junk_ahead

    def location(**ckpt):
        df = read_binlog_files(spark, valid, **ckpt)
        plan = df._jdf.queryExecution().executedPlan().toString()
        (loc,) = re.findall(r"Location: (\w+\(\d+ paths\)\[[^\]]*\])", plan)
        return loc

    key = "spark.sql.maxMetadataStringLength"  # plans abbreviate paths
    prev = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        whole = location()
        assert whole == f"InMemoryFileIndex(1 paths)[file:{valid}]", whole
        assert location(resume_file_pos=("binlog.000002", 4)) == whole
        gtid = f"{B._SID_UUID}:1"
        assert start_file_for_gtid_resume(valid, gtid) == "binlog.000002"
        assert location(resume_gtid_set=gtid) == whole
        pruned = location(resume_file_pos=("binlog.000003", 4))
        assert pruned == (
            f"InMemoryFileIndex(1 paths)[file:{valid}/binlog.000003]"), pruned
    finally:
        spark.conf.set(key, prev)


def test_start_file_search_distributed_path(spark, tmp_path):
    """Above the threshold the head scan distributes over executors —
    same answer as the driver loop."""
    from replicator_spark.sources import binlog as BL

    logs = tmp_path / "logs"
    logs.mkdir()
    n = 70  # > _HEAD_SCAN_DISTRIBUTE_OVER
    for f in range(n):
        prev = {BL._SID_UUID: [(1, f)]} if f else {}
        (logs / f"binlog.{f + 1:06d}").write_bytes(
            BL.encode_binlog_file(
                [("INSERT", f + 1, (f + 1) * 1_000_000, 1, "signup",
                  1.0, "{}")],
                txn_ids=[f + 1], prev_gtids=prev,
            )
        )
    stored = f"{BL._SID_UUID}:1-60"
    want = BL.start_file_for_gtid_resume(str(logs), stored)  # driver loop
    got = BL.start_file_for_gtid_resume(str(logs), stored, spark)
    assert got == want == "binlog.000061"
    rows = BL.read_binlog_files(spark, str(logs), resume_gtid_set=stored)
    assert sorted(r["event_id"] for r in rows.collect()) == list(
        range(61, 71)
    )


def test_audit_binlog_chain_detects_missing_file(spark, tmp_path):
    """The retained-log integrity audit flags a deleted rotated file
    (suffix gap + GTID discontinuity) and a ROTATE tail pointing at a
    file that never followed; an intact chain audits clean."""
    from replicator_spark.sources.binlog import (
        audit_binlog_chain,
        encode_binlog_file,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    for f in range(3):
        (logs / f"binlog.{f + 1:06d}").write_bytes(encode_binlog_file(
            [("INSERT", f + 1, (f + 1) * 1_000_000, 1, "signup",
              1.0, "{}")],
            txn_ids=[f + 1],
        ))
    assert audit_binlog_chain(spark, str(logs)).count() == 0  # intact

    (logs / "binlog.000002").unlink()  # the deleted middle file
    bad = audit_binlog_chain(spark, str(logs)).collect()
    assert len(bad) == 1
    v = bad[0]
    assert (v["source_file"], v["succ_file"]) == (
        "binlog.000001", "binlog.000003"
    )
    assert v["suffix_gap"] and v["gtid_gap"]


def test_table_map_full_metadata_maps_in_stream():
    """binlog_row_metadata=FULL (8.0.1+): the TABLE_MAP carries
    signedness, column names, and ENUM/SET label strings — the parser
    maps in-stream (Debezium-style): unsigned maxima land as their
    unsigned values, ENUM indexes as labels, SET masks as joined
    labels; a metadata-less file stays transport-pure (raw ints)."""
    types = [
        B.MYSQL_TYPE_TINY,      # lifespan TINYINT UNSIGNED
        B.MYSQL_TYPE_LONGLONG,  # lifespan_bigint BIGINT UNSIGNED
        B.MYSQL_TYPE_LONG,      # plain SIGNED int
        B.MYSQL_TYPE_STRING,    # kingdom ENUM
        B.MYSQL_TYPE_STRING,    # traits SET
    ]
    metas = [b"", b"", b"", B.enum_meta(2), B.set_meta(3)]
    names = ["lifespan", "lifespan_bigint", "n", "kingdom", "traits"]
    kw = dict(
        unsigned=[True, True, False, False, False],
        col_names=names,
        enum_labels={3: ("animalia", "plantae")},
        set_labels={4: ("wings", "fins", "fur")},
    )
    rows = [
        [255, 18446744073709551615, -5, 1, 0b101],
        [0, None, 7, 0, 0],  # ENUM 0 = the invalid empty value
    ]
    w = B.BinlogWriter()
    w.table_map(1, "replicator", "organisms", types, metas, **kw)
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas,
           [list(r) for r in rows])
    evs = list(B.parse_binlog_file(w.getvalue()))
    ev = evs[-1]
    assert ev["col_names"] == names
    assert ev["rows"][0] == [
        255, 18446744073709551615, -5, "animalia", "wings,fur",
    ]
    assert ev["rows"][1] == [0, None, 7, "", ""]

    # without metadata: raw signed ints and raw index/mask transport
    w2 = B.BinlogWriter()
    w2.table_map(1, "replicator", "organisms", types, metas)
    w2.rows(B.WRITE_ROWS_EVENT, 1, types, metas,
            [[255, 18446744073709551615, -5, 1, 0b101]])
    ev2 = list(B.parse_binlog_file(w2.getvalue()))[-1]
    assert ev2["col_names"] is None
    assert ev2["rows"][0] == [-1, -1, -5, 1, 5]


def test_year_excluded_from_signedness_bitmap():
    """The server's SIGNEDNESS bitmap covers only is_numeric_type
    columns (TINY/SHORT/INT24/LONG/LONGLONG/FLOAT/DOUBLE/NEWDECIMAL —
    libbinlogevents, mirrored by mysql-binlog-connector-java); YEAR is
    NOT in that set. Including it would shift every later bit, silently
    mis-signing subsequent integer columns of a real FULL-metadata
    file. Pin the set itself (writer and parser share it, so a pure
    roundtrip cannot catch a deviation), then prove the bit lands on
    the column the server would give it: [YEAR, TINY unsigned] packs a
    ONE-bit bitmap whose MSB is TINY's."""
    assert B.MYSQL_TYPE_YEAR not in B._SIGNEDNESS_TYPES
    assert B._SIGNEDNESS_TYPES == frozenset({
        B.MYSQL_TYPE_TINY, B.MYSQL_TYPE_SHORT, B.MYSQL_TYPE_INT24,
        B.MYSQL_TYPE_LONG, B.MYSQL_TYPE_LONGLONG, B.MYSQL_TYPE_FLOAT,
        B.MYSQL_TYPE_DOUBLE, B.MYSQL_TYPE_NEWDECIMAL,
    })
    types = [B.MYSQL_TYPE_YEAR, B.MYSQL_TYPE_TINY]
    metas = [b"", b""]
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas, unsigned=[False, True])
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas, [[2024, 255]])
    # the emitted SIGNEDNESS TLV is exactly the server's: 1 bit → 1
    # byte, MSB set (TINY unsigned); a YEAR-polluted set would emit
    # 0x40 and real-server files would mis-sign TINY
    raw = w.getvalue()
    tlv = bytes([B._OPTMETA_SIGNEDNESS]) + B._lenenc(1)
    assert tlv + b"\x80" in raw and tlv + b"\x40" not in raw
    ev = list(B.parse_binlog_file(raw))[-1]
    assert ev["rows"] == [[2024, 255]]


def test_varbinary_non_utf8_payload_roundtrips_as_bytes():
    """VARCHAR under a binary collation (VARBINARY) carries arbitrary
    bytes; a non-UTF-8 payload must transport as raw bytes — not kill
    the whole parse task with UnicodeDecodeError — on BOTH the 1-byte
    and 2-byte length paths (same fallback the CHAR/BINARY path has)."""
    types = [B.MYSQL_TYPE_VARCHAR, B.MYSQL_TYPE_VAR_STRING]
    metas = [struct.pack("<H", 100), struct.pack("<H", 300)]
    payload_s, payload_l = b"\xff\xfe\x00\x80", b"\x80" * 280
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas,
           [[payload_s, payload_l], ["plain", "text"]])
    ev = list(B.parse_binlog_file(w.getvalue()))[-1]
    assert ev["rows"][0] == [payload_s, payload_l]
    assert ev["rows"][1] == ["plain", "text"]  # UTF-8 still decodes


def test_charset_tlv_golden_layout_and_decode():
    """DEFAULT_CHARSET(2) / COLUMN_CHARSET(3) / SIMPLE_PRIMARY_KEY(8)
    TLVs: golden byte layout (the pair index in DEFAULT_CHARSET counts
    over CHARACTER columns only — the same slot-alignment contract as
    SIGNEDNESS over numeric ones) and the in-stream decode dispatch:
    latin1 bytes (0xE9, invalid utf-8) decode as latin1, binary
    collation transports raw bytes, utf8mb4 stays utf-8."""
    types = [B.MYSQL_TYPE_LONGLONG,  # not a character column
             B.MYSQL_TYPE_VARCHAR,   # latin1
             B.MYSQL_TYPE_VARCHAR,   # utf8mb4 (the default — 2 of 3)
             B.MYSQL_TYPE_VARCHAR]   # utf8mb4
    metas = [b""] + [struct.pack("<H", 40)] * 3
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas,
                charsets={1: 8, 2: 255, 3: 255}, primary_key=[0])
    raw = w.getvalue()
    # default = 255 (most common), one differing pair: CHAR-column
    # index 0 (the VARCHAR at full index 1) → collation 8. 255 needs
    # the 2-byte lenenc form (0xfc ff 00).
    want_charset = (bytes([B._OPTMETA_DEFAULT_CHARSET]) +
                    B._lenenc(5) + B._lenenc(255) +
                    B._lenenc(0) + B._lenenc(8))
    assert want_charset in raw
    want_pk = (bytes([B._OPTMETA_SIMPLE_PRIMARY_KEY]) +
               B._lenenc(1) + B._lenenc(0))
    assert want_pk in raw
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas,
           [[7, b"caf\xe9", "café", "x"]])
    ev = list(B.parse_binlog_file(w.getvalue()))[-1]
    assert ev["rows"] == [[7, "café", "café", "x"]]
    assert ev["primary_key"] == [0]

    # COLUMN_CHARSET: flat per-character-column list, binary(63)
    # transports raw bytes even when they happen to be valid utf-8
    w2 = B.BinlogWriter()
    w2.table_map(1, "d", "t", types, metas,
                 charsets={1: 63, 2: 8, 3: 255},
                 charset_format="column")
    raw2 = w2.getvalue()
    want_col = (bytes([B._OPTMETA_COLUMN_CHARSET]) + B._lenenc(5) +
                B._lenenc(63) + B._lenenc(8) + B._lenenc(255))
    assert want_col in raw2
    w2.rows(B.WRITE_ROWS_EVENT, 1, types, metas,
            [[7, b"plain", b"caf\xe9", "ü"]])
    ev2 = list(B.parse_binlog_file(w2.getvalue()))[-1]
    assert ev2["rows"] == [[7, b"plain", "café", "ü"]]

    # a TEXT column is BLOB-typed with a text collation; a plain BLOB
    # (binary collation) stays bytes
    t3 = [B.MYSQL_TYPE_BLOB, B.MYSQL_TYPE_BLOB]
    m3 = [bytes([2]), bytes([2])]
    w3 = B.BinlogWriter()
    w3.table_map(2, "d", "t2", t3, m3, charsets={0: 255, 1: 63})
    w3.rows(B.WRITE_ROWS_EVENT, 2, t3, m3, [["héllo".encode(), b"\x00\xff"]])
    ev3 = list(B.parse_binlog_file(w3.getvalue()))[-1]
    assert ev3["rows"] == [["héllo", b"\x00\xff"]]

    # charsets must cover every character column (alignment guard)
    with pytest.raises(ValueError, match="cover every character"):
        w4 = B.BinlogWriter()
        w4.table_map(1, "d", "t", types, metas, charsets={1: 8})


def test_enumset_charset_and_pk_prefix_tlvs():
    """ENUM_AND_SET_DEFAULT_CHARSET(10)/COLUMN_CHARSET(11) govern the
    LABEL text encoding of TLVs 5/6 (latin1 labels carry 0xE9-style
    bytes — only the charset TLV decodes them right; the TLV walk
    defers label decode since 10/11 are numerically after 5/6), and
    PRIMARY_KEY_WITH_PREFIX(9) replaces SIMPLE_PRIMARY_KEY when a key
    part indexes a column prefix."""
    types = [B.MYSQL_TYPE_STRING, B.MYSQL_TYPE_VARCHAR,
             B.MYSQL_TYPE_STRING]
    metas = [B.enum_meta(2), struct.pack("<H", 30), B.set_meta(2)]
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas,
                enum_labels={0: ("café", "niño")},
                set_labels={2: ("blé", "ça")},
                enumset_charsets={0: 8, 2: 8},  # latin1_swedish_ci
                primary_key=[1, 0], primary_key_prefix={1: 10})
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas, [[2, "k", 0b11]])
    raw = w.getvalue()
    # wire carries LATIN1 label bytes (café → caf\xe9, not utf-8)
    assert b"caf\xe9" in raw and "café".encode() not in raw
    # golden PK-with-prefix TLV: (col 1, prefix 10), (col 0, prefix 0)
    want_pk = (bytes([B._OPTMETA_PRIMARY_KEY_WITH_PREFIX])
               + B._lenenc(4) + B._lenenc(1) + B._lenenc(10)
               + B._lenenc(0) + B._lenenc(0))
    assert want_pk in raw
    ev = list(B.parse_binlog_file(raw))[-1]
    assert ev["rows"] == [["niño", "k", "blé,ça"]]
    assert ev["primary_key"] == [1, 0]

    # the COLUMN_CHARSET layout (11): hand-crafted TLV — flat per-
    # ENUM/SET-column collation list (binary 63, then latin1 8)
    body = bytearray((1).to_bytes(6, "little") + struct.pack("<H", 0))
    for name in ("d", "t"):
        nb = name.encode()
        body += bytes([len(nb)]) + nb + b"\x00"
    body += B._lenenc(3) + bytes(types)
    meta = b"".join(metas)
    body += B._lenenc(len(meta)) + meta
    body += bytes(1)  # null-allowed bitmap
    labels = bytearray()
    for labs in (("a\xe9".encode("latin1"), b"b"),):
        labels += B._lenenc(2)
        for lab in labs:
            labels += B._lenenc(len(lab)) + lab
    body += bytes([B._OPTMETA_ENUM_STR]) + B._lenenc(len(labels)) + labels
    es = B._lenenc(63) + B._lenenc(8)
    body += (bytes([B._OPTMETA_ENUM_AND_SET_COLUMN_CHARSET])
             + B._lenenc(len(es)) + es)
    w2 = B.BinlogWriter()
    w2._event(B.TABLE_MAP_EVENT, bytes(body))
    w2.rows(B.WRITE_ROWS_EVENT, 1, types, metas, [[1, "k", 0]])
    ev2 = list(B.parse_binlog_file(w2.getvalue()))[-1]
    # ENUM col collation 63 (binary) → lossless latin1 label map;
    # the SET column has no label TLV here → raw-mask transport
    assert ev2["rows"] == [["a\xe9", "k", 0]]


def test_geometry_type_tlv():
    """GEOMETRY_TYPE(7): one lenenc subtype per GEOMETRY column
    (0=GEOMETRY, 1=POINT, ...) — with this, the writer+parser cover
    the server's whole FULL-metadata TLV table (1-11)."""
    types = [B.MYSQL_TYPE_GEOMETRY, B.MYSQL_TYPE_LONG,
             B.MYSQL_TYPE_GEOMETRY]
    metas = [bytes([2]), b"", bytes([2])]
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas,
                geometry_types={0: 1, 2: 0})  # POINT, GEOMETRY
    raw = w.getvalue()
    want = (bytes([B._OPTMETA_GEOMETRY_TYPE]) + B._lenenc(2)
            + B._lenenc(1) + B._lenenc(0))
    assert want in raw
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas,
           [[b"\x01\x02", 7, b"\x03"]])
    ev = list(B.parse_binlog_file(w.getvalue()))[-1]
    assert ev["rows"] == [[b"\x01\x02", 7, b"\x03"]]


def test_generic_reader_wire_rowkey(spark, tmp_path):
    """SIMPLE_PRIMARY_KEY drives the sink-ready salted rowkey straight
    from the wire — same key rule as `cdc/rowkey.salted_rowkey`
    (`HBaseRowKeyMapper.java:24-58`): md5(pk1)[0:8];pk values, UPDATE
    keyed by the AFTER image (:39-42); a table without PK metadata
    gets NULL (registry fallback)."""
    import hashlib
    from replicator_spark.sources.binlog import read_binlog_records

    types = [B.MYSQL_TYPE_LONG, B.MYSQL_TYPE_VARCHAR]
    metas = [b"", struct.pack("<H", 20)]
    w = B.BinlogWriter()
    w.table_map(1, "shop", "carts", types, metas,
                col_names=["id", "item"], primary_key=[0])
    w.rows(B.WRITE_ROWS_EVENT, 1, types, metas, [[7, "apple"]])
    w.rows(B.UPDATE_ROWS_EVENT, 1, types, metas,
           [([7, "apple"], [8, "pear"])])
    # table 2: no PK metadata → NULL rowkey
    w.table_map(2, "shop", "logs", types, metas)
    w.rows(B.WRITE_ROWS_EVENT, 2, types, metas, [[9, "x"]])
    (tmp_path / "binlog.000001").write_bytes(w.getvalue())

    rows = read_binlog_records(spark, str(tmp_path)).collect()
    by = {(r["table_name"], r["op"]): r for r in rows}
    key7 = hashlib.md5(b"7").hexdigest()[:8] + ";7"
    key8 = hashlib.md5(b"8").hexdigest()[:8] + ";8"
    assert by[("carts", "INSERT")]["rowkey"] == key7
    assert by[("carts", "UPDATE")]["rowkey"] == key8  # AFTER image
    assert by[("logs", "INSERT")]["rowkey"] is None


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_charset_pk_roundtrip_property(data):
    """Property: any mix of latin1/utf8mb4/binary VARCHAR columns plus
    a PK column roundtrips through the charset TLVs — latin1-encoded
    bytes come back as the exact str, binary as the exact bytes —
    with SIMPLE_PRIMARY_KEY surfacing the declared key columns."""
    n = data.draw(st.integers(min_value=1, max_value=5))
    colls = data.draw(st.lists(
        st.sampled_from([8, 255, 63]), min_size=n, max_size=n))
    fmt = data.draw(st.sampled_from(["default", "column"]))
    types = [B.MYSQL_TYPE_LONGLONG] + [B.MYSQL_TYPE_VARCHAR] * n
    metas = [b""] + [struct.pack("<H", 120)] * n
    charsets = {i + 1: c for i, c in enumerate(colls)}
    rows, want = [], []
    for k in range(data.draw(st.integers(min_value=1, max_value=3))):
        row, wrow = [k], [k]
        for c in colls:
            if c == 63:
                v = data.draw(st.binary(max_size=30))
                row.append(v); wrow.append(v)
            elif c == 8:
                s = data.draw(st.text(
                    alphabet=st.characters(min_codepoint=0x20,
                                           max_codepoint=0xFF),
                    max_size=30))
                row.append(s.encode("latin1")); wrow.append(s)
            else:
                s = data.draw(st.text(max_size=30))
                row.append(s.encode()); wrow.append(s)
        rows.append(row); want.append(wrow)
    w = B.BinlogWriter()
    w.table_map(4, "d", "t", types, metas, charsets=charsets,
                charset_format=fmt, primary_key=[0])
    w.rows(B.WRITE_ROWS_EVENT, 4, types, metas, [list(r) for r in rows])
    ev = list(B.parse_binlog_file(w.getvalue()))[-1]
    assert ev["rows"] == want
    assert ev["primary_key"] == [0]


def test_full_metadata_update_images_both_mapped():
    types = [B.MYSQL_TYPE_SHORT]
    metas = [b""]
    w = B.BinlogWriter()
    w.table_map(1, "d", "t", types, metas, unsigned=[True])
    w.rows(B.UPDATE_ROWS_EVENT, 1, types, metas,
           [([65535], [65534])])
    ev = list(B.parse_binlog_file(w.getvalue()))[-1]
    assert ev["rows"] == [([65535], [65534])]


def test_read_binlog_records_any_table(spark, tmp_path):
    """The generic file source carries ANY mix of tables as
    schema-on-read JSON records: FULL-metadata tables key by wire
    column names with labels/unsigned mapped; metadata-less tables
    key positionally (c0..cN); UPDATEs carry the wire before-image;
    the GTID/file coordinates compose with the resume combinators."""
    import json

    from replicator_spark.sources.binlog import (
        read_binlog_records,
        resume_after_gtid,
    )

    sid = bytes([0xCD] * 16)
    w = B.BinlogWriter()
    # table 1: organisms with FULL metadata
    o_types = [B.MYSQL_TYPE_TINY, B.MYSQL_TYPE_STRING]
    o_metas = [b"", B.enum_meta(2)]
    w.gtid(sid, 1)
    w.table_map(
        1, "replicator", "organisms", o_types, o_metas,
        unsigned=[True, False], col_names=["lifespan", "kingdom"],
        enum_labels={1: ("animalia", "plantae")},
    )
    w.rows(B.WRITE_ROWS_EVENT, 1, o_types, o_metas, [[255, 2]])
    w.xid(1)
    # table 2: metadata-less, with an UPDATE and a BLOB column
    t_types = [B.MYSQL_TYPE_LONG, B.MYSQL_TYPE_BLOB]
    t_metas = [b"", bytes([1])]
    w.gtid(sid, 2)
    w.table_map(2, "shop", "carts", t_types, t_metas)
    w.rows(B.UPDATE_ROWS_EVENT, 2, t_types, t_metas,
           [([7, b"\x00\xff"], [8, b"\x01"])])
    w.xid(2)
    (tmp_path / "binlog.000001").write_bytes(w.getvalue())

    recs = read_binlog_records(spark, str(tmp_path))
    rows = {r["table_name"]: r for r in recs.collect()}
    org = rows["organisms"]
    assert org["op"] == "INSERT" and org["db"] == "replicator"
    assert json.loads(org["record"]) == {
        "lifespan": 255, "kingdom": "plantae",
    }
    assert org["before"] is None and org["gtid_seq"] == 1
    cart = rows["carts"]
    assert cart["op"] == "UPDATE"
    assert json.loads(cart["record"]) == {"c0": 8, "c1": "01"}
    assert json.loads(cart["before"]) == {"c0": 7, "c1": "00ff"}
    # the shared coordinates feed the resume combinators unchanged
    uuid = "cd" * 16
    uuid = f"{uuid[:8]}-{uuid[8:12]}-{uuid[12:16]}-{uuid[16:20]}-{uuid[20:32]}"
    left = resume_after_gtid(recs, f"{uuid}:1").collect()
    assert [r["table_name"] for r in left] == ["carts"]


@pytest.mark.parametrize("channel", ["records", "ddl"])
def test_binlog_stream_exactly_once(spark, tmp_path, channel):
    """The generic record stream and the DDL channel (``stream=True``
    on their readers) decode each rotated file exactly once across
    lifetimes, any table mix."""
    import json

    from replicator_spark.sources.binlog import (
        read_binlog_ddl,
        read_binlog_records,
    )

    read = {"records": read_binlog_records, "ddl": read_binlog_ddl}[channel]
    logs = tmp_path / "logs"
    logs.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def land(i, db, table, value):
        w = B.BinlogWriter()
        w.query(f"CREATE TABLE {table} (c0 int)", db=db)
        w.table_map(i, db, table, [B.MYSQL_TYPE_LONG], [b""])
        w.rows(B.WRITE_ROWS_EVENT, i, [B.MYSQL_TYPE_LONG], [b""], [[value]])
        (logs / f"binlog.{i:06d}").write_bytes(w.getvalue())

    def drain():
        q = (
            read(spark, str(logs), stream=True)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(1, "shop", "carts", 7)
    drain()
    land(2, "zoo", "animals", 9)
    drain()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2  # no re-decode of file 1
    if channel == "records":
        got = {r["table_name"]: json.loads(r["record"]) for r in rows}
        assert got == {"carts": {"c0": 7}, "animals": {"c0": 9}}
    else:
        got = {(r["db"], r["sql"]) for r in rows}
        assert got == {("shop", "CREATE TABLE carts (c0 int)"),
                       ("zoo", "CREATE TABLE animals (c0 int)")}


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_full_metadata_unsigned_roundtrip_property(data):
    """Property: with FULL metadata, any mix of signed/unsigned int
    columns roundtrips values drawn from the matching range — the
    writer packs the union range, the parser's in-stream map restores
    the unsigned view exactly."""
    widths = {B.MYSQL_TYPE_TINY: 8, B.MYSQL_TYPE_SHORT: 16,
              B.MYSQL_TYPE_INT24: 24, B.MYSQL_TYPE_LONG: 32,
              B.MYSQL_TYPE_LONGLONG: 64}
    n = data.draw(st.integers(min_value=1, max_value=8))
    types = data.draw(st.lists(
        st.sampled_from(sorted(widths)), min_size=n, max_size=n))
    unsigned = data.draw(st.lists(
        st.booleans(), min_size=n, max_size=n))
    rows = []
    for _ in range(data.draw(st.integers(min_value=1, max_value=4))):
        row = []
        for t, u in zip(types, unsigned):
            b = widths[t]
            if data.draw(st.booleans()) and data.draw(st.booleans()):
                row.append(None)
            elif u:
                row.append(data.draw(
                    st.integers(min_value=0, max_value=(1 << b) - 1)))
            else:
                row.append(data.draw(st.integers(
                    min_value=-(1 << (b - 1)),
                    max_value=(1 << (b - 1)) - 1)))
        rows.append(row)
    metas = [b""] * n
    w = B.BinlogWriter()
    w.table_map(3, "d", "t", types, metas, unsigned=unsigned)
    w.rows(B.WRITE_ROWS_EVENT, 3, types, metas, [list(r) for r in rows])
    evs = list(B.parse_binlog_file(w.getvalue()))
    assert evs[-1]["rows"] == rows


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_file_roundtrip_with_true_before_images(data):
    """before_images entries ride the wire verbatim: the UPDATE rows
    event's before image carries the supplied (value, props) — the
    binlog_row_image=FULL shape — and the after image is unchanged."""
    records = data.draw(st.lists(_record, min_size=1, max_size=40))
    befores = [
        data.draw(
            st.one_of(
                st.none(),
                st.tuples(
                    st.floats(allow_nan=False, width=64), _props
                ),
            )
        )
        if r[0] == "UPDATE"
        else None
        for r in records
    ]
    blob = B.encode_binlog_file(records, before_images=befores)
    got = []
    for ev in B.parse_binlog_file(blob):
        op = B._EVENT_TO_OP.get(ev["type"])
        if op is None:
            continue
        for row in ev["rows"]:
            if op == "UPDATE":
                before, img = row
                got.append((op, tuple(img), (before[4], before[5])))
            else:
                got.append((op, tuple(row), None))
    want = [
        (
            r[0],
            tuple(r[1:]),
            (bi or (0.0, "{}")) if r[0] == "UPDATE" else None,
        )
        for r, bi in zip(records, befores)
    ]
    assert got == want


def test_before_images_rejects_non_update_entry():
    recs = [("INSERT", 1, 1_000_000, 1, "signup", 1.0, "{}")]
    with pytest.raises(ValueError, match="non-UPDATE"):
        B.encode_binlog_file(recs, before_images=[(1.0, "{}")])
    with pytest.raises(ValueError, match="length mismatch"):
        B.encode_binlog_file(recs, before_images=[])


def test_encoder_cache_evicts_fifo_not_clear():
    """The compile memo must stay bounded WITHOUT wholesale clears: a
    worker cycling through >1024 live table shapes evicts the oldest
    shape only — recent shapes stay compiled (the r12 nit)."""
    w = B.BinlogWriter
    saved = dict(w._ENCODER_CACHE)
    try:
        w._ENCODER_CACHE.clear()
        # distinct shapes: VARCHAR max length is 2-byte meta
        for n in range(1100):
            w._compile_encoders(
                [B.MYSQL_TYPE_VARCHAR],
                [n.to_bytes(2, "little")],
            )
        assert len(w._ENCODER_CACHE) <= 1024
        # the most recent shapes survived (no clear-everything cliff)
        for n in (1099, 1050, 200):
            key = ((B.MYSQL_TYPE_VARCHAR,), (n.to_bytes(2, "little"),))
            assert key in w._ENCODER_CACHE, n
        # the oldest shapes were the ones evicted
        key0 = ((B.MYSQL_TYPE_VARCHAR,), ((0).to_bytes(2, "little"),))
        assert key0 not in w._ENCODER_CACHE
    finally:
        w._ENCODER_CACHE.clear()
        w._ENCODER_CACHE.update(saved)


def test_binlog_records_stream_max_files_per_trigger(spark, tmp_path):
    """The generic stream honors the per-trigger file bound: 3 rotated
    files with maxFilesPerTrigger=1 decode as 3 micro-batches in one
    availableNow lifetime (the backpressure knob a backlogged
    directory needs — same contract as the row reader's stream)."""
    import json

    from replicator_spark.sources.binlog import read_binlog_records

    logs = tmp_path / "logs"
    logs.mkdir()
    for i in (1, 2, 3):
        w = B.BinlogWriter()
        w.table_map(i, "shop", f"t{i}", [B.MYSQL_TYPE_LONG], [b""])
        w.rows(B.WRITE_ROWS_EVENT, i, [B.MYSQL_TYPE_LONG], [b""], [[i]])
        (logs / f"binlog.{i:06d}").write_bytes(w.getvalue())
    batches = []

    def one_batch(bdf, epoch_id):
        batches.append(
            sorted(r["table_name"] for r in bdf.collect())
        )

    q = (
        read_binlog_records(
            spark, str(logs), stream=True, max_files_per_trigger=1)
        .writeStream.foreachBatch(one_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) == 3
    assert sorted(t for b in batches for t in b) == ["t1", "t2", "t3"]
