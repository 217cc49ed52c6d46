"""Subunit test-result stream parsing — reference `subunit_iter`
(logsender.py:431-464; golden parse of the real 67 KB binary fixture
tests/testrepository.subunit at tests/test_logsender.py:1254-1359).

Two layers:

  1. BINARY parse (S12): the reference reads a subunit byte stream
     via subunit2sql.ReadSubunit. Our Spark-first translation is an
     Arrow-batched pandas UDF over a `binary` column returning
     array<struct> + explode — bytes in, typed rows out, fully
     distributed. The wire format is a compact subunit-v2-inspired
     framing (0xB3 packet signature like real subunit v2, then
     fixed-width fields; documented below) with the reference's
     tolerance rules: a stream that doesn't start with the signature
     is "Non subunit content" -> whole file skipped
     (logsender.py:431-440), a mid-stream corruption stops parsing
     at the last good packet, and the hardcoded broken file name
     'testrepository.subunit.gz' is skipped outright (P8,
     logsender.py:527-529).

     packet := 0xB3 | status(1B) | name_len(2B BE) | name(UTF-8)
               | start_us(8B BE) | end_us(8B BE)

  2. duration arithmetic (A3): deliberately NOT total_seconds():
         str(td.seconds) + "." + str(td.microseconds)  -> float
     so 7 s + 103220 us -> 7.103220, but 7 s + 1220 us -> "7.1220"
     -> 7.122 (unpadded microseconds change the magnitude).
     Replicated exactly: concat(seconds, '.', micros) cast double.
"""

from __future__ import annotations

import struct

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

SUBUNIT_MAGIC = 0xB3
# subunit2sql-style statuses (reference golden has success + skip)
STATUS_CODES = {0: "exists", 1: "inprogress", 2: "success", 3: "skip", 4: "fail"}
STATUS_TO_CODE = {v: k for k, v in STATUS_CODES.items()}
# P8: hardcoded broken file the reference always skips
BROKEN_FILE = "testrepository.subunit.gz"

# header: magic(B) status(B) name_len(H BE); times: start_us, end_us
# (q BE). Kept as FORMAT STRINGS, not struct.Struct objects — the
# parse UDF closes over them and Struct instances don't pickle.
HEADER_FMT = ">BBH"
HEADER_SIZE = struct.calcsize(HEADER_FMT)
TIMES_FMT = ">qq"
TIMES_SIZE = struct.calcsize(TIMES_FMT)


def encode_packet(
    test_name: str, status: str, start_us: int, end_us: int
) -> bytes:
    """Python-side encoder (test fixtures + datagen)."""
    name = test_name.encode("utf-8")
    return (
        struct.pack(HEADER_FMT, SUBUNIT_MAGIC, STATUS_TO_CODE[status], len(name))
        + name
        + struct.pack(TIMES_FMT, start_us, end_us)
    )


def encode_stream(tests: list[tuple[str, str, int, int]]) -> bytes:
    return b"".join(encode_packet(*t) for t in tests)


def packet_hex_col(
    test_name: Column, status: Column, start_us: Column, end_us: Column
) -> Column:
    """The SAME wire format as encode_packet, as a Catalyst hex-string
    expression — lets the oracle-checked query synthesize byte
    streams deterministically from the events table (no external
    data), which the parse UDF then decodes from actual bytes."""
    code = F.lit(None).cast("long")
    for s, c in STATUS_TO_CODE.items():
        code = F.when(status == s, F.lit(c)).otherwise(code)
    return F.concat(
        F.lit("B3"),
        F.lpad(F.hex(code), 2, "0"),
        # octet_length, NOT length: name_len counts UTF-8 BYTES (the
        # name is hex'd as bytes); a character count desyncs the
        # stream on the first multi-byte test name
        F.lpad(F.hex(F.octet_length(test_name)), 4, "0"),
        F.hex(test_name),
        F.lpad(F.hex(start_us), 16, "0"),
        F.lpad(F.hex(end_us), 16, "0"),
    )


SUBUNIT_ROWS_TYPE = (
    "array<struct<test_name: string, test_status: string, "
    "start_us: long, end_us: long>>"
)


def make_subunit_parse_udf():
    """binary stream -> array of parsed test structs (empty on
    non-subunit content, truncated at mid-stream corruption)."""

    @pandas_udf(SUBUNIT_ROWS_TYPE)
    def parse(payload: pd.Series) -> pd.Series:
        import struct as _st

        def one(buf):
            if buf is None:
                return []
            buf = bytes(buf)
            out = []
            off = 0
            n = len(buf)
            while off + HEADER_SIZE <= n:
                magic, code, name_len = _st.unpack_from(HEADER_FMT, buf, off)
                if magic != SUBUNIT_MAGIC or code not in STATUS_CODES:
                    # offset 0: "Non subunit content ... Skipping"
                    # (whole file); later: stop at last good packet
                    break
                body = off + HEADER_SIZE
                end = body + name_len + TIMES_SIZE
                if end > n:
                    break
                name = buf[body:body + name_len].decode("utf-8", "replace")
                start_us, end_us = _st.unpack_from(
                    TIMES_FMT, buf, body + name_len
                )
                out.append(
                    {
                        "test_name": name,
                        "test_status": STATUS_CODES[code],
                        "start_us": start_us,
                        "end_us": end_us,
                    }
                )
                off = end
            return out

        return payload.map(one)

    return parse


def parse_subunit_stream(df: DataFrame) -> DataFrame:
    """(conv_id, file_name, payload binary) -> one row per parsed
    test: conv_id, test_name, test_status, start_ts, end_ts.

    Skip rules before any byte is parsed (cheap Catalyst filters):
      * P8 broken-file name (BROKEN_FILE, logsender.py:527-529);
      * P9 empty payloads (logsender.py:535-537).
    """
    # NULL-tolerant: plain != would evaluate NULL for a row with no
    # file name and silently drop a valid payload
    df = df.filter(F.coalesce(F.col("file_name"), F.lit("")) != BROKEN_FILE)
    df = df.filter(
        F.col("payload").isNotNull() & (F.length("payload") > 0)
    )
    parse = make_subunit_parse_udf()
    rows = df.select(
        "conv_id", F.explode(parse(F.col("payload"))).alias("t")
    )
    return rows.select(
        "conv_id",
        F.col("t.test_name").alias("test_name"),
        F.col("t.test_status").alias("test_status"),
        F.timestamp_micros(F.col("t.start_us")).alias("start_ts"),
        F.timestamp_micros(F.col("t.end_us")).alias("end_ts"),
    )


def test_durations(df: DataFrame) -> DataFrame:
    """(conv_id, test_name, test_status, start_ts, end_ts) ->
    reference-shaped records with the duration quirk and the
    strftime('%Y-%m-%dT%H:%M:%SZ') timestamp serialization."""
    # parquet timestamps may surface as TIMESTAMP_NTZ; pin to the
    # session-UTC instant before unix_micros
    diff_us = F.unix_micros(F.col("end_ts").cast("timestamp")) - F.unix_micros(
        F.col("start_ts").cast("timestamp")
    )
    secs = F.floor(diff_us / 1000000).cast("long")
    micros = (diff_us % 1000000).cast("long")
    duration = F.concat(
        secs.cast("string"), F.lit("."), micros.cast("string")
    ).cast("double")
    return df.select(
        "conv_id",
        "test_name",
        duration.alias("test_duration"),
        "test_status",
        F.date_format(F.col("start_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
            "timestamp_str"
        ),
    )
