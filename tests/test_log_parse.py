"""Parser fidelity tests.

Golden line + expectations from the reference's own test suite
(``converters/s3-server-access-log/test_s3_server_access_logs.py:158-215``,
golden line at ``:190``) and FIXTURES.md §1.
"""

import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from aws_logs_parquet_converter_spark.functions.log_lines import WHITE_SPACE
from aws_logs_parquet_converter_spark.functions.s3_log_parse import (
    _FIELD_SPECS,
    OUTPUT_COLUMNS,
    S3_ACCESS_LOG_PATTERN,
    S3_ACCESS_LOG_SCHEMA,
    parse_s3_access_log_lines,
)
from aws_logs_parquet_converter_spark.sources.generator import (
    generate_log_lines,
    write_log_files,
)
from aws_logs_parquet_converter_spark.sources.logs import read_s3_access_logs

GOLDEN_LINE = (
    "2f72d68abcde93a1d8fd610f6b970dc1cabf1ddc49890eff97a5f24db329007e test-bucket "
    "[30/Jul/2024:13:08:44 +0000] 1.1.1.1 "
    "arn:aws:sts::123456789:assumed-role/TestRole/i-123456789abcdefgh BZCH9YMEC2WD3E4Z "
    'REST.HEAD.BUCKET - "HEAD / HTTP/1.1" 200 - - - 26 26 "-" '
    '"Hadoop 3.3.1, aws-sdk-java/1.12.189 Linux/5.15.0-1064-aws '
    "OpenJDK_64-Bit_Server_VM/25.382-b05 java/1.8.0_382 scala/2.12.14 "
    'vendor/Azul_Systems,_Inc. cfg/retry-mode/legacy" - '
    "ywUV+WX4hdG+LOGtBznXDFARyoT1wwLmHy9FrxRqfz25a86QIizV6v8bYK9/FCDpRYBzknx4/e4= "
    "SigV4 TLS_AES_128_GCM_SHA256 AuthHeader test-bucket.s3.amazonaws.com TLSv1.3 - -"
)


def _parse(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    return parse_s3_access_log_lines(df)


def test_golden_line(spark):
    row = _parse(spark, [GOLDEN_LINE]).collect()[0]
    assert row.error_line is None
    assert row.s3_bucket == "test-bucket"
    assert row.bucket_owner == "2f72d68abcde93a1d8fd610f6b970dc1cabf1ddc49890eff97a5f24db329007e"
    assert row.request_time == datetime(2024, 7, 30, 13, 8, 44)  # zone dropped
    assert row.remote_ip == "1.1.1.1"
    assert row.operation == "REST.HEAD.BUCKET"
    assert row.key is None  # '-' sentinel
    assert row.request == '"HEAD / HTTP/1.1"'  # quotes kept
    assert row.http_status == 200
    assert row.error_code is None
    assert row.bytes_sent is None
    assert row.object_size is None
    assert row.total_time == 26
    assert row.turn_around_time == 26
    assert row.referrer is None  # '"-"' quoted sentinel
    assert row.user_agent is not None and row.user_agent.startswith('"Hadoop 3.3.1')
    assert row.version_id is None
    assert row.signature_version == "SigV4"
    assert row.cipher_suite == "TLS_AES_128_GCM_SHA256"
    assert row.authentication_type == "AuthHeader"
    assert row.host_header == "test-bucket.s3.amazonaws.com"
    assert row.tls_version == "TLSv1.3"
    assert row.access_point_arn is None
    assert row.acl_required is None


def test_schema_matches_contract(spark):
    df = _parse(spark, [GOLDEN_LINE])
    assert df.schema == S3_ACCESS_LOG_SCHEMA
    assert df.columns == OUTPUT_COLUMNS


def test_dead_letter_rows(spark):
    rows = _parse(spark, ["content", "content2"]).collect()
    assert len(rows) == 2
    for row, raw in zip(sorted(rows, key=lambda r: r.error_line), ["content", "content2"]):
        assert row.error_line == raw
        for col in OUTPUT_COLUMNS[:-1]:
            assert row[col] is None, col


def test_blank_lines_dropped(spark):
    rows = _parse(spark, ["", "   ", "\t", GOLDEN_LINE]).collect()
    assert len(rows) == 1
    assert rows[0].error_line is None


def test_invalid_timestamp_is_null_but_line_parses(spark):
    line = GOLDEN_LINE.replace("[30/Jul/2024:13:08:44 +0000]", "[InvalidTimestamp]")
    row = _parse(spark, [line]).collect()[0]
    assert row.error_line is None
    assert row.request_time is None
    assert row.http_status == 200


def test_version_id_single_char_quirk(spark):
    # Reference pattern captures exactly ONE non-space char for version_id
    # (s3_server_access_logs.py:30: `(?P<version>\S)` followed by a literal
    # space). Consequence, replicated here: a single-char version id parses,
    # while a realistic multi-char version id makes the whole line unmatchable
    # -> dead-letter row.
    single = GOLDEN_LINE.replace('" - ywUV', '" X ywUV')
    row = _parse(spark, [single]).collect()[0]
    assert row.error_line is None and row.version_id == "X"

    multi = GOLDEN_LINE.replace('" - ywUV', '" abc123 ywUV')
    row = _parse(spark, [multi]).collect()[0]
    assert row.error_line == multi and row.version_id is None


def test_generator_roundtrip(spark, tmp_path):
    paths = write_log_files(str(tmp_path), n_lines=500, n_files=3, seed=7)
    assert len(paths) == 3
    df = read_s3_access_logs(spark, str(tmp_path) + "/*.txt")
    total = df.count()
    n_blank = sum(1 for ln in generate_log_lines(500, seed=7) if not ln.strip())
    assert total == 500 - n_blank
    bad = df.where("error_line is not null").count()
    good = df.where("error_line is null").count()
    assert bad > 0 and good > 0 and bad + good == total
    # parsed rows carry a timestamp and valid status
    assert df.where("error_line is null and request_time is null").count() == 0
    assert df.where("error_line is null and http_status is null").count() == 0


def test_python_datasource_feeds_parser(spark):
    """Spark 4 Python DataSource: synthetic log lines from a registered
    non-file source, planned one-task-per-partition, parsed by the same
    native-expression parser as file input."""
    from aws_logs_parquet_converter_spark.functions.s3_log_parse import (
        parse_s3_access_log_lines,
    )
    from aws_logs_parquet_converter_spark.sources.generator import (
        SyntheticS3LogDataSource,
    )

    spark.dataSource.register(SyntheticS3LogDataSource)
    raw = (
        spark.read.format("synthetic_s3_logs")
        .option("partitions", "3")
        .option("lines_per_partition", "200")
        .option("seed", "5")
        .load()
    )
    assert raw.rdd.getNumPartitions() == 3
    assert raw.count() == 600
    parsed = parse_s3_access_log_lines(raw)
    n = parsed.count()
    # blank lines are dropped by contract (SURVEY §2.3); everything else rows
    n_blank = raw.where("trim(value) = ''").count()
    assert n == 600 - n_blank
    dead = parsed.where("error_line IS NOT NULL").count()
    assert 0 < dead < n  # generator plants garbage lines; the rest parse
    assert parsed.where("error_line IS NULL AND request_time IS NULL").count() == 0


# ---------------------------------------------------------------------------
# Row-for-row parity with a Python reference of the reference's parser
# ---------------------------------------------------------------------------

SHORT_LINE = (
    "own bkt [30/Jul/2024:13:08:44 +0000] 1.2.3.4 req REQID REST.GET.OBJECT "
    'key "GET /key HTTP/1.1" 200 - 10 20 3 2 "-" "UA" - hid SigV4 cipher '
    "AuthHeader host TLSv1.3 - -"
)
OTHER_LINE = (
    "own2 bkt2 [01/Jan/2023:00:00:01 +0000] 5.6.7.8 req2 REQ2 REST.PUT.OBJECT "
    'k2 "PUT /k2 HTTP/1.1" 404 NoSuchKey 0 - 7 - "http://r" "UA2" X hid2 '
    "SigV2 c2 QueryString host2 TLSv1.2 arn:ap Yes"
)

EDGE_LINES = [
    GOLDEN_LINE,
    SHORT_LINE,
    # leading / trailing White_Space the strip removes
    "\xa0" + GOLDEN_LINE + "\xa0",
    "\u2028" + SHORT_LINE + "\u3000",
    "\u3000\t\x85" + SHORT_LINE + "\u2028\xa0\r\n",
    "\x1c" + SHORT_LINE,  # not White_Space: kept, becomes part of bucket_owner
    # tabs inside a line: inside quoted fields they parse, between fields not
    SHORT_LINE.replace("GET /key", "GET\t/key"),
    SHORT_LINE.replace('"UA"', '"U\tA"'),
    SHORT_LINE.replace(" 200 ", "\t200 "),
    # line terminators inside a line
    SHORT_LINE.replace('"UA"', '"U\u2028A\x85B\nC"'),
    "pre\n" + SHORT_LINE,
    # the match starts after leading garbage
    "junk [x] " + SHORT_LINE,
    "p q " + SHORT_LINE,
    "own0 bkt0 [01/Jan/2020:00:00:00 +0000] " + SHORT_LINE,
    # two candidate matches in one line: the leftmost wins
    SHORT_LINE + " " + OTHER_LINE,
    OTHER_LINE + " " + SHORT_LINE,
    SHORT_LINE + " trailing fields",
    # \x01 inside fields
    SHORT_LINE.replace("own ", "own\x01er ", 1),
    SHORT_LINE.replace(" key ", " k\x01e\x01y ").replace('"UA"', '"U\x01A"'),
    # the rewrite's field terminator, and its pieces, inside fields
    SHORT_LINE.replace(" key ", ' k]"x ').replace("GET /key", "GET /a]"),
    SHORT_LINE.replace("+0000]", '"+0000 ]"]'),
    SHORT_LINE.replace('"UA"', '"U]" A"'),
    # timestamps and numbers the casts reject
    SHORT_LINE.replace("[30/Jul/2024:13:08:44 +0000]", "[InvalidTimestamp]"),
    SHORT_LINE.replace("[30/Jul/2024:13:08:44 +0000]", "[ 30/Jul/2024:13:08:44]"),
    SHORT_LINE.replace("[30/Jul/2024:13:08:44 +0000]", "[30/Jul/2024:13:08:44]"),
    SHORT_LINE.replace("[30/Jul/2024:13:08:44 +0000]", "[]"),
    SHORT_LINE.replace(" 200 ", " 2xx ").replace(" 10 20 ", " 99999999999999999999 +20 "),
    # unmatched lines are dead-lettered, stripped
    SHORT_LINE.replace("+0000]", "+0000"),
    SHORT_LINE.replace(' - -', ' -'),
    " content\t",
    # blank and White_Space-only lines are dropped
    "",
    " ",
    "\t\u3000\u2028",
    "\xa0",
]

_INT_RANGE = {"int": 2**31, "bigint": 2**63}


def _reference_row(value):
    """The reference's parse of one line, as a row tuple (None: dropped).

    ``re.search`` on the stripped line, then the sentinels, the integer
    casts (NULL when not a number in range) and the timestamp rule: the
    bracket content up to its first space, as ``dd/MMM/yyyy:HH:mm:ss``.
    ``re.ASCII`` gives ``\\s`` the ASCII set that Java's has.
    """
    line = value.strip(WHITE_SPACE)
    if not line:
        return None
    m = re.search(S3_ACCESS_LOG_PATTERN, line, re.ASCII)
    if m is None:
        return (None,) * (len(OUTPUT_COLUMNS) - 1) + (line,)
    groups = m.groups()
    row = {"error_line": None}
    for name, grp, sentinel, cast in _FIELD_SPECS:
        v = groups[grp - 1]
        if v == sentinel:
            v = None
        if cast is not None and v is not None:
            ok = re.fullmatch(r"[+-]?[0-9]+", v) and abs(int(v)) < _INT_RANGE[cast]
            v = int(v) if ok else None
        row[name] = v
    body = re.match(r"\[([^\s\]]+)", groups[2], re.ASCII)
    try:
        ts = datetime.strptime(body.group(1), "%d/%b/%Y:%H:%M:%S") if body else None
    except ValueError:
        ts = None
    row["request_time"] = ts
    return tuple(row[c] for c in OUTPUT_COLUMNS)


def test_parse_matches_python_reference_row_for_row(spark):
    expected = [r for r in map(_reference_row, EDGE_LINES) if r is not None]
    got = [tuple(r) for r in _parse(spark, EDGE_LINES).collect()]
    assert sorted(got, key=repr) == sorted(expected, key=repr)


def test_old_separator_in_a_field_keeps_every_column(spark):
    """A field holding \\x01 leaves every later column in place."""
    row = _parse(spark, [SHORT_LINE.replace("own ", "own\x01er ", 1)]).collect()[0]
    assert row.error_line is None
    assert row.bucket_owner == "own\x01er"
    assert row.s3_bucket == "bkt"
    assert row.request_time == datetime(2024, 7, 30, 13, 8, 44)
    assert row.http_status == 200
    assert row.acl_required is None


def test_white_space_trim_matches_the_regex_strip_on_every_code_point(spark):
    """trim(WHITE_SPACE) == regexp_replace('(?U)^\\s+|\\s+$'), and
    rlike('(?U)\\S') == non-empty after it, for every code point alone
    and in leading, inner and trailing position."""
    # code point -> 4 UTF-32 bytes, after a byte-order mark so that the
    # decoder does not swallow U+FEFF as one
    utf32 = F.concat(F.lit("0000FEFF"), F.lpad(F.hex("id"), 8, "0"))
    cp = F.decode(F.unhex(utf32), "UTF-32")
    chars = spark.range(0x110000).where(~F.col("id").between(0xD800, 0xDFFF))
    s = F.col("s")
    strip = F.regexp_replace(s, r"(?U)^\s+|\s+$", "")
    trimmed = F.trim(s, F.lit(WHITE_SPACE))
    counts = (
        chars.select(cp.alias("c"))
        .select(F.explode(F.array("c", F.concat("c", F.lit("a"), "c", F.lit("b"), "c"))))
        .select(F.col("col").alias("s"))
        .agg(
            F.count("s").alias("strings"),
            F.count_if(trimmed != strip).alias("trim_differs"),
            F.count_if(s.rlike(r"(?U)\S") != (F.length(strip) > 0)).alias("blank_differs"),
            F.count_if(trimmed == "").alias("all_white_space"),
        )
        .first()
    )
    assert counts.strings == 2 * (0x110000 - 0x800)
    assert counts.trim_differs == 0
    assert counts.blank_differs == 0
    assert counts.all_white_space == len(WHITE_SPACE) == 25
