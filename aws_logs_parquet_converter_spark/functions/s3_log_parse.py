"""Native-expression parser for the AWS S3 server-access-log format.

Re-expresses the reference's per-row Python parser
(``converters/s3-server-access-log/s3_server_access_logs.py:157-228`` — regex at
``:25-34``, timestamp at ``:144-154``, schema at ``:231-261``) as Catalyst
expressions so the whole parse runs inside Tungsten whole-stage codegen on the
JVM — no Python workers, no RDDs.

Design: instead of 26 separate ``regexp_extract`` calls (26 regex executions
per line), we run the regex **once** per line, in one ``regexp_replace``
(:func:`.log_lines.regex_tokens`):

* ``(?s)^.*?(?:PATTERN).*$`` tries start positions left to right, as
  ``find()`` does, so it picks the same leftmost match and groups as the
  reference's ``re.search``; the rewrite keeps only the 26 groups, each
  followed by a terminator no field can contain, and one ``split`` turns
  them into an array. A line with no match comes back unchanged, and a
  rewritten line never equals its input: no match -> dead-letter row.
* Group 3 of the rewrite captures only the timestamp body, so the time
  needs no second regex.
* Each field is then ``element_at`` + sentinel/cast logic, with no per-field
  CASE WHEN: a NULL array already makes every field NULL.

Size rule: the generated row loop must stay under 8,000 bytes of bytecode,
HotSpot's limit for JIT-compiling a method (see :mod:`.log_lines`). Over it,
every line runs in the bytecode interpreter. A CASE WHEN per field plus a
second regex pass is enough to cross it.

Reference semantics preserved exactly (SURVEY.md §2.3 correctness traps):

* ``-`` is the missing sentinel for most fields; quoted fields
  (``referrer``/``user_agent``) use ``"-"`` *with* quotes.
* ``request`` keeps its surrounding double quotes.
* ``version_id`` captures exactly ONE non-space char (the reference pattern
  uses ``(?P<version>\\S)`` without ``+`` — a documented quirk we replicate).
* The timestamp drops its timezone: content of ``[...]`` up to the first
  space, parsed as ``dd/MMM/yyyy:HH:mm:ss`` -> naive timestamp, second
  precision, TIMESTAMP_MILLIS physical type on write.
* Unparseable lines are dead-lettered (26 NULLs + raw text in
  ``error_line``), parsed lines carry ``error_line = NULL``.
* Blank / whitespace-only lines produce no row. Lines are stripped of the
  Unicode White_Space set Java's ``(?U)\\s`` matches; unlike Python's
  ``str.strip`` that set leaves U+001C-U+001F in place.

Divergence (strictly more robust, documented): a *matched* line whose
timestamp or numeric field is garbage yields NULL in that field; the
reference's Python parser would raise and kill the job
(``int(...)`` at ``:204-211``, ``.isoformat()`` on ``None`` at ``:197``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .chain_cache import session_chain_cache
from .log_lines import field, line_parser, regex_tokens
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Our own expression of the public AWS S3 server-access-log grammar
# (https://docs.aws.amazon.com/AmazonS3/latest/userguide/LogFormat.html),
# field-for-field compatible with the reference's pattern, numbered groups:
#  1 owner  2 bucket  3 time[]  4 ip  5 requester  6 request_id  7 operation
#  8 key  9 request  10 status  11 error_code  12 bytes  13 size
# 14 total_time  15 turn_around  16 referrer  17 user_agent  18 version(1ch!)
# 19 host_id  20 sig_version  21 cipher  22 auth_type  23 host_header
# 24 tls  25 access_point_arn  26 acl_required
S3_ACCESS_LOG_PATTERN = (
    r"(\S+) (\S+) (\[[^\]]*\]) (\S+) (\S+) (\S+) (\S+) (\S+) "
    r'("[^"]*"|-) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) ("[^"]*"|-) '
    r'("[^"]*"|-) (\S) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+)'
)

_N_GROUPS = 26

# The same grammar with group 3 narrowed to the timestamp the reference
# parses (:144-154): the bracket content up to the first space or ']'. It
# matches the same text with the same groups, and the rewrite hands the
# timestamp body over without a second regex. Possessive quantifiers keep an
# unclosed '[' from backtracking quadratically.
_REWRITE_PATTERN = S3_ACCESS_LOG_PATTERN.replace(
    r"(\[[^\]]*\])", r"\[([^\s\]]*+)[^\]]*+\]", 1
)

# (name, 1-based regex group, sentinel literal or None, cast type or None)
_FIELD_SPECS: list[tuple[str, int, str | None, str | None]] = [
    ("bucket_owner", 1, None, None),
    ("s3_bucket", 2, None, None),
    # group 3 (time) handled separately -> request_time
    ("remote_ip", 4, None, None),
    ("requester", 5, None, None),
    ("request_id", 6, None, None),
    ("operation", 7, None, None),
    ("key", 8, "-", None),
    ("request", 9, None, None),  # keeps quotes (reference :203)
    ("http_status", 10, "-", "int"),
    ("error_code", 11, "-", None),
    ("bytes_sent", 12, "-", "bigint"),
    ("object_size", 13, "-", "bigint"),
    ("total_time", 14, "-", "bigint"),
    ("turn_around_time", 15, "-", "bigint"),
    ("referrer", 16, '"-"', None),  # quoted sentinel (reference :212)
    ("user_agent", 17, '"-"', None),  # quoted sentinel (reference :213)
    ("version_id", 18, "-", None),  # 1-char capture quirk (reference :30)
    ("host_id", 19, "-", None),
    ("signature_version", 20, "-", None),
    ("cipher_suite", 21, "-", None),
    ("authentication_type", 22, "-", None),
    ("host_header", 23, "-", None),
    ("tls_version", 24, "-", None),
    ("access_point_arn", 25, "-", None),
    ("acl_required", 26, "-", None),
]

# Parsed table schema: reference output schema (s3_server_access_logs.py:231-261)
# with the derived timestamp in place of request_time_string (:405-441).
S3_ACCESS_LOG_SCHEMA = StructType(
    [
        StructField("bucket_owner", StringType(), True),
        StructField("s3_bucket", StringType(), True),
        StructField("request_time", TimestampType(), True),
        StructField("remote_ip", StringType(), True),
        StructField("requester", StringType(), True),
        StructField("request_id", StringType(), True),
        StructField("operation", StringType(), True),
        StructField("key", StringType(), True),
        StructField("request", StringType(), True),
        StructField("http_status", IntegerType(), True),
        StructField("error_code", StringType(), True),
        StructField("bytes_sent", LongType(), True),
        StructField("object_size", LongType(), True),
        StructField("total_time", LongType(), True),
        StructField("turn_around_time", LongType(), True),
        StructField("referrer", StringType(), True),
        StructField("user_agent", StringType(), True),
        StructField("version_id", StringType(), True),
        StructField("host_id", StringType(), True),
        StructField("signature_version", StringType(), True),
        StructField("cipher_suite", StringType(), True),
        StructField("authentication_type", StringType(), True),
        StructField("host_header", StringType(), True),
        StructField("tls_version", StringType(), True),
        StructField("access_point_arn", StringType(), True),
        StructField("acl_required", StringType(), True),
        StructField("error_line", StringType(), True),
    ]
)

OUTPUT_COLUMNS = [f.name for f in S3_ACCESS_LOG_SCHEMA.fields]


@session_chain_cache
def parse_s3_access_log_lines(value_col: str = "value"):
    """Parse a DataFrame of raw log lines into the 27-column typed table.

    Input: one string column (default ``value``, as produced by
    ``spark.read.text``). Output: ``S3_ACCESS_LOG_SCHEMA`` — entirely native
    expressions, single stage, no shuffle. Public shape stays
    ``parse_s3_access_log_lines(lines, value_col="value")``; the Column
    tree is built once per session (chain_cache) so per-micro-batch
    streaming calls don't rebuild ~150 py4j expressions each trigger.
    """
    cols: list[Column] = []
    for name in OUTPUT_COLUMNS[:-1]:
        if name == "request_time":
            c = F.try_to_timestamp(field(3), F.lit("dd/MMM/yyyy:HH:mm:ss"))
        else:
            _name, grp, sentinel, cast = next(s for s in _FIELD_SPECS if s[0] == name)
            c = field(grp)
            if sentinel is not None:
                c = F.nullif(c, F.lit(sentinel))
            if cast is not None:
                c = c.try_cast(cast)
        cols.append(c.alias(name))
    return line_parser(value_col, regex_tokens(_REWRITE_PATTERN, _N_GROUPS), cols)
