"""Native-expression parser for AWS VPC Flow Logs (default format, v2).

The reference repo names VPC logs as a goal it never shipped
(`/root/reference/README.md:11` — only the S3 converter exists); this module
completes that roadmap with the same engine design as
:mod:`.s3_log_parse`: one `split` per line (the default flow-log format is
strictly space-separated, no quoting), sentinel `-` -> NULL, typed casts,
dead-letter preservation.

Format (public AWS docs, "default format" / version 2):
    version account-id interface-id srcaddr dstaddr srcport dstport
    protocol packets bytes start end action log-status
Lines where the capture produced no data carry `-` in most fields and
`NODATA`/`SKIPDATA` in log-status.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .chain_cache import session_chain_cache
from .log_lines import field, line_parser, split_tokens
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_N_FIELDS = 14

# (name, cast | None); all fields use '-' as the missing sentinel
_FIELDS: list[tuple[str, str | None]] = [
    ("version", "int"),
    ("account_id", None),
    ("interface_id", None),
    ("srcaddr", None),
    ("dstaddr", None),
    ("srcport", "int"),
    ("dstport", "int"),
    ("protocol", "int"),
    ("packets", "bigint"),
    ("bytes", "bigint"),
    ("start_ts", "epoch"),
    ("end_ts", "epoch"),
    ("action", None),
    ("log_status", None),
]

VPC_FLOW_SCHEMA = StructType(
    [
        StructField("version", IntegerType(), True),
        StructField("account_id", StringType(), True),
        StructField("interface_id", StringType(), True),
        StructField("srcaddr", StringType(), True),
        StructField("dstaddr", StringType(), True),
        StructField("srcport", IntegerType(), True),
        StructField("dstport", IntegerType(), True),
        StructField("protocol", IntegerType(), True),
        StructField("packets", LongType(), True),
        StructField("bytes", LongType(), True),
        StructField("start_ts", TimestampType(), True),
        StructField("end_ts", TimestampType(), True),
        StructField("action", StringType(), True),
        StructField("log_status", StringType(), True),
        StructField("error_line", StringType(), True),
    ]
)

VPC_FLOW_COLUMNS = [f.name for f in VPC_FLOW_SCHEMA.fields]


@session_chain_cache
def parse_vpc_flow_lines(value_col: str = "value"):
    """Raw flow-log lines -> typed 15-column table (14 fields + error_line).

    No regex at all: the default format is strictly single-space separated,
    so one `split` + arity check is the whole parse. Unparseable lines
    (wrong field count) dead-letter with the raw text preserved.
    Column tree built once per session (chain_cache); public shape stays
    ``parse_vpc_flow_lines(lines, value_col="value")``.
    """

    def _field(i: int, cast: str | None) -> Column:
        c = F.nullif(field(i), F.lit("-"))
        if cast == "epoch":
            return F.timestamp_seconds(c.try_cast("bigint"))
        if cast is not None:
            return c.try_cast(cast)
        return c

    cols = [
        _field(i, cast).alias(name) for i, (name, cast) in enumerate(_FIELDS, start=1)
    ]
    return line_parser(value_col, split_tokens(" ", _N_FIELDS), cols)
