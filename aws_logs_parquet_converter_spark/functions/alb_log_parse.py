"""Native-expression parser for AWS ALB (ELBv2) access logs.

The reference repo names ALB logs as a goal it never shipped
(`/root/reference/README.md:11`); this module completes it with the same
engine design as :mod:`.s3_log_parse`: one regex execution per line (a
``regexp_replace`` that rewrites the leftmost match into its groups, see
:func:`.log_lines.regex_tokens`), one split, sentinel `-` -> NULL, typed
casts, dead-letter rows, and no per-field CASE WHEN.

Size rule: the generated row loop must stay under 8,000 bytes of bytecode,
HotSpot's limit for JIT-compiling a method (see :mod:`.log_lines`).

Format (public AWS docs, 29 stable leading fields; trailing additions like
conn_trace_id are tolerated because the pattern is not end-anchored):

    type time elb client:port target:port request_processing_time
    target_processing_time response_processing_time elb_status_code
    target_status_code received_bytes sent_bytes "request" "user_agent"
    ssl_cipher ssl_protocol target_group_arn "trace_id" "domain_name"
    "chosen_cert_arn" matched_rule_priority request_creation_time
    "actions_executed" "redirect_url" "error_reason" "target:port_list"
    "target_status_code_list" "classification" "classification_reason"

Quoted fields are stored WITHOUT their surrounding quotes (unlike the S3
parser's `request`, which keeps them to replicate a reference quirk —
here there is no reference behavior to preserve, so we store clean values).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .chain_cache import session_chain_cache
from .log_lines import field, line_parser, regex_tokens
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_U = r"(\S+)"  # unquoted field
_Q = r'("[^"]*"|-)'  # quoted field (or bare '-')

# (name, quoted?, cast | None)
_FIELDS: list[tuple[str, bool, str | None]] = [
    ("request_type", False, None),
    ("time", False, "timestamp"),
    ("elb", False, None),
    ("client", False, None),
    ("target", False, None),
    ("request_processing_time", False, "double"),
    ("target_processing_time", False, "double"),
    ("response_processing_time", False, "double"),
    ("elb_status_code", False, "int"),
    ("target_status_code", False, "int"),
    ("received_bytes", False, "bigint"),
    ("sent_bytes", False, "bigint"),
    ("request", True, None),
    ("user_agent", True, None),
    ("ssl_cipher", False, None),
    ("ssl_protocol", False, None),
    ("target_group_arn", False, None),
    ("trace_id", True, None),
    ("domain_name", True, None),
    ("chosen_cert_arn", True, None),
    ("matched_rule_priority", False, "int"),
    ("request_creation_time", False, "timestamp"),
    ("actions_executed", True, None),
    ("redirect_url", True, None),
    ("error_reason", True, None),
    ("target_port_list", True, None),
    ("target_status_code_list", True, None),
    ("classification", True, None),
    ("classification_reason", True, None),
]

ALB_LOG_PATTERN = " ".join(_Q if quoted else _U for _, quoted, _c in _FIELDS)


def _spark_type(cast: str | None):
    return {
        None: StringType(),
        "int": IntegerType(),
        "bigint": LongType(),
        "double": DoubleType(),
        "timestamp": TimestampType(),
    }[cast]


ALB_LOG_SCHEMA = StructType(
    [StructField(name, _spark_type(cast), True) for name, _q, cast in _FIELDS]
    + [StructField("error_line", StringType(), True)]
)

ALB_LOG_COLUMNS = [f.name for f in ALB_LOG_SCHEMA.fields]


@session_chain_cache
def parse_alb_log_lines(value_col: str = "value"):
    """Raw ALB access-log lines -> typed 30-column table (29 + error_line).

    Column tree built once per session (chain_cache); public shape stays
    ``parse_alb_log_lines(lines, value_col="value")``."""
    cols: list[Column] = []
    for i, (name, quoted, cast) in enumerate(_FIELDS, start=1):
        c = field(i)
        if quoted:
            c = F.btrim(c, F.lit('"'))
        c = F.nullif(c, F.lit("-"))
        if cast is not None:
            c = c.try_cast(cast)  # timestamp: ISO8601 w/ Z -> UTC session time
        cols.append(c.alias(name))
    return line_parser(value_col, regex_tokens(ALB_LOG_PATTERN, len(_FIELDS)), cols)
