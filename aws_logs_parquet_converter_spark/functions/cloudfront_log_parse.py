"""Native-expression parser for CloudFront standard access logs.

Same engine contract as :mod:`.s3_log_parse` / :mod:`.alb_log_parse` /
:mod:`.vpc_flow_parse` (the reference promises a multi-format converter
family but ships only S3 — `/root/reference/README.md:11`): native
expressions only, fixed schema, sentinel -> NULL, dead-letter preservation,
blank lines dropped.

Format (public AWS docs, "standard logs v1"): W3C extended log file —
tab-separated, 33 fields, preceded by two comment lines::

    #Version: 1.0
    #Fields: date time x-edge-location sc-bytes c-ip cs-method cs(Host) ...

Comment lines (leading ``#``) are metadata, not records — dropped like
blanks, NOT dead-lettered. ``-`` is the missing-value sentinel in every
field. ``date`` + ``time`` (UTC) are fused into one ``request_ts``
timestamp column; string fields stay URL-encoded exactly as logged (decoding
is a presentation choice — ``url_decode`` is available downstream).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .chain_cache import session_chain_cache
from .log_lines import field, line_parser, split_tokens
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_N_FIELDS = 33

# field index (0-based within the tab-split line) -> (output name, cast)
# indexes 0/1 are date/time, fused into request_ts separately.
_FIELDS: list[tuple[str, str | None]] = [
    ("x_edge_location", None),
    ("sc_bytes", "bigint"),
    ("c_ip", None),
    ("cs_method", None),
    ("cs_host", None),
    ("cs_uri_stem", None),
    ("sc_status", "int"),
    ("cs_referer", None),
    ("cs_user_agent", None),
    ("cs_uri_query", None),
    ("cs_cookie", None),
    ("x_edge_result_type", None),
    ("x_edge_request_id", None),
    ("x_host_header", None),
    ("cs_protocol", None),
    ("cs_bytes", "bigint"),
    ("time_taken", "double"),
    ("x_forwarded_for", None),
    ("ssl_protocol", None),
    ("ssl_cipher", None),
    ("x_edge_response_result_type", None),
    ("cs_protocol_version", None),
    ("fle_status", None),
    ("fle_encrypted_fields", "int"),
    ("c_port", "int"),
    ("time_to_first_byte", "double"),
    ("x_edge_detailed_result_type", None),
    ("sc_content_type", None),
    ("sc_content_len", "bigint"),
    ("sc_range_start", "bigint"),
    ("sc_range_end", "bigint"),
]

_TYPE = {
    None: StringType(),
    "int": IntegerType(),
    "bigint": LongType(),
    "double": DoubleType(),
}

CLOUDFRONT_LOG_SCHEMA = StructType(
    [StructField("request_ts", TimestampType(), True)]
    + [StructField(name, _TYPE[cast], True) for name, cast in _FIELDS]
    + [StructField("error_line", StringType(), True)]
)

CLOUDFRONT_LOG_COLUMNS = [f.name for f in CLOUDFRONT_LOG_SCHEMA.fields]


@session_chain_cache
def parse_cloudfront_log_lines(value_col: str = "value"):
    """Raw CloudFront log lines -> typed 33-column table (+ error_line).

    One `split` on tab is the whole parse (the format never embeds tabs in
    fields — values are URL-encoded). Stays entirely inside whole-stage
    codegen: no Python workers, no shuffle. Wrong-arity lines dead-letter
    with the raw text preserved; ``#``-comment and blank lines are dropped
    (both judged after trimming spaces only).
    Column tree built once per session (chain_cache); public shape stays
    ``parse_cloudfront_log_lines(lines, value_col="value")``.
    """
    line = F.col(value_col)
    keep = (F.length(F.trim(line)) > 0) & ~F.startswith(F.ltrim(line), F.lit("#"))

    def _raw(i: int) -> Column:
        return F.nullif(field(i), F.lit("-"))

    ts = F.try_to_timestamp(
        F.concat_ws(" ", _raw(1), _raw(2)), F.lit("yyyy-MM-dd HH:mm:ss")
    )
    cols = [ts.alias("request_ts")]
    for i, (name, cast) in enumerate(_FIELDS, start=3):
        c = _raw(i)
        if cast is not None:
            c = c.try_cast(cast)
        cols.append(c.alias(name))
    return line_parser(
        value_col, split_tokens("\t", _N_FIELDS), cols, keep=keep, strip=False
    )
