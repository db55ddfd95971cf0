"""The shape every text-log parser shares (S3, ALB, VPC flow, CloudFront).

A parser turns a string column of raw lines into a fixed typed table in
three steps, all native expressions inside one whole-stage-codegen stage:

1. keep the non-blank lines and strip Unicode White_Space from both ends
   (``_line``);
2. cut ``_line`` into a token array ``_tok`` that is NULL when the line does
   not parse: one regex rewrite (:func:`regex_tokens`) or one split whose
   arity is checked on the array itself (:func:`split_tokens`);
3. read each field from ``_tok`` with ``element_at``. A NULL ``_tok`` makes
   every field NULL by itself (``element_at``, ``nullif``, ``try_cast`` and
   the timestamp parses all pass NULL through), so no field needs a CASE
   WHEN; only the dead-letter column ``error_line`` has a condition.

Size rule: HotSpot does not JIT-compile a method of more than 8,000 bytes
of bytecode (``DontCompileHugeMethods`` is on by default), and a parse
stage's row loop is one method. A stage over that limit runs every line in
the bytecode interpreter. Every parser built here must stay under it;
``tests/test_parse_codegen.py`` checks each registered format.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The code points Java's (?U)\s matches (the Unicode White_Space property).
# Stripping them with trim() gives the same line as the regex
# (?U)^\s+|\s+$, without running a regex.
WHITE_SPACE = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)

# Ends every field of a regex rewrite. No captured field can contain it: an
# \S+ field has no space, a quoted field has '"' only at its two ends, and a
# bracketed field has ']' only at its end. Nor can a field edge next to a
# copy of it spell it (its only space is its last character), so split()
# finds exactly the copies the rewrite wrote. It ends in a space and a
# stripped line does not, so a rewritten line never equals its input.
FIELD_END = ']" '


def field(i: int) -> Column:
    """The 1-based ``i``-th token; NULL when the line did not parse."""
    return F.element_at(F.col("_tok"), i)


def regex_tokens(pattern: str, n_groups: int) -> list[tuple[str, Column]]:
    """``_tok`` from one regex pass: the groups of the leftmost match.

    ``(?s)^.*?(?:P).*$`` tries start positions left to right, as ``find()``
    does, so it rewrites the line into the same match's groups, each
    followed by :data:`FIELD_END`. A line with no match comes back
    unchanged, and a rewritten line never equals its input.
    """
    rewrite = F.regexp_replace(
        F.col("_line"),
        f"(?s)^.*?(?:{pattern}).*$",
        "".join(f"${i}{FIELD_END}" for i in range(1, n_groups + 1)),
    )
    rewritten = F.col("_rewritten")
    return [
        ("_rewritten", rewrite),
        ("_tok", F.when(rewritten != F.col("_line"), F.split(rewritten, FIELD_END))),
    ]


def split_tokens(delimiter: str, n_fields: int) -> list[tuple[str, Column]]:
    """``_tok`` from one split, NULL unless it has exactly ``n_fields``."""
    parts = F.col("_parts")
    return [
        ("_parts", F.split(F.col("_line"), delimiter)),
        ("_tok", F.when(F.size(parts) == n_fields, parts)),
    ]


def line_parser(
    value_col: str,
    tokens: Sequence[tuple[str, Column]],
    fields: Sequence[Column],
    keep: Column | None = None,
    strip: bool = True,
):
    """Build ``lines -> typed table``: ``fields`` then ``error_line``.

    ``keep`` replaces the default blank-line filter and ``strip=False``
    keeps the line as read; CloudFront uses both to keep its raw lines.
    """
    raw = F.col(value_col)
    if keep is None:
        keep = raw.rlike(r"(?U)\S")
    line = (F.trim(raw, F.lit(WHITE_SPACE)) if strip else raw).alias("_line")
    error_line = F.when(F.col("_tok").isNull(), F.col("_line")).alias("error_line")

    def apply(lines: DataFrame) -> DataFrame:
        df = lines.where(keep).select(line)
        for name, col in tokens:
            df = df.withColumn(name, col)
        return df.select(*fields, error_line)

    return apply
