"""Every registered log parser compiles to JIT-eligible generated code.

HotSpot does not JIT-compile a method of more than 8,000 bytes of bytecode
(``-XX:+DontCompileHugeMethods``, the default). Whole-stage codegen puts a
parse stage's row loop in one method, so a parser whose stage grows past
that limit runs every line in the bytecode interpreter. A per-field CASE
WHEN or a second regex pass is enough to push a 30-column parse over it,
so this test pins the size of every stage each parser generates.
"""

import pytest

from aws_logs_parquet_converter_spark.sources import generator
from aws_logs_parquet_converter_spark.sources.registry import FORMATS

HUGE_METHOD_LIMIT = 8000

SAMPLES = {
    "s3": generator.generate_log_lines,
    "alb": generator.generate_alb_lines,
    "vpcflow": generator.generate_vpc_flow_lines,
    "cloudfront": generator.generate_cloudfront_lines,
    "cloudtrail": generator.generate_cloudtrail_lines,
}


def test_every_format_has_a_sample():
    assert sorted(SAMPLES) == sorted(FORMATS)


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_parse_stages_stay_under_the_jit_limit(spark, fmt):
    lines = SAMPLES[fmt](200, seed=3)
    parsed = FORMATS[fmt].parse(
        spark.createDataFrame([(ln,) for ln in lines], "value string")
    )
    parsed.collect()  # adaptive execution builds the final stages on run
    stages = parsed._jdf.queryExecution().debug().codegenToSeq()
    sizes = [stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size())]
    assert sizes, f"{fmt}: no whole-stage-codegen stage"
    assert max(sizes) < HUGE_METHOD_LIMIT, f"{fmt}: method sizes {sizes}"
