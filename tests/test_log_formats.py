"""ALB and VPC-flow parser tests: golden lines from the public AWS docs,
dead-letter behavior, and registry dispatch — the formats the reference
names as its roadmap but never shipped (`/root/reference/README.md:11`)."""

from datetime import datetime

from aws_logs_parquet_converter_spark.functions.alb_log_parse import (
    ALB_LOG_SCHEMA,
    parse_alb_log_lines,
)
from aws_logs_parquet_converter_spark.functions.cloudfront_log_parse import (
    CLOUDFRONT_LOG_SCHEMA,
    parse_cloudfront_log_lines,
)
from aws_logs_parquet_converter_spark.functions.vpc_flow_parse import (
    VPC_FLOW_SCHEMA,
    parse_vpc_flow_lines,
)
from aws_logs_parquet_converter_spark.sources.generator import (
    GOLDEN_ALB_LINE,
    GOLDEN_CLOUDFRONT_LINE,
    GOLDEN_VPC_FLOW_LINE,
    generate_alb_lines,
    generate_cloudfront_lines,
    generate_vpc_flow_lines,
)


def _df(spark, lines):
    return spark.createDataFrame([(ln,) for ln in lines], "value string")


def test_alb_golden_line(spark):
    row = parse_alb_log_lines(_df(spark, [GOLDEN_ALB_LINE])).collect()[0]
    assert row.error_line is None
    assert row.request_type == "https"
    assert row.time == datetime(2024, 7, 2, 22, 23, 0, 186641)
    assert row.elb == "app/my-lb/50dc6c495c0c9188"
    assert row.client == "192.168.131.39:2817"
    assert row.target == "10.0.0.1:80"
    assert abs(row.request_processing_time - 0.000086) < 1e-12
    assert row.elb_status_code == 200 and row.target_status_code == 200
    assert row.received_bytes == 34 and row.sent_bytes == 366
    assert row.request == "GET https://www.example.com:443/ HTTP/1.1"  # quotes stripped
    assert row.user_agent == "curl/7.46.0"
    assert row.ssl_protocol == "TLSv1.2"
    assert row.trace_id == "Root=1-58337281-1d84f3d73c47ec4e58577259"
    assert row.matched_rule_priority == 0
    assert row.request_creation_time == datetime(2024, 7, 2, 22, 22, 48, 364000)
    assert row.actions_executed == "forward"
    assert row.redirect_url is None  # "-" sentinel
    assert row.target_port_list == "10.0.0.1:80"


def test_alb_dead_letter_and_schema(spark):
    out = parse_alb_log_lines(_df(spark, ["garbage", GOLDEN_ALB_LINE, "  "]))
    assert out.schema == ALB_LOG_SCHEMA
    rows = out.collect()
    assert len(rows) == 2  # blank dropped
    assert sorted(r.error_line is None for r in rows) == [False, True]


def test_alb_old_separator_in_a_field_keeps_every_column(spark):
    """A field holding \\x01 leaves every later column in place."""
    line = GOLDEN_ALB_LINE.replace("app/my-lb/", "app/my\x01lb/").replace(
        '"curl/7.46.0"', '"curl\x01/7.46.0"'
    )
    row = parse_alb_log_lines(_df(spark, [line])).collect()[0]
    assert row.error_line is None
    assert row.elb == "app/my\x01lb/50dc6c495c0c9188"
    assert row.client == "192.168.131.39:2817"
    assert row.elb_status_code == 200 and row.sent_bytes == 366
    assert row.user_agent == "curl\x01/7.46.0"
    assert row.ssl_protocol == "TLSv1.2"
    assert row.request_creation_time == datetime(2024, 7, 2, 22, 22, 48, 364000)
    assert row.target_status_code_list == "200"
    assert row.classification_reason is None


def test_vpc_flow_golden_line(spark):
    row = parse_vpc_flow_lines(_df(spark, [GOLDEN_VPC_FLOW_LINE])).collect()[0]
    assert row.error_line is None
    assert row.version == 2
    assert row.account_id == "123456789010"
    assert row.interface_id == "eni-1235b8ca123456789"
    assert row.srcaddr == "172.31.16.139" and row.dstaddr == "172.31.16.21"
    assert row.srcport == 20641 and row.dstport == 22
    assert row.protocol == 6
    assert row.packets == 20 and row.bytes == 4249
    assert row.start_ts == datetime(2014, 12, 14, 4, 6, 50)  # epoch 1418530010 UTC
    assert row.action == "ACCEPT" and row.log_status == "OK"


def test_vpc_flow_nodata_sentinels(spark):
    line = "2 123456789010 eni-abc - - - - - - - 1418530010 1418530070 - NODATA"
    row = parse_vpc_flow_lines(_df(spark, [line])).collect()[0]
    assert row.error_line is None
    assert row.srcaddr is None and row.srcport is None and row.packets is None
    assert row.action is None and row.log_status == "NODATA"


def test_vpc_flow_wrong_arity_dead_letters(spark):
    row = parse_vpc_flow_lines(_df(spark, ["1 2 3"])).collect()[0]
    assert row.error_line == "1 2 3"
    assert row.version is None


def test_registry_dispatch(spark, tmp_path):
    import os

    from aws_logs_parquet_converter_spark.sources.registry import FORMATS, read_logs

    alb_dir = tmp_path / "alb"
    os.makedirs(alb_dir)
    (alb_dir / "a.txt").write_text("\n".join(generate_alb_lines(200, seed=5)) + "\n")
    alb = read_logs(spark, str(alb_dir) + "/*.txt", fmt="alb")
    assert alb.schema == ALB_LOG_SCHEMA
    n = alb.count()
    ne = alb.where("error_line IS NOT NULL").count()
    assert n == 200 and 0 < ne < 10

    vpc_dir = tmp_path / "vpc"
    os.makedirs(vpc_dir)
    (vpc_dir / "v.txt").write_text("\n".join(generate_vpc_flow_lines(200, seed=5)) + "\n")
    vpc = read_logs(spark, str(vpc_dir) + "/*.txt", fmt="vpcflow")
    assert vpc.schema == VPC_FLOW_SCHEMA
    assert vpc.where("error_line IS NULL").count() > 150
    assert sorted(FORMATS) == [
        "alb", "cloudfront", "cloudtrail", "s3", "vpcflow"
    ]


def test_cloudfront_golden_line(spark):
    row = parse_cloudfront_log_lines(_df(spark, [GOLDEN_CLOUDFRONT_LINE])).collect()[0]
    assert row.error_line is None
    assert row.request_ts == datetime(2019, 12, 4, 21, 2, 31)
    assert row.x_edge_location == "LAX1"
    assert row.sc_bytes == 392
    assert row.c_ip == "192.0.2.100"
    assert row.cs_method == "GET"
    assert row.cs_host == "d111111abcdef8.cloudfront.net"
    assert row.cs_uri_stem == "/index.html"
    assert row.sc_status == 200
    assert row.cs_referer is None  # "-" sentinel
    assert row.cs_user_agent == "Mozilla/5.0%20(Windows%20NT%2010.0)"  # stays encoded
    assert row.x_edge_result_type == "Hit"
    assert row.cs_protocol == "https"
    assert row.cs_bytes == 23
    assert abs(row.time_taken - 0.001) < 1e-12
    assert row.ssl_protocol == "TLSv1.2"
    assert row.cs_protocol_version == "HTTP/2.0"
    assert row.fle_status is None and row.fle_encrypted_fields is None
    assert row.c_port == 11040
    assert abs(row.time_to_first_byte - 0.001) < 1e-12
    assert row.sc_content_type == "text/html"
    assert row.sc_content_len == 78
    assert row.sc_range_start is None and row.sc_range_end is None


def test_cloudfront_headers_dropped_garbage_dead_lettered(spark):
    lines = ["#Version: 1.0", "#Fields: date time ...", "", "garbage line",
             GOLDEN_CLOUDFRONT_LINE, "  "]
    out = parse_cloudfront_log_lines(_df(spark, lines))
    assert out.schema == CLOUDFRONT_LOG_SCHEMA
    rows = out.collect()
    assert len(rows) == 2  # headers + blanks dropped, garbage kept as dead letter
    assert sorted(r.error_line is None for r in rows) == [False, True]
    bad = [r for r in rows if r.error_line is not None][0]
    assert bad.error_line == "garbage line"
    assert bad.request_ts is None and bad.sc_status is None


def test_cloudfront_generator_roundtrip(spark):
    lines = generate_cloudfront_lines(300, seed=7)
    assert lines[0].startswith("#Version") and lines[1].startswith("#Fields")
    out = parse_cloudfront_log_lines(_df(spark, lines))
    n = out.count()
    ne = out.where("error_line IS NOT NULL").count()
    assert n == 300  # 302 lines minus 2 headers
    assert 0 < ne < 10
    ok = out.where("error_line IS NULL")
    assert ok.where("request_ts IS NULL").count() == 0
    assert ok.where("sc_status >= 500").count() > 0


def test_normalized_http_union_across_formats(spark, tmp_path):
    """read_http_events: S3 + ALB + CloudFront parse into ONE schema; counts
    add up, every format contributes typed rows, dead letters survive, and
    a cross-format aggregate runs on the union."""
    import os

    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.sources.generator import (
        generate_alb_lines,
        generate_cloudfront_lines,
        write_log_files,
    )
    from aws_logs_parquet_converter_spark.sources.registry import (
        HTTP_EVENT_COLUMNS,
        read_http_events,
    )

    s3_dir = str(tmp_path / "s3"); write_log_files(s3_dir, n_lines=200, n_files=1, seed=7)
    alb_dir = str(tmp_path / "alb"); os.makedirs(alb_dir)
    with open(alb_dir + "/a.log", "w") as f:
        f.write("\n".join(generate_alb_lines(150, seed=7)))
    cf_dir = str(tmp_path / "cf"); os.makedirs(cf_dir)
    with open(cf_dir + "/c.log", "w") as f:
        f.write("\n".join(generate_cloudfront_lines(120, seed=7)))

    ev = read_http_events(
        spark,
        {"s3": s3_dir + "/*.txt", "alb": alb_dir + "/*.log", "cloudfront": cf_dir + "/*.log"},
    )
    assert tuple(ev.columns) == HTTP_EVENT_COLUMNS
    by_fmt = {r.source_format: r for r in ev.groupBy("source_format").agg(
        F.count("*").alias("n"),
        F.count("error_line").alias("n_dead"),
        F.count("http_method").alias("n_method"),
        F.count("event_time").alias("n_ts"),
    ).collect()}
    assert set(by_fmt) == {"s3", "alb", "cloudfront"}
    for fmt, r in by_fmt.items():
        assert r.n > 0 and r.n_dead > 0, fmt          # dead letters preserved
        assert r.n_ts == r.n - r.n_dead, fmt           # parsed rows fully typed
        assert r.n_method <= r.n - r.n_dead, fmt       # '-' requests -> NULL method
    # cross-format aggregate runs on the union
    agg = ev.where(F.col("status") >= 200).groupBy("source_format").count().collect()
    assert len(agg) == 3
    # methods look like HTTP verbs everywhere
    methods = {r.http_method for r in ev.where(F.col("http_method").isNotNull()).select("http_method").distinct().collect()}
    assert methods and all(m.isupper() and m != "-" for m in methods)


def test_format_autodetection_mixed_directory(spark, tmp_path):
    """A directory mixing all five formats: every file is detected
    correctly and read_logs_auto parses each group with the right parser."""
    from aws_logs_parquet_converter_spark.sources.generator import (
        generate_alb_lines,
        generate_cloudfront_lines,
        generate_cloudtrail_lines,
        generate_log_lines,
        generate_vpc_flow_lines,
    )
    from aws_logs_parquet_converter_spark.sources.registry import (
        detect_log_format,
        read_logs_auto,
    )

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "s3_a.log").write_text("\n".join(generate_log_lines(60, seed=1)) + "\n")
    (d / "s3_b.log").write_text("\n".join(generate_log_lines(60, seed=2)) + "\n")
    (d / "alb.log").write_text("\n".join(generate_alb_lines(60, seed=3)) + "\n")
    (d / "vpc.log").write_text("\n".join(generate_vpc_flow_lines(60, seed=4)) + "\n")
    (d / "cf.log").write_text("\n".join(generate_cloudfront_lines(60, seed=5)) + "\n")
    (d / "ct.log").write_text(
        "\n".join(generate_cloudtrail_lines(60, seed=6)) + "\n"
    )

    detected = {
        r.file.rsplit("/", 1)[-1]: r.detected_format
        for r in detect_log_format(spark, str(d) + "/*.log").collect()
    }
    assert detected == {
        "s3_a.log": "s3",
        "s3_b.log": "s3",
        "alb.log": "alb",
        "vpc.log": "vpcflow",
        "cf.log": "cloudfront",
        "ct.log": "cloudtrail",
    }

    tables = read_logs_auto(spark, str(d) + "/*.log")
    assert set(tables) == {"s3", "alb", "vpcflow", "cloudfront", "cloudtrail"}
    # the two s3 files parse together; garbage lines dead-letter, blanks drop
    assert tables["s3"].count() > 100
    assert "request_time" in tables["s3"].columns
    assert tables["alb"].columns[-1] == "error_line"
    assert tables["vpcflow"].where("log_status = 'NODATA'").count() >= 0
    assert "x_edge_location" in tables["cloudfront"].columns


# ---------------------------------------------------------------------------
# CloudTrail (JSON-lines)
# ---------------------------------------------------------------------------


def test_cloudtrail_golden_line(spark):
    """One hand-built document: every typed column lands, nested
    userIdentity flattens, free-form requestParameters round-trips as
    compact JSON text, eventTime types as a UTC timestamp."""
    from aws_logs_parquet_converter_spark.functions.cloudtrail_parse import (
        parse_cloudtrail_lines,
    )

    line = (
        '{"Records":[{"eventVersion":"1.08","eventTime":"2024-07-01T12:00:05Z",'
        '"eventSource":"s3.amazonaws.com","eventName":"GetObject",'
        '"awsRegion":"us-east-1","sourceIPAddress":"192.0.2.7",'
        '"userAgent":"aws-cli/2.15",'
        '"userIdentity":{"type":"IAMUser","principalId":"AIDA1",'
        '"arn":"arn:aws:iam::111122223333:user/bob",'
        '"accountId":"111122223333","userName":"bob"},'
        '"requestParameters":{"bucketName":"b1","key":"k/1.txt"},'
        '"requestID":"R1","eventID":"E1","readOnly":true,'
        '"eventType":"AwsApiCall","recipientAccountId":"111122223333"}]}'
    )
    df = spark.createDataFrame([(line,)], "value string")
    r = parse_cloudtrail_lines(df).collect()[0]
    assert r.event_name == "GetObject"
    assert r.user_name == "bob"
    assert r.user_type == "IAMUser"
    assert r.request_parameters == '{"bucketName":"b1","key":"k/1.txt"}'
    assert r.read_only is True
    assert r.error_code is None
    assert r.event_time.strftime("%Y-%m-%d %H:%M:%S") == "2024-07-01 12:00:05"
    assert r.error_line is None


def test_cloudtrail_explosion_and_dead_letters(spark):
    """A multi-record document fans out one row per record; each of the
    three bad shapes (non-JSON, missing Records, non-array Records)
    yields exactly one dead-letter row; an EMPTY Records array yields
    zero rows; blank lines drop."""
    from aws_logs_parquet_converter_spark.functions.cloudtrail_parse import (
        parse_cloudtrail_lines,
    )

    two = (
        '{"Records":[{"eventID":"A","eventTime":"2024-07-01T00:00:00Z"},'
        '{"eventID":"B","eventTime":"2024-07-02T00:00:00Z"}]}'
    )
    lines = [two, "garbage", '{"NotRecords":1}', '{"Records":"oops"}',
             '{"Records":[]}', "", "   "]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    out = parse_cloudtrail_lines(df)
    rows = out.collect()
    assert len(rows) == 5  # 2 records + 3 dead letters
    dead = [r.error_line for r in rows if r.error_line is not None]
    assert sorted(dead) == sorted(
        ["garbage", '{"NotRecords":1}', '{"Records":"oops"}']
    )
    good = sorted(r.event_id for r in rows if r.error_line is None)
    assert good == ["A", "B"]
    # dead-letter rows carry NULL in every typed column
    for r in rows:
        if r.error_line is not None:
            assert r.event_id is None and r.event_time is None


def test_cloudtrail_generator_roundtrip(spark):
    """The seeded corpus parses with the expected record fan-out and
    garbage accounting (ground truth recomputed with json.loads)."""
    import json

    from aws_logs_parquet_converter_spark.functions.cloudtrail_parse import (
        parse_cloudtrail_lines,
    )
    from aws_logs_parquet_converter_spark.sources.generator import (
        generate_cloudtrail_lines,
    )

    lines = generate_cloudtrail_lines(120, seed=7, garbage_every=29)
    n_good = n_bad = 0
    for l in lines:
        try:
            r = json.loads(l).get("Records")
            if isinstance(r, list):
                n_good += len(r)
            else:
                n_bad += 1
        except (ValueError, AttributeError):
            n_bad += 1
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    out = parse_cloudtrail_lines(df).cache()
    assert out.where("error_line is null").count() == n_good
    assert out.where("error_line is not null").count() == n_bad
    assert n_bad == 4  # all three bad shapes cycle through the corpus
    out.unpersist()
