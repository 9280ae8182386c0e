"""Abstraction rules (A1/A2) — table-driven + dual-path parity (SURVEY 5.2)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from abs_log_spark.functions.abstract import args_abs_col, uri_abs_col
from abs_log_spark.functions.parse import _args_abs_arrow, _uri_abs_arrow

URI_CASES = [
    ("/api/user/123/profile", "/api/user/*/profile"),
    ("/item/900150983cd24fb0d6963f7d28e17f72", "/item/*"),
    ("/order/55/detail/900150983c-d24f-b0d6-963f-7d28e17f72", "/order/*/detail/*"),
    ("/static/app.js", "/static/app.js"),
    ("/search", "/search"),
    ("/", "/"),
    ("/a/b/c", "/a/b/c"),
    ("/v2/12ab34cd-5678-90ef-aaaa-bbbbccccdddd/x", "/v2/*/x"),
    ("/short/abc123/x", "/short/abc123/x"),  # mixed short segment stays
    ("/deadbeefcafe", "/*"),  # long pure-hex collapses
]

ARGS_CASES = [
    ("q=x&page=2", "q=*&page=*"),
    ("id=777", "id=*"),
    ("", ""),
    ("a=1&b=&c", "a=*&b=*&c=*"),
    ("key=a=b", "key=*"),
]


def test_uri_abs_builtin(spark):
    df = spark.createDataFrame([(u,) for u, _ in URI_CASES], "uri string")
    got = [r.a for r in df.select(uri_abs_col(F.col("uri")).alias("a")).collect()]
    assert got == [e for _, e in URI_CASES]


def test_args_abs_builtin(spark):
    df = spark.createDataFrame([(a,) for a, _ in ARGS_CASES], "args string")
    got = [r.a for r in df.select(args_abs_col(F.col("args")).alias("a")).collect()]
    assert got == [e for _, e in ARGS_CASES]


def test_dual_path_parity(spark):
    """The Arrow kernels inside the production parse UDF agree with the
    builtin-expression path, and with the expected values, including null
    input -> null."""
    uris = [u for u, _ in URI_CASES] + [None]
    args = [a for a, _ in ARGS_CASES] + [None]
    df = spark.createDataFrame([(u,) for u in uris], "uri string").select(
        uri_abs_col(F.col("uri")).alias("a")
    )
    builtin_uri = [r.a for r in df.collect()]
    df = spark.createDataFrame([(a,) for a in args], "args string").select(
        args_abs_col(F.col("args")).alias("a")
    )
    builtin_args = [r.a for r in df.collect()]
    arrow_uri = _uri_abs_arrow(pa.array(uris, pa.string())).to_pylist()
    arrow_args = _args_abs_arrow(pa.array(args, pa.string())).to_pylist()
    assert arrow_uri == builtin_uri == [e for _, e in URI_CASES] + [None]
    assert arrow_args == builtin_args == [e for _, e in ARGS_CASES] + [None]
