"""Parse stage: fixture lines incl. malformed; Arrow path == builtin path."""

from __future__ import annotations

from pyspark.sql import functions as F

from abs_log_spark.functions.parse import PARSED_FIELDS, parse_arrow, parse_expr
from abs_log_spark.functions.tokens import detokenize_udf, tokenize_col, tokenize_udf
from abs_log_spark.sources.synth import gen_sequences

GOOD = '10.0.0.1 - [01/Jan/2024:00:05:07 +0000] "GET /api/user/123/profile?q=alpha&page=2 HTTP/1.1" 200 1234 0.042'
GOOD_NO_ARGS = '10.0.0.2 - [01/Jan/2024:01:59:59 +0000] "POST /search HTTP/1.1" 404 99 1.500'
BAD = "not an access log line"


def _tok_df(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    return df.select(tokenize_col(F.col("line")).alias("tokens"))


def test_parse_arrow_fields(spark):
    out = parse_arrow(_tok_df(spark, [GOOD, GOOD_NO_ARGS, BAD])).collect()
    g, g2, b = out
    assert g.valid and g.ip == "10.0.0.1" and g.method == "GET"
    assert g.uri == "/api/user/123/profile" and g.args == "q=alpha&page=2"
    assert g.status == 200 and g.bytes == 1234 and abs(g.rt - 0.042) < 1e-12
    assert str(g.ts) == "2024-01-01 00:05:07"
    assert g2.valid and g2.args == "" and g2.status == 404 and g2.method == "POST"
    assert not b.valid and b.uri is None and b.status is None and b.ts is None


def test_parse_paths_agree(spark):
    """Arrow-UDF path == builtin-expr path on synthetic data w/ corrupt rows."""
    seq = gen_sequences(spark, 500, invalid_every=7)
    a = parse_arrow(seq).select("doc_id", *PARSED_FIELDS)
    e = parse_expr(seq).select("doc_id", *PARSED_FIELDS)
    diff = a.exceptAll(e).count() + e.exceptAll(a).count()
    assert diff == 0
    assert a.where(~F.col("valid")).count() == 500 // 7 + (1 if 500 % 7 >= 7 else 0)


def test_arrow_abstraction_matches_builtin(spark):
    """uri_abs/args_abs emitted inside the Arrow parse UDF == builtin
    transform()-based expressions (dual-path parity)."""
    from abs_log_spark.functions.abstract import args_abs_col, uri_abs_col

    seq = gen_sequences(spark, 400, invalid_every=9)
    a = parse_arrow(seq)
    mism = a.where(
        ~F.col("uri_abs").eqNullSafe(uri_abs_col(F.col("uri")))
        | ~F.col("args_abs").eqNullSafe(args_abs_col(F.col("args")))
    ).count()
    assert mism == 0


def test_parse_arrow_fallback_batch_null_and_non_ascii(spark):
    """A batch the buffer detok cannot take (null tokens, non-ASCII code
    points) goes through the per-row fallback and still parses every row:
    the null-token row comes out invalid with null fields, the non-ASCII
    line parses in full Unicode, and the ASCII rows around them are
    unaffected."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    lines = [GOOD, None, GOOD.replace("alpha", "ålpha"), BAD, GOOD_NO_ARGS]
    df = spark.createDataFrame(
        [([ord(c) for c in ln] if ln is not None else None,) for ln in lines],
        StructType([StructField("tokens", ArrayType(IntegerType()))]),
    ).coalesce(1)  # one partition -> one Arrow batch mixing all five rows
    g, nul, uni, b, g2 = parse_arrow(df).collect()
    assert g.valid and g.args == "q=alpha&page=2" and g.args_abs == "q=*&page=*"
    assert nul.tokens is None and not nul.valid
    assert nul.ip is None and nul.uri is None and nul.status is None and nul.ts is None
    assert uni.valid and uni.ip == "10.0.0.1" and uni.args == "q=ålpha&page=2"
    assert uni.uri == "/api/user/123/profile" and uni.uri_abs == "/api/user/*/profile"
    assert uni.args_abs == "q=*&page=*" and uni.status == 200 and uni.bytes == 1234
    assert str(uni.ts) == "2024-01-01 00:05:07"
    assert not b.valid and b.uri is None
    assert g2.valid and g2.args == "" and g2.status == 404


def test_tokens_untouched_roundtrip(spark):
    """Token-equality invariant [B]: tokens survive the parse byte-identical,
    and detokenize(tokenize(x)) == x for unicode."""
    seq = gen_sequences(spark, 100)
    out = parse_arrow(seq)
    joined = out.alias("o").join(seq.alias("s"), "doc_id").where(
        F.col("o.tokens") != F.col("s.tokens")
    )
    assert joined.count() == 0
    texts = ["hello", "naïve café 中文 😀", ""]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rt = df.select(detokenize_udf(tokenize_udf(F.col("t"))).alias("rt"), "t")
    assert rt.where(F.col("rt") != F.col("t")).count() == 0


def test_trailing_newline_invalid_on_every_path(spark):
    """Pinned behavior (round-4 ADVICE): a token array carrying a trailing
    line terminator is INVALID on both paths identically. Python re and
    Java regex `$` match before a final newline while RE2's does not; the
    pattern now anchors with a strict end-of-text lookahead on the
    Python/Java side so the engines cannot disagree."""
    lines = [GOOD, GOOD + "\n", GOOD + "\r\n", GOOD + "\n\n", GOOD_NO_ARGS]
    df = _tok_df(spark, lines)
    for path in (parse_arrow, parse_expr):
        got = [r.valid for r in path(df).select("valid").collect()]
        assert got == [True, False, False, False, True], path.__name__


def test_regex_matching_cast_hostile_lines_are_invalid_not_fatal(spark):
    """The regex IS the validity gate: nothing that matches may fail a cast.
    Before round 5, rt='1.2.3' matched `[0-9.]+` then CRASHED the float
    cast — one malformed line failing an entire Arrow batch (the whole job
    at scale). Pinned: multi-dot rt and int64-overflow bytes are invalid on
    both paths, counted, never fatal."""
    lines = [
        GOOD,
        '10.0.0.1 - [01/Jan/2024:00:05:07 +0000] "GET /x HTTP/1.1" 200 1234 1.2.3',
        '10.0.0.1 - [01/Jan/2024:00:05:07 +0000] "GET /x HTTP/1.1" 200 '
        + "9" * 25 + " 0.5",
        '10.0.0.1 - [01/Jan/2024:00:05:07 +0000] "GET /x HTTP/1.1" 200 1234 .5',
        '10.0.0.1 - [01/Jan/2024:00:05:07 +0000] "GET /x HTTP/1.1" 200 1234 5.',
    ]
    df = _tok_df(spark, lines)
    for path in (parse_arrow, parse_expr):
        got = [r.valid for r in path(df).select("valid").collect()]
        assert got == [True, False, False, False, False], path.__name__


def _py_reference_parse(toks):
    """Independent Python-re reference for one row of tokens."""
    import re as _re

    from abs_log_spark.functions.parse import LINE_PATTERN

    if toks is None:
        return None  # all-null row
    line = "".join(map(chr, toks))
    m = _re.match(LINE_PATTERN, line)
    if not m:
        return {"valid": False}
    ip, ts_str, method, target, protocol, status, nbytes, rt = m.groups()
    uri, _, args = target.partition("?")
    return {
        "valid": True, "ip": ip, "method": method, "uri": uri, "args": args,
        "protocol": protocol, "status": int(status), "bytes": int(nbytes),
        "rt": float(rt),
    }


def test_parse_tokens_batch_property_mixed_batches():
    """Round-4 verdict ask #6: hypothesis-generated batches MIXING null
    tokens, non-ASCII code points, empty arrays, valid lines, trailing
    terminators, and cast-hostile numerics — all through ONE
    `_parse_tokens_batch` call (forcing the fallback detok route when any
    row disqualifies the buffer fast path) — must agree with an independent
    Python-re reference row-for-row and never raise."""
    import pyarrow as pa
    from hypothesis import given, settings, strategies as st

    from abs_log_spark.functions.parse import _parse_tokens_batch

    def line_tokens(ip, seg, args, status, nbytes, rt, tail):
        uri = f"/{seg}" + (f"?{args}" if args is not None else "")
        s = f'{ip} - [01/Jan/2024:00:05:07 +0000] "GET {uri} HTTP/1.1" {status} {nbytes} {rt}{tail}'
        return [ord(c) for c in s]

    structured = st.builds(
        line_tokens,
        st.sampled_from(["10.0.0.1", "::1", "host-1"]),
        st.text(st.characters(codec="ascii", exclude_characters=' ?"\n\r',
                              min_codepoint=33), max_size=8),
        st.one_of(st.none(), st.sampled_from(["", "a=1", "a=1&b=x", "k="])),
        st.sampled_from(["200", "404", "500", "99", "2000"]),
        st.sampled_from(["0", "1234", "9" * 18, "9" * 25]),
        st.sampled_from(["0.042", "1", "1.2.3", ".5", "5.", "0..1"]),
        st.sampled_from(["", "\n", "\r\n"]),
    )
    garbage = st.lists(
        st.integers(min_value=0, max_value=0x10FF), max_size=20
    )  # includes non-ASCII -> disqualifies the buffer fast path for the batch
    row = st.one_of(st.none(), st.just([]), structured, garbage)

    @settings(max_examples=40, deadline=None)
    @given(st.lists(row, min_size=1, max_size=12))
    def check(rows):
        batch = pa.array(rows, type=pa.list_(pa.int32()))
        out = _parse_tokens_batch(batch)  # must never raise
        for i, toks in enumerate(rows):
            ref = _py_reference_parse(toks)
            got_valid = out.field("valid")[i].as_py()
            if ref is None:
                assert got_valid is None or got_valid is False
                assert out.field("ip")[i].as_py() is None
                continue
            assert got_valid == ref["valid"], (toks, ref)
            if not ref["valid"]:
                assert out.field("status")[i].as_py() is None
                assert out.field("uri")[i].as_py() is None
                continue
            for f in ("ip", "method", "uri", "args", "protocol",
                      "status", "bytes"):
                assert out.field(f)[i].as_py() == ref[f], (f, toks)
            assert abs(out.field("rt")[i].as_py() - ref["rt"]) < 1e-12

    check()
