"""Vectorized log-line parsing: tokens -> typed access-log fields.

abs-log compiles the user's nginx ``log_format`` into a regex and extracts
named groups per line ([PK] expected upstream ``log_analyse.py``; [B]
north_star: "vectorized regex/grok parsing of log-structured records via
pandas/Arrow UDFs"). This module is the Spark-first re-expression:

- ``parse_expr(df)``: builtin path — detokenize via ``char``/``array_join``
  then ``regexp_extract`` per field. Fully JVM-side / WholeStageCodegen;
  the reference the tests and the DuckDB oracle regex compare against.
- ``parse_arrow(df)``: the production path — ONE fused PySpark 4.1
  ``arrow_udf`` per batch doing detokenize + regex extract + abstraction
  and returning a struct (one Python crossing per batch, not one per field;
  SURVEY.md section 4.3 "One Arrow hop"). The batch never becomes pandas:
  the UDF consumes the ``list<int32>`` ListArray buffers directly (flat
  values + offsets -> one StringArray, no per-row numpy objects) and runs
  the line regex through RE2 (``pyarrow.compute.extract_regex``) — zero
  per-row Python in the hot path. Batches holding null tokens or non-ASCII
  code points detokenize through the per-row ``_detok_batch`` fallback.

Both paths:
- never drop rows: non-matching lines get ``valid=false`` and null fields —
  abs-log counts them as ``invalid_hits`` ([PK] invalid-line counter).
- leave the input ``tokens`` column untouched ([B] token-equality invariant).
- convert ``time_local`` to a session-TZ timestamp JVM-side (shared code, so
  the two paths cannot diverge on timestamp semantics).

Log line shape (FIXTURES.md A1a; canonical nginx ``combined``-like subset):

    <ip> - [<time_local>] "<method> <uri>[?<args>] <protocol>" <status> <bytes> <rt>
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from abs_log_spark.functions.tokens import detokenize_col

#: The declared log format, compiled to one regex — schema-on-read exactly as
#: abs-log does it, but applied to whole Arrow batches.
#:
#: End anchor: ``(?![\s\S])`` (strict end-of-text via negative lookahead, the
#: one spelling Python re and Java regex agree on) instead of ``$`` — both
#: engines' ``$`` also matches BEFORE a final line terminator, while RE2's
#: (the production arrow_udf path and the DuckDB oracle) matches only at
#: end-of-text. Pinned behavior, parity-tested in tests/test_parse.py: a
#: token array carrying a trailing newline is INVALID on every path (a
#: malformed line — counted in invalid_hits, never dropped), identically in
#: Python re, Java regex, and RE2.
#:
#: Numeric groups are exactly as strict as the casts they feed — the regex
#: IS the validity check, so nothing that matches may fail a cast later:
#: - rt ``\d+(?:\.\d+)?`` not ``[0-9.]+``: the latter matches ``1.2.3``,
#:   which then CRASHES the float cast — on the production Arrow path that
#:   is one malformed log line failing an entire batch (= the whole job at
#:   100 TB). Now such lines are invalid, counted, never fatal.
#: - bytes ``\d{1,18}`` not ``\d+``: 19+ digits can overflow int64 and fail
#:   the cast the same way; no real byte count needs more.
LINE_PATTERN = (
    r'^(\S+) - \[([^\]]+)\] "(\S+) (\S+) (\S+)" (\d{3}) (\d{1,18}) '
    r"(\d+(?:\.\d+)?)(?![\s\S])"
)

#: nginx $time_local -> Spark datetime pattern (session TZ = UTC).
TIME_FORMAT = "dd/MMM/yyyy:HH:mm:ss Z"

#: Parsed-field struct produced by the Arrow path (pre-timestamp). The Arrow
#: path also emits the abstraction columns — a few more pyarrow.compute
#: kernels over a batch already in Arrow cost far less than a second JVM
#: projection over the same 10^12 rows (measured ~10s/2M saved vs builtin
#: transform()).
PARSED_SCHEMA = StructType(
    [
        StructField("ip", StringType()),
        StructField("ts_str", StringType()),
        StructField("method", StringType()),
        StructField("uri", StringType()),
        StructField("args", StringType()),
        StructField("protocol", StringType()),
        StructField("status", IntegerType()),
        StructField("bytes", LongType()),
        StructField("rt", DoubleType()),
        StructField("valid", BooleanType()),
        StructField("uri_abs", StringType()),
        StructField("args_abs", StringType()),
    ]
)

#: Fields both parse paths produce (only the Arrow path also emits the
#: abstraction columns).
PARSED_FIELDS = [
    f.name
    for f in PARSED_SCHEMA.fields
    if f.name not in ("ts_str", "uri_abs", "args_abs")
] + ["ts"]


def _finish(df: DataFrame) -> DataFrame:
    """Shared JVM-side tail: ts_str -> timestamp, drop the intermediate."""
    return df.withColumn("ts", F.to_timestamp("ts_str", TIME_FORMAT)).drop("ts_str")


# ---------------------------------------------------------------------------
# Builtin-expression path
# ---------------------------------------------------------------------------


def _extract(line: Column, group: int) -> Column:
    return F.regexp_extract(line, LINE_PATTERN, group)


def parse_expr(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Builtin path: detokenize + regexp_extract. ASCII log lines only."""
    line = detokenize_col(F.col(tokens_col))
    valid = line.rlike(LINE_PATTERN)
    out = df.withColumn("_line", line).withColumn("valid", valid)
    nul = F.lit(None)
    out = (
        out.withColumn("ip", F.when(valid, _extract(F.col("_line"), 1)).otherwise(nul))
        .withColumn("ts_str", F.when(valid, _extract(F.col("_line"), 2)).otherwise(nul))
        .withColumn("method", F.when(valid, _extract(F.col("_line"), 3)).otherwise(nul))
        .withColumn(
            "uri",
            # try_element_at: ANSI-safe when the target has no '?' part
            F.when(valid, F.try_element_at(F.split(_extract(F.col("_line"), 4), r"\?", 2), F.lit(1))).otherwise(nul),
        )
        .withColumn(
            "args",
            F.when(
                valid,
                F.coalesce(
                    F.try_element_at(F.split(_extract(F.col("_line"), 4), r"\?", 2), F.lit(2)),
                    F.lit(""),
                ),
            ).otherwise(nul),
        )
        .withColumn("protocol", F.when(valid, _extract(F.col("_line"), 5)).otherwise(nul))
        .withColumn(
            "status", F.when(valid, _extract(F.col("_line"), 6).cast("int")).otherwise(nul)
        )
        .withColumn(
            "bytes", F.when(valid, _extract(F.col("_line"), 7).cast("long")).otherwise(nul)
        )
        .withColumn(
            "rt", F.when(valid, _extract(F.col("_line"), 8).cast("double")).otherwise(nul)
        )
        .drop("_line")
    )
    return _finish(out)


# ---------------------------------------------------------------------------
# Fused Arrow path (PySpark 4.1 ``arrow_udf``): no pandas materialization.
#
# A pandas UDF would pay twice before our code even runs: Arrow -> pandas
# creates ONE numpy object per row for the list column, and a detok loop
# then round-trips each of those through asarray/astype/tobytes. Consuming
# the ListArray buffers directly removes both: the flat int32 values cast to
# uint8 ONCE per batch and the list offsets double as string offsets, so the
# whole batch detokenizes into a single StringArray with zero per-row Python
# (measured 2.4x a pandas-UDF formulation on the 2M-row parse stage). The
# regex runs in RE2 (pyarrow.compute.extract_regex) and the abstraction
# re-uses the builtin path's split/transform/join formulation on flattened
# segment arrays — C++ end to end.
# ---------------------------------------------------------------------------

#: LINE_PATTERN with RE2 named groups (extract_regex needs names). RE2 has
#: no lookahead, so the strict end anchor is plain ``$`` — which in RE2 is
#: ALREADY strict end-of-text; with LINE_PATTERN's ``(?![\s\S])`` on the
#: Python/Java side, all three engines now agree on every line, including
#: lines with trailing terminators (invalid everywhere — see LINE_PATTERN).
_LINE_PATTERN_NAMED = (
    r'^(?P<ip>\S+) - \[(?P<ts_str>[^\]]+)\] "(?P<method>\S+) '
    r'(?P<target>\S+) (?P<protocol>\S+)" (?P<status>\d{3}) '
    r"(?P<bytes>\d{1,18}) (?P<rt>\d+(?:\.\d+)?)$"
)
_TARGET_PATTERN_NAMED = r"^(?P<uri>[^?]*)(?:\?(?P<args>.*))?$"


def _detok_batch(tokens: pd.Series) -> pd.Series:
    """list<int32> -> str per row: the general fallback for batches the
    buffer detok cannot take (null tokens, non-ASCII code points). Code
    points arrive as numpy int arrays; ASCII-range rows take the fast bytes
    path, anything else falls back to chr-join (full Unicode)."""
    import numpy as np

    def one(toks):
        if toks is None:
            return None
        arr = np.asarray(toks)
        if arr.size and arr.max(initial=0) < 128 and arr.min(initial=0) >= 0:
            return arr.astype(np.uint8).tobytes().decode("ascii")
        return "".join(map(chr, toks))

    return tokens.map(one)


def _detok_list_array(tok):
    """list<int32> ListArray -> StringArray via the buffer identity: a
    string array IS (offsets, flat uint8 data). Returns None when the batch
    needs the general fallback (nulls present, or non-ASCII code points
    whose UTF-8 encoding is not a 1-byte cast)."""
    import numpy as np
    import pyarrow as pa

    if tok.null_count or not pa.types.is_list(tok.type):
        return None
    offn = tok.offsets.to_numpy(zero_copy_only=False)
    base, end = int(offn[0]), int(offn[-1])
    vals = tok.values.slice(base, end - base).to_numpy(zero_copy_only=False)
    if vals.size and (int(vals.min()) < 0 or int(vals.max()) > 127):
        return None
    rel = (offn - base).astype(np.int32)
    return pa.StringArray.from_buffers(
        len(tok),
        pa.py_buffer(rel.tobytes()),
        pa.py_buffer(vals.astype(np.uint8).tobytes()),
    )


def _uri_abs_arrow(uri):
    """SEGMENT_RULES over a StringArray: split on '/', flag volatile
    segments on the FLAT child array, rebuild with the same offsets, join.
    Identical semantics to the builtin transform() path (parity-tested)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from abs_log_spark.functions.abstract import SEGMENT_RULES, WILDCARD

    parts = pc.split_pattern(uri, "/")
    flat = parts.values
    vol = pc.match_substring_regex(flat, SEGMENT_RULES[0])
    for pat in SEGMENT_RULES[1:]:
        vol = pc.or_(vol, pc.match_substring_regex(flat, pat))
    rebuilt = pa.ListArray.from_arrays(
        parts.offsets, pc.if_else(vol, pa.scalar(WILDCARD), flat)
    )
    return pc.if_else(
        pc.is_valid(uri), pc.binary_join(rebuilt, "/"), pa.scalar(None, pa.string())
    )


def _args_abs_arrow(args):
    """``a=1&b=x`` -> ``a=*&b=*`` on a StringArray; '' -> ''. Undefined
    edge: empty ``&&`` segments (never produced by nginx) are kept here and
    dropped by the builtin ``args_abs_col``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = pc.split_pattern(args, "&")
    flat = parts.values
    repl = pc.replace_substring_regex(flat, r"^([^=]*)(?:=.*)?$", r"\1=*")
    repl = pc.if_else(pc.equal(flat, ""), flat, repl)
    rebuilt = pa.ListArray.from_arrays(parts.offsets, repl)
    return pc.if_else(
        pc.is_valid(args), pc.binary_join(rebuilt, "&"), pa.scalar(None, pa.string())
    )


def _parse_tokens_batch(tok):
    """One Arrow batch: ListArray in, parsed StructArray out. All C++
    (buffer detok + RE2 extract + flat-segment abstraction); the only
    Python-per-row is the fallback for null/non-ASCII batches."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(tok, pa.ChunkedArray):
        tok = tok.combine_chunks()
    lines = _detok_list_array(tok)
    if lines is None:  # nulls or non-ASCII: general per-row fallback
        lines = pa.Array.from_pandas(_detok_batch(tok.to_pandas()), type=pa.string())
    g = pc.extract_regex(lines, _LINE_PATTERN_NAMED)
    valid = g.is_valid()  # extract_regex: non-match -> null struct slot
    sn = pa.scalar(None, pa.string())

    def fld(name):
        # field children hold '' (not null) on non-matching slots: mask with
        # the struct validity so invalid rows carry nulls (and casts succeed)
        return pc.if_else(valid, g.field(name), sn)

    gt = pc.extract_regex(fld("target"), _TARGET_PATTERN_NAMED)
    tv = gt.is_valid()
    uri = pc.if_else(tv, gt.field("uri"), sn)
    # valid + no '?': the optional group yields '' — exactly the wanted value
    args = pc.if_else(tv, gt.field("args"), sn)
    return pa.StructArray.from_arrays(
        [
            fld("ip"),
            fld("ts_str"),
            fld("method"),
            uri,
            args,
            fld("protocol"),
            pc.cast(fld("status"), pa.int32()),
            pc.cast(fld("bytes"), pa.int64()),
            pc.cast(fld("rt"), pa.float64()),
            valid,
            _uri_abs_arrow(uri),
            _args_abs_arrow(args),
        ],
        names=[f.name for f in PARSED_SCHEMA.fields],
    )


_detok_parse_arrow = arrow_udf(_parse_tokens_batch, PARSED_SCHEMA)


def parse_arrow(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Vectorized production path: one Arrow crossing per batch, struct out,
    then the shared JVM timestamp tail. ``tokens`` passes through untouched."""
    parsed = df.withColumn("_p", _detok_parse_arrow(F.col(tokens_col)))
    flat = parsed.select("*", "_p.*").drop("_p")
    return _finish(flat)
