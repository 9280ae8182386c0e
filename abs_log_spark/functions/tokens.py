"""Tokenize / detokenize between ``string`` and ``tokens: array<int32>``.

The graft's input is pre-tokenized sequences ([B] input_hint). Tokens here
are Unicode code points — a deterministic, dependency-free stand-in for a BPE
vocabulary that makes the per-row invariant checkable: detokenize(tokens)
re-tokenized must be byte-identical, and the pipeline must carry ``tokens``
through UNTOUCHED ([B] "preserving exact token-array equality per routed
row").

Dual paths (parity-tested):
- builtin expressions (`ascii`/`char` over `split`/`transform`) — valid for
  code points < 128, which covers the synthetic log-line fixtures; the
  synthetic and file readers tokenize with them, and ``parse_expr`` and
  oracle-checked queries detokenize with them so DuckDB never needs to see
  an array column.
- pandas UDFs — general Unicode; the ``tokens_roundtrip`` query and the
  tests use them for the round-trip invariant. The production parse does
  not: it detokenizes inside its fused ``arrow_udf`` straight from the
  ``list<int32>`` buffers (``functions.parse``).

The int32 element type is pinned in the UDF return schema so pandas' int64
default never leaks into a stored table (SURVEY.md section 7 hard-part 3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, StringType

# ---------------------------------------------------------------------------
# Builtin-expression path (ASCII subset; codegen'd, oracle-checkable)
# ---------------------------------------------------------------------------


def tokenize_col(text: Column) -> Column:
    """string -> array<int32> of code points. ASCII-safe builtin path."""
    return F.transform(F.split(text, ""), lambda ch: F.ascii(ch)).cast("array<int>")


def detokenize_col(tokens: Column) -> Column:
    """array<int32> -> string. ASCII-safe builtin path (char() wraps >255)."""
    return F.array_join(F.transform(tokens, lambda c: F.char(c)), "")


# ---------------------------------------------------------------------------
# Vectorized pandas-UDF path (full Unicode)
# ---------------------------------------------------------------------------


@pandas_udf(ArrayType(IntegerType()))
def tokenize_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda t: [ord(c) for c in t], na_action="ignore")


@pandas_udf(StringType())
def detokenize_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda toks: "".join(map(chr, toks)), na_action="ignore")
