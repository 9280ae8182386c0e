"""Property-based tests (hypothesis) for the pure vectorized kernels.

These run WITHOUT a SparkSession: the pyarrow kernels are exactly what
executes inside the production parse ``arrow_udf``, so properties proven
here hold for the distributed path (dual-path parity tests tie them to the
builtin expressions).
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from abs_log_spark.functions.parse import _args_abs_arrow, _detok_batch, _uri_abs_arrow

SEGMENT = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=127),
    min_size=0,
    max_size=12,
)
URI = st.lists(SEGMENT, min_size=1, max_size=6).map(lambda segs: "/" + "/".join(segs))


@settings(max_examples=200, deadline=None)
@given(st.lists(URI, min_size=1, max_size=20))
def test_uri_abstraction_idempotent(uris):
    """abs(abs(x)) == abs(x): '*' is never itself volatile."""
    once = _uri_abs_arrow(pa.array(uris, pa.string()))
    twice = _uri_abs_arrow(once)
    assert once.to_pylist() == twice.to_pylist()


@settings(max_examples=200, deadline=None)
@given(st.lists(URI, min_size=1, max_size=20))
def test_uri_abstraction_preserves_shape(uris):
    """Segment count and non-volatile segments survive abstraction."""
    out = _uri_abs_arrow(pa.array(uris, pa.string())).to_pylist()
    for orig, abst in zip(uris, out):
        o_segs, a_segs = orig.split("/"), abst.split("/")
        assert len(o_segs) == len(a_segs)
        for o, a in zip(o_segs, a_segs):
            assert a == "*" or a == o


ARGKEY = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"), max_codepoint=127),
    min_size=1,
    max_size=8,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(ARGKEY, ARGKEY), min_size=1, max_size=5))
def test_args_abstraction_keeps_keys_wildcards_values(kvs):
    args = "&".join(f"{k}={v}" for k, v in kvs)
    out = _args_abs_arrow(pa.array([args], pa.string()))[0].as_py()
    assert out == "&".join(f"{k}=*" for k, _ in kvs)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=200), min_size=1, max_size=10))
def test_detokenize_roundtrips_any_unicode(texts):
    """tokens(text) -> detok == text for arbitrary unicode (the ASCII fast
    path and the chr-join fallback must agree with ord())."""
    toks = pd.Series([[ord(c) for c in t] for t in texts])
    out = _detok_batch(toks)
    assert list(out) == texts
