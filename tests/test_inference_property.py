"""Property-based tests for the inference lattice (SURVEY §5.2 item 5):
randomized cell streams stressing type picking, demotion, nullability, and
width tracking. Pure driver-side (ColumnSpec is plain Python) — fast."""

from hypothesis import given, settings
from hypothesis import strategies as st

from diepy_spark.functions.inference import (
    VARCHAR_BUCKETS,
    ColumnSpec,
    is_float,
    is_int,
)

ints = st.integers(-10**9, 10**9).map(str)
floats = st.floats(
    allow_nan=False, allow_infinity=False, width=32, min_value=-1e9, max_value=1e9
).map(lambda f: repr(f))
dates = st.dates().map(lambda d: d.isoformat())
texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    min_size=1,
    max_size=50,
).filter(lambda s: s.strip() != "")
cells = st.one_of(ints, floats, dates, texts, st.just(""))


def observe_all(values):
    spec = ColumnSpec("c")
    for v in values:
        spec.observe(v)
    return spec


@given(st.lists(cells, min_size=1, max_size=50))
@settings(max_examples=300, deadline=None)
def test_lattice_invariants(values):
    spec = observe_all(values)
    # resolved type is always a lattice member
    assert (spec.type or "text") in {"int", "float", "date", "time", "datetime", "text"}
    # any empty cell ⇒ nullable
    if any(v == "" for v in values):
        assert spec.nullable
    # int columns track min/max over every non-empty cell; the fold starts
    # at 0/0 and only moves beyond it (reference init, core.py:462-466)
    if spec.type == "int":
        nums = [int(v) for v in values if v != ""]
        assert spec.min_value == min(0, *nums) and spec.max_value == max(0, *nums)
    # length tracking: reference semantics (core.py:478-479) only track
    # length WHILE the column is text, so values seen before a demotion
    # don't count — the invariant is an upper bound, exact when every
    # value was texty from the start
    if spec.type == "text":
        max_len = max((len(v) for v in values if v != ""), default=0)
        assert 0 < spec.length <= max_len
        from diepy_spark.functions.inference import is_date, is_datetime, is_time

        all_texty = all(
            not any(p(v) for p in (is_int, is_float, is_date, is_time, is_datetime))
            for v in values
            if v != ""
        )
        if all_texty:
            assert spec.length == max_len
        sql = spec.sql_type()
        if spec.length < VARCHAR_BUCKETS[-1]:
            bucket = next(b for b in VARCHAR_BUCKETS if spec.length < b)
            assert sql == f"VARCHAR({bucket})"


@given(st.lists(ints, min_size=1, max_size=30), st.lists(floats, min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_mixed_int_float_demotes_to_text_when_int_first(int_vals, float_vals):
    # Q5 fidelity: int-first then a non-int ⇒ straight to text (no widening)
    non_int_floats = [f for f in float_vals if not is_int(f)]
    if not non_int_floats:
        return
    spec = observe_all(int_vals + non_int_floats)
    assert spec.type == "text"


@given(st.lists(floats, min_size=1, max_size=30), st.lists(ints, min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_float_first_absorbs_ints(float_vals, int_vals):
    # float-first then ints stays float (ints pass is_float)
    non_int = [f for f in float_vals if not is_int(f)]
    if not non_int:
        return
    spec = observe_all([non_int[0]] + int_vals)
    assert spec.type == "float"
    assert all(is_float(v) for v in int_vals)


@given(st.lists(st.one_of(ints, st.just("")), min_size=1, max_size=40))
@settings(max_examples=200, deadline=None)
def test_all_int_columns_never_demote(values):
    if all(v == "" for v in values):
        spec = observe_all(values)
        assert not spec.type and spec.nullable  # unresolved → text at emission
    else:
        spec = observe_all(values)
        assert spec.type == "int"
