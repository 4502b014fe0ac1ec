"""Span self times and the layer wrappers the traced run installs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def _span(sid, parent, start, end, name="s"):
    return {"run": "r", "id": sid, "parent": parent, "name": name,
            "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    recs = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),   # overlaps span 1: union is 1..5
        _span(3, 0, 7.0, 8.0),
        _span(4, 1, 1.0, 2.0),   # grandchild: counted once, inside span 1
    ]
    got = spans.self_times(recs)
    assert got[0] == 10.0 - 4.0 - 1.0
    assert got[1] == 3.0 - 1.0
    assert (got[2], got[3], got[4]) == (2.0, 1.0, 1.0)


def test_disabled_tracer_records_nothing():
    t = spans.Tracer("r")
    with t.span("x") as rec:
        assert rec is None
    assert t.spans == []


def test_nested_spans_link_to_their_parent():
    t = spans.Tracer("r")
    t.enabled = True
    with t.span("outer"):
        with t.span("inner", phase="p"):
            pass
    outer, inner = t.spans
    assert outer["parent"] is None and inner["parent"] == outer["id"]
    assert inner["phase"] == "p" and inner["run"] == "r"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_install_wraps_public_functions_and_their_imported_names():
    mod = types.ModuleType("cpx_etl_spark._perfbench_test_mod")

    def public(x):
        return x + 1

    def _private(x):
        return x

    public.__module__ = _private.__module__ = mod.__name__
    mod.public, mod._private = public, _private
    user = types.ModuleType("cpx_etl_spark._perfbench_test_user")
    user.public = public  # as if imported with "from mod import public"
    sys.modules[mod.__name__], sys.modules[user.__name__] = mod, user
    try:
        t = spans.Tracer("r")
        t.enabled = True
        spans.install(t, mod, "layer.x")
        spans.install(t, mod, "layer.x")  # never wrapped twice
        assert mod._private is _private
        assert user.public is mod.public is not public
        assert user.public(1) == 2
        assert [(s["name"], s["layer"]) for s in t.spans] == [
            ("cpx_etl_spark._perfbench_test_mod.public", "layer.x")]
    finally:
        del sys.modules[mod.__name__], sys.modules[user.__name__]
