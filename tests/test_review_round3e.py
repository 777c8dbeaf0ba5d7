"""Regression tests for the round-3 continuation review of the tooling
layer: schemadiff model/list/map handling and field-added-with-default
classification."""

import json

from validr_spark import T, modelclass
from validr_spark.schemadiff import (diff_verdict, needs_revalidation,
                                     schema_diff)


# ------------------------------------------------------------- schemadiff

def test_schema_diff_model_nodes():
    @modelclass
    class M:
        x = T.int.min(0)
        y = T.str

    assert schema_diff(T.dict(m=T.model(M)), T.dict(m=T.model(M))) == []

    @modelclass
    class M2:
        x = T.int.min(5)          # tightened
        y = T.str

    d = schema_diff(T.dict(m=T.model(M)), T.dict(m=T.model(M2)))
    assert len(d) == 1
    assert d[0]["path"] == "m.x.min" and d[0]["severity"] == "narrowing"


def test_schema_diff_list_items_added_removed():
    d = schema_diff("list", ["list", "int.min(0)"])
    assert len(d) == 1 and d[0]["kind"] == "items_added"
    assert d[0]["severity"] == "narrowing"
    assert needs_revalidation("list", ["list", "int.min(0)"])

    d2 = schema_diff(["list", "int.min(0)"], "list")
    assert len(d2) == 1 and d2[0]["kind"] == "items_removed"
    assert d2[0]["severity"] == "widening"
    assert not needs_revalidation(["list", "int.min(0)"], "list")


def test_schema_diff_map_value_schema_recurses_and_serializes():
    old = T.dict(props=T.dict.key(T.str.minlen(1)).value(T.str.maxlen(4)))
    wid = T.dict(props=T.dict.key(T.str.minlen(1)).value(T.str.maxlen(8)))
    d = schema_diff(old, wid)
    json.dumps(d)                      # raw Schema objects would crash
    assert len(d) == 1
    assert d[0]["path"] == "props.$self_value.maxlen"
    assert d[0]["severity"] == "widening"
    assert diff_verdict(d) == "compatible"
    # the reverse direction narrows
    d2 = schema_diff(wid, old)
    assert d2[0]["severity"] == "narrowing"
    assert needs_revalidation(wid, old)


def test_schema_diff_field_added_with_default_is_behavioral():
    old = T.dict(a=T.int)
    new = T.dict(a=T.int, b=T.int.default(5))
    d = schema_diff(old, new)
    assert len(d) == 1 and d[0]["kind"] == "field_added"
    # outputs gain column b on every row → re-run required
    assert d[0]["severity"] == "behavioral"
    assert diff_verdict(d) == "outputs_changed"
    assert needs_revalidation(old, new)
    # a REQUIRED added field still narrows
    d2 = schema_diff(old, T.dict(a=T.int, b=T.int))
    assert d2[0]["severity"] == "narrowing"

