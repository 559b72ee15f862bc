"""ES typed-JSON encode/untype (reference mo_json/typed_encoder.py and
pyLibrary/env/typed_inserter.py) + the distributed typed-JSON-lines sink."""

import json

import pytest

from mysql_to_s3_spark.sinks.typed_json import (
    BOOLEAN_TYPE,
    EXISTS_TYPE,
    NESTED_TYPE,
    NUMBER_TYPE,
    STRING_TYPE,
    TypedEncodeError,
    decode_property,
    encode_property,
    typed_encode,
    untype_path,
    untyped,
    write_typed_json_lines,
)


def test_scalar_markers():
    assert typed_encode(True) == {BOOLEAN_TYPE: True}
    assert typed_encode(3) == {NUMBER_TYPE: 3}
    assert typed_encode(3.5) == {NUMBER_TYPE: 3.5}
    assert typed_encode("x") == {STRING_TYPE: "x"}
    assert typed_encode(None) == {}


def test_object_encoding_skips_missing_and_marks_exists():
    # None and "" property values are JX-missing -> skipped (typed_inserter:345-347)
    got = typed_encode({"a": 1, "b": None, "c": "", "d": "ok"})
    assert got == {"a": {NUMBER_TYPE: 1}, "d": {STRING_TYPE: "ok"}, EXISTS_TYPE: 1}
    assert typed_encode({}) == {EXISTS_TYPE: 0}
    assert typed_encode({"a": None}) == {EXISTS_TYPE: 0}


def test_primitive_multivalue_collapses():
    # same-typed primitive lists are multivalues under the scalar marker;
    # singletons collapse to the bare scalar (typed_inserter:319-330)
    assert typed_encode([1, 2]) == {NUMBER_TYPE: [1, 2]}
    assert typed_encode([1, None, 2]) == {NUMBER_TYPE: [1, 2]}
    assert typed_encode(["only"]) == {STRING_TYPE: "only"}
    assert typed_encode([]) == {NESTED_TYPE: []}
    assert typed_encode([None]) == {NESTED_TYPE: []}
    with pytest.raises(TypedEncodeError):
        typed_encode([1, "x"])


def test_nested_array_of_objects():
    got = typed_encode([{"k": 1}, {"k": 2}])
    assert got == {
        NESTED_TYPE: [
            {"k": {NUMBER_TYPE: 1}, EXISTS_TYPE: 1},
            {"k": {NUMBER_TYPE: 2}, EXISTS_TYPE: 1},
        ],
        EXISTS_TYPE: 2,
    }


def test_property_name_encoding():
    assert encode_property("a.b") == "a,b"
    assert encode_property("a,b") == "a\\,b"
    assert decode_property(encode_property("a.b,c")) == "a.b,c"
    assert untype_path("a,b." + NUMBER_TYPE) == "a.b"
    d = typed_encode({"a.b": 1})
    assert d == {"a,b": {NUMBER_TYPE: 1}, EXISTS_TYPE: 1}
    assert untyped(d) == {"a.b": 1}


def test_untyped_round_trip():
    doc = {
        "name": "alpha",
        "n": 7,
        "flag": False,
        "tags": ["x", "y"],
        "child": {"deep": {"v": 1.5}},
        "items": [{"q": 1}, {"q": 2}],
    }
    assert untyped(typed_encode(doc)) == doc


def test_write_typed_json_lines_distributed(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.struct(
            F.col("id").alias("k"),
            F.concat(F.lit("doc"), F.col("id").cast("string")).alias("name"),
        ).alias("fact")
    )
    out = str(tmp_path / "typed")
    write_typed_json_lines(df, out, "fact")
    lines = [json.loads(r["value"]) for r in spark.read.text(out).collect()]
    docs = sorted((untyped(line) for line in lines), key=lambda d: d["k"])
    assert docs == [{"k": i, "name": f"doc{i}"} for i in range(3)]
    # wire format carries the typed markers
    assert all(EXISTS_TYPE in line and NUMBER_TYPE in line["k"] for line in lines)


# -- ES _bulk wire format (sinks/es_bulk.py) --


def test_write_bulk_lines_roundtrip(spark, tmp_path):
    """Bulk body = (action, typed doc) line pairs; parsing the body back
    reproduces ids + untyped docs exactly, across >1 partitions."""
    import json

    from pyspark.sql import functions as F

    from mysql_to_s3_spark.sinks.es_bulk import write_bulk_lines
    from mysql_to_s3_spark.sinks.typed_json import untyped

    df = (
        spark.range(20)
        .select(
            F.col("id").alias("__id__"),
            F.struct(
                F.col("id").alias("k"),
                F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
                F.when(F.col("id") % 2 == 0, F.lit("")).otherwise(F.lit("x")).alias("scrubme"),
            ).alias("fact"),
        )
        .repartition(3)
    )
    out = str(tmp_path / "bulk")
    write_bulk_lines(df, out, "fact")
    import glob

    docs = {}
    part_files = sorted(glob.glob(out + "/part-*"))
    assert len(part_files) > 1
    for pf in part_files:
        with open(pf) as f:
            lines = [ln for ln in f.read().splitlines() if ln]
        assert len(lines) % 2 == 0
        for action, body in zip(lines[0::2], lines[1::2]):
            a = json.loads(action)
            assert set(a) == {"index"} and set(a["index"]) == {"_id"}
            docs[a["index"]["_id"]] = untyped(json.loads(body))
    assert set(docs) == set(range(20))
    # scrub dropped the "" field on even ids, kept "x" on odd ids
    assert docs[2] == {"k": 2, "s": "v2"}
    assert docs[3] == {"k": 3, "s": "v3", "scrubme": "x"}


# ---------------------------------------------------------------------------
# scrub: property tests over random nested documents (the fixed-shape
# cases are driver-hash-verified in the typed_json_roundtrip jsonl leg)


import hypothesis.strategies as hst
from hypothesis import given, settings

from mysql_to_s3_spark.sinks.json_sink import scrub

_scalars = hst.one_of(
    hst.none(),
    hst.booleans(),
    hst.integers(min_value=-10**9, max_value=10**9),
    hst.floats(allow_nan=True, allow_infinity=False),
    hst.text(max_size=6),
)
_docs = hst.recursive(
    _scalars,
    lambda inner: hst.one_of(
        hst.lists(inner, max_size=4),
        hst.dictionaries(hst.text(max_size=4), inner, max_size=4),
    ),
    max_leaves=12,
)


def _violates(v):
    """True if v contains anything scrub promises to remove."""
    if v is None or v == "":
        return True
    if isinstance(v, float) and (v != v or v.is_integer()):
        return True  # NaN, or un-minimized whole float
    if isinstance(v, dict):
        return not v or any(_violates(x) for x in v.values())
    if isinstance(v, list):
        return len(v) <= 1 or any(_violates(x) for x in v)
    return False


@settings(max_examples=200, deadline=None)
@given(_docs)
def test_scrub_output_is_clean_and_idempotent(doc):
    out = scrub(doc)
    # clean: no null/''/NaN/empty containers/1-element lists/whole floats
    assert out is None or not _violates(out)
    # idempotent: scrubbing a scrubbed doc changes nothing
    assert scrub(out) == out


@settings(max_examples=200, deadline=None)
@given(_docs)
def test_scrub_preserves_surviving_scalars(doc):
    """Every scalar in the output appears in the input (scrub never
    invents or mutates values beyond int-minimizing whole floats)."""

    def leaves(v):
        if isinstance(v, dict):
            for x in v.values():
                yield from leaves(x)
        elif isinstance(v, (list, tuple)):
            for x in v:
                yield from leaves(x)
        elif v is not None:
            yield v

    src = list(leaves(doc))
    for leaf in leaves(scrub(doc)):
        # an int may come from minimizing float n.0
        assert leaf in src or (isinstance(leaf, int) and float(leaf) in src)
