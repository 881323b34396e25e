"""Flatten emitter vs reference flatten fixtures + frame→flatten→frame
roundtrips on every non-error frame golden."""

import json
import os

import pytest

from ramp_shapes_spark.compare import (
    errors_equal, match_sets_equal, triple_sets_isomorphic,
)
from ramp_shapes_spark.pyflatten import FlattenError, flatten_py
from ramp_shapes_spark.pyframe import encode_refs, frame_py
from ramp_shapes_spark.shape_ttl import load_shapes_from_file
from ramp_shapes_spark.ttl import parse_turtle_file

TD = "/root/reference/test-data"
if not os.path.isdir(TD):
    pytest.skip(f"reference golden fixtures not found at {TD}",
                allow_module_level=True)


def test_flatten_object1():
    golden = json.load(open(f"{TD}/flatten/object1.json"))
    cat, root = load_shapes_from_file(f"{TD}/shapes/{golden['shapes']}.ttl")
    triples = flatten_py(cat, root, golden["value"])
    want = parse_turtle_file(f"{TD}/flatten/object1.ttl")
    assert triple_sets_isomorphic(triples, want)


def test_flatten_object2_err():
    golden = json.load(open(f"{TD}/flatten/object2-err.json"))
    cat, root = load_shapes_from_file(f"{TD}/shapes/{golden['shapes']}.ttl")
    with pytest.raises(FlattenError) as exc:
        flatten_py(cat, root, golden["value"])
    assert errors_equal(exc.value.code, exc.value.stack, golden["error"])


ROUNDTRIP_CASES = [
    c["name"] for c in json.load(open(f"{TD}/index.json"))
    if c["type"] == "frame" and not c["name"].endswith("-err")
    # cyclic values cannot be flattened (reference raises 216 for them)
    and c["name"] != "cyclic1"
]


@pytest.mark.parametrize("name", ROUNDTRIP_CASES)
def test_frame_flatten_frame_roundtrip(name):
    golden = json.load(open(f"{TD}/frame/{name}.json"))
    cat, root = load_shapes_from_file(f"{TD}/shapes/{golden['shapes']}.ttl")
    data = parse_turtle_file(f"{TD}/frame/{name}.ttl")
    values = frame_py(cat, data, root)
    triples = []
    from ramp_shapes_spark.pyflatten import deterministic_bnode_generator
    for i, v in enumerate(values):
        triples.extend(flatten_py(cat, root, encode_refs(v),
                                  deterministic_bnode_generator(str(i))))
    revalues = [encode_refs(v) for v in frame_py(cat, triples, root)]
    assert match_sets_equal(revalues, [encode_refs(v) for v in values])
