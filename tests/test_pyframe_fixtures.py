"""Driver-side oracle vs all reference frame goldens (fast, no Spark)."""

import json
import os

import pytest

from ramp_shapes_spark.compare import (
    errors_equal, match_sets_equal, normalize_refs,
)
from ramp_shapes_spark.pyframe import RampError, encode_refs, frame_py
from ramp_shapes_spark.shape_ttl import load_shapes_from_file
from ramp_shapes_spark.ttl import parse_turtle_file

TD = "/root/reference/test-data"
if not os.path.isdir(TD):
    pytest.skip(f"reference golden fixtures not found at {TD}",
                allow_module_level=True)

FRAME_CASES = [
    c["name"] for c in json.load(open(f"{TD}/index.json"))
    if c["type"] == "frame"
]


@pytest.mark.parametrize("name", FRAME_CASES)
def test_pyframe_fixture(name):
    golden = json.load(open(f"{TD}/frame/{name}.json"))
    cat, root = load_shapes_from_file(f"{TD}/shapes/{golden['shapes']}.ttl")
    data = parse_turtle_file(f"{TD}/frame/{name}.ttl")
    try:
        matches = [encode_refs(m) for m in frame_py(cat, data, root)]
    except RampError as e:
        assert "error" in golden, f"unexpected error {e.code}: {e.stack}"
        assert errors_equal(e.code, e.stack, golden["error"])
        return
    assert "error" not in golden, (
        f"expected error {golden.get('error', {}).get('code')}, "
        f"got matches {matches}"
    )
    assert match_sets_equal(matches, golden["matches"])
