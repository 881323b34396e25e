"""Distributed frame engine vs all reference frame goldens.

Each case loads the fixture shape TTL and data TTL, runs the compiled
DataFrame program on Spark and compares framed JSON values (multiset,
``@ref``/``@use``-canonicalized) or the first error-channel row
(code + normalized stack) against the golden file.

The per-fixture cost is dominated by single-threaded driver-side plan
work in the JVM (analysis per DataFrame op + Catalyst optimization at
action time — the tiny fixture plans collapse to LocalRelations and
never even launch a job), so all cases are evaluated concurrently in
one thread pool by a session fixture; the parametrized tests then just
assert each case's cached outcome.  Engines share only the
SparkSession (no temp views, no session conf writes), so concurrent
evaluation is safe.
"""

import json
import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from ramp_shapes_spark.compare import (
    errors_equal, match_sets_equal,
)
from ramp_shapes_spark.dataset import load_turtle_df
from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.shape_ttl import load_shapes_from_file

TD = "/root/reference/test-data"
if not os.path.isdir(TD):
    pytest.skip(f"reference golden fixtures not found at {TD}",
                allow_module_level=True)

FRAME_CASES = [
    c["name"] for c in json.load(open(f"{TD}/index.json"))
    if c["type"] == "frame"
]


def _run_case(spark, name):
    golden = json.load(open(f"{TD}/frame/{name}.json"))
    cat, root = load_shapes_from_file(f"{TD}/shapes/{golden['shapes']}.ttl")
    triples = load_turtle_df(spark, f"{TD}/frame/{name}.ttl")
    engine = FrameEngine(spark, cat, triples)
    result = engine.frame(root)

    if "error" in golden:
        first = result.first_error()
        matches = (None if first is not None
                   else [r["value"] for r in result.matches.collect()])
        return ("error", first, matches, golden)

    rows = result.matches.collect()
    return ("matches", [json.loads(r["value"]) for r in rows], None, golden)


@pytest.fixture(scope="module")
def frame_outcomes(spark):
    with ThreadPoolExecutor(max_workers=8) as ex:
        futures = {n: ex.submit(_run_case, spark, n) for n in FRAME_CASES}
        return {n: f for n, f in futures.items()}


@pytest.mark.parametrize("name", FRAME_CASES)
def test_frame_fixture(frame_outcomes, name):
    kind, got, extra, golden = frame_outcomes[name].result()

    if kind == "error":
        assert got is not None, (
            "expected error "
            f"{golden['error']['code']}, engine reported none; matches="
            f"{extra}"
        )
        code, stack = got
        assert errors_equal(code, stack, golden["error"]), (
            f"error mismatch: got ({code}, {stack}), want {golden['error']}"
        )
        return

    assert match_sets_equal(got, golden["matches"]), (
        f"matches mismatch:\n  got  {json.dumps(got)}\n"
        f"  want {json.dumps(golden['matches'])}"
    )
