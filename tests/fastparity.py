"""Per-subject parity of the fast tree's error channel with the
reference interpreter.

A test graph is a set of *bundles*: one root subject plus every triple
reachable from it along forward edges.  The reference (``frame_py``)
frames each bundle on its own, so a subject's outcome is its framed
value or its FIRST error code; the fast tree
(``track_errors=True, diagnostics=False``) frames the whole graph at
once, and each of its error rows is tied back to a subject through the
row's ``ord`` (the tid of one of the subject's own triples)."""

import json
from typing import Dict, List

from ramp_shapes_spark.dataset import triples_df
from ramp_shapes_spark.fastframe import error_capable
from ramp_shapes_spark.frame import FrameEngine
from ramp_shapes_spark.pyframe import RampError, encode_refs, frame_py


def bundles(triples, roots) -> Dict[str, list]:
    """{root IRI value: the triples reachable from it}."""
    out = {}
    for root in roots:
        seen, todo = set(), [root]
        while todo:
            node = todo.pop()
            if node.key() in seen:
                continue
            seen.add(node.key())
            todo.extend(o for s, _, o in triples if s.key() == node.key())
        out[root.value] = [t for t in triples if t[0].key() in seen]
    return out


def reference_outcomes(catalog, root, subjects: Dict[str, list]):
    """{name: framed value (JSON form) | first error code | None (no
    match)}."""
    out = {}
    for name, ts in subjects.items():
        try:
            got = frame_py(catalog, ts, root)
        except RampError as exc:
            out[name] = exc.code
            continue
        assert len(got) <= 1, (name, got)
        out[name] = encode_refs(got[0]) if got else None
    return out


def fast_outcomes(spark, catalog, root, subjects: Dict[str, list]):
    """The same map from the fast tree's matches and error channel,
    framing every bundle in one graph."""
    deduped: List[tuple] = []
    seen = set()
    for ts in subjects.values():
        for s, p, o in ts:
            if (s.key(), p, o.key()) not in seen:
                seen.add((s.key(), p, o.key()))
                deduped.append((s, p, o))
    engine = FrameEngine(spark, catalog, triples_df(spark, deduped),
                         diagnostics=False, track_errors=True)
    assert error_capable(engine, catalog.get(root))
    res = engine.frame(root)
    out = {name: None for name in subjects}
    for r in res.matches.collect():
        out[r["focus"]["value"]] = json.loads(r["value"])
    for r in res.errors.collect():
        name = deduped[r["ord"]][0].value  # tid = index after dedup
        assert out[name] is None, (name, out[name], r["code"])
        assert r["stack"] is None
        out[name] = r["code"]
    return out


def assert_error_parity(spark, catalog, root, subjects: Dict[str, list]):
    """Fast matches and codes equal the reference's, subject by
    subject; returns the reference outcomes."""
    want = reference_outcomes(catalog, root, subjects)
    got = fast_outcomes(spark, catalog, root, subjects)
    assert got == want, f"fast {got}\nreference {want}"
    return want
