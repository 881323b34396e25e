"""Self-hosting drift detector: the direct ``ramp:`` interpreter
(shape_ttl) vs framing the shape graph with the engine's own frame
semantics against the meta-schema (meta_shapes, the analog of
shapes-for-shapes.ts:351-360).

Both loaders must produce the same catalog for every fixture shape
file.  Nested shapes are compared by id reference, which also makes
the normalizer cycle-safe for the cyclic fixtures.
"""

import glob
import os

import pytest

from conftest import REFERENCE_TEST_DATA
from ramp_shapes_spark.meta_shapes import frame_shapes
from ramp_shapes_spark.pyframe import UNDEFINED
from ramp_shapes_spark.shape_ttl import load_shapes_from_graph
from ramp_shapes_spark.shapes import (
    AlternativePath, AnyOfShape, InversePath, ListShape, LiteralShape,
    MapShape, OneOrMorePath, OptionalShape, PredicatePath, RecordShape,
    ResourceShape, SequencePath, SetShape, ZeroOrMorePath, ZeroOrOnePath,
    is_self_path,
)
from ramp_shapes_spark.terms import Term
from ramp_shapes_spark.ttl import parse_turtle_file

SHAPE_FILES = sorted(glob.glob("/root/reference/test-data/shapes/*.ttl"))
if not os.path.isdir(REFERENCE_TEST_DATA):
    pytest.skip(
        f"reference golden fixtures not found at {REFERENCE_TEST_DATA}",
        allow_module_level=True)


def _p(v, default=None):
    return default if v is UNDEFINED or v is None else v


def _tk(t):
    return t.key() if isinstance(t, Term) else t


# --- canonical form from FRAMED meta-schema values ----------------------

def norm_framed_path(p):
    if "predicate" in p:
        return ("pred", _tk(p["predicate"]))
    if "sequence" in p:
        return ("seq", tuple(norm_framed_path(x) for x in p["sequence"]))
    if "inverse" in p:
        return ("inv", norm_framed_path(p["inverse"]))
    if "alternatives" in p:
        return ("alt", tuple(norm_framed_path(x) for x in p["alternatives"]))
    if "zeroOrMore" in p:
        return ("star", norm_framed_path(p["zeroOrMore"]))
    if "zeroOrOne" in p:
        return ("opt", norm_framed_path(p["zeroOrOne"]))
    if "oneOrMore" in p:
        return ("plus", norm_framed_path(p["oneOrMore"]))
    raise AssertionError(f"unknown framed path {p!r}")


def norm_framed(v):
    sid = _tk(v["id"])
    kind = v["type"]
    lenient = bool(_p(v.get("lenient"), False))
    if kind == "record":
        def np(pr):
            return (pr["name"], norm_framed_path(pr["path"]),
                    _tk(pr["valueShape"]["id"]),
                    bool(_p(pr.get("transient"), False)))
        body = (
            tuple(np(p) for p in v["typeProperties"]),
            tuple(np(p) for p in v["properties"]),
            tuple((c["name"], _tk(c["valueShape"]["id"]))
                  for c in v.get("computedProperties", [])),
        )
    elif kind == "anyOf":
        # ORDER-SENSITIVE since round 4: both loaders canonicalize to
        # the reference-exact META-UNION VARIANT-MAJOR order (frameAnyOf
        # iterates the ramp:Shape union's variants outer and candidates
        # inner, frame.ts:390-427; shape_ttl sorts by meta-union rank)
        body = tuple(_tk(x["id"]) for x in v["variants"])
    elif kind == "set":
        body = (_tk(v["itemShape"]["id"]), _p(v.get("minCount")),
                _p(v.get("maxCount")))
    elif kind == "optional":
        body = (_tk(v["itemShape"]["id"]),)
    elif kind == "resource":
        vocab = _p(v.get("vocabulary"))
        if vocab is not None:
            vocab = tuple(sorted(
                (k, _tk(t)) for k, t in vocab["terms"].items()))
        body = (bool(_p(v.get("onlyNamed"), False)),
                _tk(_p(v.get("value"))),
                bool(_p(v.get("keepAsTerm"), False)), vocab)
    elif kind == "literal":
        body = (_tk(_p(v.get("datatype"))), _p(v.get("language")),
                _tk(_p(v.get("value"))),
                bool(_p(v.get("keepAsTerm"), False)))
    elif kind == "list":
        body = (
            _tk(v["itemShape"]["id"]),
            norm_framed_path(v["headPath"]) if _p(v.get("headPath")) else None,
            norm_framed_path(v["tailPath"]) if _p(v.get("tailPath")) else None,
            _tk(_p(v.get("nil"))),
        )
    elif kind == "map":
        def nref(r):
            return (_tk(r["target"]["id"]), _p(r.get("part")))
        val = _p(v.get("value"))
        body = (nref(v["key"]), nref(val) if val is not None else None,
                _tk(v["itemShape"]["id"]))
    else:
        raise AssertionError(f"unknown framed shape kind {kind}")
    return sid, (kind, lenient) + (body if isinstance(body, tuple) else (body,))


# --- canonical form from shape_ttl catalog ------------------------------

def norm_path(p):
    if is_self_path(p):
        # self paths don't occur in the fixture shape files' ramp:path
        return ("seq", ())
    if isinstance(p, PredicatePath):
        return ("pred", f"iri\x1f{p.predicate}\x1f\x00\x1f\x00")
    if isinstance(p, SequencePath):
        return ("seq", tuple(norm_path(x) for x in p.sequence))
    if isinstance(p, InversePath):
        return ("inv", norm_path(p.inverse))
    if isinstance(p, AlternativePath):
        return ("alt", tuple(norm_path(x) for x in p.alternatives))
    if isinstance(p, ZeroOrMorePath):
        return ("star", norm_path(p.path))
    if isinstance(p, ZeroOrOnePath):
        return ("opt", norm_path(p.path))
    if isinstance(p, OneOrMorePath):
        return ("plus", norm_path(p.path))
    raise AssertionError(f"unknown path {p!r}")


def norm_shape(s):
    sid = s.id.key()
    lenient = s.lenient
    if isinstance(s, RecordShape):
        def np(pr):
            return (pr.name, norm_path(pr.path), pr.value_shape.key(),
                    pr.transient)
        body = (
            tuple(np(p) for p in s.type_properties),
            tuple(np(p) for p in s.properties),
            tuple((c.name, c.value_shape.key())
                  for c in s.computed_properties),
        )
        kind = "record"
    elif isinstance(s, AnyOfShape):
        body = tuple(v.key() for v in s.variants)  # order-sensitive
        kind = "anyOf"
    elif isinstance(s, SetShape):
        body = (s.item_shape.key(), s.min_count, s.max_count)
        kind = "set"
    elif isinstance(s, OptionalShape):
        body = (s.item_shape.key(),)
        kind = "optional"
    elif isinstance(s, ResourceShape):
        vocab = None
        if s.vocabulary is not None:
            vocab = tuple(sorted((k, t.key()) for k, t in s.vocabulary))
        body = (s.only_named, s.value.key() if s.value else None,
                s.keep_as_term, vocab)
        kind = "resource"
    elif isinstance(s, LiteralShape):
        dt = f"iri\x1f{s.datatype}\x1f\x00\x1f\x00" if s.datatype else None
        body = (dt, s.language, s.value.key() if s.value else None,
                s.keep_as_term)
        kind = "literal"
    elif isinstance(s, ListShape):
        body = (
            s.item_shape.key(),
            norm_path(s.head_path) if s.head_path else None,
            norm_path(s.tail_path) if s.tail_path else None,
            s.nil.key() if s.nil else None,
        )
        kind = "list"
    elif isinstance(s, MapShape):
        def nref(r):
            return (r.target.key(), r.part)
        body = (nref(s.key), nref(s.value) if s.value else None,
                s.item_shape.key())
        kind = "map"
    else:
        raise AssertionError(f"unknown shape {s!r}")
    return sid, (kind, lenient) + body


@pytest.mark.parametrize("path", SHAPE_FILES,
                         ids=[p.rsplit("/", 1)[1] for p in SHAPE_FILES])
def test_self_hosted_loader_parity(path):
    triples = list(parse_turtle_file(path))
    direct = dict(norm_shape(s) for s in load_shapes_from_graph(triples))
    framed = {}
    for v in frame_shapes(triples):
        sid, canon = norm_framed(v)
        framed[sid] = canon
    assert set(framed) == set(direct), (
        f"shape-id sets differ: only-framed={set(framed) - set(direct)} "
        f"only-direct={set(direct) - set(framed)}")
    for sid in direct:
        assert framed[sid] == direct[sid], (
            f"{path}: drift at {sid}:\n framed={framed[sid]}\n "
            f"direct={direct[sid]}")
