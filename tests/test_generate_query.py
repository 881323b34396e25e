"""generateQuery vs the 5 reference golden .sparql files.

The reference harness (test/operations.ts:229-277) normalizes both
queries through sparqljs parse→stringify before comparing; here a
minimal SPARQL-CONSTRUCT parser covering the golden subset (prefixed
names, variables, literals, property paths with /,|,^,*,+,?, UNION,
OPTIONAL, ';' continuation) turns both the golden text and our
generated query into the same AST for structural comparison —
variable names included (the generator mirrors the reference's
``{prefix}_{index}`` allocation order).
"""

import json
import os
import re

import pytest

from ramp_shapes_spark.generate_query import (
    Bgp, Blank, ConstructQuery, Iri, Lit, OptionalPat, Path, Triple,
    UnionPat, Var, generate_query,
)
from ramp_shapes_spark.shape_ttl import load_shapes_from_file

TD = "/root/reference/test-data"
if not os.path.isdir(TD):
    pytest.skip(f"reference golden fixtures not found at {TD}",
                allow_module_level=True)

CASES = [
    c["name"] for c in json.load(open(f"{TD}/index.json"))
    if c["type"] == "generateQuery"
]

TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<iri><[^>]*>)
      | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
      | (?P<lit>"(?:[^"\\]|\\.)*")
      | (?P<kw>PREFIX|CONSTRUCT|WHERE|UNION|OPTIONAL)
      | (?P<pname>[A-Za-z_][A-Za-z0-9_-]*:[A-Za-z0-9_-]*(?:\.[A-Za-z0-9_-]+)*)
      | (?P<punct>[{}().;|/*+^?])
    )""",
    re.X,
)


def tokenize(text):
    pos, out = 0, []
    while pos < len(text):
        m = TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise ValueError(f"tokenizer stuck at {text[pos:pos+40]!r}")
        pos = m.end()
        for kind in ("iri", "var", "lit", "kw", "pname", "punct"):
            if m.group(kind) is not None:
                out.append((kind, m.group(kind)))
                break
    return out


class Parser:
    def __init__(self, tokens, prefixes):
        self.toks = tokens
        self.i = 0
        self.prefixes = prefixes

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, value):
        kind, v = self.next()
        assert v == value, f"expected {value!r} got {v!r}"

    def iri_value(self, tok):
        kind, v = tok
        if kind == "iri":
            return v[1:-1]
        pfx, local = v.split(":", 1)
        return self.prefixes[pfx] + local

    def term(self):
        kind, v = self.next()
        if kind == "var":
            return Var(v[1:])
        if kind == "lit":
            return Lit(v[1:-1].replace('\\"', '"').replace("\\\\", "\\"))
        if kind in ("iri", "pname"):
            return Iri(self.iri_value((kind, v)))
        raise ValueError(f"bad term {v!r}")

    # path := seq ('|' seq)*
    def path(self):
        items = [self.path_seq()]
        while self.peek()[1] == "|":
            self.next()
            items.append(self.path_seq())
        return items[0] if len(items) == 1 else Path("|", tuple(items))

    def path_seq(self):
        items = [self.path_unary()]
        while self.peek()[1] == "/":
            self.next()
            items.append(self.path_unary())
        return items[0] if len(items) == 1 else Path("/", tuple(items))

    def path_unary(self):
        if self.peek()[1] == "^":
            self.next()
            return Path("^", (self.path_unary(),))
        p = self.path_primary()
        while self.peek()[1] in ("*", "+", "?"):
            _, op = self.next()
            p = Path(op, (p,))
        return p

    def path_primary(self):
        kind, v = self.peek()
        if v == "(":
            self.next()
            p = self.path()
            self.expect(")")
            return p
        kind, v = self.next()
        return Iri(self.iri_value((kind, v)))

    def triples_block(self, subject=None):
        """One subject's triples incl. ';' continuations; returns list."""
        out = []
        s = subject if subject is not None else self.term()
        while True:
            p = self.path()
            o = self.term()
            out.append(Triple(s, p, o))
            kind, v = self.peek()
            if v == ";":
                self.next()
                continue
            if v == ".":
                self.next()
            return out

    def patterns(self):
        out = []
        while True:
            kind, v = self.peek()
            if v == "}" or v is None:
                return out
            if v == "OPTIONAL":
                self.next()
                self.expect("{")
                inner = self.patterns()
                self.expect("}")
                out.append(OptionalPat(inner))
            elif v == "{":
                groups = []
                while self.peek()[1] == "{":
                    self.next()
                    groups.append(self.patterns())
                    self.expect("}")
                    if self.peek()[1] == "UNION":
                        self.next()
                    else:
                        break
                out.append(UnionPat(groups))
            else:
                out.append(Bgp(self.triples_block()))


def parse_query(text):
    prefixes = {}
    for m in re.finditer(r"PREFIX\s+([A-Za-z_][\w-]*):\s*<([^>]*)>", text):
        prefixes[m.group(1)] = m.group(2)
    body = text[text.index("CONSTRUCT"):]
    toks = tokenize(body)
    p = Parser(toks, prefixes)
    p.expect("CONSTRUCT")
    p.expect("{")
    template = []
    while p.peek()[1] != "}":
        template.extend(p.triples_block())
    p.expect("}")
    p.expect("WHERE")
    p.expect("{")
    where = p.patterns()
    p.expect("}")
    return ConstructQuery(prefixes=prefixes, template=template, where=where)


# -- normalization: flatten associative path nests, merge adjacent BGPs ----

def norm_path(p):
    if isinstance(p, Iri):
        return ("iri", p.value)
    items = []
    for it in p.items:
        n = norm_path(it)
        if p.op in ("/", "|") and isinstance(n, tuple) and n[0] == p.op:
            items.extend(n[1])
        else:
            items.append(n)
    return (p.op, tuple(items))


def norm_term(t):
    if isinstance(t, Var):
        return ("var", t.name)
    if isinstance(t, Blank):
        return ("blank", t.name)
    if isinstance(t, Iri):
        return ("iri", t.value)
    return ("lit", t.value, t.dt, t.lang)


def norm_triple(t):
    return (norm_term(t.s), norm_path(t.p), norm_term(t.o))


def norm_patterns(pats):
    out = []
    for p in pats:
        if isinstance(p, Bgp):
            for t in p.triples:
                out.append(("t",) + norm_triple(t))
        elif isinstance(p, OptionalPat):
            out.append(("opt", tuple(norm_patterns(p.patterns))))
        elif isinstance(p, UnionPat):
            out.append(("union", tuple(
                tuple(norm_patterns(g)) for g in p.groups)))
    return out


def norm_query(q):
    # golden literals print plain (xsd:string implied); normalize ours
    def drop_dt(t):
        if t[0] == "lit":
            return ("lit", t[1])
        return t
    tpl = [tuple(drop_dt(x) if isinstance(x, tuple) and x and x[0] == "lit"
                 else x for x in tr) for tr in map(norm_triple, q.template)]

    def deep(pats):
        out = []
        for p in pats:
            if p[0] == "t":
                out.append(tuple(
                    drop_dt(x) if isinstance(x, tuple) and x and x[0] == "lit"
                    else x for x in p))
            elif p[0] == "opt":
                out.append(("opt", tuple(deep(list(p[1])))))
            else:
                # UNION is commutative and multi-object Turtle gives
                # variants no inherent order — compare groups as a set
                out.append(("union", tuple(sorted(
                    tuple(deep(list(g))) for g in p[1]))))
        return out
    # CONSTRUCT templates are triple SETS — order-insensitive
    return sorted(map(repr, tpl)), deep(norm_patterns(q.where))


@pytest.mark.parametrize("name", CASES)
def test_generate_query_golden(name):
    spec = json.load(open(f"{TD}/generateQuery/{name}.json"))
    golden_text = open(f"{TD}/generateQuery/{name}.sparql").read()
    golden = parse_query(golden_text)
    catalog, root = load_shapes_from_file(
        f"{TD}/shapes/{spec['shapes']}.ttl")
    got = generate_query(catalog, root, prefixes=golden.prefixes)
    gt, gw = norm_query(got)
    wt, ww = norm_query(golden)
    assert gt == wt, (
        f"template mismatch:\n got  {gt}\n want {wt}\n\n"
        f"generated:\n{got.to_sparql()}")
    assert gw == ww, (
        f"where mismatch:\n got  {gw}\n want {ww}\n\n"
        f"generated:\n{got.to_sparql()}")
