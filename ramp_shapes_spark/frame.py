"""``frame``: graph → typed records, compiled to DataFrame programs.

This is the distributed re-expression of the reference frame engine
(ramp-shapes ``src/frame.ts``).  The reference walks candidates with a
recursive lazy-generator interpreter; this engine *compiles* each shape
bottom-up into a relational program over a triples DataFrame:

* resource/literal shapes → column-predicate ``filter``s
  (frame.ts:496-517, common.ts:21-92),
* record property traversal → property-path equi-joins
  (frame.ts:361-388) + exactly-one enforcement via per-group counts
  (frame.ts:270-316),
* set/optional → ``collect_list`` aggregation / left-join-with-default
  (frame.ts:429-494),
* anyOf → tagged union of variant relations + anti-join for the
  unmatched set (frame.ts:390-427),
* recursive shapes → semi-naive global fixpoint (the memoization of
  frame.ts:228-236 becomes a shared per-shape match relation),
* cyclic *data* → residual-graph resolution emitting ``@ref``/``@use``
  reference ids exactly like the reference fixture encoding
  (frame.ts:111-127, 813-829; test/util.ts:22-57).

Framed values are carried as a JSON string column.  Rationale: shape
values are heterogeneous (anyOf unions mix scalars and arrays;
recursive shapes have unbounded depth), so no single Spark StructType
can hold every shape's value.  The JSON is assembled with JVM string
concatenation over ``to_json``-escaped fragments — all of it inside
whole-stage codegen; no Python UDF touches the match hot path.

Scalar expressions are composed as SQL **strings** (zero Py4J traffic;
see :mod:`ramp_shapes_spark.sqlutil`) and materialized with one
``selectExpr``/``F.expr`` per DataFrame boundary — plan construction is
pure Python until the handful of DataFrame calls.

Errors are *data*, not exceptions (errors.ts:16-59): mismatching
candidates under a strict/type-gated context produce rows in an error
side-channel carrying the reference error code and the shape stack
(formatted like test/runner.ts:89-99 expects).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .dataset import all_candidate_terms
from .paths import ClosureGrowthError, eval_path
from .shapes import (
    AnyOfShape, ListShape, LiteralShape, MapShape, OptionalShape,
    PredicatePath, Property, RecordShape, ResourceShape, SetShape, Shape,
    ShapeCatalog, ShapeID, is_self_path,
)
from .sqlutil import (
    EMPTY_OBJS_SQL, NULL_TERM_SQL, jstr, s_is_resource, s_json_quote, s_n3,
    s_str, s_term_eq_const, s_term_json, s_term_key,
)
from .terms import (
    RDF_FIRST, RDF_LANG_STRING, RDF_NIL, RDF_REST, Term,
    XSD_BOOLEAN, XSD_STRING, INTEGER_TYPES, FRACTIONAL_TYPES,
)

# Reference error codes (errors.ts:16-59)
ERR_SHAPE_MISMATCH = 201
ERR_PROPERTY_MISMATCH = 202
ERR_NO_PROPERTY_MATCHES = 203
ERR_MULTIPLE_PROPERTY_MATCHES = 204
ERR_NON_RESOURCE_TERM = 205
ERR_MULTIPLE_LIST_HEAD = 206
ERR_NO_LIST_HEAD = 207
ERR_MULTIPLE_LIST_ITEM = 208
ERR_NO_LIST_ITEM = 209
ERR_MULTIPLE_LIST_TAIL = 210
ERR_NO_LIST_TAIL = 211
ERR_COMPOSITE_MAP_KEY = 212
ERR_CYCLIC_MATCH = 216
ERR_MIN_COUNT = 219
ERR_MAX_COUNT = 220
ERR_TERM_TYPE = 221
ERR_TERM_VALUE = 222
ERR_LITERAL_DATATYPE = 223
ERR_LITERAL_LANGUAGE = 224
ERR_VOCABULARY = 0  # reference throws a plain Error for vocabulary misses

_BIG_ORD = 2 ** 62
_SEP = s_str(chr(30))  # unit-separator literal for composite keys

MATCH_FIELDS = "gid string, fkey string, focus struct<kind:string,value:string,dt:string,lang:string>, vkey string, ord long, value string"
MISMATCH_FIELDS = "gid string, fkey string, focus struct<kind:string,value:string,dt:string,lang:string>, ord long, gord long, code int, stack string"
ERROR_FIELDS = "code int, stack string, gord long, ord long, site long"


@dataclass
class Result:
    """Match relation of one shape evaluation site.

    ``matches``: (gid, fkey, focus, vkey, ord, value) — ``focus`` null
    for whole-group matches (sets, optional empty values); ``value``
    SQL-null encodes JS ``undefined`` (omitted record key).
    ``mismatches``: (gid, fkey, focus, ord, gord, code, stack) — the
    diagnostic each row carries is the error the reference would raise
    when evaluating this site under ``strict`` (the "replay" of
    frame.ts:390-427 / 471-494 made compile-time-static).
    """

    matches: DataFrame
    mismatches: DataFrame
    per_group: bool = False


class FrameResult:
    """``matches``: (focus TERM, ord long, value string);
    ``errors``: (code int, stack string, gord, ord, site).

    The error union is assembled lazily on first access — consumers
    that never read the channel (pipelines, benchmarks) skip the
    analyzer cost of the N-way union entirely."""

    def __init__(self, matches: DataFrame, errors_thunk) -> None:
        self.matches = matches
        self._errors_thunk = errors_thunk
        self._errors: Optional[DataFrame] = None

    @property
    def errors(self) -> DataFrame:
        if self._errors is None:
            self._errors = self._errors_thunk()
        return self._errors

    def first_error(self) -> Optional[Tuple[int, list]]:
        row = (
            self.errors.orderBy("gord", "ord", "site").limit(1).collect()
        )
        if not row:
            return None
        return row[0]["code"], json.loads(row[0]["stack"])


def _try_record_rel(fastframe, engine: "FrameEngine", sid: ShapeID,
                    seeds: Optional[DataFrame] = None):
    """Build the fast-tree relation (``seeds``: see
    :func:`fastframe.record_rel`), or return ``None`` when a closure
    path inside it trips the MAX_CLOSURE_GROWTH guard — the universal
    (all-source) closure cannot be demand-driven, but the general
    compiler evaluates the same path with the seeded-frontier fallback,
    so the caller must fall through to it instead of hard-failing on
    data that frames fine via the general path."""
    try:
        return fastframe.record_rel(engine, sid, seeds)
    except ClosureGrowthError:
        return None


def _shape_display(shape: Shape) -> str:
    """Static stack-frame shape display (test/runner.ts:89-99)."""
    if shape.id.kind == "iri":
        return jstr(shape.id.value)
    return '{"type":%s}' % jstr(shape.type)


class FrameEngine:
    """Compiles shapes from a catalog into match relations over triples."""

    def __init__(self, spark: SparkSession, catalog: ShapeCatalog,
                 triples: DataFrame, max_fixpoint_iterations: int = 64,
                 max_list_length: int = 10_000,
                 diagnostics: bool = True,
                 max_gather_degree: int = 1024,
                 track_errors: bool = True,
                 max_set_value_len: int = 32_000_000) -> None:
        """``diagnostics=False`` keeps the error channel's structure and
        codes but replaces the shape-STACK string expressions (the bulk
        of every compiled plan's expression text) with NULL — pipelines
        that route errors by code but never render stacks compile and
        run measurably faster.  Fixture comparisons need the default.

        ``track_errors=False`` goes further: the error channel is
        abandoned entirely (``FrameResult.errors`` is always empty).
        Mismatch *rows* are still produced — they are load-bearing for
        match semantics (any Mismatch among a property's candidates
        fails the property, frame.ts:281-289) — but without codes,
        stacks, or group-order bookkeeping, which removes one
        ``groups`` join per node/record site from both plan
        construction and execution.  Use for match-only consumers
        (benchmark queries, read paths that never inspect errors)."""
        self.spark = spark
        self.catalog = catalog
        self.triples = triples
        self._diag = diagnostics and track_errors
        self._track = track_errors
        self.recursive_ids = catalog.recursive_shape_ids()
        self.max_fixpoint_iterations = max_fixpoint_iterations
        self.max_list_length = max_list_length
        self.max_gather_degree = max_gather_degree
        # fast-tree set/map values serialize to ONE JSON string per
        # subject (the set IS the value); a Zipf-head subject with
        # millions of members would build a near-unbounded string inside
        # an executor — fail loudly at this bound instead (same contract
        # as cycles.MAX_RESIDUAL_PAIRS)
        self.max_set_value_len = max_set_value_len
        self._site = 0
        self._errors: List[DataFrame] = []
        self._suppress_errors = False
        self._fix: Dict[str, DataFrame] = {}
        self._fix_mode = False
        self._fix_done = False
        self._collectors: Dict[str, List[DataFrame]] = {}
        self._universe: Optional[DataFrame] = None
        self._sp_gather: Optional[DataFrame] = None
        self._empty_cache: Dict[str, DataFrame] = {}
        self._fast_ok: Dict[str, bool] = {}   # fastframe qualification
        # fastframe relations (and the universal path relations they
        # share)
        self._fast_rel: Dict[str, object] = {}

    # ------------------------------------------------------------------
    # public API
    # ------------------------------------------------------------------
    def frame(self, root: ShapeID, strict: bool = False,
              ordered: bool = False, candidates=None,
              seeded: bool = False) -> FrameResult:
        """Frame candidates of the dataset against ``root``.

        Equivalent of ``frame({shape, dataset, candidates})``
        (frame.ts:36-61): ``candidates`` defaults to all subjects ∪
        objects; a caller-provided candidate set — a list of
        :class:`~ramp_shapes_spark.terms.Term` or a DataFrame with a
        ``focus`` TERM column (and optional ``ord`` long) — IMPLIES
        strict evaluation (frame.ts:50-51): every given candidate must
        match or the mismatch lands in the error channel.

        ``ordered=True`` imposes the reference's candidate iteration
        order (a global sort) — only fixture comparisons need it;
        pipeline consumers should leave it off (a total order is a
        pointless full-data range shuffle at scale).

        The error channel is per-call: each invocation starts a fresh
        accumulator (one engine instance can frame several roots).
        """
        self._errors = []
        if candidates is not None:
            strict = True
            if isinstance(candidates, DataFrame):
                uni = candidates
                if "ord" not in uni.columns:
                    uni = uni.withColumn("ord", F.monotonically_increasing_id())
                uni = uni.select("focus", "ord")
            else:
                uni = self.spark.createDataFrame(
                    [(t.as_row(), i) for i, t in enumerate(candidates)],
                    "focus struct<kind:string,value:string,dt:string,"
                    "lang:string>, ord long",
                )
            # CANDIDATE-SEEDED FAST TREE: with the error channel off,
            # strict evaluation only changes which rows land in
            # ``matches`` (non-matching candidates would only feed the
            # error relation, which is empty by construction here), so
            # the memoized whole-tree match relation restricted to the
            # candidate keys IS the answer — one semi-join instead of
            # the general compiler's ~40 per-site operations.  This is
            # what makes incremental maintenance (re-frame of the
            # affected roots) cheaper than the one-pass full re-frame
            # it competes with.  ``ord`` keeps the caller-candidate
            # contract (the provided ordinal, not the dataset order).
            # ``seeded=True`` (caller asserts the candidate set is
            # delta-small) additionally pushes the candidate keys into
            # every base relation of the fast tree as broadcast
            # semi-joins, so aggregations shuffle candidate-
            # proportional row counts instead of one group per table
            # subject — the incremental-maintenance shape.
            if not self._track:
                from . import fastframe
                shape0 = self.catalog.get(root)
                if fastframe.qualifies(self, shape0):
                    seeds = uni.select(
                        F.expr(s_term_key("focus")).alias("fkey")
                    ).distinct() if seeded else None
                    rel = _try_record_rel(fastframe, self, root, seeds)
                    if rel is not None:
                        ck = uni.select(
                            F.expr(s_term_key("focus")).alias("__ck"),
                            F.col("focus").alias("__cfocus"),
                            F.col("ord").alias("__cord"),
                        )
                        matches = rel.join(
                            ck, rel["fkey"] == ck["__ck"],
                        ).selectExpr("__cfocus AS focus", "__cord AS ord",
                                     "__fval AS value")
                        if ordered:
                            matches = matches.orderBy("ord")
                        return FrameResult(
                            matches, lambda: self._empty(ERROR_FIELDS))
        else:
            if not strict:
                # fast-tree root: the match relation already carries
                # focus and a dataset-order surrogate (first-seen
                # subject tid) — the full subjects∪objects universe
                # scan would only rediscover candidates the relation
                # anti-filters anyway.  With the error channel ON the
                # fast path still applies when stacks are not requested
                # (diagnostics=False): codes come from the SAME property
                # outcomes, assembled lazily in the errors thunk
                # (fastframe.root_errors) — consumers that never read
                # errors (most pipelines, every bench query) pay
                # nothing.  diagnostics=True (fixture comparisons
                # needing exact shape-stack strings) keeps the general
                # compiler.
                shape0 = self.catalog.get(root)
                from . import fastframe
                if self._track:
                    use_fast = not self._diag and \
                        fastframe.error_capable(self, shape0)
                else:
                    use_fast = fastframe.qualifies(self, shape0)
                if use_fast:
                    rel = _try_record_rel(fastframe, self, root)
                if use_fast and rel is not None:
                    if ordered:
                        # the relation's __ford is min tid AS SUBJECT;
                        # the reference iterates candidates by first
                        # appearance as subject OR object
                        # (findAllCandidates) — re-attach the true
                        # dataset order from the universe scan
                        ord_map = all_candidate_terms(self.triples) \
                            .select(
                                F.expr(s_term_key("focus")).alias("__ok"),
                                F.col("ord").alias("__oord"))
                        matches = rel.join(
                            ord_map, rel["fkey"] == ord_map["__ok"],
                        ).selectExpr(
                            "__ffocus AS focus", "__oord AS ord",
                            "__fval AS value",
                        ).orderBy("ord")
                    else:
                        matches = rel.selectExpr(
                            "__ffocus AS focus", "__ford AS ord",
                            "__fval AS value")
                    if self._track:
                        return FrameResult(
                            matches,
                            lambda: fastframe.root_errors(self, root))
                    return FrameResult(
                        matches, lambda: self._empty(ERROR_FIELDS))
            uni = self.universe()
        cand = uni.selectExpr(
            "'r' AS gid",
            f"{s_term_key('focus')} AS fkey",
            "focus", "ord",
            "CAST(NULL AS STRING) AS refk",
        )
        groups = self.spark.createDataFrame(
            [("r", 0, "", None)],
            "gid string, gord long, stk string, edge string",
        )
        res = self.compile(root, cand, groups, required=strict)
        matches = res.matches.select("focus", "ord", "value")
        if ordered:
            matches = matches.orderBy("ord")
        errs = list(self._errors)
        return FrameResult(matches, lambda: self._collect_errors(errs))

    def universe(self) -> DataFrame:
        if self._universe is None:
            # persist, NOT localCheckpoint: under AQE a checkpoint —
            # even a "lazy" one — materializes every upstream query
            # stage at plan time (AdaptiveSparkPlan.doExecute), turning
            # plan construction into serial execution; persist() is the
            # only truly lazy reuse marker.  Only worth the (driver-
            # expensive) cache registration when the fixpoint loop will
            # re-read it; a one-shot frame() reads it once.
            self._universe = all_candidate_terms(self.triples)
            if self.recursive_ids:
                self._universe = self._universe.persist()
        return self._universe

    def _collect_errors(self, errs: List[DataFrame]) -> DataFrame:
        if not errs:
            return self.spark.createDataFrame([], ERROR_FIELDS)
        out = errs[0]
        for df in errs[1:]:
            out = out.unionAll(df)
        return out

    # ------------------------------------------------------------------
    # infrastructure
    # ------------------------------------------------------------------
    def _next_site(self) -> int:
        self._site += 1
        return self._site

    def _empty(self, schema: str) -> DataFrame:
        if schema not in self._empty_cache:
            self._empty_cache[schema] = self.spark.createDataFrame([], schema)
        return self._empty_cache[schema]

    def _emit(self, mismatches: DataFrame) -> None:
        if self._suppress_errors or not self._track:
            return
        site = self._next_site()
        self._errors.append(
            mismatches.selectExpr(
                "code", "stack", "gord", "ord",
                f"CAST({site} AS BIGINT) AS site",
            )
        )

    def _s_stack(self, stk: str, frame: str) -> str:
        """``[stk, frame]`` JSON array assembly (string expr)."""
        if not self._diag:
            return "CAST(NULL AS STRING)"
        return (
            f"concat('[', CASE WHEN {stk} = '' THEN {frame} "
            f"ELSE concat({stk}, ',', {frame}) END, ']')"
        )

    def _s_frame_json(self, shape: Shape, edge: Optional[str],
                      focus: Optional[str]) -> str:
        """One stack frame ``{"shape":…, "edge":…, "focus":…}``.

        ``edge`` is the parent-provided JSON-encoded edge fragment
        column/expr (nullable) or None; ``focus`` a TERM expr or None.
        """
        if not self._diag:
            return "''"
        parts = [s_str('{"shape":' + _shape_display(shape))]
        if edge is not None:
            parts.append(
                f"CASE WHEN {edge} IS NOT NULL "
                f"THEN concat(',\"edge\":', {edge}) ELSE '' END"
            )
        if focus is not None:
            parts.append(
                f"concat(',\"focus\":', {s_json_quote(s_n3(focus))})"
            )
        parts.append("'}'")
        return f"concat({', '.join(parts)})"

    # ------------------------------------------------------------------
    # dispatch (frameShape, frame.ts:142-205)
    # ------------------------------------------------------------------
    def compile(self, sid: ShapeID, cand: DataFrame, groups: DataFrame,
                required: bool) -> Result:
        """Evaluate shape ``sid`` over per-site candidates.

        ``cand``: (gid, fkey, focus, ord, refk); ``groups``: (gid, gord,
        stk, edge, refk) — one row per evaluation group, ``stk`` is the
        ancestor stack prefix with dynamic foci already substituted,
        ``edge`` the JSON-encoded edge label for this shape's frame.
        """
        shape = self.catalog.get(sid)
        required = required and not shape.lenient

        if isinstance(shape, (RecordShape, ListShape)) and \
                sid.key() in self.recursive_ids:
            # recursion is cut at record/list shapes: sites join the
            # global fixpoint relation (inside the fixpoint loop this
            # reads the previous round's relation — semi-naive style)
            res = self._compile_recursive_site(shape, cand, groups)
        elif isinstance(shape, (ResourceShape, LiteralShape)):
            res = self._compile_node(shape, cand, groups)
        elif isinstance(shape, RecordShape):
            res = self._compile_record(shape, cand, groups, required)
        elif isinstance(shape, AnyOfShape):
            res = self._compile_anyof(shape, cand, groups, required)
        elif isinstance(shape, SetShape):
            res = self._compile_set(shape, cand, groups, required)
        elif isinstance(shape, OptionalShape):
            res = self._compile_optional(shape, cand, groups, required)
        elif isinstance(shape, ListShape):
            res = self._compile_list(shape, cand, groups, required)
        elif isinstance(shape, MapShape):
            res = self._compile_map(shape, cand, groups, required)
        else:
            raise TypeError(f"unknown shape {shape!r}")

        if shape.lenient:
            # lenient: mismatches are silently skipped, never errors,
            # even under strict (frame.ts:149,186-190)
            res = Result(res.matches, self._empty(MISMATCH_FIELDS), res.per_group)
        elif required:
            self._emit(res.mismatches)
        return res

    # ------------------------------------------------------------------
    # resource / literal (frameNode, frame.ts:496-517; common.ts:21-92)
    # ------------------------------------------------------------------
    @staticmethod
    def _s_node_checks(shape, t: str) -> Tuple[str, str]:
        """matchesTerm (common.ts:21-92): (fail condition, first failing
        check's error code) as SQL expr strings over a TERM expr ``t``."""
        checks: List[Tuple[str, int]] = []
        if isinstance(shape, ResourceShape):
            checks.append((f"NOT {s_is_resource(t)}", ERR_TERM_TYPE))
            if shape.only_named:
                checks.append((f"({t}).kind != 'iri'", ERR_TERM_TYPE))
        else:
            checks.append((f"({t}).kind != 'lit'", ERR_TERM_TYPE))
            if shape.datatype:
                checks.append((
                    f"coalesce(({t}).dt, '') != {s_str(shape.datatype)}",
                    ERR_LITERAL_DATATYPE,
                ))
            if shape.language:
                checks.append((
                    f"coalesce(({t}).lang, '') != {s_str(shape.language)}",
                    ERR_LITERAL_LANGUAGE,
                ))
        if shape.value is not None:
            checks.append((f"NOT {s_term_eq_const(t, shape.value)}",
                           ERR_TERM_VALUE))

        fail = "(" + " OR ".join(c for c, _ in checks) + ")"
        code = "CASE " + " ".join(
            f"WHEN {c} THEN {code}" for c, code in checks
        ) + " END"
        return fail, code

    @staticmethod
    def _s_vocab_key(shape, t: str) -> Optional[str]:
        """Vocabulary key of TERM expr ``t`` (value-mapping.ts
        fromVocabulary; the first key wins for a term listed twice) —
        NULL for a term outside the vocabulary; None when ``shape`` has
        no vocabulary."""
        if not isinstance(shape, ResourceShape) or shape.vocabulary is None:
            return None
        keys: Dict[str, str] = {}
        for key, term in shape.vocabulary:
            keys.setdefault(term.key(), key)
        entries = ", ".join(f"{s_str(tk)}, {s_str(k)}"
                            for tk, k in keys.items())
        return f"try_element_at(map({entries}), {s_term_key(t)})"

    @classmethod
    def _s_node_miss(cls, shape, t: str) -> Optional[str]:
        """Vocabulary miss over TERM expr ``t``: the term passes
        matchesTerm but maps to no vocabulary key.  A miss is neither a
        match nor a mismatch — it only feeds ERR_VOCABULARY to the error
        channel.  None when ``shape`` has no vocabulary."""
        key = cls._s_vocab_key(shape, t)
        if key is None:
            return None
        fail, _ = cls._s_node_checks(shape, t)
        return f"(NOT {fail} AND {key} IS NULL)"

    @classmethod
    def _s_node_nomatch(cls, shape, t: str) -> str:
        """Complement of a match over TERM expr ``t``: a mismatch
        (``_s_node_checks``) or a vocabulary miss."""
        fail, _ = cls._s_node_checks(shape, t)
        key = cls._s_vocab_key(shape, t)
        return fail if key is None else f"({fail} OR {key} IS NULL)"

    def _compile_node(self, shape, cand: DataFrame, groups: DataFrame) -> Result:
        f = "focus"
        fail, code = self._s_node_checks(shape, f)
        miss = self._s_node_miss(shape, f)

        matched = cand.where(f"NOT {self._s_node_nomatch(shape, f)}")

        # mismatch diagnostics (matchesTerm's first failing check);
        # without error tracking the mismatch ROWS remain (they decide
        # exactly-one / anyOf semantics) but skip the groups join and
        # code/stack assembly
        if self._track:
            frame = self._s_frame_json(shape, "edge", f)
            mismatches = cand.where(fail).join(groups, "gid").selectExpr(
                "gid", "fkey", "focus", "ord", "gord",
                f"({code}) AS code",
                f"{self._s_stack('stk', frame)} AS stack",
            )
        else:
            mismatches = cand.where(fail).selectExpr(
                "gid", "fkey", "focus", "ord",
                "CAST(0 AS BIGINT) AS gord",
                "CAST(NULL AS INT) AS code",
                "CAST(NULL AS STRING) AS stack",
            )

        if miss is not None and not self._suppress_errors and self._track:
            frame = self._s_frame_json(shape, "edge", f)
            self._emit(cand.where(miss).join(groups, "gid").selectExpr(
                "gid", "fkey", "focus", "ord", "gord",
                f"{ERR_VOCABULARY} AS code",
                f"{self._s_stack('stk', frame)} AS stack",
            ))

        self._capture_refs(shape, matched)

        matches = matched.selectExpr(
            "gid", "fkey", "focus", "'' AS vkey", "ord",
            f"({self._s_node_value(shape, f)}) AS value",
        )
        return Result(matches, mismatches, per_group=False)

    def _s_node_value(self, shape, t: str) -> str:
        """ValueMapper.mapByDefault → JSON fragment (value-mapping.ts).
        Only meaningful for a matching term (a vocabulary miss has no
        value)."""
        if isinstance(shape, ResourceShape):
            vkey = self._s_vocab_key(shape, t)
            if vkey is not None:
                return s_json_quote(vkey)
            if shape.keep_as_term:
                return s_term_json(t)
            bn = s_json_quote(f"concat('_:', ({t}).value)")
            plain = s_json_quote(f"({t}).value")
            return (
                f"CASE WHEN ({t}).kind = 'bnode' "
                f"THEN {bn} ELSE {plain} END"
            )
        # literal
        if shape.keep_as_term:
            return s_term_json(t)
        dt = shape.effective_datatype()
        if dt == XSD_STRING:
            return s_json_quote(f"({t}).value")
        if dt == RDF_LANG_STRING and shape.language:
            return s_json_quote(f"({t}).value")
        if dt == XSD_BOOLEAN:
            return (f"CASE WHEN ({t}).value != 'false' "
                    f"THEN 'true' ELSE 'false' END")
        if dt in INTEGER_TYPES:
            return f"CAST(CAST(({t}).value AS BIGINT) AS STRING)"
        if dt in FRACTIONAL_TYPES:
            return f"CAST(CAST(({t}).value AS DOUBLE) AS STRING)"
        # no datatype / unconvertible datatype: value stays a term
        return s_term_json(t)

    # ------------------------------------------------------------------
    # record (frameRecord + frameProperties, frame.ts:207-316)
    # ------------------------------------------------------------------
    def subject_props(self) -> DataFrame:
        """Per-subject gathered property map: skey → map<pred,
        struct<objs: array<struct<tid,o>>, ntot: long>> — the
        relational analog of the reference's SP hash index
        (rdf-dataset.ts:44-50), computed with ONE two-level aggregation
        for the whole engine.  Leaf-valued record properties of the
        general compiler evaluate against this map as pure codegen
        array expressions (zero joins per property); the fast tree
        never reads it (``fastframe.scalar_counts`` counts per
        predicate instead).

        DEGREE CAP: each (subject, predicate) keeps only its first
        ``max_gather_degree`` objects (by tid, via a ranked window —
        the aggregation buffer itself is bounded, so a Zipf-head
        subject with millions of triples can NOT produce one giant row
        / executor OOM).  ``ntot`` carries the true count; fast-path
        stats fail over-cap plain/optional properties with 204 (any
        n≥2 fails regardless of content) and route over-cap set
        properties to the general join path."""
        if self._sp_gather is None:
            from pyspark.sql import Window

            cap = self.max_gather_degree
            w = Window.partitionBy("skey", "p").orderBy("tid")
            ranked = self.triples.select(
                F.expr(s_term_key("s")).alias("skey"), "p", "tid", "o",
            ).withColumn("__rn", F.row_number().over(w)) \
                .withColumn("__ntot", F.expr(
                    "count(1) OVER (PARTITION BY skey, p)"))
            by_p = ranked.where(F.col("__rn") <= cap + 1).groupBy(
                "skey", "p"
            ).agg(
                F.expr("array_sort(collect_list(struct(tid, o)))")
                .alias("objs"),
                F.expr("max(__ntot)").alias("ntot"),
                F.expr("min(tid)").alias("__mtid"),
            )
            self._sp_gather = by_p.groupBy("skey").agg(
                F.expr("map_from_entries(collect_list("
                       "struct(p, struct(objs, ntot))))")
                .alias("__pmap"),
                # first-seen tid of the subject — the dataset-order
                # surrogate, so fast-tree roots need no universe scan
                F.expr("min(__mtid)").alias("sord"),
            ).persist()
        return self._sp_gather

    def _fast_leaf(self, sid: ShapeID) -> Optional[Shape]:
        """The resource/literal shape ``sid`` when the fast paths (the
        gathered stats and the fast tree) can evaluate it as a leaf,
        else None."""
        s = self.catalog.get(sid)
        if not isinstance(s, (ResourceShape, LiteralShape)):
            return None
        if self._track and isinstance(s, ResourceShape) and \
                s.vocabulary is not None:
            # every fast site treats a miss as no match and no mismatch
            # (_s_node_miss), but none emits its ERR_VOCABULARY row
            return None
        if sid.key() in self._collectors:
            return None  # computed-property reference capture
        return s

    def _fast_kind(self, prop: Property) -> Optional[Tuple[str, Shape, Shape]]:
        """Classify a property for the gathered fast path.

        Returns (kind, wrapper_shape, leaf_shape) with kind in
        {'plain', 'optional', 'set'} when the property is a
        forward-predicate (or self) path whose value is a leaf
        resource/literal shape — optionally under Optional/Set — and
        no ref collector targets it; None → general join path.
        """
        if not (isinstance(prop.path, PredicatePath) or is_self_path(prop.path)):
            return None

        direct = self._fast_leaf(prop.value_shape)
        if direct is not None:
            return ("plain", direct, direct)
        wrapper = self.catalog.get(prop.value_shape)
        if isinstance(wrapper, (OptionalShape, SetShape)) and \
                not is_self_path(prop.path):
            if isinstance(wrapper, SetShape) and (
                    wrapper.max_count is None
                    or wrapper.max_count > self.max_gather_degree):
                # unbounded sets need every object; the degree-capped
                # gather can't carry them — general join path instead
                return None
            leaf = self._fast_leaf(wrapper.item_shape)
            if leaf is not None:
                kind = "optional" if isinstance(wrapper, OptionalShape) else "set"
                return (kind, wrapper, leaf)
        return None

    def _s_fast_stat(self, prop: Property, kind: str, wrapper: Shape,
                     leaf: Shape, cstk: str, entry: str) -> str:
        """Property stat struct (ok, value, fcode, fstack) computed as
        array expressions over the gathered ``__pmap`` column —
        replicates _eval_property + leaf/optional/set semantics with
        zero joins.  ``entry`` names the column holding the property's
        pre-bound map entry (unused for a self path).  Returns a
        ``named_struct`` SQL expr string."""
        if is_self_path(prop.path):
            objs = "array(struct(ord AS tid, focus AS o))"
            over_cap = "false"
        else:
            # ``entry`` is selected once per property — referencing it
            # keeps every stat expression small instead of inlining the
            # map lookup ~8 times; gather arrays arrive tid-sorted and
            # capped, ntot is true
            objs = f"coalesce(({entry}).objs, {EMPTY_OBJS_SQL})"
            over_cap = (f"(coalesce(({entry}).ntot, 0) > "
                        f"{self.max_gather_degree})")

        fail_x, code_x = self._s_node_checks(leaf, "x.o")
        # vocabulary misses land in neither array
        hit_x = f"NOT {self._s_node_nomatch(leaf, 'x.o')}"
        matched = f"filter({objs}, x -> {hit_x})"
        if leaf.lenient:
            # lenient leaf: mismatching candidates silently skipped
            failed = EMPTY_OBJS_SQL
        else:
            failed = f"filter({objs}, x -> {fail_x})"
        n = f"size({matched})"
        first_m = f"try_element_at({matched}, 1)"
        second_tid = f"(try_element_at({matched}, 2)).tid"
        fb = f"try_element_at({failed}, 1)"
        _, code_fb = self._s_node_checks(leaf, f"({fb}).o")

        def leaf_frame(term: str, with_edge: bool) -> str:
            head = '{"shape":' + _shape_display(leaf)
            if with_edge:
                head += ',"edge":' + jstr(prop.name)
            return (
                f"concat({s_str(head)}, ',\"focus\":', "
                f"{s_json_quote(s_n3(term))}, {s_str('}')})"
            )

        rec_stack = f"concat('[', {cstk}, ']')"

        if kind == "plain":
            mism_first = (
                f"({fb} IS NOT NULL AND "
                f"(({n}) < 2 OR ({fb}).tid < {second_tid}))"
            )
            ok = f"(NOT {over_cap} AND {fb} IS NULL AND ({n}) = 1)"
            value = (f"CASE WHEN NOT {over_cap} AND ({n}) = 1 "
                     f"THEN {self._s_node_value(leaf, f'({first_m}).o')} END")
            fcode = (
                f"CASE WHEN {mism_first} THEN {code_fb} "
                f"WHEN {over_cap} THEN {ERR_MULTIPLE_PROPERTY_MATCHES} "
                f"WHEN ({n}) = 0 THEN {ERR_NO_PROPERTY_MATCHES} "
                f"WHEN ({n}) >= 2 THEN {ERR_MULTIPLE_PROPERTY_MATCHES} END"
            )
            fstack = (
                f"CASE WHEN {mism_first} THEN concat('[', {cstk}, ',', "
                f"{leaf_frame(f'({fb}).o', True)}, ']') "
                f"ELSE {rec_stack} END"
            )
        elif kind == "optional":
            oframe = s_str(
                '{"shape":{"type":"optional"},"edge":' + jstr(prop.name) + "}"
            )
            mism = "false" if wrapper.lenient else f"({fb} IS NOT NULL)"
            mism_first = (
                f"({mism} AND (({n}) < 2 OR ({fb}).tid < {second_tid}))"
            )
            lenient_lit = "true" if wrapper.lenient else "false"
            ok = (f"(NOT {over_cap} AND ({n}) <= 1 "
                  f"AND ({lenient_lit} OR {fb} IS NULL))")
            value = (f"CASE WHEN NOT {over_cap} AND ({n}) = 1 "
                     f"THEN {self._s_node_value(leaf, f'({first_m}).o')} END")
            if wrapper.empty_is_null:
                value = f"coalesce({value}, 'null')"
            fcode = (
                f"CASE WHEN {mism_first} THEN {code_fb} "
                f"WHEN {over_cap} THEN {ERR_MULTIPLE_PROPERTY_MATCHES} "
                f"WHEN ({n}) >= 2 THEN {ERR_MULTIPLE_PROPERTY_MATCHES} END"
            )
            fstack = (
                f"CASE WHEN {mism_first} THEN concat('[', {cstk}, ',', "
                f"{oframe}, ',', {leaf_frame(f'({fb}).o', False)}, ']') "
                f"ELSE {rec_stack} END"
            )
        else:  # set
            sframe = s_str(
                '{"shape":{"type":"set"},"edge":' + jstr(prop.name) + "}"
            )
            min_c = wrapper.min_count or 0
            max_c = wrapper.max_count
            bounds = f"(({n}) >= {min_c})"
            if max_c is not None:
                bounds += f" AND (({n}) <= {max_c})"
            inner_ok = f"(NOT {over_cap} AND {fb} IS NULL AND {bounds})"
            ok = inner_ok
            items = (
                f"array_join(transform({matched}, "
                f"x -> {self._s_node_value(leaf, 'x.o')}), ',')"
            )
            value = (f"CASE WHEN {inner_ok} "
                     f"THEN concat('[', {items}, ']') END")
            if wrapper.lenient:
                # lenient set: a failing set yields nothing → the
                # property has no matches (code 203 at the record frame)
                fcode = (f"CASE WHEN NOT {inner_ok} "
                         f"THEN {ERR_NO_PROPERTY_MATCHES} END")
                fstack = rec_stack
            else:
                fcode = f"CASE WHEN {fb} IS NOT NULL THEN {code_fb} " \
                    f"WHEN {over_cap} THEN {ERR_MAX_COUNT} " \
                    f"WHEN ({n}) < {min_c} THEN {ERR_MIN_COUNT} "
                if max_c is not None:
                    fcode += f"WHEN ({n}) > {max_c} THEN {ERR_MAX_COUNT} "
                fcode += "END"
                fstack = (
                    f"CASE WHEN {fb} IS NOT NULL THEN concat('[', {cstk}, "
                    f"',', {sframe}, ',', {leaf_frame(f'({fb}).o', False)}, "
                    f"']') ELSE concat('[', {cstk}, ',', {sframe}, ']') END"
                )
        if not self._diag:
            fstack = "CAST(NULL AS STRING)"
        return (
            f"named_struct('ok', {ok}, 'value', CAST({value} AS STRING), "
            f"'fcode', CAST({fcode} AS INT), 'fstack', {fstack})"
        )

    def _compile_record(self, shape: RecordShape, cand: DataFrame,
                        groups: DataFrame, required: bool) -> Result:
        if not self._track and not self._fix_mode:
            from . import fastframe
            if fastframe.qualifies(self, shape):
                # whole-tree relation off the shared gather (memoized
                # per shape): a site is two joins, not a sub-program
                rel = _try_record_rel(fastframe, self, shape.id)
            else:
                rel = None
            if rel is not None:
                matches = cand.join(rel, "fkey").selectExpr(
                    "gid", "fkey", "focus", "'' AS vkey", "ord",
                    "__fval AS value",
                )
                mism = cand.join(rel.select("fkey"), "fkey", "left_anti") \
                    .selectExpr(
                        "gid", "fkey", "focus", "ord",
                        "CAST(0 AS BIGINT) AS gord",
                        "CAST(NULL AS INT) AS code",
                        "CAST(NULL AS STRING) AS stack",
                    )
                return Result(matches, mism, per_group=False)
        site = self._next_site()
        if self._track:
            c = cand.join(groups, "gid")
        else:
            # no error channel → gord/stk are inert; skip the groups
            # join (one exchange per record site) and carry literals
            c = cand.selectExpr("*", "CAST(0 AS BIGINT) AS gord")
        if self._diag:
            own_frame = self._s_frame_json(shape, "edge", "focus")
            cstk = (f"CASE WHEN stk = '' THEN {own_frame} "
                    f"ELSE concat(stk, ',', {own_frame}) END")
            nonres_stack = f"concat('[', {cstk}, ']')"
        else:
            cstk = "''"
            nonres_stack = "CAST(NULL AS STRING)"

        nonres = c.where(f"NOT {s_is_resource('focus')}").selectExpr(
            "gid", "fkey", "focus", "ord", "gord",
            f"{ERR_NON_RESOURCE_TERM} AS code",
            f"{nonres_stack} AS stack",
        )

        rc = c.where(s_is_resource("focus")).selectExpr(
            "gid", "fkey", "focus", "ord", "gord", "refk",
            f"({cstk}) AS cstk",
            f"md5(concat_ws({_SEP}, gid, fkey, {s_str(str(site))})) AS ckey",
        )

        collecting = bool(shape.computed_properties)
        if collecting:
            rc = rc.withColumn("refk", F.col("ckey"))
            self._activate_collectors(shape)

        # classify properties: gathered fast path vs general join path
        fast_t = [self._fast_kind(p) for p in shape.type_properties]
        fast_r = [self._fast_kind(p) for p in shape.properties]
        needs_gather = any(x is not None for x in fast_t + fast_r)
        if needs_gather:
            sp = self.subject_props().withColumnRenamed("skey", "__sk")
            rc = rc.join(sp, F.col("fkey") == F.col("__sk"), "left") \
                .drop("__sk")

        # materialize every fast-path stat struct as ONE real column so
        # downstream field accesses don't duplicate the (large) struct
        # expression tree; project the gathered __pmap away at the same
        # time — caching multi-KB map rows per candidate evicts the
        # storage pool at scale and triggers recompute storms.  The map
        # lookup per property is bound FIRST (__po{i}) so each stat
        # references a narrow column instead of inlining the lookup —
        # both in ONE selectExpr via lateral column aliases (each
        # DataFrame op costs a full JVM analysis pass; fusing halves
        # the per-record-site construction time).
        all_props = list(zip(shape.type_properties, fast_t)) + \
            list(zip(shape.properties, fast_r))
        base_cols = ["gid", "fkey", "focus", "ord", "gord", "refk",
                     "cstk", "ckey"]
        fused_exprs = list(base_cols)
        for i, (prop, fk) in enumerate(all_props):
            if fk is not None and not is_self_path(prop.path):
                fused_exprs.append(
                    f"try_element_at(__pmap, "
                    f"{s_str(prop.path.predicate)}) AS __po{i}")
        for i, (prop, fk) in enumerate(all_props):
            if fk is not None:
                st = self._s_fast_stat(prop, fk[0], fk[1], fk[2], "cstk",
                                       f"__po{i}")
                fused_exprs.append(f"({st}) AS __st{i}")
        if len(fused_exprs) > len(base_cols):
            rc = rc.selectExpr(*fused_exprs) \
                .drop(*[f"__po{i}" for i, (p, fk) in enumerate(all_props)
                        if fk is not None and not is_self_path(p.path)])
        gated = required or bool(shape.type_properties)
        n_type = len(shape.type_properties)

        has_slow = any(x is None for x in fast_t + fast_r)
        if has_slow or collecting or self._track:
            # persist: rc is re-referenced by several downstream ops; a
            # checkpoint would truncate the plan, but under AQE even a
            # lazy checkpoint EXECUTES the upstream stages at plan time
            # — persist keeps construction lazy and still dedups
            # execution.  With only fast properties and no error
            # channel, the match path reads rc exactly once — skip the
            # (driver-expensive) cache registration.
            rc = rc.persist()

        # --- type properties (the gate, frame.ts:248-253)
        gate_ok = rc
        gate_fail_diag: Optional[DataFrame] = None
        tstats: List[Tuple[Property, tuple]] = []
        fast_gate_conds: List[str] = []
        for i, (prop, fk) in enumerate(zip(shape.type_properties, fast_t)):
            if fk is not None:
                tstats.append((prop, ("fast", f"__st{i}")))
                fast_gate_conds.append(f"(__st{i}.ok)")
            else:
                pdf = self._eval_property(rc, prop, required)
                tstats.append((prop, ("slow", pdf)))
        if fast_gate_conds:
            gate_ok = gate_ok.where(" AND ".join(fast_gate_conds))
        for prop, entry in tstats:
            if entry[0] == "slow":
                pdf = entry[1]
                gate_ok = gate_ok.join(
                    pdf.where("ok").select(
                        F.col("ckey").alias("__gck")),
                    F.col("ckey") == F.col("__gck"), "left_semi",
                )

        # gate-failure diagnostics: first failing type property in
        # declaration order (fast conds inline; slow via join).
        # Without error tracking only the ROWS matter (a gate-failing
        # candidate is a Mismatch to the parent) — derive them with a
        # filter / anti-join instead of the per-property diag joins.
        if shape.type_properties and not self._track:
            if all(e[0] == "fast" for _, e in tstats):
                gfail = rc.where("NOT (" + " AND ".join(fast_gate_conds) + ")")
            else:
                gfail = rc.join(gate_ok.select("ckey"), "ckey", "left_anti")
            gate_fail_diag = gfail.selectExpr(
                "gid", "fkey", "focus", "ord", "gord",
                "CAST(NULL AS INT) AS code",
                "CAST(NULL AS STRING) AS stack",
            )
        elif shape.type_properties:
            gfail = rc
            code_frags: List[str] = []
            stack_frags: List[str] = []
            for i, (prop, entry) in enumerate(tstats):
                if entry[0] == "fast":
                    st = entry[1]
                    code_frags.append(
                        f"CASE WHEN NOT ({st}.ok) THEN ({st}.fcode) END")
                    stack_frags.append(
                        f"CASE WHEN NOT ({st}.ok) THEN ({st}.fstack) END")
                else:
                    pdf = entry[1].selectExpr(
                        f"ckey AS __gk{i}", f"ok AS __go{i}",
                        f"fcode AS __gc{i}", f"fstack AS __gs{i}",
                    )
                    gfail = gfail.join(
                        pdf, F.col("ckey") == F.col(f"__gk{i}"), "left")
                    bad = f"(NOT coalesce(__go{i}, false))"
                    code_frags.append(f"CASE WHEN {bad} THEN __gc{i} END")
                    stack_frags.append(f"CASE WHEN {bad} THEN __gs{i} END")
            gf_code = "coalesce(" + ", ".join(code_frags) + ")"
            gf_stack = "coalesce(" + ", ".join(stack_frags) + ")"
            gate_fail_diag = gfail.selectExpr(
                "gid", "fkey", "focus", "ord", "gord",
                f"({gf_code}) AS code", f"({gf_stack}) AS stack",
            ).where("code IS NOT NULL")

        if any(e[0] == "slow" for _, e in tstats):
            gate_ok = gate_ok.persist()

        # --- regular properties (strict once the gate matched)
        site_required = required or bool(shape.type_properties)
        rstats: List[Tuple[Property, tuple]] = []
        for j, (prop, fk) in enumerate(zip(shape.properties, fast_r)):
            if fk is not None:
                rstats.append((prop, ("fast", f"__st{n_type + j}")))
            else:
                pdf = self._eval_property(gate_ok, prop, site_required)
                rstats.append((prop, ("slow", pdf)))

        # fold: slow stats union into one map join; fast stats inline
        all_stats = tstats + rstats
        slow_entries = [(i, e[1]) for i, (_, e) in enumerate(all_stats)
                        if e[0] == "slow"]
        acc = gate_ok
        if slow_entries:
            stats = None
            for i, pdf in slow_entries:
                tagged = pdf.selectExpr(
                    "ckey", f"{i} AS pidx",
                    "struct(ok, value, fcode, fstack) AS st",
                )
                stats = tagged if stats is None else stats.unionAll(tagged)
            agg = stats.groupBy("ckey").agg(
                F.expr("map_from_entries(collect_list(struct(pidx, st)))")
                .alias("__pm")
            ).withColumnRenamed("ckey", "__pmk")
            acc = gate_ok.join(agg, F.col("ckey") == F.col("__pmk"), "left")

        frags: List[str] = []
        ok_parts: List[str] = []
        code_frags = []
        stack_frags = []
        for i, (prop, entry) in enumerate(all_stats):
            if entry[0] == "fast":
                st = entry[1]
                oki = f"({st}.ok)"
            else:
                st = f"try_element_at(__pm, {i})"
                oki = f"coalesce(({st}).ok, false)"
            ok_parts.append(oki)
            code_frags.append(f"CASE WHEN NOT {oki} THEN ({st}).fcode END")
            stack_frags.append(f"CASE WHEN NOT {oki} THEN ({st}).fstack END")
            if not prop.transient:
                frags.append(
                    f"CASE WHEN ({st}).value IS NOT NULL THEN "
                    f"concat({s_str(jstr(prop.name) + ':')}, ({st}).value) END"
                )

        ok_all = "(" + " AND ".join(ok_parts) + ")" if ok_parts else "true"
        fail_code = ("coalesce(" + ", ".join(code_frags) + ")"
                     if code_frags else "CAST(NULL AS INT)")
        fail_stack = ("coalesce(" + ", ".join(stack_frags) + ")"
                      if stack_frags else "CAST(NULL AS STRING)")

        # computed properties (frame.ts:324-359, synthesize.ts:55-223)
        if collecting:
            acc, cfrags = self._computed_fragments(shape, acc)
            frags.extend(cfrags)
            self._deactivate_collectors(shape)

        body = f"concat_ws(',', {', '.join(frags)})" if frags else "''"
        value = f"concat('{{', {body}, '}}')"
        matches = acc.where(ok_all).selectExpr(
            "gid", "fkey", "focus", "'' AS vkey", "ord",
            f"({value}) AS value",
        )

        # property failures of gate-passing candidates: unconditional
        # errors when gated (strictByType, frame.ts:248-253); plain
        # mismatches otherwise
        prop_fail = acc.where(f"NOT {ok_all}").selectExpr(
            "gid", "fkey", "focus", "ord", "gord", "ckey",
            f"({fail_code}) AS code", f"({fail_stack}) AS stack",
        )
        if gated and not required and not self._suppress_errors:
            # (when required, the dispatch wrapper emits mismatches)
            self._emit(prop_fail.select("gid", "fkey", "focus", "ord",
                                        "gord", "code", "stack"))

        mism = nonres
        if gate_fail_diag is not None:
            mism = mism.unionAll(gate_fail_diag)
        mism = mism.unionAll(
            prop_fail.select("gid", "fkey", "focus", "ord", "gord",
                             "code", "stack")
        )
        return Result(matches, mism, per_group=False)

    def _eval_property(self, rc: DataFrame, prop: Property,
                       required: bool) -> DataFrame:
        """One property site: path join + exactly-one enforcement.

        Returns one row per record candidate: (ckey, ok, value, fcode,
        fstack, ford).
        """
        psite = self._next_site()
        childgid = f"md5(concat_ws({_SEP}, ckey, {s_str(str(psite))}))"

        src = rc.selectExpr("ckey", "focus AS node", "ord AS tord")
        pout = eval_path(prop.path, src, ["ckey"], self.triples)

        meta = rc.selectExpr(
            "ckey", f"{childgid} AS cgid", "ord AS pord",
            "gord AS pgord", "cstk AS pstk", "refk AS prefk",
        )
        childcand = pout.join(meta, "ckey").selectExpr(
            "cgid AS gid",
            f"{s_term_key('node')} AS fkey",
            "node AS focus",
            "tord AS ord",
            "prefk AS refk",
        )
        childgroups = meta.selectExpr(
            "cgid AS gid", "pgord AS gord", "pstk AS stk",
            f"{s_str(jstr(prop.name))} AS edge",
        )
        cres = self.compile(prop.value_shape, childcand, childgroups, required)

        # one aggregation over the union of matches (is_m=true) and
        # mismatches (is_m=false) — halves the shuffle/analysis cost of
        # the per-property fold
        munion = cres.matches.selectExpr(
            "gid", "true AS is_m", "ord", "value",
            "CAST(NULL AS INT) AS code", "CAST(NULL AS STRING) AS stack",
        ).unionAll(cres.mismatches.selectExpr(
            "gid", "false AS is_m", "ord",
            "CAST(NULL AS STRING) AS value", "code", "stack",
        ))
        magg = munion.groupBy("gid").agg(
            F.expr("count(CASE WHEN is_m THEN 1 END)").alias("n"),
            F.expr("min(CASE WHEN is_m THEN struct(ord, value) END)")
            .alias("first_m"),
            F.expr("try_element_at(array_sort(collect_list("
                   "CASE WHEN is_m THEN struct(ord) END)), 2)")
            .alias("second_m"),
            F.expr("min(CASE WHEN NOT is_m THEN struct(ord, code, stack) END)")
            .alias("fm"),
        ).withColumnRenamed("gid", "__mg")
        out = meta.join(magg, F.col("cgid") == F.col("__mg"), "left")
        n = "coalesce(n, 0)"
        rec_stack = ("concat('[', pstk, ']')" if self._diag
                     else "CAST(NULL AS STRING)")
        mismatch_first = (
            f"(fm IS NOT NULL AND (({n}) < 2 OR fm.ord < second_m.ord))"
        )
        ok = f"(fm IS NULL AND ({n}) = 1)"
        fcode = (
            f"CASE WHEN {mismatch_first} THEN fm.code "
            f"WHEN ({n}) = 0 THEN {ERR_NO_PROPERTY_MATCHES} "
            f"WHEN ({n}) >= 2 THEN {ERR_MULTIPLE_PROPERTY_MATCHES} END"
        )
        fstack = (
            f"CASE WHEN {mismatch_first} THEN fm.stack "
            f"WHEN ({n}) = 0 THEN {rec_stack} "
            f"WHEN ({n}) >= 2 THEN {rec_stack} END"
        )
        ford = (
            f"CASE WHEN {mismatch_first} THEN fm.ord "
            f"WHEN ({n}) = 0 THEN {_BIG_ORD}L "
            f"ELSE second_m.ord END"
        )
        return out.selectExpr(
            "ckey", f"{ok} AS ok", "first_m.value AS value",
            f"({fcode}) AS fcode", f"({fstack}) AS fstack",
            f"({ford}) AS ford",
        )

    # ------------------------------------------------------------------
    # anyOf (frameAnyOf, frame.ts:390-427)
    # ------------------------------------------------------------------
    def _compile_anyof(self, shape: AnyOfShape, cand: DataFrame,
                       groups: DataFrame, required: bool) -> Result:
        own_frame = self._s_frame_json(shape, "edge", None)
        groups2 = groups.selectExpr(
            "gid", "gord",
            f"(CASE WHEN stk = '' THEN {own_frame} "
            f"ELSE concat(stk, ',', {own_frame}) END) AS stk",
            "CAST(NULL AS STRING) AS edge",
        )
        vres: List[Result] = []
        tagged: List[DataFrame] = []
        for i, vid in enumerate(shape.variants):
            r = self.compile(vid, cand, groups2, required=False)
            vres.append(r)
            tagged.append(
                r.matches.withColumn(
                    "vkey",
                    F.expr(
                        f"CASE WHEN vkey = '' THEN '{i:04d}' "
                        f"ELSE concat('{i:04d}.', vkey) END"
                    ),
                )
            )
        matches = tagged[0]
        for t in tagged[1:]:
            matches = matches.unionAll(t)

        covered_gids = matches.where("fkey IS NULL").select("gid").distinct()
        percand = matches.where("fkey IS NOT NULL") \
            .select("gid", "fkey").distinct()
        unmatched = (
            cand.join(percand, ["gid", "fkey"], "left_anti")
            .join(covered_gids, "gid", "left_anti")
        )

        # diagnostic: the replay error = first variant's failure
        # (frame.ts:415-422)
        if not self._track:
            mism = unmatched.selectExpr(
                "gid", "fkey", "focus", "ord",
                "CAST(0 AS BIGINT) AS gord",
                "CAST(NULL AS INT) AS code",
                "CAST(NULL AS STRING) AS stack",
            )
            return Result(matches, mism, per_group=False)
        v0 = vres[0]
        if v0.per_group:
            diag = v0.mismatches.selectExpr(
                "gid", "code AS dcode", "stack AS dstack")
            um = unmatched.join(diag, "gid", "left")
        else:
            diag = v0.mismatches.selectExpr(
                "gid", "fkey", "code AS dcode", "stack AS dstack")
            um = unmatched.join(diag, ["gid", "fkey"], "left")
        umg = um.join(groups2.select("gid", "gord", "stk"), "gid")
        mism = umg.selectExpr(
            "gid", "fkey", "focus", "ord", "gord",
            f"coalesce(dcode, {ERR_SHAPE_MISMATCH}) AS code",
            ("coalesce(dstack, concat('[', stk, ']')) AS stack"
             if self._diag else "CAST(NULL AS STRING) AS stack"),
        )
        return Result(matches, mism, per_group=False)

    # ------------------------------------------------------------------
    # set (frameSet, frame.ts:429-469)
    # ------------------------------------------------------------------
    def _compile_set(self, shape: SetShape, cand: DataFrame,
                     groups: DataFrame, required: bool) -> Result:
        own_frame = self._s_frame_json(shape, "edge", None)
        groups2 = groups.selectExpr(
            "gid", "gord",
            f"(CASE WHEN stk = '' THEN {own_frame} "
            f"ELSE concat(stk, ',', {own_frame}) END) AS stk",
            "CAST(NULL AS STRING) AS edge",
        )
        ires = self.compile(shape.item_shape, cand, groups2, required)

        magg = ires.matches.groupBy("gid").agg(
            F.expr("count(1)").alias("n"),
            F.expr("min(ord)").alias("mord"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(vkey, ord, value))), "
                "x -> coalesce(x.value, 'null')), ',')"
            ).alias("items"),
        )
        mmagg = ires.mismatches.groupBy("gid").agg(
            F.expr("min(struct(ord, code, stack))").alias("fm"),
        )
        base = groups2.selectExpr(
            "gid", "gord",
            ("concat('[', stk, ']') AS setstack" if self._diag
             else "CAST(NULL AS STRING) AS setstack"),
        )
        out = base.join(magg, "gid", "left").join(mmagg, "gid", "left")
        n = "coalesce(n, 0)"
        min_c = shape.min_count or 0
        max_c = shape.max_count if shape.max_count is not None else None

        ok = f"(fm IS NULL AND ({n}) >= {min_c}"
        if max_c is not None:
            ok += f" AND ({n}) <= {max_c}"
        ok += ")"

        matches = out.where(ok).selectExpr(
            "gid", "CAST(NULL AS STRING) AS fkey",
            f"{NULL_TERM_SQL} AS focus",
            "'' AS vkey",
            "coalesce(mord, gord) AS ord",
            "concat('[', coalesce(items, ''), ']') AS value",
        )

        # single select: inherited item failure OR count-bound failure
        # (one plan node instead of a 2-3-way union)
        count_fail = f"({n}) < {min_c}"
        count_code = (f"CASE WHEN ({n}) < {min_c} THEN {ERR_MIN_COUNT} "
                      f"ELSE {ERR_MAX_COUNT} END")
        if max_c is not None:
            count_fail = f"({count_fail} OR ({n}) > {max_c})"
        mism = out.where(f"(fm IS NOT NULL OR {count_fail})").selectExpr(
            "gid", "CAST(NULL AS STRING) AS fkey",
            f"{NULL_TERM_SQL} AS focus",
            "CASE WHEN fm IS NOT NULL THEN fm.ord ELSE gord END AS ord",
            "gord",
            f"CASE WHEN fm IS NOT NULL THEN fm.code "
            f"ELSE {count_code} END AS code",
            "CASE WHEN fm IS NOT NULL THEN fm.stack "
            "ELSE setstack END AS stack",
        )
        return Result(matches, mism, per_group=True)

    # ------------------------------------------------------------------
    # optional (frameOptional, frame.ts:471-494)
    # ------------------------------------------------------------------
    def _compile_optional(self, shape: OptionalShape, cand: DataFrame,
                          groups: DataFrame, required: bool) -> Result:
        own_frame = self._s_frame_json(shape, "edge", None)
        groups2 = groups.selectExpr(
            "gid", "gord",
            f"(CASE WHEN stk = '' THEN {own_frame} "
            f"ELSE concat(stk, ',', {own_frame}) END) AS stk",
            "CAST(NULL AS STRING) AS edge",
        )
        # item framed non-strict; under a strict context the replay
        # (frame.ts:477-486) surfaces the diagnostics, which the
        # dispatch wrapper emits from our pass-through mismatches
        ires = self.compile(shape.item_shape, cand, groups2, required=False)

        has_match = ires.matches.select("gid").distinct()
        empty_value = "'null' AS value" if shape.empty_is_null \
            else "CAST(NULL AS STRING) AS value"
        empties = groups.join(has_match, "gid", "left_anti").selectExpr(
            "gid", "CAST(NULL AS STRING) AS fkey",
            f"{NULL_TERM_SQL} AS focus",
            "'' AS vkey",
            f"{_BIG_ORD}L AS ord",
            empty_value,
        )
        matches = ires.matches.unionAll(empties)
        return Result(matches, ires.mismatches, per_group=False)

    # ------------------------------------------------------------------
    # recursive shapes: site join against the global fixpoint relation
    # ------------------------------------------------------------------
    def _compile_recursive_site(self, shape, cand: DataFrame,
                                groups: DataFrame) -> Result:
        gm = self._fixpoint_matches(shape.id)
        matches = cand.join(gm.selectExpr("fkey", "value AS __gv"),
                            "fkey").selectExpr(
            "gid", "fkey", "focus", "'' AS vkey", "ord",
            "__gv AS value",
        )
        cg = cand.join(gm.select("fkey"), "fkey", "left_anti").join(groups, "gid")
        frame = self._s_frame_json(shape, "edge", "focus")
        mism = cg.selectExpr(
            "gid", "fkey", "focus", "ord", "gord",
            f"{ERR_SHAPE_MISMATCH} AS code",
            f"{self._s_stack('stk', frame)} AS stack",
        )
        return Result(matches, mism, per_group=False)

    def _fixpoint_matches(self, sid: ShapeID) -> DataFrame:
        if not self._fix_mode:
            self._ensure_fixpoint()
        return self._fix[sid.key()]

    def _ensure_fixpoint(self) -> None:
        """Semi-naive global evaluation of recursive record/list shapes.

        The (shape, term) memo table of the reference (frame.ts:89-102,
        228-236) becomes one global match relation per recursive shape,
        recomputed until stable; references between recursive shapes
        read the previous round's relation.  Terminates when the data
        reachable through recursive shapes is acyclic; remaining
        candidates are resolved as cyclic matches (see
        :meth:`_resolve_cycles`).
        """
        if self._fix_done:
            return
        targets = [
            s for s in self.catalog
            if s.id.key() in self.recursive_ids
            and isinstance(s, (RecordShape, ListShape))
        ]
        empty = self._empty(MATCH_FIELDS).select("fkey", "focus", "ord", "value")
        for s in targets:
            self._fix[s.id.key()] = empty

        uni = self.universe()
        cand = uni.selectExpr(
            "'u' AS gid", f"{s_term_key('focus')} AS fkey",
            "focus", "ord", "CAST(NULL AS STRING) AS refk",
        ).persist()
        groups = self.spark.createDataFrame(
            [("u", 0, "", None)],
            "gid string, gord long, stk string, edge string",
        )

        self._fix_mode = True
        prev_sig: Dict[str, Tuple[int, int]] = {k: (-1, 0) for k in self._fix}
        suppress_prev = self._suppress_errors
        self._suppress_errors = True
        # fixpoint rounds keep only (fkey, focus, ord, value) — mismatch
        # diagnostics are discarded, so skip building their stack
        # expressions entirely (major per-round construction savings)
        diag_prev = self._diag
        self._diag = False
        try:
            for _ in range(self.max_fixpoint_iterations):
                new_fix: Dict[str, DataFrame] = {}
                sigs: Dict[str, Tuple[int, int]] = {}
                sig_parts: List[DataFrame] = []
                for s in targets:
                    if isinstance(s, RecordShape):
                        res = self._compile_record(s, cand, groups, required=False)
                    else:
                        res = self._compile_list(s, cand, groups, required=False)
                    # lazy checkpoint: the round's single batched
                    # signature job below materializes it
                    gm = res.matches.select("fkey", "focus", "ord", "value") \
                        .localCheckpoint(eager=False)
                    new_fix[s.id.key()] = gm
                    sig_parts.append(gm.agg(
                        F.expr("count(1)").alias("n"),
                        F.expr("coalesce(bit_xor(xxhash64(fkey, value)), 0)")
                        .alias("h"),
                    ).selectExpr(f"{s_str(s.id.key())} AS k", "n", "h"))
                # ONE driver action per round: the union of all target
                # shapes' convergence aggregates (each a 1-row agg) —
                # one job materializes every checkpoint instead of one
                # job per shape per round
                sig_all = sig_parts[0]
                for part in sig_parts[1:]:
                    sig_all = sig_all.unionAll(part)
                for row in sig_all.collect():
                    sigs[row["k"]] = (row["n"], row["h"])
                self._fix.update(new_fix)
                if sigs == prev_sig:
                    break
                prev_sig = sigs
            else:
                raise RuntimeError("shape fixpoint did not converge")
        finally:
            self._fix_mode = False
            self._suppress_errors = suppress_prev
            self._diag = diag_prev
        self._resolve_cycles(cand, targets)
        self._fix_done = True

    def _resolve_cycles(self, cand: DataFrame, targets: List[Shape]) -> None:
        """Cyclic-data resolution (deferred import to keep module sizes
        sane); extends the fixpoint relations with ``@ref``/``@use``
        values for candidates on data cycles."""
        from .cycles import resolve_cycles

        resolve_cycles(self, cand, targets)

    # ------------------------------------------------------------------
    # list (frameList, frame.ts:519-628)
    # ------------------------------------------------------------------
    def _compile_list(self, shape: ListShape, cand: DataFrame,
                      groups: DataFrame, required: bool) -> Result:
        site = self._next_site()
        head_path = shape.head_path or PredicatePath(RDF_FIRST)
        tail_path = shape.tail_path or PredicatePath(RDF_REST)
        nil = shape.nil or Term("iri", RDF_NIL)

        c = cand.join(groups, "gid")
        if self._diag:
            own_frame = self._s_frame_json(shape, "edge", "focus")
            pfx = (f"CASE WHEN stk = '' THEN {own_frame} "
                   f"ELSE concat(stk, ',', {own_frame}) END")
            lstk = f"concat('[', {pfx}, ']')"
        else:
            pfx = "''"
            lstk = "CAST(NULL AS STRING)"
        base = c.selectExpr(
            "gid", "fkey", "focus", "ord", "gord", "refk",
            f"{lstk} AS lstk",
            f"({pfx}) AS pfx",
            f"md5(concat_ws({_SEP}, gid, fkey, {s_str(str(site))})) AS ckey",
        ).persist()

        nonres0 = base.where(f"NOT {s_is_resource('focus')}")
        walk_fail: List[DataFrame] = [
            nonres0.selectExpr(
                "ckey", f"{ERR_NON_RESOURCE_TERM} AS code",
                "lstk AS stack", "ord AS ford",
            )
        ]
        heads_parts: List[DataFrame] = []
        done_parts: List[DataFrame] = []

        state = base.where(s_is_resource("focus")).selectExpr(
            "ckey", "focus AS cur", "0 AS idx", "ord AS tord",
        ).localCheckpoint(eager=False)
        meta = base.select("ckey", "gid", "fkey", "focus", "ord", "gord",
                           "refk", "lstk", "pfx")

        at_nil_cond = s_term_eq_const("cur", nil)
        live_res_cond = f"(NOT {at_nil_cond} AND {s_is_resource('cur')})"

        it = 0
        while True:
            # ONE job per hop: the stats aggregate materializes the lazy
            # state checkpoint and answers both emptiness probes at once
            st = state.agg(
                F.expr("count(1)").alias("n"),
                F.expr(f"count(CASE WHEN {live_res_cond} THEN 1 END)")
                .alias("n_live"),
            ).collect()[0]
            if st["n"] == 0:
                break
            it += 1
            if it > self.max_list_length:
                walk_fail.append(
                    state.join(meta, "ckey").selectExpr(
                        "ckey", f"{ERR_CYCLIC_MATCH} AS code",
                        "lstk AS stack", "tord AS ford",
                    )
                )
                break
            at_nil = state.where(at_nil_cond)
            done_parts.append(at_nil.selectExpr("ckey", "idx AS length"))
            live = state.where(f"NOT {at_nil_cond}")
            bad = live.where(f"NOT {s_is_resource('cur')}")
            walk_fail.append(
                bad.join(meta, "ckey").selectExpr(
                    "ckey", f"{ERR_NON_RESOURCE_TERM} AS code",
                    "lstk AS stack", "tord AS ford",
                )
            )
            live = live.where(s_is_resource("cur"))
            if st["n_live"] == 0:
                break

            hsrc = live.selectExpr("ckey", "idx", "cur AS node", "tord")
            hout = eval_path(head_path, hsrc, ["ckey", "idx"], self.triples)
            hagg = hout.groupBy("ckey", "idx").agg(
                F.expr("count(1)").alias("hn"),
                F.expr("min(struct(tord, node))").alias("h1"),
            )
            hj = live.join(hagg, ["ckey", "idx"], "left")
            hn = "coalesce(hn, 0)"
            walk_fail.append(
                hj.where(f"({hn}) != 1").join(meta, "ckey").selectExpr(
                    "ckey",
                    f"CASE WHEN ({hn}) = 0 THEN {ERR_NO_LIST_HEAD} "
                    f"ELSE {ERR_MULTIPLE_LIST_HEAD} END AS code",
                    "lstk AS stack", "tord AS ford",
                )
            )
            okh = hj.where(f"({hn}) = 1")
            heads_parts.append(
                okh.selectExpr("ckey", "idx", "h1.node AS head",
                               "h1.tord AS htord")
            )

            tsrc = okh.selectExpr("ckey", "idx", "cur AS node", "tord")
            tout = eval_path(tail_path, tsrc, ["ckey", "idx"], self.triples)
            tagg = tout.groupBy("ckey", "idx").agg(
                F.expr("count(1)").alias("tn"),
                F.expr("min(struct(tord, node))").alias("t1"),
            )
            tj = okh.join(tagg, ["ckey", "idx"], "left")
            tn = "coalesce(tn, 0)"
            walk_fail.append(
                tj.where(f"({tn}) != 1").join(meta, "ckey").selectExpr(
                    "ckey",
                    f"CASE WHEN ({tn}) = 0 THEN {ERR_NO_LIST_TAIL} "
                    f"ELSE {ERR_MULTIPLE_LIST_TAIL} END AS code",
                    "lstk AS stack", "tord AS ford",
                )
            )
            state = tj.where(f"({tn}) = 1").selectExpr(
                "ckey", "t1.node AS cur", "(idx + 1) AS idx",
                "t1.tord AS tord",
            ).localCheckpoint(eager=False)

        heads = (
            heads_parts[0] if heads_parts
            else self._empty("ckey string, idx int, head struct<kind:string,value:string,dt:string,lang:string>, htord long")
        )
        for hp in heads_parts[1:]:
            heads = heads.unionAll(hp)

        # item matching: one evaluation site per (list instance, index)
        isite = self._next_site()
        igid = (f"md5(concat_ws({_SEP}, ckey, CAST(idx AS STRING), "
                f"{s_str(str(isite))}))")
        hm = heads.join(meta, "ckey")
        childcand = hm.selectExpr(
            f"{igid} AS gid", f"{s_term_key('head')} AS fkey",
            "head AS focus", "htord AS ord", "refk",
        )
        childgroups = hm.selectExpr(
            f"{igid} AS gid", "gord", "pfx AS stk",
            "CAST(idx AS STRING) AS edge",
        )
        ires = self.compile(shape.item_shape, childcand, childgroups, required)
        iagg = ires.matches.groupBy("gid").agg(
            F.expr("count(1)").alias("inn"),
            F.expr("min(struct(ord, value))").alias("iv"),
        )
        immagg = ires.mismatches.groupBy("gid").agg(
            F.expr("min(struct(ord, code, stack))").alias("ifm"),
        )
        items = (
            hm.selectExpr("ckey", "idx", f"{igid} AS gid", "lstk", "htord")
            .join(iagg, "gid", "left").join(immagg, "gid", "left")
        )
        inn = "coalesce(inn, 0)"
        item_fail = items.where(f"(ifm IS NOT NULL OR ({inn}) != 1)") \
            .selectExpr(
                "ckey",
                f"CASE WHEN ifm IS NOT NULL THEN ifm.code "
                f"WHEN ({inn}) = 0 THEN {ERR_NO_LIST_ITEM} "
                f"ELSE {ERR_MULTIPLE_LIST_ITEM} END AS code",
                "CASE WHEN ifm IS NOT NULL THEN ifm.stack "
                "ELSE lstk END AS stack",
                "coalesce(ifm.ord, htord) AS ford",
            )
        walk_fail.append(item_fail)

        item_ok = items.where(f"(ifm IS NULL AND ({inn}) = 1)").selectExpr(
            "ckey", "idx", "iv.value AS ivalue",
        )
        assembled = item_ok.groupBy("ckey").agg(
            F.expr("count(1)").alias("ni"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(idx, ivalue))), x -> coalesce(x.ivalue, 'null')), ',')"
            ).alias("body"),
        )

        fails = walk_fail[0]
        for wf in walk_fail[1:]:
            fails = fails.unionAll(wf)
        first_fail = fails.groupBy("ckey").agg(
            F.expr("min(struct(ford, code, stack))").alias("wf"),
        )

        done = (
            done_parts[0] if done_parts
            else self._empty("ckey string, length int")
        )
        for dp in done_parts[1:]:
            done = done.unionAll(dp)

        out = (
            meta.join(done, "ckey", "left")
            .join(assembled, "ckey", "left")
            .join(first_fail, "ckey", "left")
        )
        complete = ("(length IS NOT NULL AND wf IS NULL "
                    "AND coalesce(ni, 0) = length)")
        matches = out.where(complete).selectExpr(
            "gid", "fkey", "focus", "'' AS vkey", "ord",
            "concat('[', coalesce(body, ''), ']') AS value",
        )
        mism = out.where(f"NOT {complete}").selectExpr(
            "gid", "fkey", "focus",
            "coalesce(wf.ford, ord) AS ord", "gord",
            f"coalesce(wf.code, {ERR_NO_LIST_TAIL}) AS code",
            "coalesce(wf.stack, lstk) AS stack",
        )
        return Result(matches, mism, per_group=False)

    # ------------------------------------------------------------------
    # map (frameMap, frame.ts:642-696) — key/value via shape references
    # ------------------------------------------------------------------
    def _compile_map(self, shape: MapShape, cand: DataFrame,
                     groups: DataFrame, required: bool) -> Result:
        site = self._next_site()
        own_frame = self._s_frame_json(shape, "edge", None)
        groups2 = groups.selectExpr(
            "gid", "gord",
            f"(CASE WHEN stk = '' THEN {own_frame} "
            f"ELSE concat(stk, ',', {own_frame}) END) AS stk",
            "CAST(NULL AS STRING) AS edge",
        )
        cand2 = cand.withColumn(
            "refk",
            F.expr(f"md5(concat_ws({_SEP}, gid, fkey, {s_str(str(site))}))"),
        )
        key_target = shape.key.target.key()
        self._collectors.setdefault(key_target, [])
        val_ref = shape.value
        if val_ref is not None:
            self._collectors.setdefault(val_ref.target.key(), [])
        # active collectors disqualify fast-tree subtrees (they must
        # capture refs through the general path) — invalidate the cache
        self._fast_ok.clear()
        ires = self.compile(shape.item_shape, cand2, groups2, required)

        def _ref_relation(target_key: str, alias: str) -> DataFrame:
            captured = self._collectors.pop(target_key, [])
            if not captured:
                rel = self._empty(
                    "refk string, kfocus struct<kind:string,value:string,"
                    "dt:string,lang:string>, kord long")
            else:
                rel = captured[0]
                for cdf in captured[1:]:
                    rel = rel.unionAll(cdf)
            return rel.groupBy("refk").agg(
                F.expr("max(struct(kord, kfocus))").alias("kk")
            ).selectExpr("refk", f"kk.kfocus AS {alias}")

        part = shape.key.part
        keys = _ref_relation(key_target, "kfocus")

        im = ires.matches.join(
            cand2.selectExpr("gid AS g2", "fkey AS f2", "refk"),
            (F.col("gid") == F.col("g2")) & (F.col("fkey") == F.col("f2")),
        ).join(keys, "refk", "left")
        key_col = (
            "(kfocus).value" if part in (None, "value") else
            "(kfocus).dt" if part == "datatype" else
            # missing language is '' in the reference model
            # (rdf-model.ts:62), giving a valid "" JSON key
            "coalesce((kfocus).lang, '')"
        )

        # map VALUE reference (shapes.ts:136-142; compactByReference,
        # synthesize.ts:11-36): the entry value is the referenced part
        # of the captured target term instead of the full item value
        ref_fail_parts: List[DataFrame] = []
        if val_ref is not None:
            vals = _ref_relation(val_ref.target.key(), "vfocus") \
                .withColumnRenamed("refk", "__vrk")
            im = im.join(vals, F.col("refk") == F.col("__vrk"), "left")
            vtarget = self.catalog.get(val_ref.target)
            # reference literals store language as '' when absent
            # (rdf-model.ts:62), so compactByReference('language') on a
            # plain literal yields "" — never undefined/null; mirror
            # that with coalesce so s_json_quote (which emits '' for
            # NULL and corrupts the JSON) always sees a string
            part_src = {"value": "(vfocus).value",
                        "datatype": "(vfocus).dt",
                        "language": "coalesce((vfocus).lang, '')",
                        }.get(val_ref.part)
            if part_src is not None:
                val_col = s_json_quote(part_src)
            else:
                # whole framed value of the target node shape
                val_col = self._s_node_value(vtarget, "vfocus")
            # NoMapValueMatches (errors.ts: 218) when the item matched
            # but no value reference was captured
            ref_fail_parts.append(im.where("vfocus IS NULL").selectExpr(
                "gid", "ord", "218 AS code"))
            im = im.where("vfocus IS NOT NULL")
        else:
            val_col = "coalesce(value, 'null')"

        # NoMapKeyMatches (errors.ts: 217)
        ref_fail_parts.append(im.where("kfocus IS NULL").selectExpr(
            "gid", "ord", "217 AS code"))
        im = im.where("kfocus IS NOT NULL")

        entries = im.selectExpr(
            "gid",
            f"concat({s_json_quote(key_col)}, ':', "
            f"coalesce({val_col}, 'null')) AS entry",
            "ord",
        )
        eagg = entries.groupBy("gid").agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(ord, entry))), x -> x.entry), ',')"
            ).alias("body"),
        )
        base = groups.select("gid", "gord")
        out = base.join(eagg, "gid", "left")
        matches = out.selectExpr(
            "gid", "CAST(NULL AS STRING) AS fkey",
            f"{NULL_TERM_SQL} AS focus",
            "'' AS vkey", "gord AS ord",
            "concat('{', coalesce(body, ''), '}') AS value",
        )
        fail_src = ires.mismatches.selectExpr("gid", "ord", "code", "stack")
        for rf in ref_fail_parts:
            fail_src = fail_src.unionAll(
                rf.selectExpr("gid", "ord", "code",
                              "CAST(NULL AS STRING) AS stack"))
        mmagg = fail_src.groupBy("gid").agg(
            F.expr("min(struct(ord, code, stack))").alias("fm"))
        mism = base.join(mmagg, "gid").selectExpr(
            "gid", "CAST(NULL AS STRING) AS fkey",
            f"{NULL_TERM_SQL} AS focus",
            "fm.ord AS ord", "gord",
            "fm.code AS code", "fm.stack AS stack",
        )
        matches = matches.join(mism.select("gid"), "gid", "left_anti")
        return Result(matches, mism, per_group=True)

    # ------------------------------------------------------------------
    # computed properties + reference collection (synthesize.ts)
    # ------------------------------------------------------------------
    def _activate_collectors(self, shape: RecordShape) -> None:
        for cp in shape.computed_properties:
            for target in self._open_ref_targets(cp.value_shape):
                self._collectors.setdefault(target, [])
        self._fast_ok.clear()

    def _deactivate_collectors(self, shape: RecordShape) -> None:
        pass  # collector DFs are consumed by _computed_fragments

    def _open_ref_targets(self, sid: ShapeID) -> List[str]:
        """findOpenReferencedShapes (synthesize.ts:225-259), restricted
        to node-shape targets (the part the fixtures and map keys use)."""
        shape = self.catalog.get(sid)
        if isinstance(shape, (ResourceShape, LiteralShape)):
            if shape.value is None:
                return [sid.key()]
            return []
        if isinstance(shape, RecordShape):
            out: List[str] = []
            for p in shape.all_properties():
                out.extend(self._open_ref_targets(p.value_shape))
            return out
        if isinstance(shape, SetShape):
            return self._open_ref_targets(shape.item_shape)
        return []

    def _capture_refs(self, shape, matched: DataFrame) -> None:
        key = shape.id.key()
        if key in self._collectors:
            self._collectors[key].append(
                matched.where("refk IS NOT NULL").selectExpr(
                    "refk", "focus AS kfocus", "ord AS kord",
                )
            )

    def _computed_fragments(
        self, shape: RecordShape, acc: DataFrame
    ) -> Tuple[DataFrame, List[str]]:
        """Computed-property value synthesis (synthesizeShape,
        synthesize.ts:55-223): constants, captured node references
        (part-less → the framed value of the target), and the composite
        surface — record objects over synthesized properties, sets
        repeated min(minCount, maxCount) times, optional/list/map
        empties."""
        frags: List[str] = []
        state = {"acc": acc, "n": 0}

        def ref_expr(vshape) -> Optional[str]:
            """Join the captured-reference relation for a node target;
            returns the captured TERM column name (nullable)."""
            target = vshape.id.key()
            captured = self._collectors.pop(target, [])
            if not captured:
                return None
            cdf = captured[0]
            for extra in captured[1:]:
                cdf = cdf.unionAll(extra)
            j = state["n"]
            state["n"] += 1
            # last write wins (frame.ts:186-190 ref assignment ordering)
            picked = cdf.groupBy("refk").agg(
                F.expr("max(struct(kord, kfocus))").alias("kk")
            ).selectExpr(f"refk AS __rk{j}", f"kk.kfocus AS __kf{j}")
            state["acc"] = state["acc"].join(
                picked, state["acc"]["ckey"] == picked[f"__rk{j}"], "left")
            return f"__kf{j}"

        def synth(sid: ShapeID) -> Optional[str]:
            """JSON-fragment expr for a synthesized shape; None encodes
            an omitted value (JS undefined)."""
            vshape = self.catalog.get(sid)
            if isinstance(vshape, (ResourceShape, LiteralShape)):
                if vshape.value is not None:
                    return s_str(self._constant_value_json(vshape))
                kf = ref_expr(vshape)
                if kf is None:
                    return None
                return (f"CASE WHEN {kf} IS NOT NULL THEN "
                        f"{self._s_synthesized_value(vshape, kf)} END")
            if isinstance(vshape, RecordShape):
                parts: List[str] = []
                for p in (vshape.type_properties + vshape.properties
                          + tuple(vshape.computed_properties)):
                    name = p.name
                    e = synth(p.value_shape)
                    if e is not None:
                        parts.append(
                            f"CASE WHEN ({e}) IS NOT NULL THEN "
                            f"concat({s_str(jstr(name) + ':')}, {e}) END")
                body = f"concat_ws(',', {', '.join(parts)})" if parts else "''"
                return f"concat('{{', {body}, '}}')"
            if isinstance(vshape, SetShape):
                count = min(vshape.min_count or 0,
                            vshape.max_count if vshape.max_count is not None
                            else float("inf"))
                count = int(count) if count != float("inf") else 0
                if count == 0:
                    return "'[]'"
                item = synth(vshape.item_shape)
                if item is None:
                    return None
                items = ", ".join([f"coalesce({item}, 'null')"] * count)
                return f"concat('[', concat_ws(',', {items}), ']')"
            if isinstance(vshape, OptionalShape):
                return "'null'" if vshape.empty_is_null else None
            if isinstance(vshape, ListShape):
                return "'[]'"
            if isinstance(vshape, MapShape):
                return "'{}'"
            raise NotImplementedError(
                f"cannot synthesize value for shape {vshape.type}")

        for cp in shape.computed_properties:
            e = synth(cp.value_shape)
            if e is None:
                continue
            frags.append(
                f"CASE WHEN ({e}) IS NOT NULL THEN "
                f"concat({s_str(jstr(cp.name) + ':')}, {e}) END")
        return state["acc"], frags

    def _s_synthesized_value(self, vshape, kfocus: str) -> str:
        """synthesizeLiteral/Resource from a captured raw term
        (synthesize.ts:129-204) followed by fromRdf value mapping."""
        if isinstance(vshape, LiteralShape):
            dt = vshape.effective_datatype()
            v = f"({kfocus}).value"
            if dt == XSD_STRING or (dt == RDF_LANG_STRING and vshape.language):
                return s_json_quote(v)
            if dt == XSD_BOOLEAN:
                return (f"CASE WHEN {v} != 'false' "
                        f"THEN 'true' ELSE 'false' END")
            if dt in INTEGER_TYPES:
                return f"CAST(CAST({v} AS BIGINT) AS STRING)"
            if dt in FRACTIONAL_TYPES:
                return f"CAST(CAST({v} AS DOUBLE) AS STRING)"
            return s_json_quote(v)
        # resource
        bn = s_json_quote(f"concat('_:', ({kfocus}).value)")
        plain = s_json_quote(f"({kfocus}).value")
        return (
            f"CASE WHEN ({kfocus}).kind = 'bnode' "
            f"THEN {bn} ELSE {plain} END"
        )

    def _constant_value_json(self, vshape) -> str:
        const = vshape.value
        if isinstance(vshape, ResourceShape):
            if vshape.keep_as_term:
                return jstr({"@term": {"kind": const.kind, "value": const.value}})
            return jstr(("_:" + const.value) if const.kind == "bnode" else const.value)
        dt = const.dt
        if dt == XSD_STRING or const.lang:
            return jstr(const.value)
        if dt == XSD_BOOLEAN:
            return "true" if const.value != "false" else "false"
        if dt in INTEGER_TYPES:
            return str(int(const.value))
        if dt in FRACTIONAL_TYPES:
            return str(float(const.value))
        return jstr(const.value)
