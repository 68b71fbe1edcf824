"""Map-and-align stage — external-ID enrichment, SKOS ontology alignment,
derived-property materialization.

Behavioral spec: ``/root/reference/src/wiki2crm/map_and_align.py:207-1005``.
* J17 enrichment: subjects owl:sameAs a Wikidata entity gain sameAs links to
  external vocabularies (templated URLs, map_and_align.py:118-178);
* A7 existence-gated constant blocks: presence flags for classes/predicates
  are computed in ONE pass (two tiny distinct-collects), then the matching
  SKOS constant blocks union in (align_spec.SKOS_BLOCKS);
* J10–J15 property-chain materializations (has_manifestation / has_portrayal
  / has_representation / about / expr_references / has_character) as 2–3-hop
  self-joins over the triple table;
* J16 temporal direction: relation text-passage pairs compared by creation
  year (expression-creation, manifestation-creation fallback).

Positions on reference bugs (SURVEY §4.4):
* 4.4.4 — the reference attaches R12/R13 direction triples to the variable
  ``rel`` leaked from a previous loop (last-iterated relation); the engine
  implements the intended semantics (attach to the relation whose text
  passages were compared).
* 4.4.5 — ``references_person``/``references_place`` *instance* triples are
  emitted; their property-definition blocks are guarded by conditions that
  can never be true (class URI tested as object) and therefore never emit.
* blank nodes in owl:propertyChainAxiom lists are skolemized (align_spec).
* determinism: a relation's two text passages order by tp URI; equal years
  fall to the else-branch (second tp's expression is "older"), matching the
  reference's branch structure; creation year = min over candidate
  time-spans.

Scale notes: the chain joins are equi-joins on subject/object URIs over a
triple table partitioned by subject hash; each hop co-partitions on the
join key. Presence flags are a dimension-sized distinct PLAN (no driver
collect): conditional blocks semi-join a broadcast one-row gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import (
    ECRM,
    INTRO,
    LRMOO,
    OWL_SAMEAS,
    RDF_TYPE,
    RDFS_LABEL,
    dedupe_triples,
)
from .align_spec import (
    ABOUT_DEF,
    EXPR_REFERENCES_DEF,
    EXPR_RELATION_DEF,
    EXTERNAL_ID_TEMPLATES,
    HAS_CHARACTER_DEF,
    HAS_MANIFESTATION_DEF,
    HAS_PORTRAYAL_DEF,
    HAS_REPRESENTATION_DEF,
    POSSIBLY_CITES_DEF,
    SKOS_BLOCKS,
    SP,
)
from ..session import lazy_checkpoint

L, I, E = LRMOO, INTRO, ECRM


def _mk(df: DataFrame, s, pred: str, o) -> DataFrame:
    """Materialized-triple projection onto the canonical schema."""
    s = F.col(s) if isinstance(s, str) else s
    o = F.col(o) if isinstance(o, str) else o
    return df.select(
        s.alias("subj"), F.lit(pred).alias("pred"), o.alias("obj"),
        F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("dtype"),
    )


def _triple_struct(s, pred: str, o) -> F.Column:
    s = F.col(s) if isinstance(s, str) else s
    o = F.col(o) if isinstance(o, str) else o
    return F.struct(
        s.alias("subj"), F.lit(pred).alias("pred"), o.alias("obj"),
        F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("dtype"),
    )


def _fan(df: DataFrame, emits: list[tuple]) -> DataFrame:
    """Emit several (optionally conditional) triples per source row through
    ONE ``inline(array_compact(array(...)))`` Generate — the align spelling
    of the mapping stages' rule fan-out.  ``emits`` rows are
    ``(cond_or_None, s, pred, o)``; a null condition drops that element via
    ``array_compact``.  Replaces one union branch (and one re-execution of
    the shared source subtree) per emitted triple with a single branch."""
    elems = []
    for cond, s, pred, o in emits:
        tr = _triple_struct(s, pred, o)
        elems.append(tr if cond is None else F.when(cond, tr))
    return df.select(F.inline(F.array_compact(F.array(*elems))))


def align_stage(
    spark: SparkSession,
    g: DataFrame,
    external_ids: DataFrame | None = None,
    assume_distinct: bool = True,
) -> DataFrame:
    """``assume_distinct`` (default) encodes the PRECONDITION that ``g`` is
    a distinct triple set (every upstream stage ends in a dedup). The final
    assembly exploits this: only triples whose predicate a dynamic part can
    emit (recorded by ``mk``) or whose subject a constant block can emit
    can collide with the alignment delta, so the set-union dedup shuffles
    ONLY that fraction plus the delta — the rest of the graph streams
    through map-side (no full-graph exchange). Callers with possibly
    duplicated input (e.g. an externally supplied TTL graph) MUST pass
    ``assume_distinct=False``: the stage then falls back to the full-graph
    set-union dedup and runs the dbpedia CURIE normalization over the
    whole output, matching the reference's serialized-file rewrite
    (map_and_align.py:996-1004) for arbitrary inputs."""
    g = g.transform(lazy_checkpoint)
    t = g.select("subj", "pred", "obj")

    # predicates any dynamic (non-constant-block) part can emit — a triple
    # of g can only equal a delta triple if it shares the predicate
    dyn_preds: set[str] = set()

    def mk(df: DataFrame, s, pred: str, o) -> DataFrame:
        dyn_preds.add(pred)
        return _mk(df, s, pred, o)

    # ~30 alignment parts each filter a handful of predicates out of the
    # graph; scanning the FULL checkpoint per part is O(parts · |G|) I/O.
    # One pred-routed sub-checkpoint (the union of every predicate any
    # part touches — a small fraction of a real graph) turns that into
    # O(parts · |G_sub|); `present` still derives from the full graph.
    _PART_PREDS = [
        OWL_SAMEAS, RDF_TYPE,
        L + "R3_is_realised_in", L + "R4i_is_embodied_in",
        L + "R7i_is_exemplified_by", I + "R18_showsActualization",
        I + "R17_actualizesFeature", E + "P67_refers_to",
        I + "R24_hasRelatedEntity", I + "R30i_isTextPassageOf",
        L + "R17i_was_created_by", E + "P4_has_time-span",
        L + "R24_created",
    ]
    tsub = t.filter(F.col("pred").isin(_PART_PREDS)).transform(lazy_checkpoint)

    def po(p: str) -> DataFrame:
        # loud failure beats silently-empty joins if a predicate is ever
        # used without being routed into the sub-checkpoint
        if p not in _PART_PREDS:
            raise AssertionError(f"predicate {p} not in _PART_PREDS")
        return tsub.filter(F.col("pred") == p).select(
            F.col("subj").alias("s"), F.col("obj").alias("o"))

    def typed(cls: str) -> DataFrame:
        return (
            tsub.filter((F.col("pred") == RDF_TYPE) & (F.col("obj") == cls))
            .select(F.col("subj").alias("e")).distinct()
        )

    # --- presence flags (A7), fully lazy ---
    # The flags used to be collect()ed, which forced a full-graph distinct
    # on the driver before align's plan could even finish building —
    # serializing plan construction with upstream execution. Instead
    # `present` is a dimension-sized (kind, val) plan checkpointed once,
    # and every conditional block is gated with a broadcast LEFT SEMI join
    # against a 1-row-iff-satisfied aggregate over it: identical gating
    # semantics, zero driver actions at build time.
    present = (
        t.select(
            "pred",
            F.when(F.col("pred") == RDF_TYPE, F.col("obj")).alias("cls"),
        )
        .distinct()
        .select(F.explode(F.array(
            F.struct(F.lit("pred").alias("kind"), F.col("pred").alias("val")),
            F.struct(F.lit("class").alias("kind"), F.col("cls").alias("val")),
        )).alias("pr"))
        .select("pr.kind", "pr.val")
        .filter(F.col("val").isNotNull())
        .distinct()
        .transform(lazy_checkpoint)
    )

    _gate_cache: dict[tuple, DataFrame] = {}

    def _gate(*reqs: tuple[str, str]) -> DataFrame:
        """One row iff every (kind, val) requirement appears in the graph
        (`present` has distinct rows, so the match count equals len(reqs)
        exactly when all requirements hold). Cached per requirement set so
        every part of a block shares ONE gate subtree (ReusedExchange)."""
        if reqs not in _gate_cache:
            cond = F.lit(False)
            for kind, val in reqs:
                cond = cond | ((F.col("kind") == kind) & (F.col("val") == val))
            _gate_cache[reqs] = (
                present.filter(cond)
                .agg(F.count("*").alias("__n"))
                .filter(F.col("__n") == len(reqs))
                .select(F.lit(1).alias("__g")))
        return _gate_cache[reqs]

    def _gated(df: DataFrame, *reqs: tuple[str, str]) -> DataFrame:
        return df.join(F.broadcast(_gate(*reqs)), F.lit(True), "left_semi")

    # ALL conditional constant blocks resolve through ONE requirements
    # semi-join (block → requirement rows vs `present`), not one gate per
    # block — a single small union branch in the final plan
    _const_blocks: list[tuple[tuple[tuple[str, str], ...], list]] = [
        (((kind, val),), triples) for kind, val, triples in SKOS_BLOCKS]

    parts: list[DataFrame] = []

    # fan-out emission: triples that share one source DataFrame and one
    # presence gate emit through a single inline() branch instead of one
    # union branch each (~21 → ~11 branches; each dropped branch cost a
    # scheduled AQE stage wave plus a re-execution of the shared,
    # un-checkpointed source subtree)
    def emit_group(src: DataFrame, reqs, emits: list[tuple]) -> None:
        for _c, _s, p, _o in emits:
            dyn_preds.add(p)
        parts.append(_gated(_fan(src, emits), *reqs))

    # subjects any constant block can emit — a triple of g can only equal
    # a constant-block triple if it shares the subject
    const_subjs: set[str] = set()

    def _flush_consts() -> None:
        from ..model import TRIPLE_SCHEMA as _TS

        req_rows, need_rows, cand_rows = [], [], []
        for b, (reqs, triples) in enumerate(_const_blocks):
            need_rows.append((b, len(reqs)))
            req_rows += [(b, k, v) for k, v in reqs]
            for tr in triples:
                st, pr, ob = tr[0], tr[1], tr[2]
                const_subjs.add(st)
                cand_rows.append((
                    b, st, pr, ob,
                    tr[3] if len(tr) > 3 else True,
                    tr[4] if len(tr) > 4 else None,
                    tr[5] if len(tr) > 5 else None))
        reqs_df = spark.createDataFrame(req_rows, "block int, kind string, val string")
        need_df = spark.createDataFrame(need_rows, "block int, n_req int")
        ok = (
            reqs_df.join(present, ["kind", "val"], "left_semi")
            .groupBy("block").agg(F.count("*").alias("__n_ok"))
            .join(F.broadcast(need_df), "block")
            .filter(F.col("__n_ok") == F.col("n_req"))
            .select("block"))
        cand = spark.createDataFrame(
            [tuple(r) for r in cand_rows],
            "block int, " + ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in _TS.fields))
        parts.append(
            cand.join(F.broadcast(ok), "block", "left_semi")
            .drop("block").coalesce(1))

    # --- J17 enrichment ---
    if external_ids is not None:
        same = po(OWL_SAMEAS).withColumn(
            "qid", F.regexp_extract("o", r"^http://www\.wikidata\.org/entity/(Q\d+)$", 1)
        ).filter(F.col("qid") != "")
        tmpl = F.create_map(*[
            x for k, v in EXTERNAL_ID_TEMPLATES.items()
            for x in (F.lit(k), F.lit(v))
        ])
        # dbpedia CURIEs are admitted here and expanded by the S7/P10
        # normalize_dbpedia post-pass below (map_and_align.py:996-1004)
        enr = same.join(external_ids, "qid").withColumn(
            "uri", F.replace(tmpl[F.col("id_type")], F.lit("{v}"), F.col("value"))
        ).filter(F.col("uri").rlike("^(https?://|dbpedia:)"))
        parts.append(mk(enr, "s", OWL_SAMEAS, "uri"))

    r3 = po(L + "R3_is_realised_in")
    r4i = po(L + "R4i_is_embodied_in")
    r7i = po(L + "R7i_is_exemplified_by")
    r18 = po(I + "R18_showsActualization")      # expr -> act
    r17 = po(I + "R17_actualizesFeature")       # act -> feature
    p67 = po(E + "P67_refers_to")               # act -> target

    f1 = typed(L + "F1_Work")
    f2 = typed(L + "F2_Expression")

    # has_manifestation (map_and_align.py:580-606)
    _req = (("class", L + "F1_Work"), ("class", L + "F3_Manifestation"))
    _const_blocks.append((_req, HAS_MANIFESTATION_DEF))
    hops = (
        r3.join(f1, r3.s == f1.e, "left_semi")
        .join(r4i.withColumnRenamed("s", "o1").withColumnRenamed("o", "mani"),
              F.col("o") == F.col("o1"))
    )
    parts.append(_gated(mk(hops, "s", SP + "has_manifestation", "mani"), *_req))

    # has_portrayal (608-633)
    _req = (("class", L + "F1_Work"), ("class", L + "F5_Item"))
    _const_blocks.append((_req, HAS_PORTRAYAL_DEF))
    hops = (
        r3.join(f1, r3.s == f1.e, "left_semi")
        .join(r4i.withColumnRenamed("s", "o1").withColumnRenamed("o", "mani"),
              F.col("o") == F.col("o1"))
        .join(r7i.withColumnRenamed("s", "m1").withColumnRenamed("o", "item"),
              F.col("mani") == F.col("m1"))
    )
    parts.append(_gated(mk(hops, "s", SP + "has_portrayal", "item"), *_req))

    # has_representation (635-658)
    _req = (("class", L + "F2_Expression"), ("class", L + "F5_Item"))
    _const_blocks.append((_req, HAS_REPRESENTATION_DEF))
    hops = (
        r4i.join(f2, r4i.s == f2.e, "left_semi")
        .join(r7i.withColumnRenamed("s", "m1").withColumnRenamed("o", "item"),
              F.col("o") == F.col("m1"))
    )
    parts.append(_gated(mk(hops, "s", SP + "has_representation", "item"), *_req))

    # --- directions (660-694): per INT31 rel with exactly two text passages ---
    r24 = po(I + "R24_hasRelatedEntity")        # rel -> related entity
    r30i = po(I + "R30i_isTextPassageOf")       # tp -> expr
    rels31 = typed(I + "INT31_IntertextualRelation")
    tp_expr = (
        r24.join(rels31, r24.s == rels31.e, "left_semi")
        .join(r30i.withColumnRenamed("s", "tp").withColumnRenamed("o", "expr"),
              F.col("o") == F.col("tp"))
        .select(F.col("s").alias("rel"), "tp", "expr")
        .distinct()
    )
    cand = (
        tp_expr.groupBy("rel")
        .agg(
            F.count("*").alias("n_tp"),
            F.countDistinct("expr").alias("n_expr"),
            F.min_by("expr", "tp").alias("expr1"),
            F.max_by("expr", "tp").alias("expr2"),
            F.min("tp").alias("tp1"),
            F.max("tp").alias("tp2"),
        )
        .filter((F.col("n_tp") == 2) & (F.col("n_expr") == 2))
    )
    # creation year (get_creation_year, 184-194): expression creation, else
    # manifestation creation; min for determinism
    labels = t.filter(F.col("pred") == RDFS_LABEL).select(
        F.col("subj").alias("ts"), F.col("obj").alias("y"))
    r17i = po(L + "R17i_was_created_by")        # expr -> ec
    p4 = po(E + "P4_has_time-span")             # event -> ts
    r24c = po(L + "R24_created")                # mc -> manif
    y_ec = (
        r17i.join(p4.withColumnRenamed("s", "ec").withColumnRenamed("o", "ts"),
                  F.col("o") == F.col("ec"))
        .join(labels, "ts")
        .groupBy(F.col("s").alias("ex")).agg(F.min("y").alias("y_ec"))
    )
    y_mc = (
        r4i.join(r24c.withColumnRenamed("s", "mc").withColumnRenamed("o", "mani"),
                 F.col("o") == F.col("mani"))
        .join(p4.withColumnRenamed("s", "mc2").withColumnRenamed("o", "ts"),
              F.col("mc") == F.col("mc2"))
        .join(labels, "ts")
        .groupBy(F.col("s").alias("ex")).agg(F.min("y").alias("y_mc"))
    )
    years = y_ec.join(y_mc, "ex", "full_outer").select(
        "ex", F.coalesce("y_ec", "y_mc").cast("int").alias("yr"))
    directions = (
        cand.join(years.withColumnRenamed("ex", "expr1").withColumnRenamed("yr", "y1"),
                  "expr1")
        .join(years.withColumnRenamed("ex", "expr2").withColumnRenamed("yr", "y2"),
              "expr2")
        .filter(F.col("y1").isNotNull() & F.col("y2").isNotNull())
        .select(
            "rel",
            F.when(F.col("y1") < F.col("y2"), F.col("expr2")).otherwise(F.col("expr1")).alias("younger_expr"),
            F.when(F.col("y1") < F.col("y2"), F.col("expr1")).otherwise(F.col("expr2")).alias("older_expr"),
            F.when(F.col("y1") < F.col("y2"), F.col("tp2")).otherwise(F.col("tp1")).alias("younger_tp"),
            F.when(F.col("y1") < F.col("y2"), F.col("tp1")).otherwise(F.col("tp2")).alias("older_tp"),
        )
        .transform(lazy_checkpoint)
    )

    # about (696-720)
    _req = (("class", I + "INT_Topic"),)
    _const_blocks.append((_req, ABOUT_DEF))
    hops = (
        r18.join(f2, r18.s == f2.e, "left_semi")
        .join(r17.withColumnRenamed("s", "act").withColumnRenamed("o", "feat"),
              F.col("o") == F.col("act"))
        .join(typed(I + "INT_Topic").withColumnRenamed("e", "feat2"),
              F.col("feat") == F.col("feat2"), "left_semi")
    )
    parts.append(_gated(mk(hops, "s", SP + "about", "feat"), *_req))

    # expr_relation (723-776) + intended-semantics R12/R13 directions
    _req = (("class", I + "INT31_IntertextualRelation"),)
    _const_blocks.append((_req, EXPR_RELATION_DEF))
    rel_exprs = (
        r24.join(rels31, r24.s == rels31.e, "left_semi")
        .join(r18.withColumnRenamed("s", "ex").withColumnRenamed("o", "act"),
              F.col("o") == F.col("act"))
        .select(F.col("s").alias("rel"), F.col("ex").alias("expr"))
        .distinct()
    )
    pairs = (
        rel_exprs.withColumnRenamed("expr", "e1")
        .join(rel_exprs.withColumnRenamed("expr", "e2"), "rel")
        .filter(F.col("e1") != F.col("e2"))
    )
    emit_group(pairs, _req, [
        (None, "e1", SP + "expr_relation", "e2"),
        (None, "e2", SP + "expr_relation", "e1"),
    ])
    emit_group(directions, _req, [
        (None, "rel", I + "R13_hasReferringEntity", "younger_expr"),
        (None, "younger_expr", I + "R13i_isReferringEntity", "rel"),
        (None, "rel", I + "R12_hasReferredToEntity", "older_expr"),
        (None, "older_expr", I + "R12i_isReferredToEntity", "rel"),
    ])

    # expr/tp possibly cites (778-869)
    _req = (("pred", I + "R30i_isTextPassageOf"),)
    _const_blocks.append((_req, POSSIBLY_CITES_DEF))
    emit_group(directions, _req, [
        (None, "younger_expr", SP + "expr_possibly_cites", "older_expr"),
        (None, "older_expr", SP + "expr_possibly_cited_by", "younger_expr"),
        (None, "younger_expr", SP + "tp_possibly_cites", "older_tp"),
        (None, "older_tp", SP + "tp_possibly_cited_by", "younger_expr"),
    ])

    # expr_references (+ instance-level references_person/place, 870-920);
    # the person/place *definition* blocks never fire (SURVEY §4.4.5)
    _req = (("pred", E + "P67_refers_to"),)
    _const_blocks.append((_req, EXPR_REFERENCES_DEF))
    refs = (
        r18.join(f2, r18.s == f2.e, "left_semi")
        .join(p67.withColumnRenamed("s", "act").withColumnRenamed("o", "target"),
              F.col("o") == F.col("act"))
        .select(F.col("s").alias("expr"), "target")
        .distinct()
    )
    is_person = typed(E + "E21_Person").withColumnRenamed("e", "target")
    is_place = typed(E + "E53_Place").withColumnRenamed("e", "target")
    # person/place markers as nullable flags (typed sets are distinct, so
    # the left joins cannot multiply rows); the place condition reproduces
    # the reference's elif exactly: place AND NOT person
    flagged = (
        refs.join(is_person.withColumn("__p", F.lit(True)), "target", "left")
        .join(is_place.withColumn("__q", F.lit(True)), "target", "left"))
    emit_group(flagged, _req, [
        (None, "expr", SP + "expr_references", "target"),
        (F.coalesce(F.col("__p"), F.lit(False)),
         "expr", SP + "references_person", "target"),
        (F.coalesce(F.col("__q"), F.lit(False)) & F.col("__p").isNull(),
         "expr", SP + "references_place", "target"),
    ])

    # has_character (962-991)
    _req = (("class", I + "INT_Character"),)
    _const_blocks.append((_req, HAS_CHARACTER_DEF))
    hops = (
        r18.join(f2, r18.s == f2.e, "left_semi")
        .join(r17.withColumnRenamed("s", "act").withColumnRenamed("o", "feat"),
              F.col("o") == F.col("act"))
        .join(typed(I + "INT_Character").withColumnRenamed("e", "feat2"),
              F.col("feat") == F.col("feat2"), "left_semi")
    )
    emit_group(hops, _req, [
        (None, "s", SP + "has_character", "o"),
        (None, "o", SP + "is_character_in", "s"),
    ])

    _flush_consts()
    delta = parts[0]
    for p in parts[1:]:
        delta = delta.unionByName(p)
    # S7/P10: expand dbpedia CURIEs before the sink (the reference rewrites
    # the serialized file, map_and_align.py:996-1004; the engine normalizes
    # the column instead). CURIEs only enter via the enrichment part, so
    # the pass runs on the collision branch; g's rows are CURIE-free.
    from ..sources.readers import normalize_dbpedia

    if not assume_distinct:
        # arbitrary (possibly duplicated) input: full-graph set-union dedup
        # + whole-output CURIE normalization, the pre-delta-dedup behavior
        return dedupe_triples(normalize_dbpedia(g.unionByName(delta)))
    # Delta-dedup (see docstring): an input triple can equal a delta
    # triple only if it shares a dynamic part's predicate or a constant
    # block's subject. Everything else streams through with NO exchange;
    # the dedup shuffles just that fraction plus the delta itself — the
    # full-graph dropDuplicates this replaces was the stage's dominant
    # shuffle at scale.
    risk = (F.col("pred").isin(sorted(dyn_preds))
            | F.col("subj").isin(sorted(const_subjs)))
    g_safe = g.filter(~risk)
    g_risk = g.filter(risk)
    return g_safe.unionByName(
        dedupe_triples(normalize_dbpedia(g_risk.unionByName(delta))))
