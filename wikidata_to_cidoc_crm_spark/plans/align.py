"""Map-and-align stage — external-ID enrichment, SKOS ontology alignment,
derived-property materialization.

Behavioral spec: ``/root/reference/src/wiki2crm/map_and_align.py:207-1005``.
* J17 enrichment: subjects owl:sameAs a Wikidata entity gain sameAs links to
  external vocabularies (templated URLs, map_and_align.py:118-178);
* A7 existence-gated constant blocks: presence flags for classes/predicates
  are one dimension-sized (kind, val) relation, and the satisfied SKOS and
  definition blocks (align_spec) union in as ONE block-tagged VALUES branch;
* J10–J15 property-chain materializations (has_manifestation / has_portrayal
  / has_representation / about / expr_references / has_character) as 2–3-hop
  self-joins over the triple table;
* J16 temporal direction: relation text-passage pairs compared by creation
  year (expression-creation, manifestation-creation fallback);
* S7/P10 dbpedia CURIEs expand to full IRIs in the final select (the
  reference rewrites the serialized file, map_and_align.py:996-1004).

Every dynamic part is a ``Rule`` table over a CTE of the final statement,
emitted through ``sql_stages._emit_inline_sql`` like the mapping stages.
The stage is four ``spark.sql`` statements: the pred-routed sub-graph
``tsub``, the presence flags and the relation ``directions`` are lazy
checkpoints (as is the input), and the final statement reads them.

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
collect): conditional parts semi-join a broadcast one-row gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..model import (
    ECRM,
    INTRO,
    LRMOO,
    OWL_SAMEAS,
    RDF_TYPE,
    RDFS_LABEL,
    Rule,
)
from ..session import lazy_checkpoint
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
from .sql_stages import _const_values_sql, _emit_inline_sql, _q, _wrap

L, I, E = LRMOO, INTRO, ECRM

# ~30 alignment joins each filter a handful of predicates out of the graph;
# scanning the FULL checkpoint per join is O(parts · |G|) I/O. One
# pred-routed sub-checkpoint (the union of every predicate any part touches
# — a small fraction of a real graph) turns that into O(parts · |G_sub|);
# `present` still derives from the full graph.
_PART_PREDS = [
    OWL_SAMEAS, RDF_TYPE,
    L + "R3_is_realised_in", L + "R4i_is_embodied_in",
    L + "R7i_is_exemplified_by", I + "R18_showsActualization",
    I + "R17_actualizesFeature", E + "P67_refers_to",
    I + "R24_hasRelatedEntity", I + "R30i_isTextPassageOf",
    L + "R17i_was_created_by", E + "P4_has_time-span",
    L + "R24_created",
]

# J17 (map_and_align.py:118-178); dbpedia CURIEs are admitted here and
# expanded in the final select
_ENRICH = [Rule("s", OWL_SAMEAS, "uri", ref="map_and_align.py:167-178")]

# Derived properties: (requirements, definition block, dynamic parts). A
# requirement is (kind, val): 'class' → an instance of val exists, 'pred'
# → a triple with predicate val exists. A part is (source, rules); the
# sources are CTEs of the final statement or the ``directions`` checkpoint
# (rel, younger_expr, older_expr, younger_tp, older_tp).
_DERIVED = [
    ((("class", L + "F1_Work"), ("class", L + "F3_Manifestation")),
     HAS_MANIFESTATION_DEF,
     [("manif", [Rule("s", SP + "has_manifestation", "o",
                      ref="map_and_align.py:580-606")])]),
    ((("class", L + "F1_Work"), ("class", L + "F5_Item")),
     HAS_PORTRAYAL_DEF,
     [("portrayal", [Rule("s", SP + "has_portrayal", "o",
                          ref="map_and_align.py:608-633")])]),
    ((("class", L + "F2_Expression"), ("class", L + "F5_Item")),
     HAS_REPRESENTATION_DEF,
     [("representation", [Rule("s", SP + "has_representation", "o",
                               ref="map_and_align.py:635-658")])]),
    ((("class", I + "INT_Topic"),),
     ABOUT_DEF,
     [("topics", [Rule("s", SP + "about", "o",
                       ref="map_and_align.py:696-720")])]),
    # expr_relation + intended-semantics R12/R13 directions (660-694, 723-776)
    ((("class", I + "INT31_IntertextualRelation"),),
     EXPR_RELATION_DEF,
     [("pairs", [Rule("e1", SP + "expr_relation", "e2"),
                 Rule("e2", SP + "expr_relation", "e1")]),
      ("{directions}", [
          Rule("rel", I + "R13_hasReferringEntity", "younger_expr"),
          Rule("younger_expr", I + "R13i_isReferringEntity", "rel"),
          Rule("rel", I + "R12_hasReferredToEntity", "older_expr"),
          Rule("older_expr", I + "R12i_isReferredToEntity", "rel")])]),
    ((("pred", I + "R30i_isTextPassageOf"),),
     POSSIBLY_CITES_DEF,
     [("{directions}", [
         Rule("younger_expr", SP + "expr_possibly_cites", "older_expr"),
         Rule("older_expr", SP + "expr_possibly_cited_by", "younger_expr"),
         Rule("younger_expr", SP + "tp_possibly_cites", "older_tp"),
         Rule("older_tp", SP + "tp_possibly_cited_by", "younger_expr")])]),
    # instance-level references_person/place (870-920); the place condition
    # reproduces the reference's elif exactly: place AND NOT person. The
    # person/place *definition* blocks never fire (SURVEY §4.4.5).
    ((("pred", E + "P67_refers_to"),),
     EXPR_REFERENCES_DEF,
     [("refs", [Rule("expr", SP + "expr_references", "target"),
                Rule("expr", SP + "references_person", "target", cond="__p"),
                Rule("expr", SP + "references_place", "target",
                     cond="__q AND NOT __p")])]),
    ((("class", I + "INT_Character"),),
     HAS_CHARACTER_DEF,
     [("chars", [Rule("s", SP + "has_character", "o",
                      ref="map_and_align.py:962-991"),
                 Rule("o", SP + "is_character_in", "s")])]),
]

_TRIPLE_COLS = "subj, pred, obj, obj_is_iri, lang, dtype"


def _po(name: str, pred: str) -> str:
    """CTE ``name(s, o)``: the ``pred`` edges of ``tsub``."""
    # loud failure beats silently-empty joins if a predicate is ever used
    # without being routed into the sub-checkpoint
    if pred not in _PART_PREDS:
        raise AssertionError(f"predicate {pred} not in _PART_PREDS")
    return (f"{name} AS (SELECT subj AS s, obj AS o FROM {{tsub}} "
            f"WHERE pred = {_q(pred)})")


def _typed(name: str, cls: str) -> str:
    """CTE ``name(e)``: the distinct instances of ``cls``."""
    return (f"{name} AS (SELECT DISTINCT subj AS e FROM {{tsub}} "
            f"WHERE pred = {_q(RDF_TYPE)} AND obj = {_q(cls)})")


def _gate(name: str, reqs: tuple) -> str:
    """CTE with one row iff every (kind, val) requirement appears in the
    graph (`present` has distinct rows, so the match count equals
    len(reqs) exactly when all requirements hold)."""
    cond = " OR ".join(f"(kind = {_q(k)} AND val = {_q(v)})" for k, v in reqs)
    return (f"{name} AS (SELECT 1 AS __g FROM (SELECT count(*) AS __n "
            f"FROM {{present}} WHERE {cond}) WHERE __n = {len(reqs)})")


def align_stage(
    spark: SparkSession,
    g: DataFrame,
    external_ids: DataFrame | None = None,
    assume_distinct: bool = True,
) -> DataFrame:
    """``assume_distinct`` (default) encodes the PRECONDITION that ``g`` is
    a distinct triple set (every upstream stage ends in a dedup). The final
    assembly exploits this: only triples whose predicate a dynamic part can
    emit or whose subject a constant block can emit can collide with the
    alignment delta, so the set-union dedup shuffles ONLY that fraction
    plus the delta — the rest of the graph streams through map-side (no
    full-graph exchange). Callers with possibly duplicated input (e.g. an
    externally supplied TTL graph) MUST pass ``assume_distinct=False``: the
    stage then falls back to the full-graph set-union dedup and runs the
    dbpedia CURIE normalization over the whole output, matching the
    reference's serialized-file rewrite (map_and_align.py:996-1004) for
    arbitrary inputs.

    Building the stage runs zero Spark jobs: every conditional part is
    gated by a broadcast LEFT SEMI join against a one-row aggregate over
    the lazily checkpointed presence flags, never by a driver collect."""
    g = g.transform(lazy_checkpoint)
    preds = ", ".join(map(_q, _PART_PREDS))
    tsub = spark.sql(
        f"SELECT subj, pred, obj FROM {{g}} WHERE pred IN ({preds})", g=g,
    ).transform(lazy_checkpoint)

    # presence flags (A7): the distinct (kind, val) pairs of the graph
    present = spark.sql(f"""
SELECT DISTINCT kind, val FROM (
  SELECT inline(array(named_struct('kind', 'pred', 'val', pred),
                      named_struct('kind', 'class', 'val', cls)))
  FROM (SELECT DISTINCT pred,
               CASE WHEN pred = {_q(RDF_TYPE)} THEN obj END AS cls
        FROM {{g}})
) WHERE val IS NOT NULL""", g=g).transform(lazy_checkpoint)

    # directions (map_and_align.py:660-694): per INT31 relation with exactly
    # two text passages of two expressions, the younger and older side by
    # creation year (get_creation_year, 184-194: expression creation, else
    # manifestation creation; min for determinism)
    directions = spark.sql(f"""
WITH {_po("r24", I + "R24_hasRelatedEntity")},
{_po("r30i", I + "R30i_isTextPassageOf")},
{_po("r17i", L + "R17i_was_created_by")},
{_po("p4", E + "P4_has_time-span")},
{_po("r24c", L + "R24_created")},
{_po("r4i", L + "R4i_is_embodied_in")},
{_typed("rels31", I + "INT31_IntertextualRelation")},
tp_expr AS (
  SELECT DISTINCT r24.s AS rel, r30i.s AS tp, r30i.o AS expr
  FROM r24 LEFT SEMI JOIN rels31 ON r24.s = rels31.e
  JOIN r30i ON r24.o = r30i.s
),
cand AS (
  SELECT rel, min_by(expr, tp) AS expr1, max_by(expr, tp) AS expr2,
         min(tp) AS tp1, max(tp) AS tp2
  FROM tp_expr GROUP BY rel
  HAVING count(*) = 2 AND count(DISTINCT expr) = 2
),
labels AS (SELECT subj AS ts, obj AS y FROM {{g}}
           WHERE pred = {_q(RDFS_LABEL)}),
y_ec AS (
  SELECT r17i.s AS ex, min(l.y) AS y_ec
  FROM r17i JOIN p4 ON r17i.o = p4.s JOIN labels l ON p4.o = l.ts
  GROUP BY r17i.s
),
y_mc AS (
  SELECT r4i.s AS ex, min(l.y) AS y_mc
  FROM r4i JOIN r24c ON r4i.o = r24c.o JOIN p4 ON r24c.s = p4.s
  JOIN labels l ON p4.o = l.ts
  GROUP BY r4i.s
),
years AS (
  SELECT coalesce(a.ex, b.ex) AS ex,
         CAST(coalesce(a.y_ec, b.y_mc) AS INT) AS yr
  FROM y_ec a FULL OUTER JOIN y_mc b ON a.ex = b.ex
)
SELECT c.rel,
  CASE WHEN y1.yr < y2.yr THEN c.expr2 ELSE c.expr1 END AS younger_expr,
  CASE WHEN y1.yr < y2.yr THEN c.expr1 ELSE c.expr2 END AS older_expr,
  CASE WHEN y1.yr < y2.yr THEN c.tp2 ELSE c.tp1 END AS younger_tp,
  CASE WHEN y1.yr < y2.yr THEN c.tp1 ELSE c.tp2 END AS older_tp
FROM cand c JOIN years y1 ON c.expr1 = y1.ex JOIN years y2 ON c.expr2 = y2.ex
WHERE y1.yr IS NOT NULL AND y2.yr IS NOT NULL""", tsub=tsub, g=g) \
        .transform(lazy_checkpoint)

    ctes = [
        _po("r3", L + "R3_is_realised_in"),
        _po("r4i", L + "R4i_is_embodied_in"),
        _po("r7i", L + "R7i_is_exemplified_by"),
        _po("r18", I + "R18_showsActualization"),    # expr -> act
        _po("r17", I + "R17_actualizesFeature"),     # act -> feature
        _po("p67", E + "P67_refers_to"),             # act -> target
        _po("r24", I + "R24_hasRelatedEntity"),      # rel -> related entity
        _typed("f1", L + "F1_Work"),
        _typed("f2", L + "F2_Expression"),
        _typed("rels31", I + "INT31_IntertextualRelation"),
        _typed("topic", I + "INT_Topic"),
        _typed("character", I + "INT_Character"),
        _typed("person", E + "E21_Person"),
        _typed("place", E + "E53_Place"),
        """manif AS (
  SELECT r3.s, r4i.o FROM r3 LEFT SEMI JOIN f1 ON r3.s = f1.e
  JOIN r4i ON r3.o = r4i.s)""",
        """portrayal AS (
  SELECT r3.s, r7i.o FROM r3 LEFT SEMI JOIN f1 ON r3.s = f1.e
  JOIN r4i ON r3.o = r4i.s JOIN r7i ON r4i.o = r7i.s)""",
        """representation AS (
  SELECT r4i.s, r7i.o FROM r4i LEFT SEMI JOIN f2 ON r4i.s = f2.e
  JOIN r7i ON r4i.o = r7i.s)""",
        """topics AS (
  SELECT r18.s, r17.o FROM r18 LEFT SEMI JOIN f2 ON r18.s = f2.e
  JOIN r17 ON r18.o = r17.s LEFT SEMI JOIN topic ON r17.o = topic.e)""",
        """rel_exprs AS (
  SELECT DISTINCT r24.s AS rel, r18.s AS expr
  FROM r24 LEFT SEMI JOIN rels31 ON r24.s = rels31.e
  JOIN r18 ON r24.o = r18.o)""",
        """pairs AS (
  SELECT a.expr AS e1, b.expr AS e2 FROM rel_exprs a
  JOIN rel_exprs b ON a.rel = b.rel WHERE a.expr <> b.expr)""",
        # person/place markers as flags (typed sets are distinct, so the
        # left joins cannot multiply rows)
        """refs AS (
  SELECT r.expr, r.target, pe.e IS NOT NULL AS __p, pl.e IS NOT NULL AS __q
  FROM (SELECT DISTINCT r18.s AS expr, p67.o AS target
        FROM r18 LEFT SEMI JOIN f2 ON r18.s = f2.e
        JOIN p67 ON r18.o = p67.s) r
  LEFT JOIN person pe ON r.target = pe.e
  LEFT JOIN place pl ON r.target = pl.e)""",
        """chars AS (
  SELECT r18.s, r18.o FROM r18 LEFT SEMI JOIN f2 ON r18.s = f2.e
  JOIN r17 ON r18.o = r17.s LEFT SEMI JOIN character ON r17.o = character.e)""",
    ]
    emitted: list[list[Rule]] = []
    branches: list[str] = []
    if external_ids is not None:
        # `{v}` is a format placeholder to spark.sql: escape the braces
        tmpl = " ".join(
            f"WHEN {_q(k)} THEN {_q(v)}" for k, v in EXTERNAL_ID_TEMPLATES.items()
        ).replace("{", "{{").replace("}", "}}")
        wd_re = _q(r"^http://www\.wikidata\.org/entity/(Q\d+)$")
        ctes += [_po("same", OWL_SAMEAS), f"""enr AS (
  SELECT s, uri FROM (
    SELECT sa.s, replace(CASE x.id_type {tmpl} END, '{{{{v}}}}', x.value) AS uri
    FROM (SELECT s, regexp_extract(o, {wd_re}, 1) AS qid FROM same) sa
    JOIN {{ext}} x ON sa.qid = x.qid
    WHERE sa.qid <> ''
  ) WHERE uri RLIKE '^(https?://|dbpedia:)')"""]
        emitted.append(_ENRICH)
        branches.append(f"SELECT {_emit_inline_sql(_ENRICH)} FROM enr")
    for i, (reqs, _, parts) in enumerate(_DERIVED):
        ctes.append(_gate(f"gate{i}", reqs))
        for src, rules in parts:
            emitted.append(rules)
            branches.append(
                f"SELECT /*+ BROADCAST(gate{i}) */ {_emit_inline_sql(rules)}\n"
                f"FROM {src} LEFT SEMI JOIN gate{i} ON true")

    # ALL constant blocks resolve through ONE requirements semi-join
    # (block → requirement rows vs `present`): a single union branch
    blocks = [(((kind, val),), triples) for kind, val, triples in SKOS_BLOCKS]
    blocks += [(reqs, block) for reqs, block, _ in _DERIVED]
    req_rows = ",\n  ".join(
        f"({b}, {_q(k)}, {_q(v)}, {len(reqs)})"
        for b, (reqs, _) in enumerate(blocks) for k, v in reqs)
    ctes.append(f"""ok AS (
  SELECT r.block FROM (VALUES
  {req_rows}) AS r(block, kind, val, n_req)
  LEFT SEMI JOIN {{present}} p ON r.kind = p.kind AND r.val = p.val
  GROUP BY r.block, r.n_req HAVING count(*) = r.n_req)""")
    consts = [(*t, b) for b, (_, triples) in enumerate(blocks) for t in triples]
    branches.append(
        f"SELECT /*+ BROADCAST(ok), COALESCE(1) */ {_TRIPLE_COLS}\n"
        f"FROM ({_const_values_sql(consts)}) c\n"
        "LEFT SEMI JOIN ok ON c.block = ok.block")
    ctes.append("delta AS (\n" + "\nUNION ALL\n".join(branches) + ")")

    # Delta-dedup (see docstring): an input triple can equal a delta
    # triple only if it shares a dynamic part's predicate or a constant
    # block's subject. Everything else streams through with NO exchange;
    # the DISTINCT shuffles just that fraction plus the delta itself.
    # CURIEs only enter via the enrichment part, so the expansion runs on
    # the colliding side; the rest of g is CURIE-free.
    dyn_preds = sorted({r.pred for rules in emitted for r in rules})
    const_subjs = sorted({t[0] for _, triples in blocks for t in triples})
    risk = (f"pred IN ({', '.join(map(_q, dyn_preds))})\n"
            f"   OR subj IN ({', '.join(map(_q, const_subjs))})")
    if assume_distinct:
        safe = f"SELECT {_TRIPLE_COLS} FROM {{g}} WHERE NOT (\n{risk})\nUNION ALL\n"
        colliding = f"SELECT {_TRIPLE_COLS} FROM {{g}} WHERE {risk}"
    else:
        safe, colliding = "", f"SELECT {_TRIPLE_COLS} FROM {{g}}"
    expanded = _wrap(f"""SELECT subj, pred,
  CASE WHEN obj_is_iri AND startswith(obj, 'dbpedia:')
       THEN concat('https://dbpedia.org/', substring(obj, 9)) ELSE obj END AS obj,
  obj_is_iri, lang, dtype
FROM ({colliding}
UNION ALL
SELECT * FROM delta)""", None, True)
    query = "WITH " + ",\n".join(ctes) + "\n" + safe + expanded
    return spark.sql(query, g=g, tsub=tsub, present=present,
                     directions=directions, ext=external_ids)
