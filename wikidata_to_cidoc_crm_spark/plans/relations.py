"""Relations stage — INTRO intertextuality sub-graph.

Behavioral spec: ``/root/reference/src/wiki2crm/relations.py:299-877`` —
nine sequential processors (int31, plots, citations, topics, motifs,
persons, places, characters, work references). Rebuilt as a few
checkpointed ``spark.sql`` blocks over a shared (work, feature) edge table,
then ONE emission statement over those blocks:

* property subsumption (``wdt:P1647*``) → broadcast join against
  ``wd_property_closure`` (J4),
* type checks (``wdt:P31/wdt:P279*``) → semi-join against
  ``wd_subclass_closure`` (J5),
* ``combinations(works, 2)`` → self-join pair generation (J8, the SQL
  spelling of operators.pairs.pair_join) — skew-prone on hub features, so
  features shared by more than 256 works take a salted join,
* rdflib idempotency guards → generate-then-DISTINCT (U4), with two
  order-dependent exceptions reproduced explicitly:
  - **first-pair-wins actualization links** (add_actualization's early
    return, relations.py:252-253): an act/expression R24-links only to the
    relation of the first sorted pair its work appears in (a min window,
    the SQL spelling of operators.pairs.first_partner);
  - **interpretation-tid collisions** (add_interpretation keys interps by
    the last URI segment, relations.py:206-233): when a work_ref act's tid
    equals its own relation's tid (tgt < src) the relation's interpretation
    wins and the act only contributes R21 links. Generalized via a
    priority-windowed dedup over interpretation creation triples.

Determinism decisions (documented divergences): works and targets iterate
in sorted order; a citation pair present in both directions keeps the
lexicographically smaller (src, tgt).

Scale notes: all family pipelines share one scan of statements; pair
generation is quadratic per feature by *specification* (the reference's own
output is quadratic) — the per-feature fan-out is the data, not an
implementation artifact. Dimension joins (closures, labels, input QID set)
broadcast; the final dedup shuffles on the full triple key.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from ..model import (
    ECRM,
    INTRO,
    LRMOO,
    LRMOO_ONTO,
    OWL_SAMEAS,
    PROV_DERIVED,
    RDF_TYPE,
    RDFS_LABEL,
    SAPPHO,
    WD,
    Rule,
)
from ..session import lazy_checkpoint
from .sql_stages import (
    EN,
    _const_values_sql,
    _emit_inline_sql,
    _q,
    _wrap,
    mint,
    wd_entity_uri,
)

ID_TYPE = SAPPHO + "id_type/wikidata"

# (family, base pids, type ancestors, feature path, feature class,
#  feature label fmt, act label fmt, p67 node kind, processor priority)
FAMILIES = [
    ("plot", ["P921"], ("Q42109240",), "feature/plot", INTRO + "INT_Plot",
     "%s (plot)", "%s in %s", None, 2),
    ("topic", ["P921"], ("Q26256810",), "feature/topic", INTRO + "INT_Topic",
     "%s (topic)", "%s in %s", None, 4),
    ("motif", ["P6962"], None, "feature/motif", INTRO + "INT_Motif",
     "%s (motif)", "%s in %s", None, 5),
    ("person_ref", ["P180", "P921", "P527"], ("Q5",), "feature/person_ref",
     INTRO + "INT18_Reference", "Reference to %s (person)",
     "Reference to %s in %s", "person", 6),
    ("place_ref", ["P921"], ("Q2221906",), "feature/place_ref",
     INTRO + "INT18_Reference", "Reference to %s (place)",
     "Reference to %s in %s", "place", 7),
    ("character", ["P674"], None, "feature/character", INTRO + "INT_Character",
     "%s", "%s in %s", None, 8),
]


# above this many label rows the dimension no longer broadcasts safely
# (~90M Wikidata labels ≈ several GB) — fall back to a shuffle join
LABEL_BROADCAST_MAX = 20_000_000


def _identifier_rules(entity: str, qid_col: str) -> list[Rule]:
    """add_identifier (relations.py:170-180): 7 triples, lang-tagged label."""
    ident = mint("identifier", qid_col)
    id_type = _q(ID_TYPE)
    ref = "relations.py:170-180"
    return [
        Rule(ident, RDF_TYPE, _q(ECRM + "E42_Identifier"), ref=ref),
        Rule(ident, RDFS_LABEL, qid_col, obj_is_iri=False, lang=EN, ref=ref),
        Rule(ident, ECRM + "P2_has_type", id_type, ref=ref),
        Rule(id_type, ECRM + "P2i_is_type_of", ident, ref=ref),
        Rule(ident, PROV_DERIVED, wd_entity_uri(qid_col), ref=ref),
        Rule(entity, ECRM + "P1_is_identified_by", ident, ref=ref),
        Rule(ident, ECRM + "P1i_identifies", entity, ref=ref),
    ]


# --- emission rule tables, one per source block of relations_stage ---

def rel_rules() -> list[Rule]:
    return [
        Rule("rel", RDF_TYPE, _q(INTRO + "INT31_IntertextualRelation"),
             ref="relations.py:286"),
        Rule("rel", RDFS_LABEL,
             "format_string('Intertextual relation between %s and %s', la, lb)",
             obj_is_iri=False, lang=EN, ref="relations.py:287-289"),
    ]


def act_rules() -> list[Rule]:
    return [
        Rule("act", RDF_TYPE, _q(INTRO + "INT2_ActualizationOfFeature"),
             ref="relations.py:246"),
        Rule("act", RDFS_LABEL, "alabel", obj_is_iri=False, lang=EN,
             ref="relations.py:247"),
        Rule("feat_uri", INTRO + "R17i_featureIsActualizedIn", "act",
             ref="relations.py:249"),
        Rule("act", INTRO + "R17_actualizesFeature", "feat_uri",
             ref="relations.py:250"),
        Rule("act", INTRO + "R18i_actualizationFoundOn", "expr",
             ref="relations.py:252"),
        Rule("expr", INTRO + "R18_showsActualization", "act",
             ref="relations.py:253"),
        # first-pair-wins R24 links (relations.py:255-258)
        Rule("act", INTRO + "R24i_isRelatedEntity", "rel", ref="relations.py:255"),
        Rule("rel", INTRO + "R24_hasRelatedEntity", "act", ref="relations.py:256"),
        Rule("expr", INTRO + "R24i_isRelatedEntity", "rel", ref="relations.py:257"),
        Rule("rel", INTRO + "R24_hasRelatedEntity", "expr", ref="relations.py:258"),
    ]


_INTERP_FEAT = mint("feature/interpretation", "tid")
_INTERP_ACT = mint("actualization/interpretation", "tid")


def interp_creation_rules() -> list[Rule]:
    return [
        Rule(_INTERP_FEAT, RDF_TYPE, _q(INTRO + "INT_Interpretation"),
             ref="relations.py:210"),
        Rule(_INTERP_FEAT, RDFS_LABEL, "ilabel", obj_is_iri=False, lang=EN,
             ref="relations.py:211"),
        Rule(_INTERP_ACT, RDF_TYPE, _q(INTRO + "INT2_ActualizationOfFeature"),
             ref="relations.py:214"),
        Rule(_INTERP_ACT, RDFS_LABEL, "ilabel", obj_is_iri=False, lang=EN,
             ref="relations.py:215"),
        Rule(_INTERP_FEAT, INTRO + "R17i_featureIsActualizedIn", _INTERP_ACT,
             ref="relations.py:224"),
        Rule(_INTERP_ACT, INTRO + "R17_actualizesFeature", _INTERP_FEAT,
             ref="relations.py:225"),
    ]


def interp_derived_rules() -> list[Rule]:
    return [Rule(_INTERP_ACT, PROV_DERIVED, wd_entity_uri("dq"),
                 ref="relations.py:219-221")]


def interp_links_rules() -> list[Rule]:
    return [
        Rule(_INTERP_ACT, INTRO + "R21_identifies", "target",
             ref="relations.py:227"),
        Rule("target", INTRO + "R21i_isIdentifiedBy", _INTERP_ACT,
             ref="relations.py:228"),
    ]


def r22_rules() -> list[Rule]:
    return [
        Rule("feat_uri", INTRO + "R22_providesSimilarityForRelation", "rel",
             ref="relations.py:396-398"),
        Rule("rel", INTRO + "R22i_relationIsBasedOnSimilarity", "feat_uri",
             ref="relations.py:396-398"),
    ]


def p67_rules() -> list[Rule]:
    return [
        Rule("act", ECRM + "P67_refers_to", "p67_target",
             ref="relations.py:552-558"),
        Rule("p67_target", ECRM + "P67i_is_referred_to_by", "act",
             ref="relations.py:552-558"),
    ]


def feat_node_rules() -> list[Rule]:
    cls = "CASE family " + " ".join(
        f"WHEN {_q(f[0])} THEN {_q(f[4])}" for f in FAMILIES) + " END"
    # character has no suffix (relations.py:737)
    flabel = "CASE family " + " ".join(
        f"WHEN {_q(f[0])} THEN format_string({_q(f[5])}, tlbl)"
        for f in FAMILIES if f[0] != "character") + " ELSE tlbl END"
    is_entity_feat = "family IN ('plot', 'topic', 'motif', 'character')"
    return [
        Rule("feat_uri", RDF_TYPE, cls, ref="relations.py:182-203"),
        Rule("feat_uri", RDFS_LABEL, flabel, obj_is_iri=False, lang=EN,
             ref="relations.py:182-203"),
        Rule("feat_uri", OWL_SAMEAS, wd_entity_uri("tgt"),
             cond=is_entity_feat, ref="relations.py:196-198"),
    ] + [replace(r, cond=is_entity_feat)
         for r in _identifier_rules("feat_uri", "tgt")]


def person_node_rules() -> list[Rule]:
    person = mint("person", "tgt")
    return [
        Rule(person, RDF_TYPE, _q(ECRM + "E21_Person"), ref="relations.py:530-537"),
        Rule(person, RDFS_LABEL, "tlbl", obj_is_iri=False, lang=EN,
             ref="relations.py:531"),
        Rule(person, OWL_SAMEAS, wd_entity_uri("tgt"), ref="relations.py:532"),
    ] + _identifier_rules(person, "tgt")


def charp_feat_rules() -> list[Rule]:
    feat = mint("feature/person_ref", "tgt")
    return [
        Rule(feat, RDF_TYPE, _q(INTRO + "INT18_Reference"),
             ref="relations.py:681-683"),
        Rule(feat, RDFS_LABEL, "format_string('Reference to %s (person)', tlbl)",
             obj_is_iri=False, lang=EN, ref="relations.py:683"),
    ]


def place_node_rules() -> list[Rule]:
    place = mint("place", "tgt")
    return [
        Rule(place, RDF_TYPE, _q(ECRM + "E53_Place"), ref="relations.py:584-591"),
        Rule(place, RDFS_LABEL, "tlbl", obj_is_iri=False, lang=EN,
             ref="relations.py:585"),
        Rule(place, OWL_SAMEAS, wd_entity_uri("tgt"), ref="relations.py:586"),
    ] + _identifier_rules(place, "tgt")


def workref_feat_rules() -> list[Rule]:
    feat = mint("feature/work_ref", "tgt")
    return [
        Rule(feat, RDF_TYPE, _q(INTRO + "INT18_Reference"),
             ref="relations.py:641-644"),
        Rule(feat, RDFS_LABEL,
             "format_string('Reference to %s (expression)', tlbl)",
             obj_is_iri=False, lang=EN, ref="relations.py:644"),
    ]


def expr_rules() -> list[Rule]:
    expr = mint("expression", "q")
    return [
        Rule(expr, RDF_TYPE, _q(LRMOO + "F2_Expression"), ref="relations.py:184"),
        Rule(expr, RDFS_LABEL, "format_string('Expression of %s', qlbl)",
             obj_is_iri=False, lang=EN, ref="relations.py:185"),
        Rule(expr, OWL_SAMEAS, wd_entity_uri("q"), ref="relations.py:186"),
    ]


def tp_rules() -> list[Rule]:
    rules: list[Rule] = []
    for host, other, hl in [("tgt", "src", "tlbl"), ("src", "tgt", "slbl")]:
        tp = mint("textpassage", f"concat({host}, '_', {other})")
        host_expr = mint("expression", host)
        rules += [
            Rule(tp, RDF_TYPE, _q(INTRO + "INT21_TextPassage"), ref="relations.py:801"),
            Rule(tp, RDFS_LABEL, f"format_string('Text passage in %s', {hl})",
                 obj_is_iri=False, lang=EN, ref="relations.py:802"),
            Rule(tp, PROV_DERIVED, wd_entity_uri("tgt"), ref="relations.py:803"),
            Rule(host_expr, INTRO + "R30_hasTextPassage", tp, ref="relations.py:805"),
            Rule(tp, INTRO + "R30i_isTextPassageOf", host_expr, ref="relations.py:806"),
            Rule("rel", INTRO + "R24_hasRelatedEntity", tp, ref="relations.py:807"),
            Rule(tp, INTRO + "R24i_isRelatedEntity", "rel", ref="relations.py:808"),
        ]
    return rules


def relations_stage(
    spark: SparkSession,
    work_qids: DataFrame,
    statements: DataFrame,
    labels: DataFrame,
    subclass_closure: DataFrame,
    property_closure: DataFrame,
    include_header: bool = True,
    dedupe: bool = True,
    broadcast_labels: bool | None = None,
) -> DataFrame:
    from ..oracle_relations import relations_alignment_triples

    lab_bcast = (labels.count() <= LABEL_BROADCAST_MAX
                 if broadcast_labels is None else broadcast_labels)

    def lab_hint(*aliases: str) -> str:
        if not lab_bcast:
            return ""
        return "/*+ " + ", ".join(f"BROADCAST({a})" for a in aliases) + " */ "

    # --- checkpointed building blocks (downstream plans stay shallow and
    # each block materializes exactly once). The spark.sql analyses are
    # cheap, but each lazy checkpoint still pays a JVM physical planning —
    # the independent blocks build on a small thread pool so those
    # plannings overlap (JVM-side Catalyst planning of distinct queries is
    # thread-safe). ---
    pool = ThreadPoolExecutor(max_workers=4, thread_name_prefix="relsql-plan")

    # label service en→de (relations.py:122-135); canonical (__lk, __lv)
    f_lab = pool.submit(lambda: spark.sql("""
SELECT coalesce(e.qid, d.qid) AS __lk, coalesce(e._en, d._de) AS __lv
FROM (SELECT qid, label AS _en FROM {labels} WHERE lang = 'en') e
FULL OUTER JOIN (SELECT qid, label AS _de FROM {labels} WHERE lang = 'de') d
  ON e.qid = d.qid""", labels=labels).transform(lazy_checkpoint))

    # canonical membership build side (in_W)
    wb = spark.sql("SELECT DISTINCT qid FROM {w}", w=work_qids) \
        .transform(lazy_checkpoint)

    fam_bases = {f[0]: f[1] for f in FAMILIES}
    fam_bases["character_typed"] = ["P180", "P921"]  # relations.py:700-707
    fam_base_rows = ",".join(
        f"('{fam}','{b}')" for fam, bases in fam_bases.items() for b in bases)
    typed_req = {
        "plot": ["Q42109240"], "topic": ["Q26256810"], "person_ref": ["Q5"],
        "place_ref": ["Q2221906"],
        "character_typed": ["Q3658341", "Q15632617"],
    }
    anc_fam_rows = ",".join(
        f"('{a}','{fam}')" for fam, ancs in typed_req.items() for a in ancs)
    typed_fams = ",".join(f"'{fam}'" for fam in typed_req)

    def _build_fw_chain():
        # ONE tagged edge table for all six families (single statements scan)
        fw_all = spark.sql(f"""
WITH fam_base AS (SELECT * FROM (VALUES {fam_base_rows}) AS fb(family, base)),
pid_fam AS (
  SELECT DISTINCT pc.pid, fb.family
  FROM {{pc}} pc JOIN fam_base fb ON pc.base_pid = fb.base
),
anc_fam AS (SELECT * FROM (VALUES {anc_fam_rows}) AS af(ancestor, family)),
typed_pairs AS (
  SELECT /*+ BROADCAST(sc), BROADCAST(af) */ DISTINCT
         st.subject_qid AS tgt, af.family
  FROM {{statements}} st
  JOIN {{sc}} sc ON sc.qid = st.object_value
  JOIN anc_fam af ON af.ancestor = sc.ancestor
  WHERE st.pid = 'P31'
),
fw_all0 AS (
  SELECT /*+ BROADCAST(pf), BROADCAST(wb) */
         pf.family, st.subject_qid AS work, st.object_value AS tgt
  FROM {{statements}} st
  JOIN pid_fam pf ON pf.pid = st.pid
  LEFT SEMI JOIN {{wb}} wb ON st.subject_qid = wb.qid
  WHERE st.object_is_entity
),
fw_typed AS (
  SELECT f.* FROM fw_all0 f
  LEFT SEMI JOIN typed_pairs tp ON f.tgt = tp.tgt AND f.family = tp.family
  WHERE f.family IN ({typed_fams})
),
fw_untyped AS (
  SELECT * FROM fw_all0 WHERE family IN ('motif', 'character')
)
SELECT DISTINCT
  CASE WHEN family = 'character_typed' THEN 'character' ELSE family END AS family,
  work, tgt
FROM (SELECT * FROM fw_typed UNION ALL SELECT * FROM fw_untyped)""",
                          pc=property_closure, statements=statements,
                          sc=subclass_closure, wb=wb).transform(lazy_checkpoint)

        # qualifying features: shared by ≥2 works (relations.py:371-372)
        qfw = spark.sql("""
SELECT f.* FROM {fw} f
LEFT SEMI JOIN (
  SELECT family, tgt FROM {fw} GROUP BY family, tgt
  HAVING count(DISTINCT work) >= 2
) q ON f.family = q.family AND f.tgt = q.tgt""", fw=fw_all) \
            .transform(lazy_checkpoint)

        # pairs for all families at once (the salted self-join of
        # operators.pairs.pair_join: salt_partitions=32, heavy_threshold=256)
        pairs = spark.sql("""
WITH fw AS (SELECT DISTINCT family, tgt, work AS _w FROM {qfw}),
counts AS (SELECT family, tgt, count(*) AS _n FROM fw GROUP BY family, tgt),
heavy_keys AS (SELECT family, tgt FROM counts WHERE _n > 256),
heavy AS (SELECT /*+ BROADCAST(h) */ f.* FROM fw f
          LEFT SEMI JOIN heavy_keys h ON f.family = h.family AND f.tgt = h.tgt),
light AS (SELECT /*+ BROADCAST(h) */ f.* FROM fw f
          LEFT ANTI JOIN heavy_keys h ON f.family = h.family AND f.tgt = h.tgt),
light_pairs AS (
  SELECT a.family, a.tgt, a._w AS w1, b._w AS w2
  FROM light a JOIN light b ON a.family = b.family AND a.tgt = b.tgt
  WHERE a._w < b._w
),
ha AS (SELECT family, tgt, _w AS w1,
              CAST(pmod(xxhash64(_w), 32) AS INT) AS _salt FROM heavy),
hb AS (SELECT family, tgt, _w AS w2, explode(sequence(0, 31)) AS _salt FROM heavy),
heavy_pairs AS (
  SELECT a.family, a.tgt, a.w1, b.w2
  FROM ha a JOIN hb b
    ON a.family = b.family AND a.tgt = b.tgt AND a._salt = b._salt
  WHERE a.w1 < b.w2
)
SELECT family, tgt, w1, w2 FROM light_pairs
UNION ALL
SELECT family, tgt, w1, w2 FROM heavy_pairs""", qfw=qfw) \
            .transform(lazy_checkpoint)
        return qfw, pairs

    f_fw = pool.submit(_build_fw_chain)

    def edges_sql(bases: list[str]) -> str:
        bl = ",".join(f"'{b}'" for b in bases)
        return f"""
  SELECT /*+ BROADCAST(p), BROADCAST(wb) */ DISTINCT
         st.subject_qid AS work, st.object_value AS tgt
  FROM {{statements}} st
  JOIN (SELECT DISTINCT pid FROM {{pc}} WHERE base_pid IN ({bl})) p
    ON st.pid = p.pid
  LEFT SEMI JOIN {{wb}} wb ON st.subject_qid = wb.qid
  WHERE st.object_is_entity"""

    kw = dict(statements=statements, pc=property_closure, wb=wb)

    # work references (relations.py:616-669): tgt ∈ W too; no ≥2 gate
    f_workref = pool.submit(lambda: spark.sql(f"""
WITH ed AS ({edges_sql(["P921"])})
SELECT /*+ BROADCAST(wb2) */ e.work, e.tgt FROM ed e
LEFT SEMI JOIN {{wb2}} wb2 ON e.tgt = wb2.qid
WHERE e.tgt LIKE 'Q%'""", wb2=wb, **kw).transform(lazy_checkpoint))

    # citations (relations.py:765-818): keep lexicographically smaller
    # directed (src, tgt) per unordered pair
    f_cite = pool.submit(lambda: spark.sql(f"""
WITH ed AS ({edges_sql(["P2860", "P6166"])}),
cd AS (
  SELECT /*+ BROADCAST(wb2) */ e.tgt AS src, e.work AS tgt FROM ed e
  LEFT SEMI JOIN {{wb2}} wb2 ON e.tgt = wb2.qid
  WHERE e.tgt <> e.work
)
SELECT _p.src AS src, _p.tgt AS tgt FROM (
  SELECT min(named_struct('src', src, 'tgt', tgt)) AS _p
  FROM cd GROUP BY least(src, tgt), greatest(src, tgt)
)""", wb2=wb, **kw).transform(lazy_checkpoint))

    # int31 direct links (relations.py:299-354): forward P4969; reversed
    # P144/P5059/P941
    f_int31 = pool.submit(lambda: spark.sql(f"""
WITH fwd AS ({edges_sql(["P4969"])}),
bwd AS ({edges_sql(["P144", "P5059", "P941"])})
SELECT wa, wb FROM (
  SELECT /*+ BROADCAST(wbf) */ f.work AS wa, f.tgt AS wb FROM fwd f
  LEFT SEMI JOIN {{wbf}} wbf ON f.tgt = wbf.qid
  UNION ALL
  SELECT /*+ BROADCAST(wbb) */ b.tgt AS wa, b.work AS wb FROM bwd b
  LEFT SEMI JOIN {{wbb}} wbb ON b.tgt = wbb.qid
) WHERE wa <> wb""", wbf=wb, wbb=wb, **kw).transform(lazy_checkpoint))

    # person-typed entities (typed(("Q5",)) — used by char_p67 and the
    # person-node emissions)
    f_charp = pool.submit(lambda: spark.sql("""
SELECT /*+ BROADCAST(a) */ DISTINCT st.subject_qid AS cq
FROM {statements} st
LEFT SEMI JOIN (SELECT qid FROM {sc} WHERE ancestor = 'Q5') a
  ON st.object_value = a.qid
WHERE st.pid = 'P31'""", statements=statements, sc=subclass_closure) \
        .transform(lazy_checkpoint))

    qfw, pairs = f_fw.result()
    lab = f_lab.result()
    workref = f_workref.result()
    cite_kept = f_cite.result()
    int31 = f_int31.result()
    charp = f_charp.result()

    # relation nodes: every pair from every source, canonical + labels
    def _build_rels():
        return spark.sql(f"""
WITH members AS (
  SELECT w1, w2 FROM {{pairs}}
  UNION ALL SELECT wa, wb FROM {{int31}}
  UNION ALL SELECT wr.work AS w1, wr.tgt AS w2 FROM {{workref}} wr
            WHERE wr.work <> wr.tgt
  UNION ALL SELECT src, tgt FROM {{cite}}
),
canon AS (
  SELECT DISTINCT least(w1, w2) AS w1, greatest(w1, w2) AS w2 FROM members
),
labeled AS (
  SELECT {lab_hint('l1', 'l2')}
    c.w1, c.w2,
    coalesce(l1.__lv, c.w1) AS l1, coalesce(l2.__lv, c.w2) AS l2
  FROM canon c
  LEFT JOIN {{lab}} l1 ON c.w1 = l1.__lk
  LEFT JOIN {{lab}} l2 ON c.w2 = l2.__lk
)
SELECT w1, w2, l1, l2,
  CASE WHEN lower(l1) <= lower(l2) THEN l1 ELSE l2 END AS la,
  CASE WHEN lower(l1) <= lower(l2) THEN l2 ELSE l1 END AS lb,
  concat('{SAPPHO}relation/', w1, '_', w2) AS rel,
  concat(w1, '_', w2) AS tid
FROM labeled""", pairs=pairs, int31=int31, workref=workref, cite=cite_kept,
                         lab=lab).transform(lazy_checkpoint)

    # actualizations (first_partner over qfw + workref acts), labeled
    fam_prio = " ".join(f"WHEN '{f[0]}' THEN {f[8]}" for f in FAMILIES)

    def _build_acts():
        return spark.sql(f"""
WITH fw AS (SELECT DISTINCT family, tgt, work FROM {{qfw}}),
fw2 AS (SELECT *, min(work) OVER (PARTITION BY family, tgt) AS _min FROM fw),
second AS (
  SELECT family, tgt, min(work) AS _second FROM fw2
  WHERE work > _min GROUP BY family, tgt
),
fam_acts AS (
  SELECT f.family, f.tgt, f.work, f._min AS rel_w1,
         CASE WHEN f.work = f._min THEN s._second ELSE f.work END AS rel_w2
  FROM fw2 f LEFT JOIN second s ON f.family = s.family AND f.tgt = s.tgt
),
fam_acts_nn AS (SELECT * FROM fam_acts WHERE rel_w2 IS NOT NULL),
fam_labeled AS (
  SELECT {lab_hint('lt', 'lw')}
    a.tgt, a.work, a.rel_w1, a.rel_w2,
    coalesce(lt.__lv, a.tgt) AS tlbl, coalesce(lw.__lv, a.work) AS wlbl,
    a.family, a.family AS typ,
    CASE WHEN a.family IN ('person_ref', 'place_ref')
         THEN format_string('Reference to %s in %s',
                            coalesce(lt.__lv, a.tgt), coalesce(lw.__lv, a.work))
         ELSE format_string('%s in %s',
                            coalesce(lt.__lv, a.tgt), coalesce(lw.__lv, a.work))
    END AS alabel,
    CASE a.family {fam_prio} END AS prio
  FROM fam_acts_nn a
  LEFT JOIN {{lab}} lt ON a.tgt = lt.__lk
  LEFT JOIN {{lab}} lw ON a.work = lw.__lk
),
wr_pairs AS (
  SELECT tgt, work AS src FROM {{workref}} WHERE work <> tgt
),
wr_labeled AS (
  SELECT {lab_hint('lt', 'lw')}
    p.tgt, p.src AS work,
    least(p.src, p.tgt) AS rel_w1, greatest(p.src, p.tgt) AS rel_w2,
    coalesce(lt.__lv, p.tgt) AS tlbl, coalesce(lw.__lv, p.src) AS wlbl,
    'work_ref' AS family, 'work_ref' AS typ,
    format_string('Reference to %s in %s',
                  coalesce(lt.__lv, p.tgt), coalesce(lw.__lv, p.src)) AS alabel,
    9 AS prio
  FROM wr_pairs p
  LEFT JOIN {{lab}} lt ON p.tgt = lt.__lk
  LEFT JOIN {{lab}} lw ON p.src = lw.__lk
),
unioned AS (SELECT * FROM fam_labeled UNION ALL SELECT * FROM wr_labeled)
SELECT *,
  concat('{SAPPHO}actualization/', typ, '/', tgt, '_', work) AS act,
  concat('{SAPPHO}feature/', typ, '/', tgt) AS feat_uri,
  concat('{SAPPHO}relation/', rel_w1, '_', rel_w2) AS rel,
  concat('{SAPPHO}expression/', work) AS expr
FROM unioned""", qfw=qfw, workref=workref, lab=lab).transform(lazy_checkpoint)

    f_rels = pool.submit(_build_rels)
    f_acts = pool.submit(_build_acts)
    rels = f_rels.result()
    acts = f_acts.result()
    pool.shutdown(wait=True)

    # interpretation candidates with priority rank (relations.py:206-233)
    interp_all = spark.sql("""
WITH cand AS (
  SELECT tid,
    format_string('Interpretation of intertextual relation between %s and %s',
                  la, lb) AS ilabel,
    array(w1, w2) AS derived, rel AS target, 0 AS prio
  FROM {rels}
  UNION ALL
  SELECT concat(tgt, '_', work) AS tid,
    format_string('Interpretation of %s',
                  regexp_replace(alabel, '^Reference to ', '')) AS ilabel,
    array(work) AS derived, act AS target, prio
  FROM {acts}
)
SELECT *, row_number() OVER (
  PARTITION BY tid ORDER BY prio, target, ilabel) AS _rank
FROM cand""", rels=rels, acts=acts).transform(lazy_checkpoint)

    # --- ONE emission query over the checkpointed blocks ---
    branches = [
        f"SELECT {_emit_inline_sql(rel_rules())} FROM {{rels}}",
        f"SELECT {_emit_inline_sql(act_rules())} FROM {{acts}}",
        f"SELECT {_emit_inline_sql(interp_creation_rules())} "
        "FROM {interp} WHERE _rank = 1",
        f"SELECT {_emit_inline_sql(interp_derived_rules())} FROM "
        "(SELECT tid, explode(derived) AS dq FROM {interp2} WHERE _rank = 1)",
        f"SELECT {_emit_inline_sql(interp_links_rules())} FROM {{interp3}}",
        # R22 similarity links: per (feature, pair) for ALL pairs
        f"""SELECT {_emit_inline_sql(r22_rules())} FROM (
  SELECT concat('{SAPPHO}feature/', family, '/', tgt) AS feat_uri,
         concat('{SAPPHO}relation/', w1, '_', w2) AS rel
  FROM {{pairs}}
  UNION ALL
  SELECT concat('{SAPPHO}feature/work_ref/', tgt),
         concat('{SAPPHO}relation/', least(work, tgt), '_', greatest(work, tgt))
  FROM {{workref2}} WHERE work <> tgt
)""",
        # P67 reference links per act
        f"""SELECT {_emit_inline_sql(p67_rules())} FROM (
  SELECT act, CASE WHEN family = 'person_ref'
                   THEN concat('{SAPPHO}person/', tgt)
                   ELSE concat('{SAPPHO}place/', tgt) END AS p67_target
  FROM {{acts2}} WHERE family IN ('person_ref', 'place_ref')
  UNION ALL
  SELECT a.act, concat('{SAPPHO}person/', a.tgt) AS p67_target
  FROM {{acts3}} a
  LEFT SEMI JOIN {{charp}} c ON a.tgt = c.cq
  WHERE a.family = 'character'
  UNION ALL
  SELECT act, concat('{SAPPHO}expression/', tgt) AS p67_target
  FROM {{acts4}} WHERE family = 'work_ref'
)""",
        # feature nodes over the qualifying (family, tgt) set
        f"""SELECT {_emit_inline_sql(feat_node_rules())} FROM (
  SELECT {lab_hint('l')} f.family, f.tgt, coalesce(l.__lv, f.tgt) AS tlbl,
         concat('{SAPPHO}feature/', f.family, '/', f.tgt) AS feat_uri
  FROM (SELECT DISTINCT family, tgt FROM {{qfw2}}) f
  LEFT JOIN {{lab2}} l ON f.tgt = l.__lk
)""",
        # person nodes: person_ref targets ∪ person-typed character targets
        f"""SELECT {_emit_inline_sql(person_node_rules())} FROM (
  SELECT {lab_hint('l')} p.tgt, coalesce(l.__lv, p.tgt) AS tlbl FROM (
    SELECT DISTINCT tgt FROM {{qfw3}} WHERE family = 'person_ref'
    UNION
    SELECT t.tgt FROM (SELECT DISTINCT tgt FROM {{qfw4}}
                       WHERE family = 'character') t
    LEFT SEMI JOIN {{charp2}} c ON t.tgt = c.cq
  ) p LEFT JOIN {{lab3}} l ON p.tgt = l.__lk
)""",
        # person_ref feature nodes for person-characters
        f"""SELECT {_emit_inline_sql(charp_feat_rules())} FROM (
  SELECT {lab_hint('l')} t.tgt, coalesce(l.__lv, t.tgt) AS tlbl
  FROM (SELECT DISTINCT tgt FROM {{qfw5}} WHERE family = 'character') t
  LEFT SEMI JOIN {{charp3}} c ON t.tgt = c.cq
  LEFT JOIN {{lab4}} l ON t.tgt = l.__lk
)""",
        # place nodes
        f"""SELECT {_emit_inline_sql(place_node_rules())} FROM (
  SELECT {lab_hint('l')} t.tgt, coalesce(l.__lv, t.tgt) AS tlbl
  FROM (SELECT DISTINCT tgt FROM {{qfw6}} WHERE family = 'place_ref') t
  LEFT JOIN {{lab5}} l ON t.tgt = l.__lk
)""",
        # work_ref feature nodes — every target, no ≥2 gate
        f"""SELECT {_emit_inline_sql(workref_feat_rules())} FROM (
  SELECT {lab_hint('l')} t.tgt, coalesce(l.__lv, t.tgt) AS tlbl
  FROM (SELECT DISTINCT tgt FROM {{workref3}}) t
  LEFT JOIN {{lab6}} l ON t.tgt = l.__lk
)""",
        # expressions ensured across processors
        f"""SELECT {_emit_inline_sql(expr_rules())} FROM (
  SELECT {lab_hint('l')} u.q, coalesce(l.__lv, u.q) AS qlbl FROM (
    SELECT DISTINCT q FROM (
      SELECT w1 AS q FROM {{pairs2}} UNION ALL SELECT w2 FROM {{pairs3}}
      UNION ALL SELECT wa FROM {{int31b}} UNION ALL SELECT wb FROM {{int31c}}
      UNION ALL SELECT src FROM {{cite2}} UNION ALL SELECT tgt FROM {{cite3}}
      UNION ALL SELECT tgt FROM {{workref4}}
      UNION ALL SELECT work FROM {{workref5}} WHERE work <> tgt
    )
  ) u LEFT JOIN {{lab7}} l ON u.q = l.__lk
)""",
        # citation text passages (relations.py:795-816)
        f"""SELECT {_emit_inline_sql(tp_rules())} FROM (
  SELECT {lab_hint('ls', 'lt')} c.src, c.tgt,
         coalesce(ls.__lv, c.src) AS slbl, coalesce(lt.__lv, c.tgt) AS tlbl,
         concat('{SAPPHO}relation/', least(c.src, c.tgt), '_',
                greatest(c.src, c.tgt)) AS rel
  FROM {{cite4}} c
  LEFT JOIN {{lab8}} ls ON c.src = ls.__lk
  LEFT JOIN {{lab9}} lt ON c.tgt = lt.__lk
)""",
    ]
    # alignment block (relations.py:879-902) + header + ID-Type block
    consts = [(s, p, o, is_iri, lang, dtype)
              for (s, p, o, lang, dtype, is_iri)
              in sorted(relations_alignment_triples(),
                        key=lambda t: tuple("" if v is None else str(v)
                                            for v in t))]
    branches.append(_const_values_sql(consts))
    header = None
    if include_header:
        onto = SAPPHO + "ontology/relations"
        header = _const_values_sql([
            (onto, RDF_TYPE, "http://www.w3.org/2002/07/owl#Ontology"),
            (onto, "http://www.w3.org/2002/07/owl#imports", ECRM),
            (onto, "http://www.w3.org/2002/07/owl#imports", LRMOO_ONTO),
            (onto, "http://www.w3.org/2002/07/owl#imports", INTRO),
            (ID_TYPE, RDF_TYPE, ECRM + "E55_Type"),
            (ID_TYPE, RDFS_LABEL, "Wikidata ID", False, "en"),
            (ID_TYPE, OWL_SAMEAS, WD + "Q43649390"),
        ])
    query = _wrap("\nUNION ALL\n".join(branches), header, dedupe)
    return spark.sql(
        query,
        rels=rels, acts=acts, interp=interp_all, interp2=interp_all,
        interp3=interp_all, pairs=pairs, pairs2=pairs, pairs3=pairs,
        workref2=workref, workref3=workref, workref4=workref,
        workref5=workref, acts2=acts, acts3=acts, acts4=acts,
        charp=charp, charp2=charp, charp3=charp,
        qfw2=qfw, qfw3=qfw, qfw4=qfw, qfw5=qfw, qfw6=qfw,
        int31b=int31, int31c=int31, cite2=cite_kept, cite3=cite_kept,
        cite4=cite_kept, lab2=lab, lab3=lab, lab4=lab, lab5=lab, lab6=lab,
        lab7=lab, lab8=lab, lab9=lab,
    )
