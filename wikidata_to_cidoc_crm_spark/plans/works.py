"""Works stage — bibliographic WEMI stack (F1 Work → F2 Expression →
F3 Manifestation → F5 Item + the four creation events).

Behavioral spec: ``/root/reference/src/wiki2crm/works.py:333-552`` with the
SPARQL optionals at works.py:251-269. The reference iterates *binding rows*
(one per combination of multi-valued optionals); this engine reproduces that
multiplicity with per-property left joins — triple-set dedup restores set
semantics, so multi-valued attributes emit exactly the reference's triples.

Determinism/bug positions (SURVEY.md §4.4):
* works.py:398 title self-loop ``(title, P190i_is_content_of, title)`` is
  replicated as-is (it is in the golden outputs).
* ``pub_date`` is ``MIN(P577)`` per work (works.py:252) — the reference's
  GROUP BY keys make the min per-combination, which equals per-work.
* label-service columns resolve en→de→QID (WDQS semantics).
* ``fetch_label`` (works.py:285-305) requires a *de* label, falling back to
  "Untitled"@en — replicated via a de-label join.

Scale notes: every property join is an equi-join on the work QID. The
statement slices are filtered by pid *before* joining (scan-level pushdown);
on a cluster the statements table is bucketed by subject_qid so these joins
co-partition without re-shuffling; label joins broadcast (gated on the
label dimension's size, LABEL_BROADCAST_MAX). The stage compiles to one
``spark.sql`` statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..model import (
    ECRM,
    LRMOO,
    OWL_SAMEAS,
    PROV_DERIVED,
    RDF_TYPE,
    RDFS_LABEL,
    RDFS_SEEALSO,
    SAPPHO,
    XSD,
    Rule,
)
from .constants import works_header_triples
from .sql_stages import (
    EN,
    _const_values_sql,
    _emit_inline_sql,
    _q,
    _wrap,
    mint,
    wd_entity_uri,
)

XSD_GYEAR = XSD + "gYear"
ID_TYPE_WIKIDATA = SAPPHO + "id_type/wikidata"
GENRE_TYPE_WIKIDATA = SAPPHO + "genre_type/wikidata"
# works.py:399 — note /wiki/, not /entity/ (reference oddity, replicated)
WIKIDATA_ID_TYPE_SAMEAS = "http://www.wikidata.org/wiki/Q43649390"


_WORK_SLICES = [("P136", "genre_qid"), ("P50", "author_qid"),
                ("P291", "pub_place_qid"), ("P123", "publisher_qid"),
                ("P953", "digital_copy"), ("P98", "editor_qid"),
                ("P1433", "published_in"), ("P361", "part_of")]

_WORK_LABELS = [("qid", "work_label"), ("genre_qid", "genre_label"),
                ("author_qid", "author_label"), ("pub_place_qid", "pub_place_label"),
                ("publisher_qid", "publisher_label"), ("editor_qid", "editor_label")]


def work_rules() -> list[Rule]:
    work = mint("work", "qid")
    expr = mint("expression", "qid")
    wd_uri = wd_entity_uri("qid")
    rules = [
        # work core (works.py:361-364)
        Rule(work, RDF_TYPE, _q(LRMOO + "F1_Work"), ref="works.py:361"),
        Rule(work, RDFS_LABEL, "format_string('Work of %s', label)",
             obj_is_iri=False, lang=EN, ref="works.py:362"),
        Rule(work, LRMOO + "R3_is_realised_in", expr, ref="works.py:363"),
        Rule(expr, LRMOO + "R3i_realises", work, ref="works.py:364"),
    ]
    # work creation (works.py:367-372)
    wc = mint("work_creation", "qid")
    rules += [
        Rule(wc, RDF_TYPE, _q(LRMOO + "F27_Work_Creation"), ref="works.py:367"),
        Rule(wc, RDFS_LABEL, "format_string('Work creation of %s', label)",
             obj_is_iri=False, lang=EN, ref="works.py:368"),
        Rule(wc, LRMOO + "R16_created", work, ref="works.py:369"),
        Rule(work, LRMOO + "R16i_was_created_by", wc, ref="works.py:370"),
        Rule(wc, PROV_DERIVED, wd_uri, ref="works.py:371"),
    ]
    # author block (works.py:374-382)
    author = mint("person", "author_qid")
    rules += [
        Rule(wc, ECRM + "P14_carried_out_by", author, ref="works.py:376"),
        Rule(author, ECRM + "P14i_performed", wc, ref="works.py:377"),
        Rule(author, RDF_TYPE, _q(ECRM + "E21_Person"), ref="works.py:379"),
        Rule(author, RDFS_LABEL, "author_label", obj_is_iri=False,
             ref="works.py:380 (no lang tag)"),
        Rule(author, OWL_SAMEAS, wd_entity_uri("author_qid"), ref="works.py:381"),
    ]
    # expression core + identifier + id_type + title (works.py:385-403)
    ident = mint("identifier", "qid")
    id_type = _q(ID_TYPE_WIKIDATA)
    title = mint("title/expression", "qid")
    rules += [
        Rule(expr, RDF_TYPE, _q(LRMOO + "F2_Expression"), ref="works.py:385"),
        Rule(expr, RDFS_LABEL, "format_string('Expression of %s', label)",
             obj_is_iri=False, lang=EN, ref="works.py:386"),
        Rule(expr, ECRM + "P1_is_identified_by", ident, ref="works.py:388"),
        Rule(ident, ECRM + "P1i_identifies", expr, ref="works.py:389"),
        Rule(ident, RDF_TYPE, _q(ECRM + "E42_Identifier"), ref="works.py:390"),
        Rule(ident, RDFS_LABEL, "qid", obj_is_iri=False, ref="works.py:391"),
        Rule(ident, ECRM + "P2_has_type", id_type, ref="works.py:392"),
        Rule(id_type, ECRM + "P2i_is_type_of", ident, ref="works.py:393"),
        Rule(id_type, RDF_TYPE, _q(ECRM + "E55_Type"), ref="works.py:396"),
        Rule(id_type, RDFS_LABEL, _q("Wikidata ID"), obj_is_iri=False,
             lang=EN, ref="works.py:397"),
        Rule(id_type, OWL_SAMEAS, _q(WIKIDATA_ID_TYPE_SAMEAS), ref="works.py:398"),
        Rule(expr, ECRM + "P102_has_title", title, ref="works.py:400"),
        Rule(title, ECRM + "P102i_is_title_of", expr, ref="works.py:401"),
        Rule(title, RDF_TYPE, _q(ECRM + "E35_Title"), ref="works.py:402"),
        # reference self-loop bug replicated (SURVEY §4.4.2)
        Rule(title, ECRM + "P190i_is_content_of", title, ref="works.py:403"),
        Rule(expr, OWL_SAMEAS, wd_uri, ref="works.py:421"),
        Rule(expr, PROV_DERIVED, wd_uri, ref="works.py:422"),
    ]
    # genre block (works.py:405-419)
    genre = mint("genre", "genre_qid")
    gtype = _q(GENRE_TYPE_WIKIDATA)
    has_genre = "genre_qid IS NOT NULL"
    rules += [
        Rule(genre, RDF_TYPE, _q(ECRM + "E55_Type"), ref="works.py:410"),
        Rule(genre, RDFS_LABEL, "genre_label", obj_is_iri=False,
             lang=EN, ref="works.py:411"),
        Rule(genre, OWL_SAMEAS, wd_entity_uri("genre_qid"), ref="works.py:412"),
        Rule(genre, ECRM + "P2_has_type", gtype, ref="works.py:413"),
        Rule(gtype, ECRM + "P2i_is_type_of", genre, ref="works.py:414"),
        Rule(gtype, RDF_TYPE, _q(ECRM + "E55_Type"), cond=has_genre, ref="works.py:415"),
        Rule(gtype, RDFS_LABEL, _q("Wikidata Genre"), obj_is_iri=False,
             lang=EN, cond=has_genre, ref="works.py:416"),
        Rule(expr, ECRM + "P2_has_type", genre, ref="works.py:418"),
        Rule(genre, ECRM + "P2i_is_type_of", expr, ref="works.py:419"),
    ]
    # expression creation (works.py:425-436)
    ec = mint("expression_creation", "qid")
    rules += [
        Rule(ec, RDF_TYPE, _q(LRMOO + "F28_Expression_Creation"), ref="works.py:426"),
        Rule(ec, RDFS_LABEL, "format_string('Expression creation of %s', label)",
             obj_is_iri=False, lang=EN, ref="works.py:427"),
        Rule(ec, LRMOO + "R17_created", expr, ref="works.py:428"),
        Rule(expr, LRMOO + "R17i_was_created_by", ec, ref="works.py:429"),
        Rule(ec, LRMOO + "R19_created_a_realisation_of", work, ref="works.py:430"),
        Rule(work, LRMOO + "R19i_was_realised_through", ec, ref="works.py:431"),
        Rule(ec, PROV_DERIVED, wd_uri, ref="works.py:432"),
        # author carries out expression creation — direct only (works.py:435)
        Rule(ec, ECRM + "P14_carried_out_by", author, ref="works.py:435"),
    ]
    # creation timespan (works.py:437-446)
    cts = mint("timespan", "creation_year")
    rules += [
        Rule(cts, RDF_TYPE, _q(ECRM + "E52_Time-Span"), ref="works.py:441"),
        Rule(cts, RDFS_LABEL, "creation_year", obj_is_iri=False,
             dtype=XSD_GYEAR, ref="works.py:442"),
        Rule(ec, ECRM + "P4_has_time-span", cts, ref="works.py:444"),
        Rule(cts, ECRM + "P4i_is_time-span_of", ec, ref="works.py:445"),
    ]
    # manifestation + its title (works.py:449-467)
    manif = mint("manifestation", "qid")
    mtitle = mint("title/manifestation", "qid")
    mtstr = mint("title_string/manifestation", "qid")
    rules += [
        Rule(manif, RDF_TYPE, _q(LRMOO + "F3_Manifestation"), ref="works.py:450"),
        Rule(manif, RDFS_LABEL, "format_string('Manifestation of %s', label)",
             obj_is_iri=False, lang=EN, ref="works.py:451"),
        Rule(manif, LRMOO + "R4_embodies", expr, ref="works.py:452"),
        Rule(expr, LRMOO + "R4i_is_embodied_in", manif, ref="works.py:453"),
        Rule(manif, ECRM + "P102_has_title", mtitle, ref="works.py:463"),
        Rule(mtitle, ECRM + "P102i_is_title_of", manif, ref="works.py:464"),
        Rule(mtitle, RDF_TYPE, _q(ECRM + "E35_Title"), ref="works.py:465"),
        Rule(mtitle, ECRM + "P190_has_symbolic_content", mtstr, ref="works.py:466"),
        Rule(mtitle, RDFS_LABEL, "manif_label", obj_is_iri=False,
             lang="manif_lang", ref="works.py:467"),
    ]
    # manifestation creation (works.py:470-479)
    mc = mint("manifestation_creation", "qid")
    rules += [
        Rule(mc, RDF_TYPE, _q(LRMOO + "F30_Manifestation_Creation"), ref="works.py:472"),
        Rule(mc, RDFS_LABEL,
             "format_string('Manifestation creation of %s', label)",
             obj_is_iri=False, lang=EN, ref="works.py:473"),
        Rule(mc, LRMOO + "R24_created", manif, ref="works.py:474"),
        Rule(manif, LRMOO + "R24i_was_created_through", mc, ref="works.py:475"),
        Rule(mc, PROV_DERIVED, wd_uri, ref="works.py:476"),
        Rule(mc, ECRM + "P14_carried_out_by", author, ref="works.py:478"),
        Rule(author, ECRM + "P14i_performed", mc, ref="works.py:479"),
    ]
    # publisher (works.py:481-490)
    publisher = mint("publisher", "publisher_qid")
    rules += [
        Rule(publisher, RDF_TYPE, _q(ECRM + "E74_Group"), ref="works.py:486"),
        Rule(publisher, RDFS_LABEL, "publisher_label", obj_is_iri=False,
             lang=EN, ref="works.py:487"),
        Rule(publisher, OWL_SAMEAS, wd_entity_uri("publisher_qid"), ref="works.py:488"),
        Rule(mc, ECRM + "P14_carried_out_by", publisher, ref="works.py:489"),
        Rule(publisher, ECRM + "P14i_performed", mc, ref="works.py:490"),
    ]
    # publication timespan (works.py:492-501)
    pts = mint("timespan", "pub_year")
    rules += [
        Rule(pts, RDF_TYPE, _q(ECRM + "E52_Time-Span"), ref="works.py:497"),
        Rule(pts, RDFS_LABEL, "pub_year", obj_is_iri=False,
             dtype=XSD_GYEAR, ref="works.py:498"),
        Rule(mc, ECRM + "P4_has_time-span", pts, ref="works.py:500"),
        Rule(pts, ECRM + "P4i_is_time-span_of", mc, ref="works.py:501"),
    ]
    # publication place (works.py:503-512)
    pplace = mint("place", "pub_place_qid")
    rules += [
        Rule(pplace, RDF_TYPE, _q(ECRM + "E53_Place"), ref="works.py:508"),
        Rule(pplace, RDFS_LABEL, "pub_place_label", obj_is_iri=False,
             lang=EN, ref="works.py:509"),
        Rule(pplace, OWL_SAMEAS, wd_entity_uri("pub_place_qid"), ref="works.py:510"),
        Rule(mc, ECRM + "P7_took_place_at", pplace, ref="works.py:511"),
        Rule(pplace, ECRM + "P7i_witnessed", mc, ref="works.py:512"),
    ]
    # editor (works.py:514-530)
    editor = mint("person", "editor_qid")
    eid = mint("identifier", "editor_qid")
    rules += [
        Rule(editor, RDF_TYPE, _q(ECRM + "E21_Person"), ref="works.py:517"),
        Rule(editor, RDFS_LABEL, "editor_label", obj_is_iri=False,
             ref="works.py:518 (no lang tag)"),
        Rule(editor, OWL_SAMEAS, wd_entity_uri("editor_qid"), ref="works.py:519"),
        Rule(editor, ECRM + "P1_is_identified_by", eid, ref="works.py:522"),
        Rule(eid, ECRM + "P1i_identifies", editor, ref="works.py:523"),
        Rule(eid, RDF_TYPE, _q(ECRM + "E42_Identifier"), ref="works.py:524"),
        Rule(eid, RDFS_LABEL, "editor_qid", obj_is_iri=False, ref="works.py:525"),
        Rule(eid, ECRM + "P2_has_type", id_type, ref="works.py:526"),
        Rule(id_type, ECRM + "P2i_is_type_of", eid, ref="works.py:527"),
        Rule(mc, ECRM + "P14_carried_out_by", editor, ref="works.py:529"),
        Rule(editor, ECRM + "P14i_performed", mc, ref="works.py:530"),
    ]
    # item production + item (works.py:532-546)
    ip = mint("item_production", "qid")
    item = mint("item", "qid")
    rules += [
        Rule(ip, RDF_TYPE, _q(LRMOO + "F32_Item_Production_Event"), ref="works.py:535"),
        Rule(ip, RDFS_LABEL,
             "format_string('Item production event of %s', label)",
             obj_is_iri=False, lang=EN, ref="works.py:536"),
        Rule(ip, LRMOO + "R27_materialized", manif, ref="works.py:537"),
        Rule(manif, LRMOO + "R27i_was_materialized_by", ip, ref="works.py:538"),
        Rule(ip, LRMOO + "R28_produced", item, ref="works.py:539"),
        Rule(item, LRMOO + "R28i_was_produced_by", ip, ref="works.py:540"),
        Rule(item, RDF_TYPE, _q(LRMOO + "F5_Item"), ref="works.py:542"),
        Rule(item, RDFS_LABEL, "format_string('Item of %s', label)",
             obj_is_iri=False, lang=EN, ref="works.py:543"),
        Rule(item, LRMOO + "R7_exemplifies", manif, ref="works.py:544"),
        Rule(manif, LRMOO + "R7i_is_exemplified_by", item, ref="works.py:545"),
    ]
    # digital copy (works.py:548-554)
    digital = mint("digital", "qid")
    has_digital = "digital_copy IS NOT NULL"
    rules += [
        Rule(digital, RDF_TYPE, _q(ECRM + "E73_Information_Object"),
             cond=has_digital, ref="works.py:549"),
        Rule(digital, RDFS_LABEL, "format_string('Digital copy of %s', label)",
             obj_is_iri=False, lang=EN, cond=has_digital, ref="works.py:550"),
        Rule(digital, ECRM + "P138_represents", expr, cond=has_digital,
             ref="works.py:551"),
        Rule(expr, ECRM + "P138i_has_representation", digital,
             cond=has_digital, ref="works.py:552"),
        Rule(digital, RDFS_SEEALSO, "digital_copy", cond=has_digital,
             ref="works.py:553"),
    ]
    return rules


def works_stage(
    spark: SparkSession,
    work_qids: DataFrame,
    statements: DataFrame,
    labels: DataFrame,
    include_header: bool = True,
    dedupe: bool = True,
    broadcast_labels: bool | None = None,
) -> DataFrame:
    from .relations import LABEL_BROADCAST_MAX

    if broadcast_labels is None:
        broadcast_labels = labels.count() <= LABEL_BROADCAST_MAX
    emit = _emit_inline_sql(work_rules())
    header = _const_values_sql(sorted(works_header_triples())) \
        if include_header else None

    slice_ctes = ",\n".join(
        f"sl_{pid} AS (SELECT subject_qid AS qid, object_value AS v "
        f"FROM stmts WHERE pid = '{pid}')"
        for pid, _ in _WORK_SLICES)
    slice_joins = "\n  ".join(
        f"LEFT JOIN sl_{pid} {pid.lower()} ON {pid.lower()}.qid = w.qid"
        for pid, _ in _WORK_SLICES)
    svc_keys = ["w.qid", "p136.v", "p50.v", "p291.v", "p123.v", "p98.v"]
    svc_joins = "\n  ".join(
        f"LEFT JOIN svc s{i} ON s{i}._lq = {key}"
        for i, key in enumerate(svc_keys))
    svc_cols = ",\n    ".join(
        # label-service en→de→key fallback; the work's own label falls back
        # to its qid (works.py label service always returns a value)
        f"coalesce(s{i}._len, s{i}._lde, {key}) AS {out}"
        for i, (key, (_, out)) in enumerate(zip(svc_keys, _WORK_LABELS)))
    if broadcast_labels:
        bl = ", ".join([f"BROADCAST(s{i})" for i in range(6)]
                       + ["BROADCAST(d1)", "BROADCAST(d2)"])
        hint = f"/*+ {bl} */ "
    else:
        hint = ""

    # reference parity of the CTEs: title_* = P1476 by language
    # (works.py:254-255); pub = MIN(P577) per work (works.py:252); creation =
    # P571 ∪ P2754, multiplicity kept (works.py:265); svc = label service
    # en→de→QID; dl = fetch_label's required de label, else "Untitled"@en
    # (works.py:285-305); label/label_lang = label_for (works.py:308-316);
    # manif_* = manifestation label (works.py:318-330, override 452-462).
    # work-QID membership broadcasts unconditionally (dimension-bounded,
    # same rule as relations' in_W) so the statements scan never shuffles
    # for the semi join — the inlined stmts copies each stay map-side.
    query = _wrap(f"""
WITH stmts AS (
  SELECT /*+ BROADCAST(wq) */ subject_qid, pid, object_value
  FROM {{statements}}
  LEFT SEMI JOIN {{works2}} wq ON subject_qid = wq.qid
),
title_de AS (SELECT subject_qid AS qid, object_value AS v FROM {{statements}}
             WHERE pid = 'P1476' AND object_lang = 'de'),
title_en AS (SELECT subject_qid AS qid, object_value AS v FROM {{statements}}
             WHERE pid = 'P1476' AND object_lang = 'en'),
{slice_ctes},
pub AS (SELECT subject_qid AS qid, min(object_value) AS pub_date_raw
        FROM stmts WHERE pid = 'P577' GROUP BY subject_qid),
creation AS (SELECT subject_qid AS qid, object_value AS creation_date_raw
             FROM stmts WHERE pid IN ('P571', 'P2754')),
svc AS (SELECT qid AS _lq,
               min(CASE WHEN lang = 'en' THEN label END) AS _len,
               min(CASE WHEN lang = 'de' THEN label END) AS _lde
        FROM {{labels}} GROUP BY qid),
dl AS (SELECT qid AS _dq, label AS _dl FROM {{labels}} WHERE lang = 'de'),
joined AS (
  SELECT {hint}
    w.qid, td.v AS title_de, te.v AS title_en,
    p136.v AS genre_qid, p50.v AS author_qid, p291.v AS pub_place_qid,
    p123.v AS publisher_qid, p953.v AS digital_copy, p98.v AS editor_qid,
    p1433.v AS published_in, p361.v AS part_of,
    pub.pub_date_raw, cr.creation_date_raw,
    {svc_cols},
    d1._dl AS published_in_de, d2._dl AS part_of_de
  FROM {{works}} w
  LEFT JOIN title_de td ON td.qid = w.qid
  LEFT JOIN title_en te ON te.qid = w.qid
  {slice_joins}
  LEFT JOIN pub ON pub.qid = w.qid
  LEFT JOIN creation cr ON cr.qid = w.qid
  {svc_joins}
  LEFT JOIN dl d1 ON d1._dq = p1433.v
  LEFT JOIN dl d2 ON d2._dq = p361.v
),
wide AS (
  SELECT *,
    coalesce(title_de, title_en, work_label, 'Untitled') AS label,
    CASE WHEN title_de IS NOT NULL THEN 'de'
         WHEN title_en IS NOT NULL THEN 'en'
         WHEN work_label IS NOT NULL THEN 'de'
         ELSE 'en' END AS label_lang,
    substring(creation_date_raw, 1, 4) AS creation_year,
    substring(pub_date_raw, 1, 4) AS pub_year
  FROM joined
),
wide2 AS (
  SELECT *,
    CASE WHEN published_in IS NOT NULL THEN coalesce(published_in_de, 'Untitled')
         WHEN part_of IS NOT NULL THEN coalesce(part_of_de, 'Untitled')
         ELSE label END AS manif_label,
    CASE WHEN published_in IS NOT NULL
           THEN (CASE WHEN published_in_de IS NOT NULL THEN 'de' ELSE 'en' END)
         WHEN part_of IS NOT NULL
           THEN (CASE WHEN part_of_de IS NOT NULL THEN 'de' ELSE 'en' END)
         ELSE label_lang END AS manif_lang
  FROM wide
)
SELECT {emit} FROM wide2""", header, dedupe)
    return spark.sql(query, statements=statements, works=work_qids,
                     works2=work_qids, labels=labels)
