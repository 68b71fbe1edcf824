"""Authors stage — biographical CIDOC-CRM sub-graph.

Behavioral spec: ``/root/reference/src/wiki2crm/authors.py:254-363``
(``process_authors``); SPARQL optionals at authors.py:190-198. The
reference loops per QID and row; here it is one declarative plan:

    person QIDs ⟕ pivoted statements ⟕ labels → wide author rows
      → rule-driven triple fan-out (sql_stages._emit_inline_sql)
      → union constant header → DISTINCT

Determinism decision (SURVEY.md §4.4.7 / §2.4 A5): the reference keeps the
*first* SPARQL binding per person (arrival order — non-deterministic); this
engine takes the per-attribute ``min`` instead, a documented divergence.

Known reference bug honored as *intended* semantics (SURVEY.md §4.4.1):
authors.py:362-363 references an undefined ``visual_item_uri_uri`` — the
intended triples (seeAlso + wasDerivedFrom on ``visual_item/{qid}``, per
README.md:269-273) are emitted here.

Scale notes: statements are filtered to 6 pids *before* the pivot
(predicate pushdown to the parquet scan), the pivot is a single hash
aggregate keyed by subject QID, and label joins broadcast the dimension
(gated on its size, LABEL_BROADCAST_MAX). The person-QID side may be huge
(every person linked in 10^12 docs) — it shuffles only for the final
dedup. The stage compiles to one ``spark.sql`` statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..model import (
    ECRM,
    OWL_SAMEAS,
    PROV_DERIVED,
    RDF_TYPE,
    RDFS_LABEL,
    RDFS_SEEALSO,
    SAPPHO,
    XSD,
    Rule,
)
from .sql_stages import (
    EN,
    _const_values_sql,
    _emit_inline_sql,
    _q,
    _wrap,
    mint,
    timespan_uri,
    wd_entity_uri,
)

AUTHOR_PIDS = ["P21", "P19", "P20", "P569", "P570", "P18"]
XSD_DATE = XSD + "date"
ID_TYPE_WIKIDATA = SAPPHO + "id_type/wikidata"
GENDER_TYPE_WIKIDATA = SAPPHO + "gender_type/wikidata"


def _event_rules(kind: str, date_col: str, place_qid: str, place_label: str,
                 cls: str, inverse_prop: str, direct_prop: str) -> list[Rule]:
    """Birth/death block (authors.py:299-335). Event exists iff date or place."""
    person = mint("person", "qid")
    event = mint(kind, "qid")
    has_event = f"{date_col} IS NOT NULL OR {place_qid} IS NOT NULL"
    ts = timespan_uri(date_col)
    place = mint("place", place_qid)
    ref = "authors.py:299-335"
    return [
        Rule(person, ECRM + inverse_prop, event, cond=has_event, ref=ref),
        Rule(event, ECRM + direct_prop, person, cond=has_event, ref=ref),
        Rule(event, RDF_TYPE, _q(ECRM + cls), cond=has_event, ref=ref),
        Rule(event, RDFS_LABEL,
             f"format_string({_q(kind.capitalize() + ' of %s')}, label)",
             obj_is_iri=False, lang=EN, cond=has_event, ref="authors.py:309"),
        Rule(event, PROV_DERIVED, wd_entity_uri("qid"), cond=has_event,
             ref="authors.py:310"),
        # timespan (authors.py:313-321)
        Rule(ts, RDF_TYPE, _q(ECRM + "E52_Time-Span"), ref="authors.py:316"),
        Rule(ts, RDFS_LABEL, date_col, obj_is_iri=False,
             dtype=XSD_DATE, ref="authors.py:317"),
        Rule(event, ECRM + "P4_has_time-span", ts, ref="authors.py:319"),
        Rule(ts, ECRM + "P4i_is_time-span_of", event, ref="authors.py:320"),
        # place (authors.py:323-334)
        Rule(event, ECRM + "P7_took_place_at", place, ref="authors.py:327"),
        Rule(place, ECRM + "P7i_witnessed", event, ref="authors.py:328"),
        Rule(place, RDF_TYPE, _q(ECRM + "E53_Place"), ref="authors.py:329"),
        Rule(place, OWL_SAMEAS, wd_entity_uri(place_qid), ref="authors.py:330"),
        Rule(place, RDFS_LABEL, place_label, obj_is_iri=False,
             lang=EN, ref="authors.py:332-334"),
    ]


def author_rules() -> list[Rule]:
    person = mint("person", "qid")
    identifier = mint("identifier", "qid")
    id_type = _q(ID_TYPE_WIKIDATA)
    rules = [
        # person core (authors.py:281-293)
        Rule(person, RDF_TYPE, _q(ECRM + "E21_Person"), ref="authors.py:281"),
        Rule(person, OWL_SAMEAS, wd_entity_uri("qid"), ref="authors.py:282"),
        Rule(person, RDFS_LABEL, "label", obj_is_iri=False, lang=EN,
             ref="authors.py:283"),
        Rule(person, ECRM + "P1_is_identified_by", identifier, ref="authors.py:285"),
        Rule(identifier, ECRM + "P1i_identifies", person, ref="authors.py:286"),
        Rule(identifier, RDF_TYPE, _q(ECRM + "E42_Identifier"), ref="authors.py:287"),
        Rule(identifier, RDFS_LABEL, "qid", obj_is_iri=False,
             ref="authors.py:288"),
        Rule(identifier, ECRM + "P2_has_type", id_type, ref="authors.py:289"),
        Rule(id_type, ECRM + "P2i_is_type_of", identifier, ref="authors.py:290"),
        Rule(id_type, RDF_TYPE, _q(ECRM + "E55_Type"), ref="authors.py:291"),
        Rule(id_type, RDFS_LABEL, _q("Wikidata ID"), obj_is_iri=False,
             lang=EN, ref="authors.py:292"),
    ]
    rules += _event_rules("birth", "birth_date", "birth_place_qid",
                          "birth_place_label", "E67_Birth",
                          "P98i_was_born", "P98_brought_into_life")
    rules += _event_rules("death", "death_date", "death_place_qid",
                          "death_place_label", "E69_Death",
                          "P100i_died_in", "P100_was_death_of")

    # gender block (authors.py:337-355) — requires gender AND genderLabel
    has_gender = "gender_qid IS NOT NULL AND gender_label IS NOT NULL"
    gender = mint("gender", "gender_qid")
    gtype = _q(GENDER_TYPE_WIKIDATA)
    rules += [
        Rule(gender, RDF_TYPE, _q(ECRM + "E55_Type"), cond=has_gender,
             ref="authors.py:341"),
        Rule(gender, RDFS_LABEL, "gender_label", obj_is_iri=False,
             lang=EN, cond=has_gender, ref="authors.py:342"),
        Rule(gender, OWL_SAMEAS, wd_entity_uri("gender_qid"), cond=has_gender,
             ref="authors.py:343"),
        Rule(gender, ECRM + "P2_has_type", gtype, cond=has_gender, ref="authors.py:344"),
        Rule(gtype, ECRM + "P2i_is_type_of", gender, cond=has_gender, ref="authors.py:345-349"),
        Rule(gtype, RDF_TYPE, _q(ECRM + "E55_Type"), cond=has_gender,
             ref="authors.py:351"),
        Rule(gtype, RDFS_LABEL, _q("Wikidata Gender"), obj_is_iri=False,
             lang=EN, cond=has_gender, ref="authors.py:352"),
        Rule(person, ECRM + "P2_has_type", gender,
             cond=has_gender, ref="authors.py:354"),
        Rule(gender, ECRM + "P2i_is_type_of", person,
             cond=has_gender, ref="authors.py:355"),
    ]

    # image block (authors.py:357-363; intended semantics per SURVEY §4.4.1)
    has_image = "image_url IS NOT NULL"
    visual = mint("visual_item", "qid")
    rules += [
        Rule(visual, RDF_TYPE, _q(ECRM + "E36_Visual_Item"), cond=has_image,
             ref="authors.py:359"),
        Rule(visual, RDFS_LABEL,
             "format_string('Visual representation of %s', label)",
             obj_is_iri=False, lang=EN, cond=has_image, ref="authors.py:360"),
        Rule(visual, ECRM + "P138_represents", person, cond=has_image,
             ref="authors.py:361"),
        Rule(person, ECRM + "P138i_has_representation", visual, cond=has_image,
             ref="authors.py:361"),
        Rule(visual, RDFS_SEEALSO, "image_url", cond=has_image,
             ref="authors.py:362 (intended)"),
        Rule(visual, PROV_DERIVED, wd_entity_uri("qid"), cond=has_image,
             ref="authors.py:363 (intended)"),
    ]
    return rules


def authors_stage(
    spark: SparkSession,
    person_qids: DataFrame,
    statements: DataFrame,
    labels: DataFrame,
    include_header: bool = True,
    dedupe: bool = True,
    broadcast_labels: bool | None = None,
) -> DataFrame:
    from ..oracle import authors_header_triples
    from .relations import LABEL_BROADCAST_MAX

    if broadcast_labels is None:
        broadcast_labels = labels.count() <= LABEL_BROADCAST_MAX
    hint = ("/*+ BROADCAST(l0), BROADCAST(l1), BROADCAST(l2), BROADCAST(l3) */ "
            if broadcast_labels else "")
    emit = _emit_inline_sql(author_rules())
    header = _const_values_sql(sorted(
        (s, p, o, ii, lang, dt)
        for (s, p, o, lang, dt, ii) in authors_header_triples()
    )) if include_header else None

    pin = ",".join(f"'{p}'" for p in AUTHOR_PIDS)
    piv_cols = ",\n    ".join(
        f"min(CASE WHEN pid = '{p}' THEN object_value END) AS {p}"
        for p in AUTHOR_PIDS)
    # piv keeps the per-attribute min (deterministic first binding, SURVEY
    # §2.4 A5); wide applies the label fallback (authors.py:273-275) and
    # format_date's split('T')[0] (authors.py:251-252).
    # the person-QID side is bounded by the entity dimension (linked_qids
    # semi-joins against wd_entities), so it broadcasts unconditionally —
    # same membership-broadcast rule as relations' in_W. This keeps the
    # statements scan shuffle-free through the semi join.
    query = _wrap(f"""
WITH stmts AS (
  SELECT /*+ BROADCAST(pq) */ subject_qid, pid, object_value
  FROM {{statements}}
  LEFT SEMI JOIN {{persons2}} pq ON subject_qid = pq.qid
  WHERE pid IN ({pin})
),
piv AS (
  SELECT subject_qid AS qid,
    {piv_cols}
  FROM stmts GROUP BY subject_qid
),
lab_en AS (SELECT qid AS _lqid, label AS _label FROM {{labels}} WHERE lang = 'en'),
joined AS (
  SELECT {hint}
    p.qid, piv.P21, piv.P19, piv.P20, piv.P569, piv.P570, piv.P18,
    l0._label AS item_label, l1._label AS gender_label,
    l2._label AS birth_place_label, l3._label AS death_place_label
  FROM {{persons}} p
  LEFT JOIN piv ON piv.qid = p.qid
  LEFT JOIN lab_en l0 ON p.qid = l0._lqid
  LEFT JOIN lab_en l1 ON piv.P21 = l1._lqid
  LEFT JOIN lab_en l2 ON piv.P19 = l2._lqid
  LEFT JOIN lab_en l3 ON piv.P20 = l3._lqid
),
wide AS (
  SELECT qid,
    coalesce(item_label, format_string('Unknown (%s)', qid)) AS label,
    P21 AS gender_qid, gender_label,
    substring_index(P569, 'T', 1) AS birth_date,
    substring_index(P570, 'T', 1) AS death_date,
    P19 AS birth_place_qid, birth_place_label,
    P20 AS death_place_qid, death_place_label,
    P18 AS image_url
  FROM joined
)
SELECT {emit} FROM wide""", header, dedupe)
    return spark.sql(query, statements=statements, persons=person_qids,
                     persons2=person_qids, labels=labels)
