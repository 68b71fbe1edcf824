"""Constant triple blocks (ontology headers + alignment axioms).

Mirrors the reference's ``create_graph``/``build_graph`` static emissions:
authors.py:148-179, works.py:159-231. These are O(1)-sized and unioned
into each stage's output as a VALUES block.
"""

from __future__ import annotations

from ..model import (
    CRM,
    ECRM,
    EFRBROO,
    FRBROO,
    LRMOO,
    LRMOO_ONTO,
    OWL,
    RDF_TYPE,
    SAPPHO,
)

OWL_ONTOLOGY = OWL + "Ontology"
OWL_IMPORTS = OWL + "imports"
OWL_EQ_CLASS = OWL + "equivalentClass"
OWL_EQ_PROP = OWL + "equivalentProperty"
OWL_INVERSE = OWL + "inverseOf"

# authors.py:153-156: ontology node
# authors.py:158-165: class equivalences; authors.py:167-179: property axioms
AUTHOR_CLASSES = [
    "E21_Person", "E67_Birth", "E69_Death", "E52_Time-Span", "E53_Place",
    "E36_Visual_Item", "E55_Type", "E42_Identifier",
]
AUTHOR_PROPS = [
    ("P1_is_identified_by", "P1i_identifies"),
    ("P2_has_type", "P2i_is_type_of"),
    ("P4_has_time-span", "P4i_is_time-span_of"),
    ("P7_took_place_at", "P7i_witnessed"),
    ("P65_shows_visual_item", "P65i_is_shown_by"),
    ("P98_brought_into_life", "P98i_was_born"),
    ("P100_was_death_of", "P100i_died_in"),
    ("P138_represents", "P138i_has_representation"),
]


def _equivalence_block(classes, props, ecrm_ns=ECRM, crm_ns=CRM):
    triples = []
    for cls in classes:
        triples.append((ecrm_ns + cls, OWL_EQ_CLASS, crm_ns + cls))
    for direct, inverse in props:
        triples.append((ecrm_ns + direct, OWL_INVERSE, ecrm_ns + inverse))
        triples.append((ecrm_ns + direct, OWL_EQ_PROP, crm_ns + direct))
        triples.append((ecrm_ns + inverse, OWL_INVERSE, ecrm_ns + direct))
        triples.append((ecrm_ns + inverse, OWL_EQ_PROP, crm_ns + inverse))
    return triples


# works.py:160-233 — ontology node, eCRM↔CRM class/property equivalences,
# LRMoo↔FRBRoo/eFRBRoo class equivalences, LRMoo property inverse/equiv axioms
WORK_ECRM_CLASSES = [
    "E21_Person", "E35_Title", "E42_Identifier", "E52_Time-Span",
    "E53_Place", "E55_Type", "E73_Information_Object", "E74_Group",
]
WORK_ECRM_PROPS = [
    ("P1_is_identified_by", "P1i_identifies"),
    ("P2_has_type", "P2i_is_type_of"),
    ("P4_has_time-span", "P4i_is_time-span_of"),
    ("P7_took_place_at", "P7i_witnessed"),
    ("P14_carried_out_by", "P14i_performed"),
    ("P102_has_title", "P102i_is_title_of"),
    ("P138_represents", "P138i_has_representation"),
    ("P190_has_symbolic_content", "P190i_is_content_of"),
]
WORK_LRMOO_CLASSES = [
    ("F1_Work", "F1_Work"),
    ("F2_Expression", "F2_Expression"),
    ("F3_Manifestation", "F3_Manifestation_Product_Type"),
    ("F5_Item", "F5_Item"),
    ("F27_Work_Creation", "F27_Work_Conception"),
    ("F28_Expression_Creation", "F28_Expression_Creation"),
    ("F30_Manifestation_Creation", "F30_Publication_Event"),
    ("F32_Item_Production_Event", "F32_Carrier_Production_Event"),
]
# (lrm_direct, lrm_inverse, frbr_direct, frbr_inverse) — works.py:216-226
WORK_LRMOO_PROPS = [
    ("R3_is_realised_in", "R3i_realises", "R3_is_realised_in", "R3i_realises"),
    ("R4_embodies", "R4i_is_embodied_in", "R4i_comprises_carriers_of", "R4_carriers_provided_by"),
    ("R7_exemplifies", "R7i_is_exemplified_by", "R7_is_example_of", "R7i_has_example"),
    ("R16_created", "R16i_was_created_by", "R16_initiated", "R16i_was_initiated_by"),
    ("R17_created", "R17i_was_created_by", "R17_created", "R17i_was_created_by"),
    ("R19_created_a_realisation_of", "R19i_was_realised_through",
     "R19_created_a_realisation_of", "R19i_was_realised_through"),
    ("R24_created", "R24i_was_created_through", "R24_created", "R24i_was_created_through"),
    ("R27_materialized", "R27i_was_materialized_by",
     "R27_used_as_source_material", "R27i_was_used_by"),
    ("R28_produced", "R28i_was_produced_by", "R28_produced", "R28i_was_produced_by"),
]


def works_header_triples() -> list[tuple]:
    onto = SAPPHO + "ontology/works"
    triples = [
        (onto, RDF_TYPE, OWL_ONTOLOGY),
        (onto, OWL_IMPORTS, ECRM),
        (onto, OWL_IMPORTS, LRMOO_ONTO),
    ]
    triples += _equivalence_block(WORK_ECRM_CLASSES, WORK_ECRM_PROPS)
    for lrm, frbr in WORK_LRMOO_CLASSES:
        triples.append((LRMOO + lrm, OWL_EQ_CLASS, FRBROO + frbr))
        triples.append((LRMOO + lrm, OWL_EQ_CLASS, EFRBROO + frbr))
    for lr_d, lr_i, fr_d, fr_i in WORK_LRMOO_PROPS:
        triples.append((LRMOO + lr_d, OWL_INVERSE, LRMOO + lr_i))
        triples.append((LRMOO + lr_i, OWL_INVERSE, LRMOO + lr_d))
        triples.append((LRMOO + lr_d, OWL_EQ_PROP, FRBROO + fr_d))
        triples.append((LRMOO + lr_d, OWL_EQ_PROP, EFRBROO + fr_d))
        triples.append((LRMOO + lr_i, OWL_EQ_PROP, FRBROO + fr_i))
        triples.append((LRMOO + lr_i, OWL_EQ_PROP, EFRBROO + fr_i))
    return triples
