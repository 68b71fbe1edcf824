"""Canonical triple model + the declarative triple-emission rule.

The reference accumulates triples into an in-memory rdflib ``Graph``
(set semantics, row-at-a-time ``g.add`` calls — e.g.
``/root/reference/src/wiki2crm/authors.py:282-293``). The Spark engine
replaces that with:

* one canonical triple DataFrame schema ``(subj, pred, obj, obj_is_iri,
  lang, dtype)`` (SURVEY.md §1.2),
* a declarative :class:`Rule` table per mapping stage — one rule per
  reference ``g.add`` line, its terms written as SQL expression text —
  assembled by ``plans/sql_stages.py`` into a single
  ``inline(array_compact(array(...)))`` projection, i.e. a generated
  *triple fan-out* that stays entirely inside whole-stage codegen
  (SURVEY.md §2.2 P13),
* set semantics restored by a DISTINCT on the full triple key.

Scale notes: the emission projection is narrow (strings only), shuffles
nothing by itself, and the dedup shuffle is keyed on the full triple so it
is uniformly distributed even when subjects are skewed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --- Namespaces (behavioral parity: authors.py:33-40, works.py:34-43,
#     relations.py:35-46, map_and_align.py:23-46) ---
CRM = "http://www.cidoc-crm.org/cidoc-crm/"
ECRM = "http://erlangen-crm.org/current/"
LRMOO = "http://iflastandards.info/ns/lrm/lrmoo/"
# owl:imports target used by the reference's ontology headers
# (works.py:38, relations.py:41, merge.py:21)
LRMOO_ONTO = "https://cidoc-crm.org/extensions/lrmoo/owl/1.0/LRMoo_v1.0.owl"
FRBROO = "http://iflastandards.info/ns/fr/frbr/frbroo/"
EFRBROO = "http://erlangen-crm.org/efrbroo/"
INTRO = "https://w3id.org/lso/intro/currentbeta#"
PROV = "http://www.w3.org/ns/prov#"
SKOS = "http://www.w3.org/2004/02/skos/core#"
WD = "http://www.wikidata.org/entity/"
SAPPHO = "https://sappho-digital.com/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
XSD = "http://www.w3.org/2001/XMLSchema#"

RDF_TYPE = RDF + "type"
RDFS_LABEL = RDFS + "label"
RDFS_SEEALSO = RDFS + "seeAlso"
OWL_SAMEAS = OWL + "sameAs"
PROV_DERIVED = PROV + "wasDerivedFrom"

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_is_iri", T.BooleanType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("dtype", T.StringType(), True),
    ]
)


def ecrm(term: str) -> str:
    return ECRM + term


def lrmoo(term: str) -> str:
    return LRMOO + term


def intro(term: str) -> str:
    return INTRO + term


@dataclass(frozen=True)
class Rule:
    """One triple-emission rule ≙ one ``g.add`` call in the reference.

    ``subj``, ``obj``, ``lang`` and ``cond`` are SQL expression text over
    the stage's wide entity rows: a column name such as ``label``, an
    expression built by ``sql_stages.mint``, or a constant quoted with
    ``sql_stages._q`` (works.py:468 uses a data-dependent lang column).
    ``cond`` adds an emission predicate beyond the implicit subj/obj
    non-null check. ``pred`` and ``dtype`` are constant IRIs. ``ref``
    cites the reference line implemented, for parity audits.
    """

    subj: str
    pred: str
    obj: str
    obj_is_iri: bool = True
    lang: str | None = None
    dtype: str | None = None
    cond: str | None = None
    ref: str = ""


def triples_to_python_set(df: DataFrame, max_rows: int = 1_000_000) -> set[tuple]:
    """Test-scale helper: collect to a comparable set of 6-tuples
    ``(subj, pred, obj, lang, dtype, obj_is_iri)`` — the IRI/literal flag is
    part of term identity, so golden comparisons catch IRI-vs-literal drift.

    Guarded like linking.py's surface collect: a misrouted production-scale
    graph must fail loudly here instead of OOMing the driver."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"triples_to_python_set: refusing to collect {n} rows "
            f"(> {max_rows}); this helper is for test-scale graphs only")
    return {
        (r["subj"], r["pred"], r["obj"], r["lang"], r["dtype"], bool(r["obj_is_iri"]))
        for r in df.select("subj", "pred", "obj", "lang", "dtype", "obj_is_iri").collect()
    }
