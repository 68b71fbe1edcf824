"""Canonicalization stage: MinHash-LSH blocking + connected components
merge duplicate entities and rewrite the graph consistently."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikidata_to_cidoc_crm_spark.model import ECRM, OWL_SAMEAS, RDF_TYPE, RDFS_LABEL, TRIPLE_SCHEMA
from wikidata_to_cidoc_crm_spark.plans.canonicalize import canonical_map, canonicalize_stage

P = ECRM + "E21_Person"
KNOWS = "http://example.org/knows"
NOTE = "http://example.org/note"


def _graph(spark):
    rows = [
        # two spellings of the same person (exact dup labels) + a distinct one
        ("p/Q1", RDF_TYPE, P, True, None, None),
        ("p/Q1", RDFS_LABEL, "Karoline von Guenderrode", False, "en", None),
        ("p/Q2", RDF_TYPE, P, True, None, None),
        ("p/Q2", RDFS_LABEL, "Karoline von Guenderrode", False, "en", None),
        ("p/Q3", RDF_TYPE, P, True, None, None),
        ("p/Q3", RDFS_LABEL, "Bettina von Arnim", False, "en", None),
        # an edge that points at the duplicate
        ("p/Q3", KNOWS, "p/Q2", True, None, None),
        # a literal that merely spells the duplicate's URI
        ("p/Q3", NOTE, "p/Q2", False, None, None),
    ]
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def test_canonical_map_clusters_duplicates(spark):
    cmap = {(r["uri"], r["canonical"]) for r in
            canonical_map(_graph(spark), [P], threshold=0.9).collect()}
    assert cmap == {("p/Q2", "p/Q1")}


def test_canonicalize_rewrites_and_links(spark):
    out = canonicalize_stage(spark, _graph(spark), [P])
    triples = {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}
    assert ("p/Q3", KNOWS, "p/Q1") in triples        # object rewritten
    assert ("p/Q3", KNOWS, "p/Q2") not in triples
    assert ("p/Q1", OWL_SAMEAS, "p/Q2") in triples   # merge recorded
    assert not any(s == "p/Q2" for s, _, _ in triples)  # subject rewritten
    rows = [tuple(r) for r in out.collect()]
    # a literal object is never rewritten, and survives the dedup
    assert rows.count(("p/Q3", NOTE, "p/Q2", False, None, None)) == 1
    assert ("p/Q3", NOTE, "p/Q1") not in triples


def test_canonicalize_noop_without_duplicates(spark, world, dims):
    from wikidata_to_cidoc_crm_spark.model import triples_to_python_set
    from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage

    qids = spark.createDataFrame([(p["qid"],) for p in world.persons[:6]], "qid string")
    g = authors_stage(spark, qids, dims["wd_statements"], dims["wd_labels"])
    before = triples_to_python_set(g)
    after = triples_to_python_set(canonicalize_stage(spark, g))
    assert before == after
