"""Parity against the reference's SHIPPED golden output
(/root/reference/examples/outputs/authors.ttl, the 1-QID example for
Q469571 'Anna Louisa Karsch') — the strongest external anchor available:
the engine must reproduce the reference's actual published triples from
equivalent input statements."""

from __future__ import annotations

import os

import pytest

from wikidata_to_cidoc_crm_spark.fixtures import LABEL_SCHEMA, STATEMENT_SCHEMA
from wikidata_to_cidoc_crm_spark.model import triples_to_python_set
from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage
from wikidata_to_cidoc_crm_spark.sources.ttl import parse_ttl_file

GOLDEN = "/root/reference/examples/outputs/authors.ttl"

# the reference checkout is not part of this repository; without it these
# parity checks cannot run (the oracles and DuckDB twins still pin the stages)
pytestmark = pytest.mark.skipif(
    not os.path.isdir(os.path.dirname(GOLDEN)),
    reason=f"reference golden outputs absent: {os.path.dirname(GOLDEN)}")

# the Wikidata facts behind the example (reverse-read from the golden file;
# equivalently what the authors SPARQL at authors.py:187-200 returns)
Q = "Q469571"
STATEMENTS = [
    (Q, "P21", "Q6581072", True, None),
    (Q, "P569", "1722-12-01T00:00:00Z", False, None),
    (Q, "P570", "1791-10-12T00:00:00Z", False, None),
    (Q, "P19", "Q659063", True, None),
    (Q, "P20", "Q64", True, None),
    (Q, "P18",
     "http://commons.wikimedia.org/wiki/Special:FilePath/Karschin%20bild.JPG",
     False, None),
]
LABELS = [
    (Q, "en", "Anna Louisa Karsch"),
    ("Q64", "en", "Berlin"),
    ("Q659063", "en", "Gmina Skąpe"),
    ("Q6581072", "en", "female"),
]


WQ = "Q1242002"
WORK_STATEMENTS = [
    (WQ, "P1476", "Sappho", False, "de"),
    (WQ, "P136", "Q80930", True, None),
    (WQ, "P50", "Q154438", True, None),
    (WQ, "P577", "1819-01-01T00:00:00Z", False, None),
    (WQ, "P571", "1817-01-01T00:00:00Z", False, None),
    (WQ, "P291", "Q1741", True, None),
    (WQ, "P123", "Q133849481", True, None),
    (WQ, "P953", "http://www.zeno.org/nid/20004898184", False, None),
]
WORK_LABELS = [
    (WQ, "en", "Sappho"),
    ("Q80930", "en", "tragedy"),
    ("Q154438", "en", "Franz Grillparzer"),
    ("Q1741", "en", "Vienna"),
    ("Q133849481", "en", "Wallishausser’sche Buchhandlung"),
]


def test_works_matches_shipped_golden_pr(spark):
    """P/R ≥ 0.95 vs examples/outputs/works.ttl. Not exact: the shipped
    golden predates the current reference code — it lacks the title
    self-loop (works.py:403) and carries an expression-title label where
    the current code emits the manifestation-title block instead. The
    engine follows the current code (the behavioral spec); the residual
    diff is exactly that version drift."""
    from wikidata_to_cidoc_crm_spark.plans.works import works_stage

    golden = parse_ttl_file("/root/reference/examples/outputs/works.ttl")
    stmts = spark.createDataFrame(WORK_STATEMENTS, STATEMENT_SCHEMA)
    labels = spark.createDataFrame(WORK_LABELS, LABEL_SCHEMA)
    qids = spark.createDataFrame([(WQ,)], "qid string")
    engine = triples_to_python_set(works_stage(spark, qids, stmts, labels))
    tp = len(engine & golden)
    p, r = tp / len(engine), tp / len(golden)
    assert p >= 0.95 and r >= 0.95, (p, r, sorted(engine - golden)[:10],
                                     sorted(golden - engine)[:10])


def test_relations_matches_shipped_golden(spark):
    """examples/outputs/relations.ttl: the 1-QID example yields no relation
    instances — exactly the ontology header + ID-Type + alignment block."""
    from wikidata_to_cidoc_crm_spark.plans.relations import relations_stage

    golden = parse_ttl_file("/root/reference/examples/outputs/relations.ttl")
    stmts = spark.createDataFrame([], STATEMENT_SCHEMA)
    labels = spark.createDataFrame([], LABEL_SCHEMA)
    closure = spark.createDataFrame([], "qid string, ancestor string")
    pclosure = spark.createDataFrame([], "pid string, base_pid string")
    qids = spark.createDataFrame([(WQ,)], "qid string")
    engine = triples_to_python_set(
        relations_stage(spark, qids, stmts, labels, closure, pclosure))
    assert engine == golden, (sorted(engine - golden)[:10],
                              sorted(golden - engine)[:10])


@pytest.mark.parametrize("golden_path", [GOLDEN])
def test_authors_matches_shipped_golden(spark, golden_path):
    golden = parse_ttl_file(golden_path)
    stmts = spark.createDataFrame(STATEMENTS, STATEMENT_SCHEMA)
    labels = spark.createDataFrame(LABELS, LABEL_SCHEMA)
    qids = spark.createDataFrame([(Q,)], "qid string")
    engine = triples_to_python_set(authors_stage(spark, qids, stmts, labels))
    missing = golden - engine
    extra = engine - golden
    assert not missing, f"missing vs shipped golden: {sorted(missing)[:10]}"
    assert not extra, f"extra vs shipped golden: {sorted(extra)[:10]}"
