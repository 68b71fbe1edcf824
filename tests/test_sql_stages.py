"""Stage-build flags and the SQL emission shape.

The golden-parity suites pin each stage's default output; this module
covers the flag the pipeline does not exercise (raw emission,
``dedupe=False``, which defers set semantics to the merge stage) and the
shape of the compiled fan-out."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wikidata_to_cidoc_crm_spark.model import triples_to_python_set


def _qids(spark, world, key):
    rows = world.persons if key == "persons" else world.works
    return spark.createDataFrame([(r["qid"],) for r in rows], "qid string")


def _authors(spark, dims, world, dedupe):
    from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage

    return authors_stage(spark, _qids(spark, world, "persons"),
                         dims["wd_statements"], dims["wd_labels"],
                         dedupe=dedupe)


def _relations(spark, dims, world, dedupe):
    from wikidata_to_cidoc_crm_spark.plans.relations import relations_stage

    return relations_stage(spark, _qids(spark, world, "works"),
                           dims["wd_statements"], dims["wd_labels"],
                           dims["wd_subclass_closure"],
                           dims["wd_property_closure"], dedupe=dedupe)


@pytest.mark.parametrize("build", [_authors, _relations],
                         ids=["authors", "relations"])
def test_flag_variants_match(spark, dims, world, build):
    """Raw emission (dedupe=False) may repeat triples, but its distinct set
    must equal the deduplicated stage output — the contract the merge
    stage relies on when the pipeline defers the dedup."""
    raw = build(spark, dims, world, dedupe=False)
    deduped = build(spark, dims, world, dedupe=True)
    a, b = triples_to_python_set(raw), triples_to_python_set(deduped)
    assert a == b and len(a) > 100
    assert raw.count() >= deduped.count() == len(b)


def test_include_header_false_drops_only_the_header(spark, dims, world):
    from wikidata_to_cidoc_crm_spark.oracle import authors_header_triples
    from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage

    pq = _qids(spark, world, "persons")
    full = triples_to_python_set(authors_stage(
        spark, pq, dims["wd_statements"], dims["wd_labels"]))
    bare = triples_to_python_set(authors_stage(
        spark, pq, dims["wd_statements"], dims["wd_labels"],
        include_header=False))
    header = set(authors_header_triples())
    assert len(bare) > 100 and not bare & header
    assert full == bare | header


def test_emission_sql_is_fanout_generate(spark, dims, world):
    """The SQL emission keeps the P13 shape: one Generate (inline) per
    source, no shuffle introduced by the fan-out itself."""
    df = _authors(spark, dims, world, dedupe=False)
    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "Generate inline" in plan


def test_triples_to_python_set_guard_raises(spark):
    """model.triples_to_python_set must refuse production-scale collects
    (round-4/5 advice item: row-count gate like linking.py's)."""
    from pyspark.sql import functions as F

    big = spark.range(10).select(
        F.col("id").cast("string").alias("subj"), F.lit("p").alias("pred"),
        F.lit("o").alias("obj"), F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("dtype"))
    with pytest.raises(ValueError, match="refusing to collect"):
        triples_to_python_set(big, max_rows=5)
    assert len(triples_to_python_set(big, max_rows=100)) == 10


_tricky = st.text(alphabet=st.one_of(
    st.sampled_from(["'", "\\", "%", "_", "\n", "\r", "\t", '"', "é", "ß", "中", "😀"]),
    st.characters(blacklist_categories=("Cs",)),
), max_size=40)


@settings(max_examples=60, deadline=None)
@given(s=_tricky)
def test_q_round_trips_through_the_sql_parser(spark, s):
    """Every rule constant reaches the emitted SQL through ``_q``; the
    parsed literal must be the original string."""
    from wikidata_to_cidoc_crm_spark.plans.sql_stages import _q

    assert spark.sql(f"SELECT {_q(s)} AS v").first()["v"] == s
