"""Generated code compiles once per session: building and collecting the
same plans a second time reuses the compiled classes. With Spark's default
cache of 100 classes, relations + align on the fixture world recompile
their whole working set on every pass (552, then 553 classes); with the
session's 1000 entries a second pass compiles only a few dozen (24
measured on a 4-CPU host)."""

from __future__ import annotations

import pytest

from wikidata_to_cidoc_crm_spark.plans.align import align_stage
from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage
from wikidata_to_cidoc_crm_spark.plans.merge import merge_stage
from wikidata_to_cidoc_crm_spark.plans.relations import relations_stage
from wikidata_to_cidoc_crm_spark.plans.works import works_stage

# Spark's default spark.sql.codegen.cache.maxEntries: a working set larger
# than this is recompiled in full on every pass
SPARK_DEFAULT_CACHE_ENTRIES = 100


@pytest.fixture(scope="module")
def inputs(spark, world, dims):
    person_qids = spark.createDataFrame(
        [(p["qid"],) for p in world.persons], "qid string")
    work_qids = spark.createDataFrame(
        [(w["qid"],) for w in world.works], "qid string")
    a = authors_stage(spark, person_qids, dims["wd_statements"], dims["wd_labels"])
    w = works_stage(spark, work_qids, dims["wd_statements"], dims["wd_labels"])
    r = relations_stage(spark, work_qids, dims["wd_statements"], dims["wd_labels"],
                        dims["wd_subclass_closure"], dims["wd_property_closure"])
    merged = merge_stage(spark, [a, w, r]).localCheckpoint(eager=True)
    return work_qids, merged


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_pass_reuses_compiled_classes(spark, dims, inputs):
    work_qids, merged = inputs

    def one_pass():
        before = _compilations(spark)
        relations_stage(spark, work_qids, dims["wd_statements"], dims["wd_labels"],
                        dims["wd_subclass_closure"],
                        dims["wd_property_closure"]).collect()
        align_stage(spark, merged, dims["wd_external_ids"]).collect()
        return _compilations(spark) - before

    first = one_pass()
    second = one_pass()
    assert second < SPARK_DEFAULT_CACHE_ENTRIES, (
        f"second pass compiled {second} classes (first pass {first})")
