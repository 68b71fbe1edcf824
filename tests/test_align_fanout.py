"""align_stage's full-graph dedup branch (``assume_distinct=False``, for
inputs that may repeat triples) must give the same triple set as the
default branch, which dedups only the fraction that can collide with the
alignment delta — on a distinct merged graph of the full fixture world.
Building the stage launches no Spark job."""

from __future__ import annotations

import pytest

from wikidata_to_cidoc_crm_spark.model import triples_to_python_set
from wikidata_to_cidoc_crm_spark.plans.align import align_stage
from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage
from wikidata_to_cidoc_crm_spark.plans.merge import merge_stage
from wikidata_to_cidoc_crm_spark.plans.relations import relations_stage
from wikidata_to_cidoc_crm_spark.plans.works import works_stage


@pytest.fixture(scope="module")
def merged(spark, world, dims):
    person_qids = spark.createDataFrame(
        [(p["qid"],) for p in world.persons], "qid string")
    work_qids = spark.createDataFrame(
        [(w["qid"],) for w in world.works], "qid string")
    a = authors_stage(spark, person_qids, dims["wd_statements"], dims["wd_labels"])
    w = works_stage(spark, work_qids, dims["wd_statements"], dims["wd_labels"])
    r = relations_stage(spark, work_qids, dims["wd_statements"], dims["wd_labels"],
                        dims["wd_subclass_closure"], dims["wd_property_closure"])
    return merge_stage(spark, [a, w, r]).localCheckpoint(eager=True)


def test_full_dedup_path_equals_distinct_path(spark, dims, merged):
    distinct = triples_to_python_set(align_stage(
        spark, merged, dims["wd_external_ids"], assume_distinct=True))
    full = triples_to_python_set(align_stage(
        spark, merged, dims["wd_external_ids"], assume_distinct=False))
    assert full == distinct, (
        len(full), len(distinct),
        sorted(full - distinct)[:8], sorted(distinct - full)[:8])
    assert len(full) > merged.count()  # the alignment delta is not empty


def test_align_build_launches_no_jobs(spark, dims, merged):
    """Building the stage plans it and runs nothing: no collect or count
    of the presence flags (or anything else) on the driver."""
    sc = spark.sparkContext
    group = "align-build-zero-jobs"
    sc.setJobGroup(group, "align_stage build")
    try:
        align_stage(spark, merged, dims["wd_external_ids"])
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
