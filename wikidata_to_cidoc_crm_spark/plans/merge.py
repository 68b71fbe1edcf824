"""Merge stage — deduplicating union of the authors/works/relations graphs.

Behavioral spec: ``/root/reference/src/wiki2crm/merge.py:34-77``.
* union with set semantics (U1),
* one rdfs:label per subject, lang-tagged preferred (A6) — the reference
  keeps the "first encountered" label (rdflib iteration order); the engine
  fixes a deterministic order: lang-tagged first, then (lang, obj, dtype)
  ascending (SURVEY §4.4.6),
* ontology-node rewrite (U5): drop every triple whose subject is typed
  owl:Ontology, then add the merged header.

Scale notes: the dedup exchanges on the full 6-tuple key, which is uniform
by construction even under hub subjects; only the label fraction
re-shuffles by subject for the window. A subject-keyed single exchange was
measured 2.2x slower on a hub-skewed graph (BENCH/SKEW.md). The anti-join
against ontology subjects broadcasts (constant-sized set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..model import ECRM, INTRO, LRMOO_ONTO, OWL, RDF_TYPE, RDFS_LABEL, SAPPHO
from ..session import lazy_checkpoint
from .sql_stages import _const_values_sql

OWL_ONTOLOGY = OWL + "Ontology"
OWL_IMPORTS = OWL + "imports"


def merge_stage(spark: SparkSession, graphs: list[DataFrame]) -> DataFrame:
    """Two statements: union → full-key DISTINCT → label-window dedup, a
    lineage checkpoint, then the ontology-node rewrite over the
    checkpoint."""
    union = "\nUNION ALL\n".join(
        f"SELECT subj, pred, obj, obj_is_iri, lang, dtype FROM {{g{i}}}"
        for i in range(len(graphs)))
    # the label order is total over the remaining triple columns — a tie
    # would make the surviving label partition-dependent (merge.py:41-63)
    q1 = f"""
WITH g AS (SELECT DISTINCT * FROM (
{union}
)),
lbl AS (
  SELECT subj, pred, obj, obj_is_iri, lang, dtype FROM (
    SELECT *, row_number() OVER (
      PARTITION BY subj
      ORDER BY (lang IS NULL) ASC, coalesce(lang, '') ASC, obj ASC,
               coalesce(dtype, '') ASC, obj_is_iri ASC) AS _rn
    FROM g WHERE pred = '{RDFS_LABEL}'
  ) WHERE _rn = 1
)
SELECT * FROM g WHERE pred <> '{RDFS_LABEL}'
UNION ALL
SELECT * FROM lbl"""
    ck = spark.sql(q1, **{f"g{i}": df for i, df in enumerate(graphs)}) \
        .transform(lazy_checkpoint)

    # merge.py:65-77: remove all ontology-node triples, add merged header
    onto = SAPPHO + "ontology/all"
    header = _const_values_sql([
        (onto, RDF_TYPE, OWL_ONTOLOGY),
        (onto, OWL_IMPORTS, ECRM),
        (onto, OWL_IMPORTS, LRMOO_ONTO),
        (onto, OWL_IMPORTS, INTRO),
    ])
    q2 = f"""
SELECT /*+ BROADCAST(o) */ k.subj, k.pred, k.obj, k.obj_is_iri, k.lang, k.dtype
FROM {{ck}} k
LEFT ANTI JOIN (
  SELECT DISTINCT subj FROM {{ck2}}
  WHERE pred = '{RDF_TYPE}' AND obj = '{OWL_ONTOLOGY}'
) o ON k.subj = o.subj
UNION ALL
{header}"""
    return spark.sql(q2, ck=ck, ck2=ck)
