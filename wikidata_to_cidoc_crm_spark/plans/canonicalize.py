"""Canonicalization stage — duplicate-entity resolution (north rule).

Engine-added stage (the reference assumes Wikidata QIDs are already
canonical; a 10^12-document corpus linked against a noisy dictionary is
not): entities of the same class whose labels are near-duplicates are
blocked via MinHash-LSH over label shingles, verified by exact Jaccard,
clustered with connected components, and every triple's subject/object is
rewritten to the cluster representative (minimum URI). ``owl:sameAs``
links from the representative to the merged URIs record the merge.

Scale notes: LSH banding keeps candidate generation near-linear (no
all-pairs); the rewrite is two hash joins of the (small) canonical map
against the triple table — broadcast when the map is dimension-sized. The
label scan, the doc/edge projections and the rewrite with its merge links
and delta-dedup are ``spark.sql`` text; the merge links emit through
``sql_stages._emit_inline_sql`` like every other stage's triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..model import ECRM, LRMOO, OWL_SAMEAS, RDF_TYPE, RDFS_LABEL, Rule
from ..operators.components import connected_components
from ..operators.dedup import minhash_lsh_dedup
from ..session import lazy_checkpoint
from .sql_stages import _emit_inline_sql, _q, _wrap

# above this many (uri, canonical) rows the rewrite map no longer
# broadcasts safely (same rationale as relations.LABEL_BROADCAST_MAX)
CANONICAL_BROADCAST_MAX = 20_000_000

# class-scoped doc ids ``cls<SEP>uri``, so cross-class labels never merge
_SEP = _q("\x1f")


def entity_labels(triples: DataFrame, classes: list[str]) -> DataFrame:
    """(uri, cls, label) for instances of the given classes.

    ONE scan of the triple table feeds both sides of the join (the
    type-filtered and label-filtered branches read a shared narrow
    checkpoint instead of scanning the full graph twice — the graph is
    data-proportional; this scan is the stage's dominant serial I/O)."""
    spark = triples.sparkSession
    narrow = spark.sql(f"""
SELECT subj, pred, obj FROM {{t}}
WHERE (pred = {_q(RDF_TYPE)} AND obj IN ({", ".join(map(_q, classes))}))
   OR pred = {_q(RDFS_LABEL)}""", t=triples).transform(lazy_checkpoint)
    return spark.sql(f"""
SELECT ty.uri, ty.cls, l.obj AS label
FROM (SELECT DISTINCT subj AS uri, obj AS cls FROM {{n}}
      WHERE pred = {_q(RDF_TYPE)}) ty
JOIN {{n}} l ON ty.uri = l.subj
WHERE l.pred = {_q(RDFS_LABEL)}""", n=narrow)


def canonical_map(
    triples: DataFrame,
    classes: list[str],
    threshold: float = 0.9,
) -> DataFrame:
    """(uri, canonical): clusters of near-duplicate same-class entities.

    Blocking = MinHash-LSH over label word-shingles; verification = exact
    Jaccard ≥ threshold; clustering = connected components; representative
    = min URI (deterministic).
    """
    spark = triples.sparkSession
    docs = spark.sql(
        f"SELECT concat_ws({_SEP}, cls, uri) AS doc_id, label AS text FROM {{e}}",
        e=entity_labels(triples, classes))
    pairs = minhash_lsh_dedup(docs, id_col="doc_id", text_col="text",
                              num_hashes=16, bands=8, threshold=threshold, k=2)
    edges = spark.sql(f"""
SELECT element_at(split(a, {_SEP}), -1) AS src,
       element_at(split(b, {_SEP}), -1) AS dst
FROM {{p}}""", p=pairs)
    return spark.sql(
        "SELECT node AS uri, component AS canonical FROM {c} "
        "WHERE node <> component", c=connected_components(edges))


def canonicalize_stage(
    spark: SparkSession,
    triples: DataFrame,
    classes: list[str] | None = None,
    threshold: float = 0.9,
    assume_distinct: bool = True,
) -> DataFrame:
    """Rewrite triples through the canonical map; add owl:sameAs merge links.

    ``assume_distinct`` (default) encodes the precondition that ``triples``
    is already a distinct set (the merge stage dedups); the output dedup
    then shuffles only the rewrite-touched fraction. Pass ``False`` for
    possibly-duplicated inputs to get the full-graph set-union dedup."""
    classes = classes or [ECRM + "E21_Person", ECRM + "E53_Place",
                          LRMOO + "F2_Expression"]
    if not assume_distinct:
        triples = spark.sql(_wrap("SELECT * FROM {t}", None, True), t=triples)
    cmap = canonical_map(triples, classes, threshold).localCheckpoint(eager=True)
    n_cmap = cmap.count()
    if n_cmap == 0:
        return triples
    # ONE canonical build side `cm` for both rewrite joins — identical
    # subtrees let Spark build the broadcast hash relation once and serve
    # the obj-side join via ReusedExchange (the map scales with data, so a
    # second single-threaded build is real serial cost). Identity rows for
    # the canonical targets are unioned in so a join MATCH means exactly
    # "this term is in the rewrite's domain ∪ range" — the collision
    # criterion for the delta-dedup below — while the joined value is
    # still the correctly rewritten term (itself, for a canonical).
    # The canonical map grows with the number of duplicate entities — i.e.
    # with the corpus, not with a dimension — so the broadcast is gated on
    # its size exactly like LABEL_BROADCAST_MAX: above the cap the rewrite
    # falls back to shuffle hash joins (keyed on subj/obj, uniform).
    hint = ("/*+ BROADCAST(cs), BROADCAST(co) */ "
            if n_cmap <= CANONICAL_BROADCAST_MAX else "")
    # Delta-dedup: only triples incident to the rewrite's domain ∪ range
    # (post-rewrite: subj or IRI-obj is a canonical or was rewritten) can
    # collide — an untouched triple's terms avoid domain ∪ range entirely,
    # so it cannot equal any touched/merge-link triple, and the untouched
    # set is already distinct (the merge stage dedups). Shuffling ONLY the
    # touched fraction replaces a full-graph DISTINCT — at 100 TB that's
    # the difference between re-shuffling the whole graph and shuffling
    # the (duplicate-entity-proportional) delta. Both branches re-scan the
    # checkpointed input map-side; no extra shuffle. A literal object is
    # never rewritten, whatever its lexical form.
    links = _emit_inline_sql([Rule("canonical", OWL_SAMEAS, "uri")])
    touched = _wrap(
        "SELECT subj, pred, obj, obj_is_iri, lang, dtype FROM rewritten "
        "WHERE _touched", f"SELECT {links} FROM {{cmap}}", True)
    return spark.sql(f"""
WITH cm AS (
  SELECT uri AS __cu, canonical AS __cc FROM {{cmap}}
  UNION
  SELECT canonical, canonical FROM {{cmap}}
),
rewritten AS (
  SELECT {hint}coalesce(cs.__cc, t.subj) AS subj, t.pred,
    CASE WHEN t.obj_is_iri THEN coalesce(co.__cc, t.obj) ELSE t.obj END AS obj,
    t.obj_is_iri, t.lang, t.dtype,
    cs.__cc IS NOT NULL OR (t.obj_is_iri AND co.__cc IS NOT NULL) AS _touched
  FROM {{triples}} t
  LEFT JOIN cm cs ON t.subj = cs.__cu
  LEFT JOIN cm co ON t.obj = co.__cu
)
SELECT subj, pred, obj, obj_is_iri, lang, dtype FROM rewritten
WHERE NOT _touched
UNION ALL
{touched}""", cmap=cmap, triples=triples)
