"""Deterministic synthetic fixtures.

Two generators:

1. :func:`make_world` — a small, pure-Python "Wikidata world" (entities,
   statements, labels, closures, external ids, interleaved documents) used
   by tests and the P/R golden comparison. Replaces the reference's SPARQL
   endpoint (authors.py:27) with broadcastable dimension tables
   (FIXTURES.md §2). Seed-deterministic; no wall-clock entropy.

2. :func:`interleaved_corpus` — a *distributed* corpus generator: derives an
   interleaved-document table ``(doc_id, spans: array<struct<kind, text,
   media_ref, offset>>)`` (BASELINE.json input_hint) from the driver's
   ``documents`` parquet at any scale factor, injecting entity mentions
   chosen by ``xxhash64`` so linking has exact ground truth. Entirely
   column-expression based — scales linearly, no driver loops, no UDFs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("offset", T.IntegerType(), False),
        ]
    )
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPAN_SCHEMA, False),
    ]
)

STATEMENT_SCHEMA = T.StructType(
    [
        T.StructField("subject_qid", T.StringType(), False),
        T.StructField("pid", T.StringType(), False),
        T.StructField("object_value", T.StringType(), False),
        T.StructField("object_is_entity", T.BooleanType(), False),
        T.StructField("object_lang", T.StringType(), True),
    ]
)

LABEL_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("label_en", T.StringType(), False),
        T.StructField("label_de", T.StringType(), True),
        T.StructField("aliases", T.ArrayType(T.StringType()), False),
    ]
)

# class QIDs used by relations.py type-closure checks (relations.py:369,420,517,571,705-706)
Q_HUMAN = "Q5"
Q_GEO = "Q2221906"
Q_STOFF = "Q42109240"
Q_TOPIC_CLASS = "Q26256810"
Q_CHARACTER = "Q3658341"
Q_FICTIONAL_HUMAN = "Q15632617"
Q_FEMALE, Q_MALE = "Q6581072", "Q6581097"

_FIRST = ["Aline", "Berta", "Clara", "Doris", "Edith", "Frieda", "Greta",
          "Hilde", "Ilse", "Johanna", "Karla", "Luise", "Martha", "Nora",
          "Olga", "Paula", "Rosa", "Selma", "Thea", "Ursula"]
_LAST = ["Arnim", "Brentano", "Droste", "Ebner", "Fleisser", "Guenderrode",
         "Hahn", "Huch", "Keller", "Lasker", "Mereau", "Naubert", "Otto",
         "Reventlow", "Schlegel", "Tarnow", "Varnhagen", "Wolzogen"]
_WORK_WORDS = ["Sappho", "Phaon", "Lesbos", "Hymnen", "Oden", "Lieder",
               "Fragmente", "Gedichte", "Briefe", "Elegien", "Sonette",
               "Gesaenge", "Balladen", "Idyllen"]
_PLACE_WORDS = ["Mytilene", "Eresos", "Weimar", "Jena", "Berlin", "Wien",
                "Leipzig", "Dresden", "Heidelberg", "Zuerich"]


@dataclass
class World:
    """Pure-Python fixture world; all lists are deterministic in ``seed``."""

    persons: list[dict] = field(default_factory=list)
    works: list[dict] = field(default_factory=list)
    places: list[dict] = field(default_factory=list)
    features: list[dict] = field(default_factory=list)  # plots/topics/motifs/characters
    entities: list[dict] = field(default_factory=list)  # union view for linking
    statements: list[tuple] = field(default_factory=list)
    labels: list[tuple] = field(default_factory=list)
    subclass_closure: list[tuple] = field(default_factory=list)
    property_closure: list[tuple] = field(default_factory=list)
    external_ids: list[tuple] = field(default_factory=list)
    documents: list[tuple] = field(default_factory=list)  # (doc_id, [span dicts])
    mention_truth: list[tuple] = field(default_factory=list)  # (doc_id, offset, qid)


def _date(rng: random.Random, base_year: int) -> str:
    y = base_year + rng.randrange(0, 120)
    m = rng.randrange(1, 13)
    d = rng.randrange(1, 29)
    return f"{y:04d}-{m:02d}-{d:02d}T00:00:00Z"


def make_world_scaled(scale: int = 1, seed: int = 42) -> World:
    """World whose entity counts grow linearly with ``scale`` (bench uses
    scale ∝ sf so pipeline output scales with the corpus)."""
    return make_world(
        n_persons=40 * scale,
        n_works=30 * scale,
        n_places=max(12, 6 * scale),
        n_features=12 * scale,
        n_docs=120,
        seed=seed,
    )


def make_world(
    n_persons: int = 40,
    n_works: int = 30,
    n_places: int = 12,
    n_features: int = 12,
    n_docs: int = 120,
    seed: int = 42,
) -> World:
    rng = random.Random(seed)
    w = World()

    # places
    for j in range(n_places):
        qid = f"Q{30000 + j}"
        label = f"{_PLACE_WORDS[j % len(_PLACE_WORDS)]} {j // len(_PLACE_WORDS) or ''}".strip()
        w.places.append({"qid": qid, "label": label})
        w.labels.append((qid, "en", label))
        w.statements.append((qid, "P31", Q_GEO, True, None))
        if j % 2 == 0:
            w.external_ids.append((qid, "geonames", f"{2950000 + j}"))

    # genders (fixed QIDs, like Wikidata)
    w.labels.append((Q_FEMALE, "en", "female"))
    w.labels.append((Q_MALE, "en", "male"))

    # persons — attribute layout mirrors the authors SPARQL optionals
    # (authors.py:190-198): P21 gender, P19/P20 places, P569/P570 dates, P18 image
    for i in range(n_persons):
        qid = f"Q{10000 + i}"
        label = f"{_FIRST[i % len(_FIRST)]} {_LAST[(i * 7) % len(_LAST)]}"
        if i >= len(_FIRST) * 2:
            label = f"{label} {i}"
        p = {
            "qid": qid, "label": label,
            "gender": Q_FEMALE if i % 3 else Q_MALE,
            "birth_date": _date(rng, 1700) if i % 5 != 4 else None,
            "death_date": _date(rng, 1760) if i % 4 != 3 else None,
            "birth_place": w.places[i % n_places]["qid"] if i % 6 != 5 else None,
            "death_place": w.places[(i * 3) % n_places]["qid"] if i % 7 != 6 else None,
            "image": f"http://commons.example.org/img/{qid}.jpg" if i % 2 == 0 else None,
        }
        w.persons.append(p)
        w.labels.append((qid, "en", label))
        if i % 2 == 0:
            w.labels.append((qid, "de", label))
        w.statements.append((qid, "P31", "Q5", True, None))
        w.statements.append((qid, "P21", p["gender"], True, None))
        for pid, key in [("P569", "birth_date"), ("P570", "death_date")]:
            if p[key]:
                w.statements.append((qid, pid, p[key], False, None))
        for pid, key in [("P19", "birth_place"), ("P20", "death_place")]:
            if p[key]:
                w.statements.append((qid, pid, p[key], True, None))
        if p["image"]:
            w.statements.append((qid, "P18", p["image"], False, None))
        w.external_ids.append((qid, "gnd", f"11{i:06d}X"))
        if i % 2 == 0:
            w.external_ids.append((qid, "viaf", f"{500000 + i}"))

    # external ids for gender entities (enrichment coverage)
    w.external_ids.append((Q_FEMALE, "schema", "https://schema.org/Female"))
    w.external_ids.append((Q_MALE, "schema", "https://schema.org/Male"))

    # features (for relations): plots, topics, motifs, characters
    kinds = ["plot", "topic", "motif", "character"]
    for k in range(n_features):
        kind = kinds[k % 4]
        qid = f"Q{50000 + k}"
        label = f"{kind.capitalize()} {_WORK_WORDS[k % len(_WORK_WORDS)]}"
        if k >= len(_WORK_WORDS):
            label = f"{label} {k // len(_WORK_WORDS)}"
        w.features.append({"qid": qid, "kind": kind, "label": label})
        w.labels.append((qid, "en", label))
        cls = {"plot": Q_STOFF, "topic": Q_TOPIC_CLASS,
               "motif": Q_STOFF, "character": Q_CHARACTER}[kind]
        w.statements.append((qid, "P31", cls, True, None))
        # some characters are real persons too (relations.py:723-731 is_person)
        if kind == "character" and k % 8 == 3:
            w.statements.append((qid, "P31", Q_HUMAN, True, None))

    # publishers (E74 Group, works.py:481-490)
    publishers = []
    for j in range(5):
        pqid = f"Q{70000 + j}"
        publishers.append(pqid)
        w.labels.append((pqid, "en", f"Verlag Press {j}"))

    # works — attribute layout mirrors the works SPARQL optionals
    # (works.py:251-269): P1476 de/en, P136, P50, P577, P291, P123, P953,
    # P98, P1433, P361, P571 ∪ P2754
    for i in range(n_works):
        qid = f"Q{20000 + i}"
        author = w.persons[i % n_persons]
        title_en = f"{_WORK_WORDS[i % len(_WORK_WORDS)]} Cycle {i}"
        title_de = f"{_WORK_WORDS[(i + 3) % len(_WORK_WORDS)]} Zyklus {i}" if i % 2 == 0 else None
        pub = _date(rng, 1780) if i % 4 != 3 else None
        creation = _date(rng, 1775) if i % 3 != 2 else None
        wk = {
            "qid": qid, "title_en": title_en, "title_de": title_de,
            "author": author["qid"], "pub_date": pub, "creation_date": creation,
            "genre": f"Q{60000 + (i % 4)}",
            "pub_place": w.places[(i * 5) % n_places]["qid"] if i % 5 != 4 else None,
            "publisher": publishers[i % 5] if i % 3 != 1 else None,
            "digital_copy": f"http://digital.example.org/{qid}" if i % 2 == 0 else None,
            "editor": w.persons[(i + 9) % n_persons]["qid"] if i % 6 == 0 else None,
            "published_in": f"Q{20000 + ((i + 2) % n_works)}" if i % 8 == 2 else None,
            "part_of": f"Q{20000 + ((i + 4) % n_works)}" if i % 8 == 5 else None,
        }
        w.works.append(wk)
        w.labels.append((qid, "en", title_en))
        if title_de:
            w.labels.append((qid, "de", title_de))
        w.statements.append((qid, "P1476", title_en, False, "en"))
        if title_de:
            w.statements.append((qid, "P1476", title_de, False, "de"))
        w.statements.append((qid, "P50", author["qid"], True, None))
        if pub:
            w.statements.append((qid, "P577", pub, False, None))
        if creation:
            pid_c = "P571" if i % 2 == 0 else "P2754"
            w.statements.append((qid, pid_c, creation, False, None))
        w.statements.append((qid, "P136", wk["genre"], True, None))
        if wk["pub_place"]:
            w.statements.append((qid, "P291", wk["pub_place"], True, None))
        if wk["publisher"]:
            w.statements.append((qid, "P123", wk["publisher"], True, None))
        if wk["digital_copy"]:
            w.statements.append((qid, "P953", wk["digital_copy"], False, None))
        if wk["editor"]:
            w.statements.append((qid, "P98", wk["editor"], True, None))
        if wk["published_in"]:
            w.statements.append((qid, "P1433", wk["published_in"], True, None))
        if wk["part_of"]:
            w.statements.append((qid, "P361", wk["part_of"], True, None))
        if i % 4 == 0:
            w.external_ids.append((qid, "goodreads", f"{900000 + i}"))
        if i % 5 == 0:
            w.external_ids.append(
                (qid, "dbpedia", f"https://dbpedia.org/resource/Work_{qid}"))
        if i % 10 == 1:
            # CURIE form — exercises the S7/P10 dbpedia expansion post-pass
            w.external_ids.append(
                (qid, "dbpedia", f"dbpedia:resource/Work_{qid}"))
        # relations edges: share features to create pair-joins (relations.py:393)
        feat = w.features[i % n_features]
        pid = {"plot": "P921", "topic": "P921", "motif": "P6962",
               "character": "P674"}[feat["kind"]]
        w.statements.append((qid, pid, feat["qid"], True, None))
        if i % 3 == 0:
            feat2 = w.features[(i + 4) % n_features]
            pid2 = {"plot": "P921", "topic": "P921", "motif": "P6962",
                    "character": "P674"}[feat2["kind"]]
            w.statements.append((qid, pid2, feat2["qid"], True, None))
        # person/place references shared across works (relations.py:505-614):
        # small modulus → several works share each referenced person/place
        if i % 4 == 0:
            w.statements.append(
                (qid, "P921", w.persons[(i % 12) // 4]["qid"], True, None))
        if i % 4 == 1:
            w.statements.append(
                (qid, "P921", w.places[(i % 12) // 4]["qid"], True, None))
        # work→work references (relations.py:616-669): P921 to another work
        if i % 10 == 3:
            w.statements.append(
                (qid, "P921", f"Q{20000 + ((i + 5) % n_works)}", True, None))
        # direct intertextual links (relations.py:302-330): P4969 forward, P144 reversed
        if i % 5 == 1 and i > 1:
            w.statements.append((qid, "P4969", w.works[0]["qid"], True, None))
        if i % 7 == 2 and i > 0:
            w.statements.append((qid, "P144", w.works[i - 1]["qid"], True, None))
        # citations (relations.py:765-818): this work cites another (P2860) or
        # via the P8371 subproperty (exercises the P1647* closure join)
        if i % 6 == 4:
            w.statements.append(
                (qid, "P2860", f"Q{20000 + ((i + 3) % n_works)}", True, None))
        if i % 9 == 5:
            w.statements.append(
                (qid, "P8371", f"Q{20000 + ((i + 2) % n_works)}", True, None))

    for g in range(4):
        w.labels.append((f"Q{60000 + g}", "en", f"Genre {g}"))

    # closures
    for cls in [Q_HUMAN, Q_GEO, Q_STOFF, Q_TOPIC_CLASS, Q_CHARACTER, Q_FICTIONAL_HUMAN]:
        w.subclass_closure.append((cls, cls))
    w.subclass_closure.append((Q_FICTIONAL_HUMAN, Q_CHARACTER))
    for pid in ["P4969", "P144", "P5059", "P941", "P921", "P180", "P527",
                "P674", "P6962", "P2860", "P6166", "P19", "P20", "P21",
                "P569", "P570", "P18", "P1476", "P50", "P577", "P571",
                "P136", "P291"]:
        w.property_closure.append((pid, pid))
    w.property_closure.append(("P8371", "P2860"))  # a subproperty example

    # entity dictionary for linking
    for p in w.persons:
        w.entities.append({"qid": p["qid"], "kind": "person",
                           "label_en": p["label"], "label_de": None,
                           "aliases": [p["label"].split(" ")[1]] if " " in p["label"] else []})
    for wk in w.works:
        w.entities.append({"qid": wk["qid"], "kind": "work",
                           "label_en": wk["title_en"], "label_de": wk["title_de"],
                           "aliases": []})

    # interleaved documents with known mentions; head-entity skew on persons[0]
    head = w.persons[0]
    filler = ["The archive notes that", "Critics later wrote that",
              "A letter mentions that", "The catalogue records that"]
    for d in range(n_docs):
        doc_id = f"doc{d:05d}"
        spans = []
        offset = 0
        n_mentions = 1 + rng.randrange(0, 3)
        mentioned = []
        if rng.random() < 0.25:
            mentioned.append(head)
        while len(mentioned) < n_mentions:
            pool = w.persons if rng.random() < 0.7 else w.works
            e = pool[rng.randrange(0, len(pool))]
            mentioned.append(e)
        for e in mentioned:
            label = e.get("label") or e.get("title_en")
            text = f"{filler[rng.randrange(0, len(filler))]} {label} shaped the tradition."
            spans.append({"kind": "text", "text": text, "media_ref": "", "offset": offset})
            w.mention_truth.append((doc_id, offset, e["qid"]))
            offset += 1
            if rng.random() < 0.3:
                spans.append({"kind": "media", "text": "",
                              "media_ref": f"media://{doc_id}/{offset}", "offset": offset})
                offset += 1
        w.documents.append((doc_id, spans))
    return w


# the schema each dimension is written with — read back with the same
# schema, so opening the cache infers nothing from the Parquet footers
_DIM_SCHEMAS = {
    "documents_interleaved": DOC_SCHEMA,
    "wd_entities": ENTITY_SCHEMA,
    "wd_statements": STATEMENT_SCHEMA,
    "wd_labels": LABEL_SCHEMA,
    "wd_subclass_closure": "qid string, ancestor string",
    "wd_property_closure": "pid string, base_pid string",
    "wd_external_ids": "qid string, id_type string, value string",
}


def _read_dims(spark: SparkSession, base: str) -> dict[str, DataFrame]:
    """Open the seven cached dimension tables concurrently.

    Each table is read with the schema it was written with: without one,
    ``spark.read.parquet`` infers it from the footers with a Spark job per
    table (7 jobs per pipeline invocation). Each read is still a
    driver-side py4j + file-listing round-trip; the reads are independent,
    so a small thread pool overlaps them (measured with inference:
    2.9 s → 0.3 s cold, 0.7 s → 0.2 s warm).
    """
    import os
    from concurrent.futures import ThreadPoolExecutor

    def read(name):
        return spark.read.schema(_DIM_SCHEMAS[name]).parquet(os.path.join(base, name))

    with ThreadPoolExecutor(max_workers=7, thread_name_prefix="dim-read") as pool:
        futs = {n: pool.submit(read, n) for n in _DIM_SCHEMAS}
        return {n: f.result() for n, f in futs.items()}


# bump when the row→DataFrame conversion or the cached table layout
# changes: the digest must cover the FORMAT, not only the world content,
# or an old cache dir would silently serve stale-format tables (r5 advice)
_CACHE_FORMAT_VERSION = 2


def _world_digest(w: World) -> str:
    """Content digest of the dimension-relevant world lists — deterministic
    because generation is (pickle preserves the deterministic construction
    order), so it content-addresses the parquet dimension cache. The cache
    format version and the dimension schemas are folded in so conversion
    changes invalidate old entries."""
    import hashlib
    import pickle

    h = hashlib.blake2b(digest_size=16)
    h.update(str(_CACHE_FORMAT_VERSION).encode())
    for schema in (DOC_SCHEMA, ENTITY_SCHEMA, STATEMENT_SCHEMA, LABEL_SCHEMA):
        h.update(schema.simpleString().encode())
    for part in (w.documents, w.entities, w.statements, w.labels,
                 w.subclass_closure, w.property_closure, w.external_ids):
        h.update(pickle.dumps(part, protocol=4))
    return h.hexdigest()


def world_to_spark(spark: SparkSession, w: World,
                   cache: bool | None = None) -> dict[str, DataFrame]:
    """Materialize the world as Spark DataFrames (the broadcast dimensions).

    By default the dims are written once to a content-addressed parquet
    cache (``$SPARK_GRAFT_WORLD_CACHE`` dir, default
    ``<tmp>/wiki2crm_world_cache``; disable with
    ``SPARK_GRAFT_WORLD_CACHE=0`` or ``cache=False``) and read back as
    parquet scans. This mirrors the production shape — a Wikidata
    dimension snapshot is a TABLE a job reads, not something rebuilt
    driver-side per run — and removes ~6 s of fixed createDataFrame +
    checkpoint-job cost from every pipeline invocation (it is pure fixed
    cost: it neither scales with executors nor with the corpus).

    On a cache miss (or disabled cache) each dim is eagerly
    localCheckpoint-ed: ``createDataFrame`` yields a LocalRelation whose
    rows would otherwise be embedded into (and re-serialized with) every
    downstream plan tree Catalyst analyzes — checkpointing turns them into
    RDD-backed scans, like real tables.
    """
    import os
    import tempfile

    env_cache = os.environ.get("SPARK_GRAFT_WORLD_CACHE", "")
    if cache is None:
        cache = env_cache != "0"
    cache_dir = None
    if cache:
        # default root is per-uid: /tmp is world-writable and the digest is
        # computable from public code, so a shared path would let another
        # local user pre-seed a poisoned cache dir (r5 advice)
        root = env_cache if env_cache not in ("", "0", "1") else os.path.join(
            tempfile.gettempdir(), f"wiki2crm_world_cache-{os.getuid()}")
        cache_dir = os.path.join(root, _world_digest(w))
        if os.path.exists(os.path.join(cache_dir, "_COMPLETE")):
            return _read_dims(spark, cache_dir)

    docs = spark.createDataFrame(
        [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
         for d, spans in w.documents],
        DOC_SCHEMA,
    )
    ents = spark.createDataFrame(
        [(e["qid"], e["kind"], e["label_en"], e["label_de"], e["aliases"])
         for e in w.entities],
        ENTITY_SCHEMA,
    )
    import pandas as pd

    def arrow_df(rows, cols, name):
        # Arrow conversion path — much cheaper driver-side than row pickling
        pdf = pd.DataFrame(rows, columns=cols)
        return spark.createDataFrame(pdf, schema=_DIM_SCHEMAS[name])

    dims = {
        "documents_interleaved": docs,
        "wd_entities": ents,
        "wd_statements": arrow_df(
            w.statements,
            ["subject_qid", "pid", "object_value", "object_is_entity", "object_lang"],
            "wd_statements"),
        "wd_labels": arrow_df(w.labels, ["qid", "lang", "label"], "wd_labels"),
        "wd_subclass_closure": arrow_df(
            w.subclass_closure, ["qid", "ancestor"], "wd_subclass_closure"),
        "wd_property_closure": arrow_df(
            w.property_closure, ["pid", "base_pid"], "wd_property_closure"),
        "wd_external_ids": arrow_df(
            w.external_ids, ["qid", "id_type", "value"], "wd_external_ids"),
    }
    if cache_dir is not None:
        # write-once populate, atomic via tmp-dir rename: a concurrent
        # populater losing the race simply reads the winner's tables
        import uuid
        from concurrent.futures import ThreadPoolExecutor

        # pid + uuid: two populaters in the SAME process must not share a
        # staging dir either (r5 advice)
        tmp = f"{cache_dir}.tmp{os.getpid()}-{uuid.uuid4().hex[:8]}"
        with ThreadPoolExecutor(max_workers=4, thread_name_prefix="dims") as pool:
            futs = {k: pool.submit(
                lambda df, p: df.coalesce(1).write.mode("overwrite").parquet(p),
                v, os.path.join(tmp, k)) for k, v in dims.items()}
            for f in futs.values():
                f.result()
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        try:
            os.rename(tmp, cache_dir)
        except OSError:
            import shutil

            # only treat the failure as "lost the populate race" when a
            # complete winner actually exists; any other rename failure
            # (permissions, cross-device root) must not destroy the data —
            # serve this run from the staging dir instead (r5 advice)
            if not os.path.exists(os.path.join(cache_dir, "_COMPLETE")):
                return _read_dims(spark, tmp)
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
        return _read_dims(spark, cache_dir)
    # the seven eager checkpoints are mutually independent — materialize
    # them from a thread pool (multi-threaded py4j against one session is
    # safe; each checkpoint is its own tiny job) instead of serially paying
    # ~7 planning+job round-trips on the driver's critical path
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4, thread_name_prefix="dims") as pool:
        futs = {k: pool.submit(lambda df: df.localCheckpoint(eager=True), v)
                for k, v in dims.items()}
        return {k: f.result() for k, f in futs.items()}


def interleaved_corpus(
    spark: SparkSession,
    documents_parquet: str,
    entities: DataFrame,
    mentions_per_doc: int = 3,
    media_every: int = 3,
) -> DataFrame:
    """Distributed interleaved-corpus generator (scales with the input).

    Wraps each driver ``documents`` row into an interleaved span array:
    its text is chunked into text spans, ``mentions_per_doc`` extra text
    spans embed entity labels chosen by ``xxhash64(doc_id, i)`` (exact,
    reproducible linking ground truth), and every ``media_every``-th doc
    gets a media span. 100% column expressions + one broadcast join on the
    (dimension-sized) entity dictionary — at 10^12 docs this is a single
    map-side stage, no shuffle except the final per-doc regroup, which we
    avoid entirely by building the span array inside one projection.
    """
    n_ent = entities.count()
    ent_idx = entities.select(
        F.col("qid"), F.col("label_en"),
        (F.abs(F.xxhash64("qid")) % F.lit(2**31)).alias("_h"),
    )
    # deterministic dense index for modulo selection
    from pyspark.sql import Window

    # TOTAL order: the entity dimension legitimately repeats a qid with
    # different label variants, so ordering by qid alone leaves row_number
    # ties whose resolution is partition-dependent — the ent_idx→label
    # mapping (and with it every downstream triple) would drift across
    # cluster sizes (observed at ws800: 1-vs-4-executor digests diverged)
    ent_idx = ent_idx.withColumn(
        "ent_idx",
        F.row_number().over(Window.orderBy("qid", "label_en")) - 1,
    ).select("ent_idx", "qid", "label_en")

    docs = spark.read.parquet(documents_parquet).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    # mention selectors: explode a small index range, pick entity by hash
    # selection hashes use conv(substr(md5(...))) rather than xxhash64:
    # bit-for-bit replicable in ANSI engines (DuckDB:
    # CAST('0x'||substr(md5(x),1,6) AS BIGINT)), which lets the driver's
    # oracle twin re-derive the corpus spans in pure SQL
    m = docs.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), F.lit(mentions_per_doc - 1))).alias("i"),
    ).withColumn(
        "ent_idx",
        F.conv(F.substring(F.md5(F.concat_ws("_", "doc_id",
                                             F.col("i").cast("string"))),
                           1, 6), 16, 10).cast("long") % F.lit(n_ent))
    m = m.join(F.broadcast(ent_idx), "ent_idx")
    mention_spans = m.select(
        "doc_id",
        F.struct(
            F.lit("text").alias("kind"),
            F.concat(F.lit("In this passage "), F.col("label_en"),
                     F.lit(" is discussed at length.")).alias("text"),
            F.lit("").alias("media_ref"),
            (F.col("i") * 2 + 1).alias("offset"),
        ).alias("span"),
        F.col("qid").alias("truth_qid"),
        (F.col("i") * 2 + 1).alias("truth_offset"),
    )
    base_spans = docs.select(
        "doc_id",
        F.struct(
            F.lit("text").alias("kind"),
            F.substring("text", 1, 400).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        ).alias("span"),
        F.lit(None).cast("string").alias("truth_qid"),
        F.lit(None).cast("int").alias("truth_offset"),
    )
    media_spans = docs.filter(
        F.conv(F.substring(F.md5("doc_id"), 1, 6), 16, 10).cast("long")
        % media_every == 0).select(
        "doc_id",
        F.struct(
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            F.concat(F.lit("media://"), "doc_id", F.lit("/art")).alias("media_ref"),
            F.lit(2 * mentions_per_doc + 1).alias("offset"),
        ).alias("span"),
        F.lit(None).cast("string").alias("truth_qid"),
        F.lit(None).cast("int").alias("truth_offset"),
    )
    all_spans = base_spans.unionByName(mention_spans).unionByName(media_spans)
    corpus = (
        all_spans.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list("span")).alias("spans_raw"),
            # array_sort → deterministic truth order regardless of
            # partitioning (collect_list order is partition-dependent)
            F.array_sort(F.collect_list(
                F.when(F.col("truth_qid").isNotNull(),
                       F.struct("truth_offset", "truth_qid"))
            )).alias("truth"),
        )
        # order spans by their offset (struct-default array_sort would sort
        # by kind first); offsets stay sparse — the invariant requires
        # 0-based strictly-increasing, not dense, and sparse keeps the
        # mention ground-truth offsets valid
        .withColumn(
            "spans_sorted",
            F.array_sort(
                "spans_raw",
                lambda a, b: F.when(a.offset < b.offset, -1)
                .when(a.offset > b.offset, 1)
                .otherwise(0),
            ),
        )
        .withColumn(
            "spans",
            F.transform(
                "spans_sorted",
                lambda s: F.struct(
                    s.kind.alias("kind"),
                    s.text.alias("text"),
                    s.media_ref.alias("media_ref"),
                    s.offset.cast("int").alias("offset"),
                ),
            ),
        )
        .select("doc_id", "spans", "truth")
    )
    return corpus
