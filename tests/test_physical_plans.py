"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the executed plan (predicate pushdown, column pruning,
broadcast joins, whole-stage codegen, no shuffle in the triple fan-out)."""

from __future__ import annotations

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_filter_pushdown_and_pruning(spark):
    df = entrymod.queries()["p1_filter_project"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters", 1)[1]
    # column pruning: only the three projected columns reach the scan
    read = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_orderkey" in read and "l_partkey" in read
    assert "l_shipdate" not in read and "l_extendedprice" not in read


def test_semi_join_broadcasts(spark):
    df = entrymod.queries()["j1_semi_join"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_multi_hop_uses_broadcast_for_dims(spark):
    df = entrymod.queries()["j10_multi_hop"](spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region


def test_triple_fanout_is_shuffle_free(spark, dims):
    from wikidata_to_cidoc_crm_spark.model import Rule
    from wikidata_to_cidoc_crm_spark.plans.sql_stages import _emit_inline_sql, mint

    emit = _emit_inline_sql([
        Rule(mint("person", "qid"), "p:x", "label", obj_is_iri=False),
        Rule(mint("person", "qid"), "p:y", "lang", obj_is_iri=False),
    ])
    out = spark.sql(f"SELECT {emit} FROM {{t}}", t=dims["wd_labels"])
    plan = _plan(out, "simple")
    assert "Exchange" not in plan  # pure Project+Generate, no shuffle
    assert "Generate inline" in plan
    # '*(n)' prefixes mark whole-stage-codegen spans in simpleString
    assert "*(" in plan


def test_aggregate_is_partial_then_final(spark):
    df = entrymod.queries()["a3_having_count_distinct"](spark, SF)
    plan = _plan(df, "simple")
    assert "HashAggregate" in plan  # partial/final hash aggregation


def test_label_broadcast_gate_falls_back_to_shuffle_join(spark, dims, world, monkeypatch):
    """When the label table exceeds LABEL_BROADCAST_MAX the forced broadcast
    must give way to a shuffle join (fact-sized labels would OOM a forced
    broadcast at real-Wikidata scale) — and the result set is identical."""
    from wikidata_to_cidoc_crm_spark.model import triples_to_python_set
    from wikidata_to_cidoc_crm_spark.plans import relations as relmod
    from wikidata_to_cidoc_crm_spark.plans.works import works_stage

    works = spark.createDataFrame(
        [(w["qid"],) for w in world.works], "qid string")
    bcast = works_stage(spark, works, dims["wd_statements"], dims["wd_labels"],
                        broadcast_labels=True)
    shuffled = works_stage(spark, works, dims["wd_statements"],
                           dims["wd_labels"], broadcast_labels=False)
    # disable the size-based auto-broadcast so only the explicit hint
    # decides (the fixture label dim is tiny and would auto-broadcast)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n_shuffled = _plan(shuffled, "simple").count("BroadcastHashJoin")
        n_bcast = _plan(bcast, "simple").count("BroadcastHashJoin")
        # the gated path really does drop the broadcast hint on label joins
        assert n_shuffled < n_bcast
        # and the auto gate flips when the threshold is exceeded
        monkeypatch.setattr(relmod, "LABEL_BROADCAST_MAX", 0)
        auto = works_stage(spark, works, dims["wd_statements"], dims["wd_labels"])
        assert _plan(auto, "simple").count("BroadcastHashJoin") == n_shuffled
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert triples_to_python_set(bcast) == triples_to_python_set(shuffled)


def test_jaccard_avoids_stopword_hub_join_on_both_paths(spark):
    """jaccard_pairs must never join on raw hub tokens. Degenerate vocab
    (the ≤63-token testdata) takes the bitmask path: popcount comparison
    of distinct masks, no token-keyed join at all. Large (Zipf) vocab
    takes the prefix path, whose candidate join is preceded by the DF-rank
    window (row_number over df asc) that drops stopwords from prefixes."""
    from pyspark.sql import functions as F

    from wikidata_to_cidoc_crm_spark.operators.dedup import jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(jaccard_pairs(docs, threshold=0.5), "simple")
    assert "bit_count" in plan and "row_number" not in plan

    wide_vocab = spark.range(80).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit(f"w{i}_"), (F.col("id") * (i + 3)) % 97)
            for i in range(12)
        ]).alias("text"),
    )
    plan = _plan(jaccard_pairs(wide_vocab, threshold=0.5), "simple")
    assert "row_number" in plan


def test_canonicalize_broadcast_gate_falls_back_to_shuffle_join(
        spark, monkeypatch):
    """The canonical map grows with the corpus (duplicate entities), not a
    dimension — above CANONICAL_BROADCAST_MAX the rewrite must shuffle-join
    instead of force-broadcasting a data-proportional map, with identical
    output (mirrors the label-broadcast gate test)."""
    from pyspark.sql import functions as F

    from wikidata_to_cidoc_crm_spark.model import ECRM, RDF_TYPE, RDFS_LABEL, TRIPLE_SCHEMA
    from wikidata_to_cidoc_crm_spark.plans import canonicalize as canmod

    P = ECRM + "E21_Person"
    rows = [
        ("p/Q1", RDF_TYPE, P, True, None, None),
        ("p/Q1", RDFS_LABEL, "Karoline von Guenderrode", False, "en", None),
        ("p/Q2", RDF_TYPE, P, True, None, None),
        ("p/Q2", RDFS_LABEL, "Karoline von Guenderrode", False, "en", None),
        ("p/Q3", RDF_TYPE, P, True, None, None),
        ("p/Q3", RDFS_LABEL, "Bettina von Arnim", False, "en", None),
        ("p/Q3", "http://example.org/knows", "p/Q2", True, None, None),
    ]
    g = spark.createDataFrame(rows, TRIPLE_SCHEMA)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bcast = canmod.canonicalize_stage(spark, g, [P])
        n_bcast = _plan(bcast, "simple").count("BroadcastHashJoin")
        monkeypatch.setattr(canmod, "CANONICAL_BROADCAST_MAX", 0)
        shuffled = canmod.canonicalize_stage(spark, g, [P])
        n_shuffled = _plan(shuffled, "simple").count("BroadcastHashJoin")
        assert n_shuffled < n_bcast and n_bcast >= 2
        assert sorted(map(tuple, bcast.collect())) \
            == sorted(map(tuple, shuffled.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_jaccard_mask_count_gate_falls_back_to_prefix_path(
        spark, monkeypatch):
    """Distinct masks ≈ #docs at vocab 40-63 — when their count exceeds
    MASK_PAIRS_MAX the (quadratic) all-pairs popcount must give way to the
    prefix-filter join; both paths are exact, so results are identical."""
    from wikidata_to_cidoc_crm_spark.operators import dedup as dmod

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fast = dmod.jaccard_pairs(docs, threshold=0.5)
    assert "bit_count" in _plan(fast, "simple")

    monkeypatch.setattr(dmod, "MASK_PAIRS_MAX", 0)
    slow = dmod.jaccard_pairs(docs, threshold=0.5)
    plan = _plan(slow, "simple")
    assert "row_number" in plan and "bit_count" not in plan
    assert sorted(map(tuple, fast.collect())) \
        == sorted(map(tuple, slow.collect()))


def test_merge_dedups_on_full_key_and_shuffles_labels_only(
        spark, dims, world, monkeypatch):
    """The skew-robust merge shuffles the big dedup on the full triple key
    (uniform under hub subjects) and re-shuffles only the label fraction
    for the window — never a forced full-graph subj repartition."""
    from wikidata_to_cidoc_crm_spark.plans import merge as mergemod
    from wikidata_to_cidoc_crm_spark.plans.authors import authors_stage

    qids = spark.createDataFrame([(p["qid"],) for p in world.persons],
                                 "qid string")
    a = authors_stage(spark, qids, dims["wd_statements"], dims["wd_labels"]) \
        .localCheckpoint(eager=True)
    # the checkpoint truncates the plan, so catch the first statement (the
    # dedup + label window) as it is handed to it
    first: list = []
    monkeypatch.setattr(mergemod, "lazy_checkpoint",
                        lambda df: first.append(df) or df)
    mergemod.merge_stage(spark, [a])
    plan = _plan(first[0], "simple")
    exchanges = [ln for ln in plan.splitlines()
                 if "Exchange hashpartitioning" in ln]
    full_key = [ln for ln in exchanges
                if "subj" in ln and "pred" in ln and "obj" in ln]
    subj_only = [ln for ln in exchanges if ln not in full_key]
    assert full_key, plan
    # the label window's exchange sits above a pred = rdfs:label filter
    assert subj_only and all("subj" in ln for ln in subj_only), plan
    assert "REPARTITION_BY_COL" not in plan, plan


def test_final_align_stage_plans_adaptive_by_default(spark, monkeypatch):
    """README invariant (round-5 advice): the pipeline's final align stage
    executes under AQE (its many dimension-sized shuffles rely on runtime
    coalescing).

    The checkpoint truncates the returned plan to a Scan ExistingRDD, so
    the AQE-ness is asserted where it is decided: the adaptive conf active
    at each ``localCheckpoint`` call during the pipeline build. The final
    (aligned) checkpoint must run with AQE on — every lazy_checkpoint
    scopes it off."""
    import pyspark.sql.classic.dataframe as pdf

    from wikidata_to_cidoc_crm_spark.pipeline import run_pipeline

    seen: list[tuple[bool, str]] = []
    orig = pdf.DataFrame.localCheckpoint

    def recording(self, eager=True):
        seen.append((eager,
                     self.sparkSession.conf.get("spark.sql.adaptive.enabled")))
        return orig(self, eager=eager)

    monkeypatch.setattr(pdf.DataFrame, "localCheckpoint", recording)

    out = run_pipeline(spark, "/root/testdata/sf0.001", check_invariant=False)
    out._pipeline_runner.wait()
    lazy_calls = [aqe for eager, aqe in seen if not eager]
    # the final (aligned) stage's checkpoint is the last non-eager one and
    # the only one that must execute adaptively; every other stage goes
    # through lazy_checkpoint's AQE-off window
    assert lazy_calls and lazy_calls[-1] == "true", seen
    assert all(v == "false" for v in lazy_calls[:-1]), seen
