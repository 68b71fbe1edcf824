"""run_pipeline's failure paths: an error surfaces, and no background
thread the run started outlives it."""

from __future__ import annotations

import threading

import pytest


def test_early_failure_joins_label_count_thread(spark, monkeypatch):
    from wikidata_to_cidoc_crm_spark import pipeline

    def broken_corpus(*args, **kwargs):
        raise RuntimeError("corpus build failed")

    monkeypatch.setattr(pipeline, "interleaved_corpus", broken_corpus)
    # the corpus build fails before any document is read, so the input
    # directory need not exist
    with pytest.raises(RuntimeError, match="corpus build failed"):
        pipeline.run_pipeline(spark, "sf0.001")
    alive = [t.name for t in threading.enumerate()
             if t.name.startswith("label-count")]
    assert not alive, alive
