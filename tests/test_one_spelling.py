"""The pipeline stage builders are spelled once, as ``spark.sql`` text
emitted through ``sql_stages``: none of them imports
``pyspark.sql.functions``, the Column-op spelling of the same plans.
Spark-free."""

from __future__ import annotations

import ast
import pathlib

import wikidata_to_cidoc_crm_spark

STAGES = ["authors", "works", "relations", "merge", "align", "canonicalize"]


def _imports_functions(tree: ast.AST) -> bool:
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            if any(a.name == "pyspark.sql.functions" for a in node.names):
                return True
        elif isinstance(node, ast.ImportFrom):
            if node.module == "pyspark.sql.functions":
                return True
            if node.module == "pyspark.sql" and any(
                    a.name == "functions" for a in node.names):
                return True
    return False


def test_stage_builders_do_not_import_column_functions():
    plans = pathlib.Path(wikidata_to_cidoc_crm_spark.__file__).parent / "plans"
    hits = [name for name in STAGES
            if _imports_functions(ast.parse((plans / f"{name}.py").read_text()))]
    assert not hits, f"plans modules importing pyspark.sql.functions: {hits}"
