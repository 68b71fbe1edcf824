"""The package runs on Spark's public API only: no private py4j handles
(``_jsparkSession``, ``_jvm``, ``_jdf``, ``_jsc``, ``._jc``), which break
outside classic mode and across Spark releases. Spark-free."""

from __future__ import annotations

import pathlib
import re

import wikidata_to_cidoc_crm_spark

_PRIVATE = re.compile(r"_jsparkSession|_jvm|_jdf|_jsc|\._jc")


def test_package_uses_no_private_jvm_handles():
    root = pathlib.Path(wikidata_to_cidoc_crm_spark.__file__).parent
    hits = [
        f"{path.relative_to(root)}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _PRIVATE.search(line)
    ]
    assert not hits, "private JVM handles:\n" + "\n".join(hits)
