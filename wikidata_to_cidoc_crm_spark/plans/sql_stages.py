"""Shared SQL helpers for the stage builds in ``plans/``.

Each mapping stage (authors, works, relations) and the merge stage compile
to a handful of ``spark.sql`` statements: one parse and analysis per
statement, instead of the ~700 eager Catalyst analyses an op-by-op
DataFrame build of the same plan pays (BENCH/PLANCOST.md). Broadcast hints,
the salted pair join and the first-partner window are spelled out in the
SQL text of each stage module.

The triple-emission ``Rule`` tables stay the single source of truth for
what a stage emits. ``_emit_inline_sql`` turns a table into one
``inline(array_compact(array(CASE ...)))`` fan-out by converting the rule
Columns to SQL text through the session's ColumnNode→Expression converter
(classic mode). ``_const_values_sql`` spells a constant triple block as a
VALUES select, and ``_wrap`` unions emission and header under an optional
full-key DISTINCT.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_compile_lock = threading.Lock()
_EMIT_CACHE: dict[str, str] = {}


def _col_sql(spark: SparkSession, col) -> str:
    """Unresolved Column → parseable SQL text (classic-mode converter).

    Spark's FunctionRegistry registers operators under function names
    (``and``, ``>``, ``isnotnull`` …), so ``Expression.sql()`` output
    round-trips through the parser; the golden and DuckDB-twin suites pin
    the round-trip by comparing full stage outputs."""
    return spark._jsparkSession.converter().apply(col._jc.node()).sql()


def _emit_inline_sql(spark: SparkSession, rules, cache_key: str) -> str:
    """Compile a Rule table to ``inline(array_compact(array(CASE …)))``:
    one struct per rule, null when the rule's condition or the subject/
    object non-null check fails, pruned by ``array_compact`` and expanded
    by one Generate, so the fan-out shuffles nothing and stays inside
    whole-stage codegen. Cached per rule table: the py4j conversion costs
    ~0.5 s for a 90-rule list and the tables are static."""
    with _compile_lock:
        if cache_key in _EMIT_CACHE:
            return _EMIT_CACHE[cache_key]
        structs = []
        for r in rules:
            subj = F.lit(r.subj) if isinstance(r.subj, str) else r.subj
            obj = F.lit(r.obj) if isinstance(r.obj, str) else r.obj
            cond = subj.isNotNull() & obj.isNotNull()
            if r.cond is not None:
                cond = cond & r.cond
            if r.lang is None:
                langc = F.lit(None).cast("string")
            elif isinstance(r.lang, str):
                langc = F.lit(r.lang)
            else:
                langc = r.lang.cast("string")
            structs.append(F.when(cond, F.struct(
                subj.cast("string").alias("subj"),
                F.lit(r.pred).alias("pred"),
                obj.cast("string").alias("obj"),
                F.lit(bool(r.obj_is_iri)).alias("obj_is_iri"),
                langc.alias("lang"),
                F.lit(r.dtype).cast("string").alias("dtype"),
            )))
        arr = F.array_compact(F.array(*structs))
        sql = f"inline({_col_sql(spark, arr)})"
        _EMIT_CACHE[cache_key] = sql
        return sql


def _q(s) -> str:
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _const_values_sql(triples) -> str:
    """Constant triple block as a VALUES select (model-order tuples:
    (s, p, o[, is_iri[, lang[, dtype]]]); is_iri defaults to true)."""
    rows = []
    for t in triples:
        s, p, o = t[0], t[1], t[2]
        is_iri = t[3] if len(t) > 3 else True
        lang = t[4] if len(t) > 4 else None
        dtype = t[5] if len(t) > 5 else None
        rows.append(
            f"({_q(s)},{_q(p)},{_q(o)},{'true' if is_iri else 'false'},"
            f"{'NULL' if lang is None else _q(lang)},"
            f"{'NULL' if dtype is None else _q(dtype)})")
    return ("SELECT subj, pred, obj, obj_is_iri, CAST(lang AS STRING) AS lang, "
            "CAST(dtype AS STRING) AS dtype FROM (VALUES "
            + ",\n ".join(rows)
            + ") AS hdr(subj, pred, obj, obj_is_iri, lang, dtype)")


def _wrap(emission_sql: str, header_sql: str | None, dedupe: bool) -> str:
    """Emission ∪ header, optionally DISTINCT over the full triple key
    (the set semantics of model.dedupe_triples)."""
    body = emission_sql
    if header_sql:
        body = f"{body}\nUNION ALL\n{header_sql}"
    sel = "SELECT DISTINCT" if dedupe else "SELECT"
    return (f"{sel} subj, pred, obj, obj_is_iri, lang, dtype FROM (\n"
            f"{body}\n) __triples")
