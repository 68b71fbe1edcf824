"""Shared SQL helpers for the stage builds in ``plans/``.

Each mapping stage (authors, works, relations) and the merge stage compile
to a handful of ``spark.sql`` statements: one parse and analysis per
statement, instead of the ~700 eager Catalyst analyses an op-by-op
DataFrame build of the same plan pays (BENCH/PLANCOST.md). Broadcast hints,
the salted pair join and the first-partner window are spelled out in the
SQL text of each stage module.

The triple-emission ``Rule`` tables stay the single source of truth for
what a stage emits. Their terms are SQL expression text (constants quoted
with ``_q`` at the rule site; ``mint``/``wd_entity_uri``/``timespan_uri``
build the IRI expressions), so ``_emit_inline_sql`` is plain string
assembly into one ``inline(array_compact(array(CASE ...)))`` fan-out.
``_const_values_sql`` spells a constant triple block as a VALUES select,
and ``_wrap`` unions emission and header under an optional full-key
DISTINCT.
"""

from __future__ import annotations

from ..model import SAPPHO, WD


def _q(s) -> str:
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


EN = _q("en")


def mint(kind: str, key: str) -> str:
    """``https://sappho-digital.com/{kind}/{key}``; ``key`` is SQL text
    (the reference's f-string mints, e.g. authors.py:277-279)."""
    return f"concat({_q(f'{SAPPHO}{kind}/')}, {key})"


def wd_entity_uri(qid: str) -> str:
    """``http://www.wikidata.org/entity/{qid}`` (authors.py:267)."""
    return f"concat({_q(WD)}, {qid})"


def timespan_uri(date_value: str) -> str:
    """date ``YYYY-MM-DD`` → ``timespan/YYYYMMDD``; year → ``timespan/YYYY``
    (authors.py:295-296, works.py:435-443)."""
    return mint("timespan", f"regexp_replace({date_value}, '-', '')")


def _emit_inline_sql(rules) -> str:
    """Compile a Rule table to ``inline(array_compact(array(CASE …)))``:
    one struct per rule, null when the rule's condition or the subject/
    object non-null check fails, pruned by ``array_compact`` and expanded
    by one Generate, so the fan-out shuffles nothing and stays inside
    whole-stage codegen."""
    structs = []
    for r in rules:
        cond = f"({r.subj}) IS NOT NULL AND ({r.obj}) IS NOT NULL"
        if r.cond is not None:
            cond += f" AND ({r.cond})"
        lang = "NULL" if r.lang is None else r.lang
        dtype = "NULL" if r.dtype is None else _q(r.dtype)
        structs.append(
            f"CASE WHEN {cond} THEN named_struct("
            f"'subj', CAST({r.subj} AS STRING), 'pred', {_q(r.pred)}, "
            f"'obj', CAST({r.obj} AS STRING), "
            f"'obj_is_iri', {'true' if r.obj_is_iri else 'false'}, "
            f"'lang', CAST({lang} AS STRING), "
            f"'dtype', CAST({dtype} AS STRING)) END")
    return "inline(array_compact(array(\n  " + ",\n  ".join(structs) + ")))"


def _const_values_sql(triples) -> str:
    """Constant triple block as a VALUES select (model-order tuples:
    (s, p, o[, is_iri[, lang[, dtype[, block]]]]); is_iri defaults to
    true). An int ``block`` tag, given on every row or on none, adds a
    trailing ``block`` column (align gates its constant blocks on it)."""
    rows, tag = [], ""
    for t in triples:
        s, p, o = t[0], t[1], t[2]
        is_iri = t[3] if len(t) > 3 else True
        lang = t[4] if len(t) > 4 else None
        dtype = t[5] if len(t) > 5 else None
        tag = f",{int(t[6])}" if len(t) > 6 else ""
        rows.append(
            f"({_q(s)},{_q(p)},{_q(o)},{'true' if is_iri else 'false'},"
            f"{'NULL' if lang is None else _q(lang)},"
            f"{'NULL' if dtype is None else _q(dtype)}{tag})")
    block = ", block" if tag else ""
    return ("SELECT subj, pred, obj, obj_is_iri, CAST(lang AS STRING) AS lang, "
            f"CAST(dtype AS STRING) AS dtype{block} FROM (VALUES "
            + ",\n ".join(rows)
            + f") AS hdr(subj, pred, obj, obj_is_iri, lang, dtype{block})")


def _wrap(emission_sql: str, header_sql: str | None, dedupe: bool) -> str:
    """Emission ∪ header, optionally DISTINCT over the full triple key —
    the set semantics of the reference's rdflib Graph (a duplicate
    ``g.add`` is a no-op). ``obj_is_iri`` is part of term identity: an IRI
    and a plain literal with the same lexical form are different terms,
    and keying on it leaves no arbitrary winner between an IRI-flagged and
    a literal-flagged duplicate across partitionings."""
    body = emission_sql
    if header_sql:
        body = f"{body}\nUNION ALL\n{header_sql}"
    sel = "SELECT DISTINCT" if dedupe else "SELECT"
    return (f"{sel} subj, pred, obj, obj_is_iri, lang, dtype FROM (\n"
            f"{body}\n) __triples")
