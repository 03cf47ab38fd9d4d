"""Shared text primitives: the space tokenizer, word and shingle
tables, and the marker-word count, each with its DuckDB oracle twin.

Registers no queries. The tokenizer rule is "split on one space, drop
empty tokens" (texts can carry trailing separators); the oracle side
spells it ``list_filter(string_split(text, ' '), w -> w != '')``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def space_split(col: str | Column = "text") -> Column:
    """The raw split on one space, empty tokens kept: the twin of
    DuckDB's ``string_split(text, ' ')``."""
    return F.split(col, " ")


def tokens(col: str | Column = "text") -> Column:
    """Non-empty token array (texts can carry trailing separators)."""
    return F.filter(space_split(col), lambda w: w != "")


def words(docs: DataFrame) -> DataFrame:
    """documents → one row per (doc_id, position, word). The empty-token
    filter runs on the ARRAY before exploding, so positions are
    contiguous by construction — no shuffle, no ranking window; the
    whole thing stays in one codegen stage per input partition."""
    return docs.select(
        "doc_id", F.posexplode(tokens()).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")


WORDS_SQL = """
    SELECT doc_id,
           unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word,
           generate_subscripts(list_filter(string_split(text, ' '), w -> w != ''), 1) AS pos
    FROM documents
"""


def shingles_from_docs(docs: DataFrame) -> DataFrame:
    """Word 3-gram shingles built array-side (transform over an index
    sequence) — zero shuffles, contrast the oracle's window-LEAD
    formulation which must sort per doc. Semantically identical.
    The token array is projected ONCE first: element_at inside the
    lambda would otherwise re-run split+filter per gram position
    (O(len²) per doc — measured ~8× on the inflated scale probe)."""
    tokd = docs.select("doc_id", tokens().alias("toks"))
    toks = F.col("toks")
    sh = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tokd.select("doc_id", F.explode(sh).alias("shingle"))


SHINGLES_SQL = f"""
    SELECT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
    FROM (
        SELECT doc_id, word,
               LEAD(word, 1) OVER w AS w1,
               LEAD(word, 2) OVER w AS w2
        FROM ({WORDS_SQL})
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ) WHERE w2 IS NOT NULL
"""


_LANG_MARKERS = ("the", "a", "of")


def marker_hits_sql() -> str:
    pad = "' ' || text || ' '"
    terms = []
    for m in _LANG_MARKERS:
        pat = f"' {m} '"
        terms.append(
            f"(length({pad}) - length(replace({pad}, {pat}, ' '))) / {len(m) + 1}"
        )
    return " + ".join(terms)


def marker_hits():
    """Spark twin of ``marker_hits_sql`` — the marker-word occurrence
    count as a Column over a ``text`` column. Shared by q_text_langid
    and q_langid_confusion so the two can't drift if markers or the
    padding scheme change."""
    pad = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    hits = None
    for m in _LANG_MARKERS:
        t = (F.length(pad) - F.length(F.replace(pad, F.lit(f" {m} "), F.lit(" ")))) / (
            len(m) + 1
        )
        hits = t if hits is None else hits + t
    return hits
