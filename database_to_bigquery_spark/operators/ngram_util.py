"""HOF-safe sliding n-gram builders shared by the text operators.

The obvious declarative n-gram build —
``transform(sequence(1, size(w)-n+1), i -> ...element_at(w, i+k)...)``
— hides a quadratic trap: projection collapse inlines the word array's
defining expression (``split(lower(text), " ")``) into the lambda
body, and Spark evaluates HOF lambda bodies INTERPRETED, per element,
with no common-subexpression elimination — so the document is re-split
once per gram. Measured on the 250k-doc twin this turned Θ(tokens)
operators into 40–140 s jobs (see text_repeated_ngrams /
text_repetition_filter / text_corpus_overlap commit notes).

The safe shape built here: ``arrays_zip`` of n SHIFTED slices of the
word array. Every expression is non-HOF codegen, and because the word
array is referenced n+1 times in one projection, CollapseProject
refuses to inline it (multi-referenced non-cheap aliases stay
materialized) — the split runs once per row, guaranteed by the
optimizer's own rules rather than by luck.

Usage contract: the word array must be a MATERIALIZED column (pass its
NAME, after ``.select(split(...).alias("w"))``), never an inline
expression — passing ``F.split(...)`` directly would re-introduce the
n+1 evaluations these helpers exist to prevent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sliding_structs(col: str, n: int) -> Column:
    """``array<struct<w0..w{n-1}>>`` of all length-n sliding windows of
    the materialized array column ``col`` (empty when the array is
    shorter than n — the span clamps at 0 because ``slice`` raises on
    negative lengths at RUNTIME, a data-dependent failure no test on
    well-formed fixtures would catch). Explode it and read fields per
    row — nothing row-level is ever evaluated per element."""
    span = F.greatest(F.size(F.col(col)) - (n - 1), F.lit(0))
    return F.arrays_zip(
        *[F.slice(F.col(col), i + 1, span).alias(f"w{i}") for i in range(n)]
    )


def sliding_ngrams(col: str, n: int) -> Column:
    """``array<string>`` of space-joined n-grams over the materialized
    array column ``col``. The transform lambda touches ONLY its struct
    element (no outer column references), so it is a cheap per-element
    concat — the safe kind of HOF."""
    return F.transform(
        sliding_structs(col, n),
        lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)]),
    )
