"""Shared word-token and n-gram kernel of the text ops.

On Spark 4.1 the array higher-order functions (``transform``,
``filter``, ``aggregate``, ``zip_with``) are ``CodegenFallback``, and
Catalyst shares no expression between a lambda body and its
surroundings: an expression referenced inside a lambda is re-evaluated
on EVERY invocation. The idiom ``transform(sequence(1, k), i ->
array_join(slice(<tokenizer>, i, n), ' '))`` thus re-ran
``lower/trim/split`` of the whole document per gram, O(tokens²) per
document. Three rules keep the ops linear:

1. Bind the tokenizer OUTSIDE any lambda: :func:`let` evaluates its
   value once per row and passes it to the body as a lambda variable.
2. Build windows by zipping ``n`` shifted slices of the bound array
   (:func:`windows`): O(n·tokens).
3. A downstream filter is pushed below the projections that define the
   columns it reads, and each column reference is replaced by its
   defining expression. A verdict must therefore read the expensive
   bound value through ONE reference (a :func:`let` over the struct of
   signals), or the filter re-evaluates it once per rule it reads.
"""

from __future__ import annotations

from typing import Callable, List

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row."""
    return F.transform(F.array(value), body)[0]


def word_tokens(c: Column) -> Column:
    """Whitespace tokens of lowercased trimmed text; [] for blank.

    Spark's ``trim`` strips only U+0020 and Java's ``\\s`` does not
    match U+00A0, so a leading tab/newline yields a leading "" token
    and NBSP stays inside a token — the same tokens the DuckDB oracles
    produce."""
    t = F.lower(F.trim(c))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(t, r"\s+"))


def windows(arr: Column, n: int,
            f: Callable[[List[Column]], Column]) -> Column:
    """``f`` over every run of ``n`` consecutive elements of ``arr``
    ([] when ``arr`` is shorter than ``n``). ``arr`` is referenced
    n + 1 times, so pass a bound (:func:`let`) or projected array."""
    m = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(arr, j + 1, m) for j in range(n)])
    return F.transform(z, lambda w: f([w[str(j)] for j in range(n)]))


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a bound token array as space-joined strings."""
    return windows(toks, n, lambda w: F.concat_ws(" ", *w))


def pairs_of(toks: Column) -> Column:
    """Consecutive ``(w1, w2)`` structs of a bound token array."""
    return windows(
        toks, 2, lambda w: F.struct(w[0].alias("w1"), w[1].alias("w2")))


def modal_count(toks: Column) -> Column:
    """Occurrences of the most frequent token (0 for []): one
    run-length pass over ``sort_array`` — O(tokens·log tokens) in the
    JVM, no Python."""
    init = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(1)
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(F.sort_array(toks), init, step,
                       lambda acc: acc["best"])
