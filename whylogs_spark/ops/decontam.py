"""Benchmark decontamination: flag corpus documents that share word
n-grams with an evaluation/benchmark set.

The standard training-data hygiene step (GPT-3 App. C / PaLM-style
13-gram overlap): an eval example "contaminates" a training document
if any length-n word window appears in both. This module is part of
the training-pipeline superset (SURVEY.md §2.12) — the whylogs
reference has no analogue.

Scale shape (100 TB corpus, small benchmark):

1. Benchmark side: explode to distinct n-grams — output is small
   (|benchmark| × tokens) and is broadcast.
2. Corpus side: n-grams are built per-row in-plan (linear in tokens,
   ``ops/_tokens.py``) and exploded; the join against the benchmark
   grams is a broadcast hash join, so NO corpus-wide shuffle happens
   to find matches.
3. Only matching (doc_id, gram) rows — a tiny fraction — flow into
   the final groupBy(doc_id) shuffle.

So the expensive side of the plan is a single scan + map + broadcast
probe; the shuffle carries matches only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._tokens import let, ngrams, word_tokens


def word_ngrams(c: Column, n: int) -> Column:
    """Distinct word n-grams of lowercased text as space-joined
    strings; [] when the document has fewer than ``n`` tokens."""
    return F.array_distinct(let(word_tokens(c), lambda t: ngrams(t, n)))


def benchmark_ngrams(
    benchmark: DataFrame, n: int = 8, text_col: str = "text"
) -> DataFrame:
    """Distinct n-grams over the whole benchmark set — the broadcast
    side. One column ``gram``."""
    return (
        benchmark.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
        .distinct()
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Annotate ``corpus`` with ``contaminated_ngrams`` (count of
    distinct n-grams shared with ``benchmark``) and ``is_contaminated``.

    The benchmark gram set is broadcast; the corpus is scanned once.
    Documents with zero overlap keep ``contaminated_ngrams = 0`` via
    the left join + coalesce.
    """
    grams = F.broadcast(benchmark_ngrams(benchmark, n, text_col))
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    hits = (
        corpus_grams.join(grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contaminated_ngrams"))
    )
    return (
        corpus.join(hits, id_col, "left")
        .withColumn(
            "contaminated_ngrams",
            F.coalesce(F.col("contaminated_ngrams"), F.lit(0)))
        .withColumn("is_contaminated", F.col("contaminated_ngrams") > 0)
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark_id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy decontamination: flag corpus documents whose n-gram
    Jaccard similarity against ANY single benchmark document reaches
    ``threshold`` — the softer companion to ``ngram_decontaminate``
    (which fires on one shared gram) for paraphrased / lightly edited
    benchmark leakage (the Llama/GPT-4-era "high n-gram overlap"
    decontamination recipe).

    Adds ``max_jaccard`` (0.0 when no gram is shared),
    ``matched_benchmark`` (the arg-max benchmark id, null when none;
    ties break to the smallest id — deterministic across engines) and
    ``is_contaminated``.

    Scale shape — EXACT, no MinHash needed, because one side is tiny:
    the benchmark's (id, gram, gram_count) explode is broadcast, so
    the corpus-wide work is one scan + in-plan n-gram build + a
    broadcast hash probe. Keep ``n`` >= 5 on web-scale corpora: a
    short gram ("of the and") can match a large corpus fraction and
    the match volume — not the benchmark size — is what feeds the
    pair shuffle. Only matching (corpus doc, benchmark doc)
    rows — a vanishing fraction at 100 TB for reasonable n — reach
    the pair groupBy;
    intersection counts come from that aggregate and the union follows
    from |A| + |B| − |A∩B| (both distinct-gram counts ride along, no
    second scan). The final annotate join keys on the corpus id
    exactly like ``ngram_decontaminate``.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    bid = "__bench_id"
    bench_grams = F.broadcast(
        benchmark.select(
            F.col(benchmark_id_col).alias(bid),
            word_ngrams(F.col(text_col), n).alias("__grams"))
        .select(bid, F.size("__grams").alias("__nb"),
                F.explode("__grams").alias("gram"))
        .filter(F.col("__nb") > 0))
    corpus_grams = corpus.select(
        F.col(id_col),
        word_ngrams(F.col(text_col), n).alias("__grams"),
    ).select(
        id_col, F.size("__grams").alias("__na"),
        F.explode("__grams").alias("gram"))
    pair = (
        corpus_grams.join(bench_grams, "gram")
        .groupBy(id_col, bid)
        .agg(F.count(F.lit(1)).alias("__inter"),
             F.first("__na").alias("__na"),
             F.first("__nb").alias("__nb"))
        .withColumn(
            "__jaccard",
            F.col("__inter").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__inter")))
    )
    # arg-max with a deterministic tie-break in ONE aggregate: the
    # lexicographic struct min of (-jaccard, bench_id) is (max
    # jaccard, then smallest id) — no second pass, no window
    best = pair.groupBy(id_col).agg(
        F.min(F.struct((-F.col("__jaccard")).alias("nj"),
                       F.col(bid).alias("b"))).alias("__m")
    ).select(
        id_col,
        (-F.col("__m.nj")).alias("max_jaccard"),
        F.col("__m.b").alias("matched_benchmark"))
    return (
        corpus.join(best, id_col, "left")
        .withColumn("max_jaccard",
                    F.coalesce(F.col("max_jaccard"), F.lit(0.0)))
        .withColumn("is_contaminated",
                    F.col("max_jaccard") >= threshold)
    )
