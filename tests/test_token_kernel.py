"""Equivalence of the linear token/n-gram kernel (ops/_tokens.py) with
the per-gram formulas it replaced.

The reference formulas below are the previous implementations, kept
verbatim: each rebuilt every n-gram from the full tokenizer expression
inside a lambda (O(tokens²) per document) but defines the expected
values. Every column and array must match byte for byte on a seeded
edge-case corpus. The one intended difference is ``top_unigram_frac``
on documents where Python's ``str.split`` and the Spark tokenizer
disagree (leading/trailing non-space whitespace, NBSP): there the
share now divides by the Spark tokens (see
``test_quality.py::test_top_unigram_frac_uses_the_rule_tokens``).
"""

import random
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from whylogs_spark.ops import decontam, dedup, quality, text

_WS = r"\s+"


def _corpus():
    rnd = random.Random(20261017)
    words = ["a", "b", "x", "Ab", "…", "•", "#", "...", "-", "dup",
             "héllo", "wörld"]
    seps = [" ", "  ", "\t", "\n", " \n ", "\u00a0", "\r\n", "\n\n",
            " \t "]
    edge = ["", " ", "\n", "a", "a b", "a b c", "a b c d e",
            "a  \t b\n\nc d", "\nx x y", "\tA a b c", "x\u00a0x y z",
            "… • dots... #", "- bullet\n* star\n• dot\nend...\nend…",
            "x " * 30, "dup line\ndup line\n\n  dup line  ", None]
    rand = []
    for _ in range(200):
        parts = [rnd.choice(seps)] if rnd.random() < 0.3 else []
        for i in range(rnd.randint(0, 14)):
            parts += [rnd.choice(words), rnd.choice(seps)]
        if parts and rnd.random() < 0.5:
            parts.pop()
        rand.append("".join(parts))
    return list(enumerate(edge + rand))


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_corpus(), "doc_id long, text string")


# ------------------------------------------------ reference formulas

def _old_tokens(c):
    t = F.lower(F.trim(c))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(t, _WS))


def _old_lines(c):
    raw = F.split(c, r"\n")
    return F.filter(F.transform(raw, lambda x: F.trim(x)),
                    lambda x: F.length(x) > 0)


def _old_word_ngrams(toks, n):
    return F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def _old_repetition(df, ngram=3):
    def frac(s) -> float:  # nested: pickled by value for the workers
        if s is None:
            return 0.0
        toks = str(s).lower().split()
        if not toks:
            return 0.0
        counts: dict = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        return max(counts.values()) / len(toks)

    @pandas_udf("double")
    def top_unigram(text: pd.Series) -> pd.Series:
        return text.map(frac)

    c = F.col("text")
    lines = _old_lines(c)
    grams = _old_word_ngrams(_old_tokens(c), ngram)
    dup_frac = (
        lambda arr: F.when(F.size(arr) <= 0, F.lit(0.0)).otherwise(
            1.0 - F.size(F.array_distinct(arr)).cast("double")
            / F.size(arr))
    )
    return (
        df.withColumn("n_lines", F.size(lines))
        .withColumn("dup_line_frac", dup_frac(lines))
        .withColumn("dup_ngram_frac", dup_frac(grams))
        .withColumn("top_unigram_frac", top_unigram(c))
    )


def _old_symbol(df):
    c = F.col("text")
    toks = _old_tokens(c)
    lines = _old_lines(c)
    n_sym = None
    for s in ["#", "…"]:
        cnt = F.length(c) - F.length(F.replace(c, F.lit(s)))
        n_sym = cnt if n_sym is None else n_sym + cnt
    dots = (F.length(c) - F.length(F.replace(c, F.lit("...")))) / 3
    n_sym = (n_sym + dots).cast("double")
    n_tok = F.size(toks)
    frac_lines = lambda pred: F.when(
        F.size(lines) <= 0, F.lit(0.0)
    ).otherwise(F.size(F.filter(lines, pred)).cast("double")
                / F.size(lines))
    return (
        df.withColumn(
            "symbol_word_ratio",
            F.when(n_tok > 0, n_sym / n_tok).otherwise(F.lit(0.0)))
        .withColumn("ellipsis_line_frac",
                    frac_lines(lambda ln: ln.endswith("...")
                               | ln.endswith("…")))
        .withColumn("bullet_line_frac",
                    frac_lines(lambda ln: ln.startswith("-")
                               | ln.startswith("*")
                               | ln.startswith("•")))
    )


def _old_gopher(df, min_tokens=3):
    d = _old_symbol(_old_repetition(df))
    n_tok = F.size(_old_tokens(F.col("text")))
    d = (
        d.withColumn("rule_len_ok", n_tok.between(min_tokens, 100000))
        .withColumn("rule_dup_line_ok", F.col("dup_line_frac") <= 0.30)
        .withColumn("rule_dup_ngram_ok", F.col("dup_ngram_frac") <= 0.60)
        .withColumn("rule_top_unigram_ok",
                    F.col("top_unigram_frac") <= 0.30)
        .withColumn("rule_symbol_ok", F.col("symbol_word_ratio") <= 0.10)
        .withColumn("rule_ellipsis_ok",
                    F.col("ellipsis_line_frac") <= 0.30)
        .withColumn("rule_bullet_ok", F.col("bullet_line_frac") <= 0.90)
    )
    verdict = F.lit(True)
    for r in [c for c in d.columns if c.startswith("rule_")]:
        verdict = verdict & F.col(r)
    return d.withColumn("gopher_pass", verdict)


def _old_word_shingles(c, n):
    toks = F.split(dedup.normalized_text(c), " ")
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array_distinct(F.array(F.concat_ws(" ", toks))))


def _old_char_shingles(c, n):
    t = dedup.normalized_text(c)
    k = F.length(t) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.substring(t, i, n),
    )
    return F.array_distinct(grams)


def _old_hashed_word_shingles(c, n):
    toks = F.split(dedup.normalized_text(c), " ")
    th = F.transform(toks, lambda t: F.xxhash64(t))
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.xxhash64(*[F.get(th, i + j) for j in range(n)]),
    )
    short = F.array(F.xxhash64(F.concat_ws(" ", toks)))
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(short)


def _old_decontam_ngrams(c, n):
    return F.array_distinct(_old_word_ngrams(_old_tokens(c), n))


def _old_phrase_count(c, by_k):
    toks = quality._alnum_tokens(c)
    pc = None
    for k, pset in sorted(by_k.items()):
        grams = F.when(
            F.size(toks) < k, F.array().cast("array<string>")
        ).otherwise(F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " ")))
        plits = F.array(*[F.lit(p) for p in sorted(pset)])
        cnt = F.size(F.filter(
            grams, lambda g: F.array_contains(plits, g))).cast("long")
        pc = cnt if pc is None else pc + cnt
    return pc


def _old_text_grams(c, n):
    t = F.lower(F.trim(c))
    toks = F.when(F.length(t) > 0, F.split(t, r"\s+")) \
        .otherwise(F.array().cast("array<string>"))
    if n == 1:
        return toks
    k = F.size(toks) - (n - 1)
    return F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            (lambda _n: lambda i: F.concat_ws(
                " ", F.slice(toks, i + 1, _n)))(n),
        )).otherwise(F.array().cast("array<string>"))


# ------------------------------------------------------------ checks

def _by_id(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def _split_disagrees(corpus):
    """{doc_id: Spark tokens} where Python's ``str.split`` tokens differ
    — the documents whose ``top_unigram_frac`` was fixed."""
    texts = dict(_corpus())
    return {r.doc_id: r.t for r in corpus.select(
        "doc_id", quality._tokens(F.col("text")).alias("t")).collect()
        if r.t is not None and r.t != texts[r.doc_id].lower().split()}


def _assert_same(new, old, skip=None):
    skip = skip or {}
    assert set(new) == set(old)
    for i in new:
        a, b = new[i], old[i]
        assert list(a) == list(b)
        for col in a:
            if col in skip.get(i, ()):
                continue
            assert a[col] == b[col], (i, col, a[col], b[col])


@pytest.mark.parametrize("ngram", [2, 3, 5])
def test_repetition_stats_match_reference(corpus, ngram):
    fixed = _split_disagrees(corpus)
    assert len(fixed) >= 10  # the corpus exercises the fixed cases
    new = _by_id(quality.with_repetition_stats(corpus, ngram=ngram))
    old = _by_id(_old_repetition(corpus, ngram))
    _assert_same(new, old, {i: ("top_unigram_frac",) for i in fixed})
    for i, toks in fixed.items():
        modal = max(Counter(toks).values()) if toks else 0
        want = modal / len(toks) if toks else 0.0
        assert new[i]["top_unigram_frac"] == want


def test_symbol_stats_match_reference(corpus):
    _assert_same(_by_id(quality.with_symbol_stats(corpus)),
                 _by_id(_old_symbol(corpus)))


def test_gopher_filter_matches_reference(corpus):
    fixed = _split_disagrees(corpus)
    dependent = ("top_unigram_frac", "rule_top_unigram_ok", "gopher_pass")
    new = quality.gopher_filter(corpus, min_tokens=3)
    old = _old_gopher(corpus)
    _assert_same(_by_id(new), _by_id(old), {i: dependent for i in fixed})
    # the pushed-down filter selects the rows the verdict column marks
    passed = {r.doc_id for r in new.filter("gopher_pass").collect()}
    assert passed == {i for i, r in _by_id(new).items()
                      if r["gopher_pass"]}


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingles_and_ngrams_match_reference(corpus, n):
    c = F.col("text")
    pairs = {
        "word": (dedup.word_shingles(c, n), _old_word_shingles(c, n)),
        "char": (dedup.char_shingles(c, n), _old_char_shingles(c, n)),
        "hashed": (dedup.hashed_word_shingles(c, n),
                   _old_hashed_word_shingles(c, n)),
        "decontam": (decontam.word_ngrams(c, n),
                     _old_decontam_ngrams(c, n)),
    }
    cols = [e.alias(f"{k}_{side}") for k, (a, b) in pairs.items()
            for side, e in (("new", a), ("old", b))]
    for r in corpus.select("doc_id", *cols).collect():
        for k in pairs:
            assert r[f"{k}_new"] == r[f"{k}_old"], (k, r.doc_id)


def test_blocklist_phrases_match_reference(corpus):
    phrases = ["a b", "x x", "dup line", "a b a", "b a x", "a a a a"]
    by_k = {}
    for p in phrases:
        by_k.setdefault(len(p.split()), set()).add(p)
    new = quality.with_blocklist_stats(corpus, ["dup"], phrases=phrases)
    old = corpus.select(
        "doc_id", _old_phrase_count(F.col("text"), by_k).alias("old"))
    got = {r.doc_id: r.blocklist_phrase_count for r in new.collect()}
    want = {r.doc_id: r.old for r in old.collect()}
    assert got == want
    assert sum(v or 0 for v in got.values()) > 0


def test_ngram_diversity_matches_reference(corpus):
    ns = (1, 2, 3)
    old = corpus.select(*[_old_text_grams(F.col("text"), n)
                          .alias(f"g{n}") for n in ns]).collect()
    got = {r.n: r for r in text.ngram_diversity(corpus, ns=ns).collect()}
    for n in ns:
        grams = [g for r in old for g in r[f"g{n}"]]
        assert got[n].n_total == len(grams)
        assert got[n].n_distinct == len(set(grams))


def test_word_pairs_match_reference(corpus):
    """Consecutive-pair arrays of the bigram LM ops, for the whitespace
    tokens and a regexp tokenizer."""
    from whylogs_spark.ops._tokens import let, pairs_of

    def old_pairs(toks):
        n = F.size(toks)
        return F.when(
            n >= 2,
            F.zip_with(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
                       lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    c = F.col("text")
    for toks in (quality._tokens(c), F.regexp_extract_all(
            F.lower(c), F.lit("[a-z0-9]+"), F.lit(0))):
        for r in corpus.select(let(toks, pairs_of).alias("new"),
                               old_pairs(toks).alias("old")).collect():
            # [] and null both explode to no rows
            assert (r.new or []) == (r.old or [])
