"""Corpus-quality filter operators for training-data pipelines.

Implements the repetition / symbol-noise / PII family of document
filters popularized by the Gopher (Rae et al. 2021, arXiv:2112.11446)
and C4 (Raffel et al. 2020) cleaning recipes, re-expressed as Spark
column expressions so a 100 TB cleaning pass stays a single narrow
projection (no shuffle, whole-stage codegen) wherever the semantics
allow.

Reference parity note: the whylogs reference has no corpus-filter
operators; this module is part of the training-pipeline superset
surveyed in SURVEY.md §2.12 (alongside ops/text.py and ops/dedup.py).

Operators
---------
* ``with_repetition_stats`` — duplicate-line / duplicate-n-gram /
  top-unigram fractions (the Gopher repetition signals).
* ``with_symbol_stats`` — symbol-to-word ratio, ellipsis/bullet line
  fractions.
* ``gopher_filter`` — combine both into per-rule booleans + a single
  ``gopher_pass`` verdict with the published default thresholds.
* ``with_pii_stats`` — email / URL / IPv4 / phone counts per document
  (RE2-safe regexes so the same pattern runs in any SQL oracle), plus
  an optional redacted text column.
* ``with_compression_stats`` — zlib compressibility ratio (the
  CCNet/RefinedWeb-era repetition/boilerplate signal).
* ``with_blocklist_stats`` — C4-style whole-word/phrase blocklist
  screening with auditable per-document counts.

Scale shape
-----------
Everything here is per-row compute with zero shuffle, no Python and no
driver participation. Tokenization, n-grams and the modal-token count
are array higher-order functions, which Spark runs interpreted
(``CodegenFallback``), so each document's tokens and lines are bound
once and every signal derives from that binding (``ops/_tokens.py``):
cost stays linear in tokens, also under a downstream
``filter("gopher_pass")``.
"""

from __future__ import annotations

import functools
import math
import operator
import re
from typing import Optional

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ._tokens import let, modal_count, ngrams, pairs_of
from ._tokens import word_tokens as _tokens


def _lines(c: Column) -> Column:
    """Non-blank trimmed lines."""
    raw = F.split(c, r"\n")
    return F.filter(F.transform(raw, lambda x: F.trim(x)),
                    lambda x: F.length(x) > 0)


_REPETITION = ("n_lines", "dup_line_frac", "dup_ngram_frac",
               "top_unigram_frac")
_SYMBOL = ("symbol_word_ratio", "ellipsis_line_frac", "bullet_line_frac")


def _with_signals(df: DataFrame, text_col: str, ngram: int,
                  names) -> DataFrame:
    """Add the named per-document Gopher signals, plus the struct
    ``__gopher`` holding them and ``n_tok``: every signal derives from
    ONE binding of the document's tokens and lines."""
    c = F.col(text_col)
    # Gopher counts '#' and '…' as symbols; ASCII '...' counts once per
    # occurrence (3 chars removed per hit)
    n_sym = sum(F.length(c) - F.length(F.replace(c, F.lit(s)))
                for s in ("#", "…"))
    n_sym = (n_sym + (F.length(c) - F.length(F.replace(c, F.lit("..."))))
             / 3).cast("double")

    def body(b: Column) -> Column:
        toks, lines = b["toks"], b["lines"]
        n_tok, n_lines = F.size(toks), F.size(lines)
        per_tok = lambda x: F.when(n_tok > 0, x / n_tok) \
            .otherwise(F.lit(0.0))
        dup_frac = lambda arr, k: F.when(k <= 0, F.lit(0.0)).otherwise(
            1.0 - F.size(F.array_distinct(arr)).cast("double") / k)
        frac_lines = lambda pred: F.when(n_lines <= 0, F.lit(0.0)) \
            .otherwise(F.size(F.filter(lines, pred)).cast("double")
                       / n_lines)
        sig = {
            "n_tok": n_tok,
            "n_lines": n_lines,
            "dup_line_frac": dup_frac(lines, n_lines),
            "dup_ngram_frac": dup_frac(ngrams(toks, ngram),
                                       n_tok - (ngram - 1)),
            "top_unigram_frac": per_tok(modal_count(toks).cast("double")),
            "symbol_word_ratio": per_tok(n_sym),
            "ellipsis_line_frac": frac_lines(
                lambda ln: ln.endswith("...") | ln.endswith("…")),
            "bullet_line_frac": frac_lines(
                lambda ln: ln.startswith("-") | ln.startswith("*")
                | ln.startswith("•")),
        }
        return F.struct(*[sig[k].alias(k) for k in ("n_tok", *names)])

    g = let(F.struct(_tokens(c).alias("toks"), _lines(c).alias("lines")),
            body)
    return df.withColumn("__gopher", g) \
        .withColumns({k: F.col("__gopher")[k] for k in names})


def with_repetition_stats(
    df: DataFrame, text_col: str = "text", ngram: int = 3
) -> DataFrame:
    """Add the Gopher repetition signals as columns.

    * ``dup_line_frac`` — 1 − distinct/total over non-blank lines.
    * ``dup_ngram_frac`` — 1 − distinct/total over word ``ngram``-grams
      (Gopher §A1.1 uses n∈{2..4} occurrence fractions; a single
      duplicate-share per n is the standard simplification).
    * ``top_unigram_frac`` — share of the modal token.
    """
    return _with_signals(df, text_col, ngram, _REPETITION).drop("__gopher")


def with_symbol_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Symbol-to-word ratio and ellipsis/bullet line fractions."""
    return _with_signals(df, text_col, 3, _SYMBOL).drop("__gopher")


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100000,
    max_dup_line_frac: float = 0.30,
    max_dup_ngram_frac: float = 0.60,
    max_top_unigram_frac: float = 0.30,
    max_symbol_word_ratio: float = 0.10,
    max_ellipsis_line_frac: float = 0.30,
    max_bullet_line_frac: float = 0.90,
) -> DataFrame:
    """Per-rule booleans + combined ``gopher_pass`` column using the
    published Gopher defaults (doc-length window, repetition caps,
    symbol caps). Rows are NOT dropped — filter on ``gopher_pass``
    downstream so rejection reasons stay auditable."""

    def rules(g: Column) -> dict:
        return {
            "rule_len_ok": g["n_tok"].between(min_tokens, max_tokens),
            "rule_dup_line_ok": g["dup_line_frac"] <= max_dup_line_frac,
            "rule_dup_ngram_ok": g["dup_ngram_frac"] <= max_dup_ngram_frac,
            "rule_top_unigram_ok":
                g["top_unigram_frac"] <= max_top_unigram_frac,
            "rule_symbol_ok":
                g["symbol_word_ratio"] <= max_symbol_word_ratio,
            "rule_ellipsis_ok":
                g["ellipsis_line_frac"] <= max_ellipsis_line_frac,
            "rule_bullet_ok": g["bullet_line_frac"] <= max_bullet_line_frac,
        }

    own = rules(F.col("__gopher"))
    d = _with_signals(df, text_col, 3, _REPETITION + _SYMBOL) \
        .withColumns(own)
    # the verdict reads the signal struct through one binding, so a
    # pushed-down filter on it evaluates the signals once; rule_*
    # columns the input already carried stay in the verdict
    v = let(F.col("__gopher"),
            lambda g: functools.reduce(operator.and_, rules(g).values()))
    for r in df.columns:
        if r.startswith("rule_") and r not in own:
            v = v & F.col(r)
    return d.withColumn("gopher_pass", v).drop("__gopher")


# RE2-safe PII patterns (no lookaround, no backrefs) so the identical
# pattern string runs in Spark (Java regex) and DuckDB (RE2) oracles.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z][A-Za-z]+",
    "url": r"https?://[^\s]+",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "phone": r"\+[0-9]{1,3}[ \-][0-9]{3}[ \-][0-9]{3,4}[ \-][0-9]{4}",
}


def with_pii_stats(
    df: DataFrame,
    text_col: str = "text",
    redact: bool = False,
    redacted_col: Optional[str] = None,
) -> DataFrame:
    """Count PII-pattern hits per document (``n_email``, ``n_url``,
    ``n_ipv4``, ``n_phone``, ``n_pii``) and optionally add a redacted
    text column with each hit replaced by ``<KIND>`` sentinels.

    Pure regexp projection: no shuffle, pushdown-friendly, and every
    pattern is RE2-compatible so oracles can re-run it verbatim.
    """
    c = F.col(text_col)
    out = df
    total = None
    for kind, pat in PII_PATTERNS.items():
        cnt = F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        out = out.withColumn(f"n_{kind}", cnt)
        total = cnt if total is None else total + cnt
    out = out.withColumn("n_pii", total)
    if redact:
        red = c
        for kind, pat in PII_PATTERNS.items():
            red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
        out = out.withColumn(redacted_col or f"{text_col}_redacted", red)
    return out


def with_compression_stats(
    df: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """Add the zlib compressibility signal used by CCNet/RefinedWeb-era
    cleaning recipes: boilerplate, keyword-stuffed spam, and
    machine-generated repetition compress far better than natural
    prose, so a LOW ratio flags junk the token-level repetition stats
    can miss (repeats longer than an n-gram window).

    Columns added:

    * ``compressed_len`` — ``len(zlib.compress(utf8(text), level))``;
      null for null text.
    * ``compression_ratio`` — ``compressed_len / utf8_byte_len``; null
      for null text, 0.0 for empty text. Typical English prose lands
      around 0.3–0.6; heavily repetitive documents fall below ~0.2
      (the zlib container adds ~11 fixed bytes, so very short
      documents read high — threshold after a length filter).

    Scale shape: one Arrow-batched pandas UDF (zlib is per-row,
    stdlib) producing a single long column; the ratio is a JVM
    projection off ``octet_length``. Zero shuffle, no driver work.
    """
    import zlib

    lvl = level  # bind by value into the UDF closure

    @pandas_udf("long")
    def _zlen(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None if v is None
            else len(zlib.compress(v.encode("utf-8"), lvl)))

    c = F.col(text_col)
    raw_len = F.octet_length(c)
    out = df.withColumn("compressed_len", _zlen(c))
    return out.withColumn(
        "compression_ratio",
        F.when(c.isNull(), F.lit(None).cast("double"))
        .when(raw_len == 0, F.lit(0.0))
        .otherwise(F.col("compressed_len").cast("double") / raw_len))


_ALNUM_SPLIT = re.compile(r"[^a-z0-9]+")


def _split_alnum(s: str):
    """Python twin of ``_alnum_tokens`` (same split regex)."""
    return [t for t in _ALNUM_SPLIT.split(s) if t]


def _alnum_tokens(c: Column) -> Column:
    """Lowercased alphanumeric word tokens (punctuation-stripped) —
    the match key for blocklists, so "Word," and "word" both hit."""
    return F.filter(F.split(F.lower(c), r"[^a-z0-9]+"),
                    lambda x: F.length(x) > 0)


def with_blocklist_stats(
    df: DataFrame,
    words,
    text_col: str = "text",
    phrases=None,
) -> DataFrame:
    """C4-style blocklist screening ("bad words" filtering, Raffel et
    al. 2020 §2.2): count whole-word blocklist hits per document
    without dropping rows, so rejection stays auditable.

    * ``blocklist_count`` — total occurrences of blocklisted WORDS,
      matched on lowercased punctuation-stripped tokens (never
      substrings: "class" does not hit "ass").
    * ``blocklist_phrase_count`` — occurrences of multi-word PHRASES,
      matched as runs of the same normalized tokens (so punctuation
      and whitespace variants still hit), when ``phrases`` is given.
    * ``blocklist_ok`` — true iff both counts are zero.

    The word set ships as an array literal into the plan (bounded:
    real blocklists are a few hundred entries), so matching is a pure
    JVM projection — zero shuffle, no join, no Python.
    """
    norm_words = set()
    for w in words:
        wt = _split_alnum(w.lower())
        if len(wt) != 1:
            # a hyphenated/punctuated entry would normalize to 0 or 2+
            # tokens and SILENTLY never match a single token — the
            # C4-badwords failure mode; route it explicitly
            raise ValueError(
                f"blocklist word {w!r} normalizes to {len(wt)} tokens "
                f"({wt}); multi-token entries belong in `phrases`, "
                "punctuation-only entries cannot match")
        norm_words.add(wt[0])
    words = sorted(norm_words)
    if not words:
        raise ValueError("words must be a non-empty blocklist")
    bad = F.array(*[F.lit(w) for w in words])
    toks = _alnum_tokens(F.col(text_col))
    hit = F.size(F.filter(toks, lambda t: F.array_contains(bad, t)))
    out = df.withColumn("blocklist_count", hit)
    total = F.col("blocklist_count")
    if phrases:
        # group phrases by token length; one k-gram pass per distinct
        # k counts every (possibly adjacent/overlapping) occurrence
        by_k: dict = {}
        for p in phrases:
            pt = _split_alnum(p.lower())
            if len(pt) < 2:
                raise ValueError(
                    f"phrase {p!r} has fewer than 2 word tokens; put "
                    "single words in `words`")
            by_k.setdefault(len(pt), set()).add(" ".join(pt))

        def count(t: Column) -> Column:
            pc = None
            for k, pset in sorted(by_k.items()):
                plits = F.array(*[F.lit(p) for p in sorted(pset)])
                cnt = F.size(F.filter(
                    ngrams(t, k), lambda g: F.array_contains(plits, g))
                ).cast("long")
                pc = cnt if pc is None else pc + cnt
            return pc

        out = out.withColumn("blocklist_phrase_count", let(toks, count))
        total = total + F.col("blocklist_phrase_count")
    return out.withColumn("blocklist_ok", total == 0)


# ----------------------------------------------------------- unigram LM

def train_unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 100_000,
    smoothing: float = 0.5,
) -> DataFrame:
    """Capped-vocabulary unigram language model: (word, logprob) for the
    ``vocab_size`` most frequent whitespace tokens (ties broken
    lexicographically — deterministic across engines).

    Add-k smoothing over the kept vocabulary plus one OOV pseudo-word:
    ``logp(w) = ln((c_w + k) / (N + k*(V+1)))`` with N = total corpus
    tokens, V = kept vocabulary size; every out-of-vocabulary token
    scores ``ln(k / (N + k*(V+1)))``. That OOV score travels WITH the
    model as a constant ``oov_logprob`` column (LM metadata), so
    ``unigram_lm_scores`` never has to reverse-engineer the smoothing
    denominator from the rows.

    Scale shape: one explode + count shuffle on the word (map-side
    partial agg collapses to <=|vocab| rows per partition), then a
    DISTRIBUTED top-K — ``orderBy(...).limit(vocab_size)`` plans as
    TakeOrderedAndProject (per-partition bounded heaps, never a
    single-task global sort; distinct tokens at web-corpus scale are
    O(10^8-10^9) rows, so a one-partition ``row_number`` window here
    would be the plan's scale-killer). The smoothing totals (N, V) ride
    along as a 1-row aggregate frame cross-joined in, so training is
    ACTION-FREE and both consumers of the token counts share one corpus
    pass through exchange reuse — the explode+count runs once, not
    twice. The result is <= vocab_size rows — small enough to BROADCAST
    to the scoring join no matter the corpus size; that cap is the
    whole point (an uncapped vocabulary over 100 TB of web text is
    billions of rows and turns scoring into a full shuffle join).
    """
    counts = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    )
    # totals BEFORE the vocab cap: OOV tokens still count toward N
    totals = counts.agg(F.sum("c").alias("__n"),
                        F.count(F.lit(1)).alias("__v_all"))
    top = counts.orderBy(F.col("c").desc(), F.col("word").asc()) \
        .limit(vocab_size)
    denom = (
        F.col("__n").cast("double")
        + F.lit(smoothing)
        * (F.least(F.col("__v_all"), F.lit(vocab_size)) + F.lit(1))
    )
    return top.crossJoin(F.broadcast(totals)).select(
        "word",
        F.log((F.col("c") + F.lit(smoothing)) / denom).alias("logprob"),
        F.log(F.lit(smoothing) / denom).alias("oov_logprob"),
    )


def unigram_lm_scores(
    df: DataFrame,
    lm: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 100_000,
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-document mean token log-probability under a unigram LM — the
    classic cheap fluency/quality proxy (CCNet's LM filter, simplified
    to order 1 so it trains in one pass on the corpus itself).

    ``lm`` defaults to `train_unigram_lm` on ``df`` itself (self-scored
    corpus: spammy repetitive docs score HIGH, rare-junk docs score
    LOW); pass a model trained on a clean reference corpus for CCNet
    semantics. Returns (id_col, n_tokens, n_oov, avg_logprob,
    ppl_proxy = exp(-avg_logprob)).

    Scale shape: explode -> broadcast hash join against the <=V-row LM
    -> one groupBy shuffle on the doc id. No sort, no full-table join.
    Blank documents (zero tokens) have no defined mean logprob and are
    absent from the output.
    """
    if lm is None:
        lm = train_unigram_lm(df, text_col, vocab_size, smoothing)
    if "oov_logprob" not in lm.columns:
        raise ValueError(
            "lm must carry an 'oov_logprob' metadata column "
            "(train with train_unigram_lm, which emits it)")
    # the OOV score is constant across the model; surface it as a 1-row
    # frame so the plan stays action-free (broadcast, no driver collect)
    oov = lm.agg(F.first("oov_logprob").alias("__oov"))
    toks = df.select(
        F.col(id_col),
        F.explode(_tokens(F.col(text_col))).alias("word"),
    )
    scored = (
        toks.join(F.broadcast(lm.select("word", "logprob")), "word", "left")
        .crossJoin(F.broadcast(oov))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("logprob").isNull(), F.lit(1))
              .otherwise(F.lit(0))).alias("n_oov"),
        F.sum(F.coalesce(F.col("logprob"), F.col("__oov")))
        .alias("__sum_lp"),
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_oov",
        (F.col("__sum_lp") / F.col("n_tokens")).alias("avg_logprob"),
        F.exp(-F.col("__sum_lp") / F.col("n_tokens")).alias("ppl_proxy"),
    )


# ------------------------------------------------------ bigram LM (order 2)

def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    max_bigrams: int = 500_000,
) -> DataFrame:
    """Bigram transition table for stupid-backoff scoring (Brants et
    al. 2007, "Large Language Models in Machine Translation" — the
    published answer for LM scoring at web scale: no normalization
    pass, absent n-grams back off to the lower order with a fixed
    penalty). Returns (w1, w2, logscore) with ``logscore =
    ln(c(w1,w2) / c(w1))``, capped at the ``max_bigrams`` most frequent
    pairs (deterministic tie-break) so the table always broadcasts.

    ``c(w1)`` is the raw corpus unigram count of ``w1`` (the standard
    stupid-backoff denominator; it upper-bounds the true prefix count
    by at most 1 per document-final occurrence).

    Scale shape: consecutive-pair construction happens IN-PLAN on the
    token array (zip of the array with its own tail — no positional
    self-join), one groupBy((w1,w2)) with map-side partial agg, a
    broadcast join against the unigram counts for the denominator, and
    a distributed top-K cap (TakeOrderedAndProject). Action-free.
    """
    pairs = let(_tokens(F.col(text_col)), pairs_of)
    pc = (
        df.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )
    uni = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("w1"))
        .groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    )
    capped = pc.orderBy(F.col("c12").desc(), F.col("w1").asc(),
                        F.col("w2").asc()).limit(max_bigrams)
    # broadcast the CAPPED side (<= max_bigrams rows) into the
    # unbounded unigram table — broadcasting `uni` would collect the
    # full corpus vocabulary (O(10^8+) rows at web scale), the exact
    # hazard the vocab-cap machinery exists to avoid
    return (
        F.broadcast(capped).join(uni, "w1")
        .select("w1", "w2",
                F.log(F.col("c12") / F.col("c1")).alias("logscore"))
    )


def bigram_lm_scores(
    df: DataFrame,
    bigram_lm: Optional[DataFrame] = None,
    unigram_lm: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 100_000,
    smoothing: float = 0.5,
    backoff: float = 0.4,
    max_bigrams: int = 500_000,
) -> DataFrame:
    """Order-2 fluency scoring with stupid backoff: each transition
    ``w1 -> w2`` scores ``ln(c(w1,w2)/c(w1))`` when the pair is in the
    bigram table, else ``ln(backoff) + unigram_logprob(w2)`` (OOV words
    fall through to the unigram model's smoothed OOV score). Documents
    with fewer than 2 tokens have no transitions and are absent, same
    contract as ``unigram_lm_scores``'s empty-doc behavior.

    Returns (id_col, n_pairs, n_backoff, avg_logscore, ppl_proxy).
    Both models default to self-training on ``df``; pass models trained
    on a clean reference corpus for CCNet-style filtering. Scale shape:
    pair explode -> TWO broadcast joins (bigram table <= max_bigrams
    rows, unigram <= vocab rows) -> one doc_id groupBy. No sort, no
    full-table join, no window.
    """
    if unigram_lm is None:
        unigram_lm = train_unigram_lm(df, text_col, vocab_size,
                                      smoothing)
    if bigram_lm is None:
        bigram_lm = train_bigram_lm(df, text_col, max_bigrams)
    oov = unigram_lm.agg(F.first("oov_logprob").alias("__oov"))
    pairs = let(_tokens(F.col(text_col)), pairs_of)
    exploded = df.select(
        F.col(id_col), F.explode(pairs).alias("p")
    ).select(id_col, "p.w1", "p.w2")
    joined = (
        exploded
        .join(F.broadcast(bigram_lm), ["w1", "w2"], "left")
        .join(F.broadcast(
            unigram_lm.select(F.col("word").alias("w2"),
                              F.col("logprob").alias("__uni"))),
            "w2", "left")
        .crossJoin(F.broadcast(oov))
    )
    term = F.coalesce(
        F.col("logscore"),
        F.lit(math.log(backoff))
        + F.coalesce(F.col("__uni"), F.col("__oov")))
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("logscore").isNull(), F.lit(1))
              .otherwise(F.lit(0))).alias("n_backoff"),
        F.sum(term).alias("__sum"),
    )
    return per_doc.select(
        id_col, "n_pairs", "n_backoff",
        (F.col("__sum") / F.col("n_pairs")).alias("avg_logscore"),
        F.exp(-F.col("__sum") / F.col("n_pairs")).alias("ppl_proxy"),
    )
