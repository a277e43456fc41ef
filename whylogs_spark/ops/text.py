"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM;
scalar ones in whole-stage codegen, array higher-order functions
interpreted) — no Python UDFs — so they survive a 100 TB scan: a single
narrow projection pass, no shuffle.

Operators:
  * token / character statistics (``with_text_stats``)
  * quality scoring (``with_quality_score``) — length/punct/stopword ratios
  * language ID (``with_language_id``) — stopword-hit heuristic
  * document fingerprinting (``with_fingerprint``) — normalized xxhash64
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._tokens import let, ngrams, word_tokens

# Tiny per-language stopword marker sets for the heuristic language ID.
# Deliberately small + deterministic (an n-gram model would need model
# files; this is the classic "function word" trick).
LANG_MARKERS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

_WS = r"\s+"


def token_count(c: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, _WS)))


# GPT-2-style pre-tokenizer approximation (Radford et al. 2019 regex,
# lookbehind-free): contractions | letter runs | digit runs | punct runs.
# Uses only \p classes + alternation so Java (Spark) and RE2 (DuckDB)
# produce identical matches — oracle-safe across engines.
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
)


def bpe_token_count(c: Column) -> Column:
    """Subword-ish token count (BPE pre-tokenization granularity) —
    an upper-bound proxy for LLM token counts without a vocab file."""
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def occurrence_count(c: Column, word: str) -> Column:
    """Exact count of whole-word occurrences via padded replace — uses only
    length/replace/lower so an identical SQL oracle exists in any engine."""
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle))))
        / F.lit(len(word) + 2)
    ).cast("long")


def with_text_stats(
    df: DataFrame, text_col: str = "text", prefix: str = ""
) -> DataFrame:
    c = F.col(text_col)
    trimmed = F.trim(c)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    # \p{Punct} (Java) == [[:punct:]] (RE2/POSIX): the 32 ASCII punctuation
    # chars — keeps SQL oracles exactly equivalent
    n_punct = F.length(F.regexp_replace(c, r"[^\p{Punct}]", ""))
    n_space = F.length(c) - F.length(F.replace(c, F.lit(" ")))
    return (
        df.withColumn(prefix + "n_chars_calc", n_chars)
        .withColumn(prefix + "n_tokens", n_tokens)
        .withColumn(
            prefix + "avg_token_len",
            F.when(n_tokens > 0,
                   (F.length(trimmed) - (n_tokens - 1)).cast("double")
                   / n_tokens).otherwise(F.lit(0.0)),
        )
        .withColumn(
            prefix + "alpha_ratio",
            F.when(n_chars > 0, n_alpha.cast("double") / n_chars)
            .otherwise(F.lit(0.0)))
        .withColumn(
            prefix + "digit_ratio",
            F.when(n_chars > 0, n_digit.cast("double") / n_chars)
            .otherwise(F.lit(0.0)))
        .withColumn(
            prefix + "punct_ratio",
            F.when(n_chars > 0, n_punct.cast("double") / n_chars)
            .otherwise(F.lit(0.0)))
        .withColumn(
            prefix + "space_ratio",
            F.when(n_chars > 0, n_space.cast("double") / n_chars)
            .otherwise(F.lit(0.0)))
    )


def with_stopword_stats(
    df: DataFrame, text_col: str = "text", lang: str = "en"
) -> DataFrame:
    c = F.col(text_col)
    total = None
    for w in LANG_MARKERS[lang]:
        cnt = occurrence_count(c, w)
        total = cnt if total is None else total + cnt
    n_tokens = token_count(c)
    return df.withColumn("stopword_count", total).withColumn(
        "stopword_ratio",
        F.when(n_tokens > 0, total.cast("double") / n_tokens)
        .otherwise(F.lit(0.0)),
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality heuristic: length window + alpha share +
    stopword presence — the standard cheap pre-filter for web corpora."""
    d = with_text_stats(df, text_col, prefix="_q_")
    d = with_stopword_stats(d, text_col)
    length_ok = (
        F.when(F.col("_q_n_chars_calc").between(50, 10000), 1.0)
        .otherwise(0.0))
    alpha_ok = F.least(F.col("_q_alpha_ratio") / F.lit(0.6), F.lit(1.0))
    stop_ok = F.least(F.col("stopword_ratio") / F.lit(0.05), F.lit(1.0))
    token_ok = (
        F.when(F.col("_q_avg_token_len").between(2.0, 12.0), 1.0)
        .otherwise(0.0))
    score = (length_ok + alpha_ok + stop_ok + token_ok) / F.lit(4.0)
    d = d.withColumn("quality_score", score)
    return d.drop(*[c for c in d.columns if c.startswith("_q_")])


def with_language_id(
    df: DataFrame,
    text_col: str = "text",
    markers: Optional[Dict[str, List[str]]] = None,
) -> DataFrame:
    """Deterministic stopword-vote language ID -> ``lang_pred`` column.

    Ties broken by language code order; rows with zero hits -> 'und'.
    """
    markers = markers or LANG_MARKERS
    c = F.col(text_col)
    scores = []
    for lang in sorted(markers):
        total = None
        for w in markers[lang]:
            cnt = occurrence_count(c, w)
            total = cnt if total is None else total + cnt
        scores.append((lang, total))
    best = F.greatest(*[s for _, s in scores]) if len(scores) > 1 else scores[0][1]
    pred = F.lit("und")
    # first language (sorted order) achieving the max wins
    for lang, s in reversed(scores):
        pred = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(pred)
    out = df
    for lang, s in scores:
        out = out.withColumn(f"langscore_{lang}", s)
    return out.withColumn("lang_pred", pred)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit content fingerprint of whitespace-normalized lowercase text."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), _WS, " ")
    return df.withColumn("fingerprint", F.xxhash64(normalized)).withColumn(
        "fingerprint_md5", F.md5(normalized))


def tf_idf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    token_pattern: str = "[a-z0-9]+",
    min_term_len: int = 2,
) -> DataFrame:
    """Top-k TF-IDF terms per document (keyword extraction for corpus
    triage / topic auditing). Returns (id, term, tfidf, rank).

    tfidf = tf * (ln((N+1)/(df+1)) + 1) — the smoothed-idf convention.

    Distributed shape: tokenize in-scan (regexp, codegen) ->
    groupBy(doc, term) for tf -> groupBy(term) for df (map-side partial
    on top of the tf shuffle's output) -> join on term (AQE broadcasts
    when the vocabulary is small) -> window top-k per doc. Ranking ties
    break on the 6-decimal-rounded score then term, so the order is
    reproducible across engines (raw float ordering could flip on
    last-ulp ln() differences).
    """
    n_docs = df.count()
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit(token_pattern), F.lit(0))
        ).alias("term"),
    ).filter(F.length("term") >= min_term_len)
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs) + 1.0)) / (F.col("df") + 1.0)) + 1.0
    scored = (tf.join(dfreq, "term")
              .withColumn("tfidf", F.round(F.col("tf") * idf, 6)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "term", "tfidf", "rank"))


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 1000,
    overlap: int = 0,
    chunk_idx_col: str = "chunk_idx",
    chunk_col: str = "chunk",
    start_col: str = "chunk_start",
) -> DataFrame:
    """Fixed-size character chunking with overlap — the RAG /
    context-window prep step that splits documents into retrievable or
    packable pieces. Chunk ``i`` covers characters ``[i*stride,
    i*stride + size)`` with ``stride = size - overlap``; the last chunk
    may run short, every character is covered, and consecutive chunks
    share ``overlap`` characters. Documents of length 0 produce no
    chunks; any non-empty document produces at least one.

    n_chunks = max(1, ceil((len - overlap) / stride)) in integer
    arithmetic, so the rule is bit-reproducible in any engine (plain
    SQL oracle: generate_series + substring).

    Scale shape: a generator projection — ``explode`` of an in-plan
    integer ``sequence`` plus a codegen ``substring`` — ZERO shuffle,
    and Catalyst prunes the scan to (id, text). Output grows by
    ~len/stride rows per doc, streamed straight to the next stage; no
    per-doc state, no skew surface (a giant document explodes into
    rows inside its own scan task).
    """
    if size < 1:
        raise ValueError(f"size must be >= 1: {size}")
    if not 0 <= overlap < size:
        raise ValueError(
            f"overlap must satisfy 0 <= overlap < size: {overlap}")
    stride = size - overlap
    ln = F.length(F.col(text_col))
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((ln - F.lit(overlap) + F.lit(stride - 1))
                / F.lit(stride)).cast("int"))
    start = F.col(chunk_idx_col) * F.lit(stride)
    return (
        df.filter(ln > 0)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), n_chunks - 1))
            .alias(chunk_idx_col),
            F.col(text_col),
        )
        .select(
            id_col,
            chunk_idx_col,
            start.alias(start_col),
            F.substring(F.col(text_col), start + 1, F.lit(size))
            .alias(chunk_col),
        )
    )


# ---------------------------------------------------- text normalization

# C0 controls except \t \n \r, plus DEL: the characters that are never
# legitimate in text corpora and break downstream tokenizers/regexes
_CONTROL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

_MOJIBAKE_MARKERS = ("Ã", "Â", "â€", "Ð", "Ñ", "å", "ã€")


def strip_control_chars(c: Column) -> Column:
    """Remove C0 control characters (keeping tab/newline/CR) and DEL —
    a pure JVM regexp projection, zero shuffle, identical in any
    POSIX-class regexp engine (the oracle uses the same class)."""
    return F.regexp_replace(c, _CONTROL_CLASS, "")


def fix_mojibake(s: str) -> str:
    """Repair the classic double-encoding: UTF-8 bytes mis-decoded as
    Latin-1/cp1252 ("Ã©" for "é", "â€™" for a right quote). Applies the
    inverse (latin-1 encode, utf-8 decode) only when (a) a marker
    sequence is present, (b) the inverse round-trips strictly, and
    (c) it strictly reduces marker count — so already-correct text that
    legitimately contains "Ã" survives untouched. Repeats while it
    keeps helping (double-mojibake)."""
    if not s:
        return s

    def score(t: str) -> int:
        return sum(t.count(m) for m in _MOJIBAKE_MARKERS)

    cur = s
    for _ in range(3):
        sc = score(cur)
        if sc == 0:
            break
        try:
            fixed = cur.encode("latin-1").decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            try:
                fixed = cur.encode("cp1252").decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                break
        if score(fixed) < sc:
            cur = fixed
        else:
            break
    return cur


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    strip_control: bool = True,
    fix_encoding: bool = False,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Unicode-normalize a text column (NFC/NFKC/NFD/NFKD), optionally
    stripping control characters (JVM regexp, stays codegen) and
    repairing Latin-1/cp1252 mojibake first.

    The control strip is a zero-shuffle JVM projection; the
    normalization itself has no Spark built-in, so it runs as an
    Arrow-batched ``mapInPandas`` kernel (the sanctioned Python path —
    never row-at-a-time). NULLs pass through. Replaces ``text_col``
    unless ``out_col`` is given.
    """
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    target = out_col or text_col
    src = df
    work_col = "__norm_in"
    c = F.col(text_col)
    if strip_control:
        c = strip_control_chars(c)
    src = src.withColumn(work_col, c)
    # preserve the original column ORDER: replacing in place keeps the
    # target field where it was (positional consumers — union by
    # position, parquet appends — must not see a reordered schema);
    # a NEW out_col appends at the end
    if target in df.columns:
        result_fields = [
            f if f.name != target
            else T.StructField(target, T.StringType())
            for f in df.schema.fields
        ]
    else:
        result_fields = list(df.schema.fields) + [
            T.StructField(target, T.StringType())]
    result_schema = T.StructType(result_fields)
    out_names = [f.name for f in result_fields]

    def kernel(batches):
        for pdf in batches:
            vals = []
            for v in pdf[work_col]:
                if v is None:
                    vals.append(None)
                    continue
                t = fix_mojibake(v) if fix_encoding else v
                vals.append(unicodedata.normalize(form, t))
            res = pdf[[n for n in out_names if n in pdf.columns]].copy()
            res[target] = vals
            yield res[out_names]

    return src.mapInPandas(kernel, result_schema)


# ---------------------------------------------- sentence-aware chunking

_SENT_DELIM = "␞"  # RECORD SEPARATOR glyph (stripped from input first)

# explicit ASCII whitespace class: Java's \s and RE2's \s disagree on
# \x0B (vertical tab), so spelling the set out keeps Spark and the
# DuckDB oracle bit-identical on messy crawl text
_WS_CLASS = r"[ \t\n\x0B\f\r]"


def split_sentences(c: Column) -> Column:
    """Sentence segmentation as a pure codegen expression: a delimiter
    is INSERTED after runs of sentence-ending punctuation followed by
    whitespace (``regexp_replace`` + ``split`` — deliberately no regex
    lookbehind, so any RE2-class engine reproduces it exactly),
    then the text splits on the delimiter. Trailing whitespace stays
    attached to the preceding sentence; blank segments are removed.
    Pre-existing occurrences of the delimiter glyph are stripped first
    (they would otherwise split mid-sentence and vanish silently).
    Heuristic by design (abbreviation-blind) — the published fast path
    for corpus work; swap in a model segmenter via mapInPandas when
    linguistic fidelity matters more than throughput."""
    cleaned = F.replace(c, F.lit(_SENT_DELIM), F.lit(""))
    marked = F.regexp_replace(cleaned,
                              r"([.!?]+)(" + _WS_CLASS + "+)",
                              "$1$2" + _SENT_DELIM)
    return F.filter(F.split(marked, _SENT_DELIM),
                    lambda s: F.length(F.trim(s)) > 0)


def chunk_text_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 128,
) -> DataFrame:
    """Sentence-BOUNDARY-aware chunking: sentences are packed into
    ~``max_tokens``-token chunks without ever cutting through a
    sentence — the RAG-prep variant of ``chunk_text``.

    Chunk assignment is ``floor(running_token_start / max_tokens)``
    over the document's sentences in order — EXACTLY the sequential
    fill rule of ``pack_chunks``, with the same contract: a sentence
    belongs to the chunk its offset starts in, so a boundary-crossing
    sentence OVERFLOWS its chunk (a chunk can exceed the budget by up
    to one sentence, and ``chunk_idx`` values can skip after an
    oversized sentence). This is the cumsum-expressible rule — a true
    greedy reset-on-overflow fill is a sequential recurrence that no
    window computes; callers needing hard caps re-split oversized
    chunks with ``chunk_text``. Returns (id_col, chunk_idx, chunk,
    n_sentences, n_tokens).

    Scale shape: posexplode of the in-plan sentence array, ONE window
    keyed by (doc id) — bounded by a single document's sentence count,
    never a corpus-wide key — then a groupBy(doc, chunk) reassembly.
    Catalyst prunes the scan to (id, text).
    """
    sents = split_sentences(F.col(text_col))
    toks = F.size(F.split(F.trim(F.col("sent")), _WS_CLASS + "+"))
    exploded = (
        df.select(F.col(id_col),
                  F.posexplode(sents).alias("pos", "sent"))
        .withColumn("n_tok", toks)
    )
    w = Window.partitionBy(id_col).orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    start = (F.sum("n_tok").over(w) - F.col("n_tok")).cast("long")
    chunked = exploded.withColumn(
        "chunk_idx", F.floor(start / F.lit(max_tokens)).cast("long"))
    return (
        chunked.groupBy(id_col, "chunk_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("pos", "sent"))),
                    lambda s: s["sent"]), "").alias("chunk"),
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------- readability

def with_readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid Grade Level per document —
    the standard cheap readability gate for curriculum ordering and
    audience auditing of training corpora.

    Published formulas (Flesch 1948; Kincaid et al. 1975):
      reading_ease = 206.835 - 1.015*(W/S) - 84.6*(Syl/W)
      fk_grade     = 0.39*(W/S) + 11.8*(Syl/W) - 15.59

    Counting heuristics — all pure codegen regexp counts so an
    identical SQL oracle exists in any RE2-class engine:
      * words W       = runs of [a-z0-9]+ in the lowercased text
      * sentences S   = runs of [.!?]+ (floored at 1 when W > 0)
      * syllables Syl = runs of [aeiouy]+, floored at one per
        alphabetic word (the classic vowel-group approximation; no
        silent-e modeling — documented bias, stable across engines)

    Documents with zero words get NULL scores (0/0 is not "grade 0").
    Zero shuffle: a single narrow projection evaluated in-scan.

    Reference analog: whylogs scores text via UDF metrics
    (reference python/whylogs/experimental/core/udf_schema.py); this is
    the same per-row enrichment surface as ``with_quality_score``.
    """
    lc = F.lower(F.col(text_col))
    words = F.size(F.regexp_extract_all(lc, F.lit("[a-z0-9]+"), F.lit(0)))
    alpha_words = F.size(F.regexp_extract_all(lc, F.lit("[a-z]+"), F.lit(0)))
    sents_raw = F.size(F.regexp_extract_all(lc, F.lit("[.!?]+"), F.lit(0)))
    sents = F.greatest(sents_raw, F.lit(1))
    vowel_groups = F.size(
        F.regexp_extract_all(lc, F.lit("[aeiouy]+"), F.lit(0)))
    syllables = F.greatest(vowel_groups, alpha_words)
    wps = words.cast("double") / sents
    spw = syllables.cast("double") / words
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    some = words > 0
    return (
        df.withColumn("n_words", words.cast("long"))
        .withColumn("n_sentences",
                    F.when(some, sents).otherwise(F.lit(0)).cast("long"))
        .withColumn("n_syllables",
                    F.when(some, syllables).otherwise(F.lit(0))
                    .cast("long"))
        .withColumn("flesch_reading_ease",
                    F.when(some, F.round(ease, 4)))
        .withColumn("fk_grade",
                    F.when(some, F.round(grade, 4)))
    )


# --------------------------------------------------- PMI collocations

def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual information
    (Church & Hanks 1990) — surfaces multi-word expressions ("new york",
    "machine learning") for tokenizer vocabulary design and corpus
    topic auditing.

      pmi(w1,w2) = ln(c12/T) - ln(c1/N) - ln(c2/N)

    with c12 the adjacent-pair count (T total pairs) and c1/c2 corpus
    unigram counts (N total tokens). Pairs rarer than ``min_count``
    are dropped first — both the standard noise guard (PMI is maximized
    by hapax pairs) and the scale guard: the filter runs before the
    joins, so the join input is bounded by T/min_count rows.

    Returns (w1, w2, c12, pmi) — top-k by (pmi desc, w1, w2), rounded
    to 6 decimals so rankings reproduce across engines.

    Scale shape: pair construction IN-PLAN on the token array (zip of
    the array with its own tail, same idiom as ``train_bigram_lm`` —
    no positional self-join), one groupBy(w1,w2) with map-side partial
    agg, two shuffle joins against the unigram table (AQE sizes them),
    1-row total aggregates broadcast via cross join, and a distributed
    top-k (TakeOrderedAndProject). Action-free.
    """
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0))
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.zip_with(F.slice(toks, 1, n - 1),
                   F.slice(toks, 2, n - 1),
                   lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pc = (
        df.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    totals = uni.agg(
        F.sum("c").alias("n_tokens")).crossJoin(
        df.select(
            F.greatest(n - 1, F.lit(0)).alias("__np"))
        .agg(F.sum("__np").alias("n_pairs")))
    pmi = (
        F.log(F.col("c12").cast("double") / F.col("n_pairs"))
        - F.log(F.col("c1").cast("double") / F.col("n_tokens"))
        - F.log(F.col("c2").cast("double") / F.col("n_tokens"))
    )
    scored = (
        pc.join(uni.withColumnRenamed("w", "w1")
                .withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2")
              .withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "c12", F.round(pmi, 6).alias("pmi"))
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("w1").asc(),
                          F.col("w2").asc()).limit(k)


# ------------------------------------------------- corpus dataset card

def corpus_stats(
    df: DataFrame,
    group_cols: Optional[List[str]] = None,
    text_col: str = "text",
) -> DataFrame:
    """Per-slice dataset-card statistics — the accounting table every
    training-data release ships (docs / chars / tokens / subword-proxy
    tokens / exact-dup rate per source x language slice):

      n_docs, n_chars, n_tokens (whitespace), n_bpe_tokens (the
      RE2-safe GPT-2-style pre-tokenizer proxy from
      ``bpe_token_count``), n_distinct_texts (exact, on the
      whitespace-normalized lowercase md5), dup_ratio
      (1 - distinct/docs), avg_chars.

    Scale shape: one pruned scan, per-row codegen projections, ONE
    groupBy over the (low-cardinality) slice keys with map-side
    partial aggregation; the distinct count is exact via
    count(DISTINCT md5) — a two-phase hash aggregate, no raw text in
    the exchange (only the 32-char digest travels).

    Reference analog: dataset-level `summarize`-style accounting the
    reference exposes through profile summaries; this is the direct
    tabular form for corpus slices.
    """
    group_cols = list(group_cols or [])
    c = F.col(text_col)
    norm_md5 = F.md5(F.regexp_replace(F.lower(F.trim(c)), _WS, " "))
    toks = token_count(c)
    bpe = bpe_token_count(c)
    agged = (
        df.select(*group_cols, F.length(c).alias("__nc"),
                  toks.alias("__nt"), bpe.alias("__nb"),
                  norm_md5.alias("__h"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nc").cast("long").alias("n_chars"),
            F.sum("__nt").cast("long").alias("n_tokens"),
            F.sum("__nb").cast("long").alias("n_bpe_tokens"),
            F.countDistinct("__h").alias("n_distinct_texts"),
        )
    )
    return agged.select(
        *group_cols, "n_docs", "n_chars", "n_tokens", "n_bpe_tokens",
        "n_distinct_texts",
        F.round(F.lit(1.0) - F.col("n_distinct_texts")
                / F.col("n_docs"), 6).alias("dup_ratio"),
        F.round(F.col("n_chars") / F.col("n_docs"), 4)
        .alias("avg_chars"),
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_every: int = 100,
) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: at every
    ``checkpoint_every``-th document in ``id_col`` order — plus the
    final document — report ``docs_seen, tokens_seen,
    distinct_tokens`` and the running Heaps exponent estimate
    ``heaps_beta = ln(V) / ln(N)`` (V = distinct tokens, N = total
    tokens). A corpus whose curve flattens early is repetitive or
    template-heavy; a near-linear curve signals OCR noise or
    tokenizer-hostile text — the standard corpus-health diagnostic
    before tokenizer training.

    Distributed shape: token first-occurrences via ONE groupBy(token)
    (the only token-keyed shuffle — partial agg collapses repeats
    map-side, so 'the' costs one row per task, not one per
    occurrence); per-doc new-token counts and the cumulative walk ride
    the repo's two-phase range-partitioned prefix sum
    (``core.prefix.running_sums``) — no single-task sort at any
    scale. Tokens are lowercased whitespace tokens (same tokenizer as
    ``corpus_stats``).
    """
    from whylogs_spark.core.prefix import running_sums

    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}")
    c = F.col(text_col)
    tok = df.select(F.col(id_col), F.explode(word_tokens(c)).alias("__tok"))
    first = tok.groupBy("__tok").agg(F.min(id_col).alias(id_col))
    newt = first.groupBy(id_col).agg(F.count("*").alias("__nt"))
    per = df.select(F.col(id_col),
                    token_count(c).cast("long").alias("__tk"))
    base = (per.join(newt, id_col, "left")
            .select(id_col, "__tk",
                    F.coalesce(F.col("__nt"), F.lit(0)).alias("__nt"),
                    F.lit(1).alias("__one")))
    walked = running_sums(base, [id_col], ["__tk", "__nt", "__one"])
    docs_seen = F.col("__cum___one")
    tokens_seen = F.col("__cum___tk")
    distinct = F.col("__cum___nt")
    beta = F.when((tokens_seen > 1) & (distinct > 0),
                  F.round(F.log(distinct) / F.log(tokens_seen), 6))
    return (walked
            .filter((docs_seen % checkpoint_every == 0)
                    | (docs_seen == F.col("__g___one")))
            .select(docs_seen.alias("docs_seen"),
                    tokens_seen.alias("tokens_seen"),
                    distinct.alias("distinct_tokens"),
                    beta.alias("heaps_beta"))
            .orderBy("docs_seen"))


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = None,
    ns=(1, 2),
) -> DataFrame:
    """Corpus diversity report per n-gram order (and optionally per
    group, e.g. source): ``(group?, n, n_total, n_distinct,
    distinct_ratio, entropy)`` — the distinct-n / Shannon-entropy
    family used to compare how repetitive candidate training sources
    are (a templated-boilerplate source shows a collapsing
    distinct-2 ratio and low entropy long before eyeballing finds it).

    Tokenization is the whitespace split on ``lower(trim(text))``
    shared with the LM ops (oracle-identical across engines);
    ``entropy`` is the Shannon entropy of the n-gram distribution in
    BITS, computed as ``log2(N) - sum(c*log2(c))/N``. Whitespace-only
    documents contribute nothing.

    Scale shape per order: tokenize + n-gram expansion in-scan, linear
    in tokens (interpreted array functions over tokens bound once, see
    ``ops/_tokens.py``), ONE partial-agg shuffle to (group, gram)
    counts, then a bounded per-group reduction; orders union into one
    frame.
    """
    ns = list(ns)
    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"ns must be non-empty positive orders: {ns}")
    groups = [group_col] if group_col else []
    toks = word_tokens(F.col(text_col))
    parts = []
    for n in ns:
        grams = toks if n == 1 else let(toks, lambda t: ngrams(t, n))
        ex = df.select(*groups, F.explode(grams).alias("__g"))
        counts = ex.groupBy(*groups, "__g").agg(
            F.count(F.lit(1)).alias("__c"))
        cd = F.col("__c").cast("double")
        agg = counts.groupBy(*groups).agg(
            F.sum("__c").alias("n_total"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(cd * F.log2(cd)).alias("__clg"))
        nt = F.col("n_total").cast("double")
        parts.append(agg.select(
            *groups, F.lit(int(n)).alias("n"),
            "n_total", "n_distinct",
            (F.col("n_distinct").cast("double") / nt)
            .alias("distinct_ratio"),
            (F.log2(nt) - F.col("__clg") / nt).alias("entropy")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    window: int = 2,
    iterations: int = 10,
    damping: float = 0.85,
    k: int = 20,
    min_len: int = 3,
) -> DataFrame:
    """Corpus-level TextRank keywords (Mihalcea & Tarau 2004): damped
    weighted PageRank over the word co-occurrence graph — the
    unsupervised keyword report for a training corpus (what is this
    source ABOUT), sitting on :func:`whylogs_spark.ops.graph.
    stationary_distribution`'s iteration machinery.

    Graph construction, all engine-replayable: tokens =
    ``[a-z0-9]+`` runs of the lowercased text with length >=
    ``min_len``; an UNDIRECTED edge per co-occurrence within
    ``window`` positions, weighted by count (both directions
    materialized, so the per-source renormalization sees the full
    neighborhood).  Returns the top ``k`` words by rank:
    ``(word, rank, n_docs)`` — ties at the cutoff break by word, so
    the limit is deterministic.

    Scale shape: tokenization + pair expansion are one in-scan
    projection (posexplode over the token array, self-join-free —
    the window offsets come from slicing the same array); edge
    counts partial-agg map-side; the iteration loop is the
    checkpointed power iteration (O(1) lineage).  ``n_docs`` (the
    word's document frequency) rides a separate bounded aggregation
    joined onto the top-k only.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1: {window}")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    from whylogs_spark.ops.graph import stationary_distribution

    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                "[^a-z0-9]+"),
        lambda t: F.length(t) >= min_len)
    base = df.select(toks.alias("__tk"))
    # co-occurrence pairs via offset zips of the SAME array: for each
    # offset o in 1..window, zip(tokens, tokens[o+1:]) — in-plan, no
    # self-join, no posexplode matrix
    pair_arrays = [
        F.zip_with(
            F.col("__tk"),
            F.slice(F.col("__tk"), o + 1,
                    F.greatest(F.size("__tk") - o, F.lit(0))),
            lambda a, b: F.struct(a.alias("u"), b.alias("v")))
        for o in range(1, window + 1)
    ]
    pairs = base.select(
        F.explode(F.flatten(F.array(*pair_arrays))).alias("p")
    ).filter(F.col("p.v").isNotNull()) \
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
    edges = (pairs.union(pairs.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))
             .groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))
             .withColumnRenamed("u", "src")
             .withColumnRenamed("v", "dst"))
    ranks = stationary_distribution(
        edges, src="src", dst="dst", weight="w",
        iterations=iterations, damping=damping)
    top = (ranks.orderBy(F.col("probability").desc(), F.col("state"))
           .limit(k)
           .select(F.col("state").alias("word"),
                   F.col("probability").alias("rank")))
    # each input row is one document: distinct words per row, count
    ndocs = (base.select(F.explode(F.array_distinct("__tk"))
                         .alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("n_docs")))
    return top.join(ndocs, "word", "left") \
        .select("word", "rank",
                F.coalesce("n_docs", F.lit(0)).alias("n_docs")) \
        .orderBy(F.col("rank").desc(), "word")


# Compact English function-word list for RAKE phrase delimiting —
# deterministic and small enough to inline in any engine's regex.
RAKE_STOPWORDS: List[str] = [
    "a", "about", "above", "after", "again", "against", "all",
    "also", "am", "an", "and", "any", "are", "as", "at", "be",
    "because", "been", "before", "being", "below", "between", "both",
    "but", "by", "can", "could", "did", "do", "does", "during",
    "each", "few", "for", "from", "further", "had", "has", "have",
    "he", "her", "here", "him", "his", "how", "i", "if", "in",
    "into", "is", "it", "its", "just", "may", "me", "more", "most",
    "my", "no", "nor", "not", "now", "of", "off", "on", "once",
    "only", "or", "other", "our", "out", "over", "own", "same",
    "she", "should", "so", "some", "such", "than", "that", "the",
    "their", "then", "there", "these", "they", "this", "through",
    "to", "too", "under", "until", "up", "very", "was", "we", "were",
    "what", "when", "where", "which", "while", "who", "why", "will",
    "with", "would", "you", "your",
]


def rake_delimiter_pattern(min_len: int = 3) -> str:
    """The RAKE delimiter regex: any stopword or any shorter-than-
    ``min_len`` token, as whole words.  Alternation + \\b only, so
    Java (Spark) and RE2 (DuckDB) match identically."""
    alt = "|".join(RAKE_STOPWORDS)
    return rf"\b(?:{alt}|[a-z0-9]{{1,{min_len - 1}}})\b"


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    min_len: int = 3,
    max_phrase_words: int = 4,
) -> DataFrame:
    """Corpus-level RAKE keyphrases (Rose et al. 2010): candidate
    phrases are maximal token runs between stopword/short-word
    delimiters; each word scores degree/frequency (degree = summed
    length of the phrases it appears in — co-occurrence weight,
    frequency = appearances), and a phrase scores the sum of its
    member word scores.  Returns the top ``k`` distinct phrases:
    ``(phrase, score, n_words, n_occurrences)``, ties at the cutoff
    broken by phrase text.  Complements :func:`textrank_keywords`
    (single-word, iterative) with multi-word phrases in one
    non-iterative pass.

    Phrases longer than ``max_phrase_words`` are dropped (web-corpus
    runs without stopwords are usually boilerplate/code, and the
    classic implementation's unbounded phrases make degree scores
    degenerate).

    Scale shape: phrase extraction is a pure regex projection
    (stopwords become ``|`` delimiters, then one split — no per-doc
    window, no Python); word statistics and phrase scores are
    partial-agged aggregations over the exploded (phrase, word)
    frame; top-k is a TakeOrderedAndProject.  Everything —
    tokenization, delimiting, scoring — replays identically in
    RE2-based engines.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2: {min_len}")
    if max_phrase_words < 1:
        raise ValueError(
            f"max_phrase_words must be >= 1: {max_phrase_words}")
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    # punctuation DELIMITS phrases (classic RAKE: a phrase never
    # crosses a comma/period), whitespace merely separates tokens
    punct = F.regexp_replace(low, r"[^a-z0-9\s]+", "|")
    norm = F.regexp_replace(punct, r"\s+", " ")
    delim = F.regexp_replace(
        F.concat(F.lit(" "), norm, F.lit(" ")),
        rake_delimiter_pattern(min_len), "|")
    phrases_arr = F.filter(
        F.transform(F.split(delim, r"\|"), lambda p: F.trim(p)),
        lambda p: p != "")
    ph = (df.select(F.explode(phrases_arr).alias("phrase"))
          .withColumn("__words", F.split(F.col("phrase"), " "))
          .withColumn("n_words", F.size("__words"))
          .filter(F.col("n_words") <= max_phrase_words))
    # word stats over every phrase occurrence: freq = appearances,
    # deg = summed phrase length (within-phrase co-occurrence, self
    # included — the classic RAKE degree)
    wstats = (ph.select(F.explode("__words").alias("word"), "n_words")
              .groupBy("word")
              .agg(F.count(F.lit(1)).alias("__freq"),
                   F.sum("n_words").alias("__deg")))
    scores = wstats.select(
        "word",
        (F.col("__deg").cast("double")
         / F.col("__freq").cast("double")).alias("__ws"))
    # distinct phrases with occurrence counts; member-word join is
    # per distinct (phrase, word)
    ph_distinct = ph.groupBy("phrase", "n_words").agg(
        F.count(F.lit(1)).alias("n_occurrences"))
    members = ph_distinct.select(
        "phrase", F.explode(F.split(F.col("phrase"), " "))
        .alias("word"))
    scored = (members.join(scores, "word")
              .groupBy("phrase")
              .agg(F.sum("__ws").alias("score")))
    return (ph_distinct.join(scored, "phrase")
            .select("phrase", "score", "n_words", "n_occurrences")
            .orderBy(F.col("score").desc(), "phrase")
            .limit(k))


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_v: int = 5000,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary, one row:
    ``(n_types, n_tokens, v_fit, slope, intercept, r2)``.

    OLS of ln(frequency) on ln(rank) over the ``top_v``
    most-frequent types (rank by count desc, token asc — total order,
    deterministic).  A healthy natural-language corpus sits near
    slope ≈ −1 (Zipf 1949); machine-generated or template-heavy text
    bends the curve — the fit is a one-number corpus-health check
    next to :func:`corpus_stats`.  Fitting only the head is standard
    (the tail is censored by corpus size) and what bounds the rank.

    Tokens: lowercase alphanumeric runs (split on ``[^a-z0-9]+``).
    Scale shape: tokenize + explode in-scan, ONE partial-agged
    groupBy(token); the top-``top_v`` rank is TWO-PHASE like
    ``ops.schema_match._capped_distincts`` — a per-partition rank
    keeps ``top_v`` survivors (the global head is a subset), then the
    global rank runs over ≤ top_v × partitions rows, never the full
    vocabulary through one reducer.  The regression itself is one
    6-sum reduce over ≤ top_v rows; type/token totals ride the counts
    frame.
    """
    toks = F.explode(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    ).alias("__tok")
    counts = (df.filter(F.col(text_col).isNotNull())
              .select(toks)
              .filter(F.col("__tok") != "")
              .groupBy("__tok")
              .agg(F.count(F.lit(1)).alias("__cnt")))
    totals = counts.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("__cnt").alias("n_tokens"))

    w_local = Window.partitionBy("__pid").orderBy(
        F.col("__cnt").desc(), F.col("__tok").asc())
    pre = (counts.withColumn("__pid", F.spark_partition_id())
           .withColumn("__rk", F.row_number().over(w_local))
           .filter(F.col("__rk") <= top_v).drop("__rk", "__pid"))
    w = Window.orderBy(F.col("__cnt").desc(), F.col("__tok").asc())
    head = (pre.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= top_v))

    lr = F.log(F.col("__rk").cast("double"))
    lf = F.log(F.col("__cnt").cast("double"))
    sums = head.agg(
        F.count(F.lit(1)).cast("double").alias("__m"),
        F.sum(lr).alias("__sr"), F.sum(lf).alias("__sf"),
        F.sum(lr * lr).alias("__srr"), F.sum(lf * lf).alias("__sff"),
        F.sum(lr * lf).alias("__srf"))
    m = F.col("__m")
    cov = F.col("__srf") - F.col("__sr") * F.col("__sf") / m
    var_r = F.col("__srr") - F.col("__sr") * F.col("__sr") / m
    var_f = F.col("__sff") - F.col("__sf") * F.col("__sf") / m
    slope = F.when(var_r > 0, cov / var_r)
    r2 = F.when((var_r > 0) & (var_f > 0), cov * cov / (var_r * var_f))
    return (sums.crossJoin(F.broadcast(totals))
            .select("n_types", "n_tokens",
                    m.cast("long").alias("v_fit"),
                    slope.alias("slope"),
                    ((F.col("__sf") - slope * F.col("__sr")) / m)
                    .alias("intercept"),
                    r2.alias("r2")))
