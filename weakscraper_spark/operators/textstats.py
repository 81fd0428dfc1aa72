"""Text-analysis operators for a training-data pipeline: token
counting, quality scoring, document fingerprinting, language-ID.

All but lang_id are pure JVM-side ``pyspark.sql.functions`` chains
(whole-stage codegen, no Python in the hot path) and are expressed
with DuckDB-portable semantics so the driver's oracle can check them
value-exactly. lang_id is the deliberate Pandas-UDF example (an
n-gram/stopword heuristic is awkward in pure SQL) — Arrow-batched,
never per-row.

Scale: every operator here is a narrow map over the documents table —
no shuffle at all; they pipeline with the scan.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

# Whitespace tokenization shared by every operator (and mirrored in
# oracle SQL): trim, split on whitespace runs.
_TOKENS = lambda c: F.split(F.trim(F.col(c)), r"\s+")  # noqa: E731


# BPE-ish pre-tokenization: letter runs, digit runs, single
# non-alnum-non-space marks — a portable approximation of the GPT-2
# pre-tokenizer split (its lookarounds aren't RE2-safe; this pattern
# behaves identically under Java regex and DuckDB/RE2, so the oracle
# can check it value-exactly).
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def with_token_count(df: DataFrame, col: str = "text") -> DataFrame:
    """n_tokens = whitespace token count; n_subtokens = BPE-ish regex
    token count (the LLM-pipeline budget number); n_chars for
    reference."""
    return (df
            .withColumn("n_tokens", F.size(_TOKENS(col)))
            .withColumn("n_subtokens",
                        F.size(F.regexp_extract_all(
                            F.col(col), F.lit(BPE_ISH), F.lit(0))))
            .withColumn("len_chars", F.length(col)))


def with_quality_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Deterministic quality features + a composite score:
    - n_tokens, len_chars
    - avg_token_len  = non-space chars / tokens
    - uniq_ratio     = distinct tokens / tokens (repetition detector)
    - score          = uniq_ratio * min(1, n_tokens/64)  (length-damped)
    All rounded to 4dp so Spark and the DuckDB oracle hash identically.
    """
    toks = _TOKENS(col)
    df = (df
          .withColumn("n_tokens", F.size(toks))
          .withColumn("len_chars", F.length(col))
          .withColumn(
              "avg_token_len",
              F.round((F.length(F.regexp_replace(F.col(col), r"\s+", "")) /
                       F.greatest(F.size(toks), F.lit(1))), 4))
          .withColumn(
              "uniq_ratio",
              F.round(F.size(F.array_distinct(toks)) /
                      F.greatest(F.size(toks), F.lit(1)), 4)))
    return df.withColumn(
        "quality_score",
        F.round(F.col("uniq_ratio") *
                F.least(F.lit(1.0), F.col("n_tokens") / F.lit(64.0)), 4))


def with_fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Canonical document fingerprint: md5 over the
    whitespace-normalized, lowercased text. Exact-dedup key and a
    stable lineage id. (md5 chosen over xxhash64 for oracle parity —
    DuckDB has no xxhash64.)"""
    norm = F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(F.encode(norm, "UTF-8")))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        col: str = "text", shingle_k: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    local fingerprint selection): hash every word-``shingle_k``-gram
    in order, slide a window of ``window`` consecutive hashes, select
    each window's minimum, emit the DISTINCT selected hashes per doc
    — the standard partial-overlap/containment detector (two docs
    sharing any run of ``window + shingle_k - 1`` words share a
    fingerprint). Trailing PARTIAL windows are included, so any doc
    with >= shingle_k words gets >= 1 fingerprint; the match
    guarantee comes from the full windows.

    Per-row positional hashing (ordered grams, not a distinct set) +
    a PER-DOC window min. The window here is bounded by document
    length — the corpus-wide hot-key straggler argument against
    window counts does not apply to per-doc frames. md5 keeps the
    selection value-checkable in DuckDB (zipped-unnest + identical
    window frame). Returns (doc, fp)."""
    # token array materialized as a column first — same lambda-CSE
    # trap as dedup._shingles (element_at on the raw split expression
    # re-tokenizes per element; measured 2.5-4× on this stage)
    from .fanout import fan_out
    base = fan_out(df.select(id_col, col)).select(
        F.col(id_col).alias("doc"),
        F.split(F.trim(F.lower(F.col(col))), r"\s+").alias("_t"))
    tk = F.col("_t")
    n = F.size(tk)
    grams = F.when(
        n >= shingle_k,
        F.transform(
            F.sequence(F.lit(1), n - (shingle_k - 1)),
            lambda i: F.md5(F.encode(F.concat_ws(
                " ", *[F.element_at(tk, i + j)
                       for j in range(shingle_k)]), "UTF-8"))),
    ).otherwise(F.array().cast("array<string>"))
    ex = base.select("doc", F.posexplode(grams).alias("pos", "h"))
    from pyspark.sql import Window
    w = (Window.partitionBy("doc").orderBy("pos")
         .rowsBetween(Window.currentRow, window - 1))
    return (ex.select("doc", F.min("h").over(w).alias("fp"))
            .distinct())


# --------------------------------------------------------------------------
# Language ID — the Pandas-UDF path (Arrow batches, no per-row Python)
# --------------------------------------------------------------------------

# Tiny per-language marker lexicons (public stopword-style heuristic).
_MARKERS = {
    "en": {"the", "and", "of", "to", "a", "in", "is", "that", "with", "for"},
    "es": {"el", "la", "de", "que", "y", "en", "los", "del", "se", "las"},
    "de": {"der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"},
    "fr": {"le", "la", "les", "de", "des", "et", "est", "une", "dans", "qui"},
    "zh": set(),  # CJK handled by the script check below
}


def _predict_lang(text: str) -> str:
    if not text:
        return "und"
    # script check: any CJK codepoint dominates
    cjk = sum(1 for ch in text[:400] if "一" <= ch <= "鿿")
    if cjk > 5:
        return "zh"
    toks = text.lower().split()
    if not toks:
        return "und"
    best, best_n = "und", 0
    for lang, markers in _MARKERS.items():
        n = sum(1 for t in toks if t in markers)
        if n > best_n:
            best, best_n = lang, n
    # fall back to 'en' for latin-script text with no markers at all
    return best if best_n > 0 else "en"


def with_lang_id(df: DataFrame, col: str = "text") -> DataFrame:
    """predicted_lang via stopword/script heuristic — mapInPandas
    (vectorized batches; the heuristic itself is per-doc Python, which
    is the standard interpretation of 'no per-row UDFs': no row-at-a-
    time serialization)."""
    from pyspark.sql import types as T

    # copy the schema — StructType.add mutates in place and would
    # corrupt the input DataFrame's cached schema
    schema = T.StructType(
        list(df.schema.fields) +
        [T.StructField("predicted_lang", T.StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["predicted_lang"] = [
                _predict_lang(t) for t in pdf[col].astype(str)]
            yield pdf

    return df.mapInPandas(run, schema)


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     col: str = "text", top_n: int = 2,
                     dup_n: int = 5) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, appendix
    A1.1 "repetitious text" rules), per document:

    - ``top_ngram_char_frac`` — fraction of the doc's characters
      covered by its most frequent word ``top_n``-gram
      (count × gram chars / doc chars; deterministic tie-break =
      lexicographically smallest gram among the max-count ones);
    - ``dup_ngram_char_frac`` — fraction of characters in word
      ``dup_n``-grams that occur more than once in the doc
      (overlapping occurrences counted, the published
      approximation's overcount included — deterministic and
      mirrored 1:1 in the DuckDB oracle).

    Thresholding (e.g. drop docs with top-2-gram frac > 0.20) is the
    caller's policy; this operator only measures.

    Scale shape: per-doc n-grams via JVM ``transform``/``slice`` (no
    Python), explode → two-phase groupBy (doc, gram) — map-side
    combine absorbs within-doc repetition before the shuffle; the
    only windows are partitioned by doc (bounded by doc length,
    never corpus-hot)."""
    from .fanout import fan_out
    toks = _TOKENS(col)
    base = (fan_out(df.select(id_col, col))
            .select(F.col(id_col), F.length(col).alias("_chars"),
                    toks.alias("_t"))
            .withColumn("n_words", F.size("_t")))

    def grams(n: int):
        # i-th gram = words [i, i+n), built JVM-side; empty when the
        # doc is shorter than n words (sequence() would descend)
        return F.when(
            F.size("_t") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                lambda i: F.array_join(F.slice("_t", i, n), " ")),
        ).otherwise(F.array().cast("array<string>"))

    def gram_counts(n: int):
        return (base.select(id_col, F.explode(grams(n)).alias("g"))
                .groupBy(id_col, "g")
                .agg(F.count("*").alias("cnt")))

    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), "g")
    top = (gram_counts(top_n)
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1)
           .select(id_col,
                   (F.col("cnt") * F.length("g")).alias("_top_chars")))
    dup = (gram_counts(dup_n)
           .filter(F.col("cnt") > 1)
           .groupBy(id_col)
           .agg(F.sum(F.col("cnt") * F.length("g")).alias("_dup_chars")))
    return (base.join(top, id_col, "left")
            .join(dup, id_col, "left")
            .select(id_col, "n_words",
                    F.round(F.coalesce("_top_chars", F.lit(0)) /
                            F.greatest("_chars", F.lit(1)), 6)
                    .alias("top_ngram_char_frac"),
                    F.round(F.coalesce("_dup_chars", F.lit(0)) /
                            F.greatest("_chars", F.lit(1)), 6)
                    .alias("dup_ngram_char_frac")))


def gopher_quality_flags(df: DataFrame, id_col: str = "doc_id",
                         col: str = "text",
                         min_words: int = 50,
                         max_words: int = 100_000,
                         min_avg_word_len: float = 3.0,
                         max_avg_word_len: float = 10.0,
                         max_symbol_ratio: float = 0.10,
                         min_alpha_word_ratio: float = 0.80) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021, A1.1)
    as per-doc boolean flags + a combined ``gopher_pass`` verdict —
    entirely JVM column expressions (one narrow map, no shuffle):

    - word count within [min_words, max_words];
    - mean word length within [min_avg_word_len, max_avg_word_len];
    - symbol-to-word ratio (# and … in the paper; here # and the
      ellipsis character/``...``) at most max_symbol_ratio;
    - at least min_alpha_word_ratio of words contain ≥1 alphabetic
      character.

    Thresholds are the published defaults; callers tune per corpus.
    The flags are emitted individually so the drop REASON is
    auditable (same discipline as clean_corpus)."""
    toks = _TOKENS(col)
    n_words = F.size(toks)
    nonspace = F.length(F.regexp_replace(F.col(col), r"\s+", ""))
    avg_wlen = nonspace / F.greatest(n_words, F.lit(1))
    n_symbols = (F.size(F.regexp_extract_all(F.col(col),
                                             F.lit(r"(#|\.\.\.|…)"),
                                             F.lit(0))))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    out = (df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(avg_wlen, 4).alias("avg_word_len"),
        F.round(n_symbols / F.greatest(n_words, F.lit(1)), 4)
        .alias("symbol_ratio"),
        F.round(alpha_words / F.greatest(n_words, F.lit(1)), 4)
        .alias("alpha_word_ratio"))
        .withColumn("ok_words",
                    (F.col("n_words") >= min_words) &
                    (F.col("n_words") <= max_words))
        .withColumn("ok_word_len",
                    (F.col("avg_word_len") >= min_avg_word_len) &
                    (F.col("avg_word_len") <= max_avg_word_len))
        .withColumn("ok_symbols",
                    F.col("symbol_ratio") <= max_symbol_ratio)
        .withColumn("ok_alpha",
                    F.col("alpha_word_ratio") >= min_alpha_word_ratio))
    return out.withColumn(
        "gopher_pass",
        F.col("ok_words") & F.col("ok_word_len") &
        F.col("ok_symbols") & F.col("ok_alpha"))


# PII patterns: lookaround-free so the SAME regex runs under Java
# (Spark) and RE2 (DuckDB oracle). Conservative by design — a corpus
# scrub prefers false positives on pseudo-PII over leaks.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d()\- ]{7,}\d", "<PHONE>"),
)


def scrub_pii(df: DataFrame, col: str = "text",
              out_col: str = "text_scrubbed") -> DataFrame:
    """Regex-based PII redaction (emails, IPv4 addresses,
    international-format phone numbers) with per-kind hit counts —
    the standard pre-training scrub pass. Pure JVM regexp chain
    (narrow map, no shuffle, no Python); patterns are lookaround-free
    so the DuckDB oracle applies the identical expressions.

    Each count is computed against the PROGRESSIVELY-scrubbed text
    (pattern i counts on the text after patterns 1..i-1 replaced), so
    ``n_email + n_ip + n_phone`` EQUALS the number of replacements
    performed — a phone-shaped token inside an email local part
    (``+15551234567@example.com``) is redacted once as <EMAIL> and
    counted once (ADVICE r03: counting every pattern on the raw text
    double-counted such overlaps). Replacement order is email → ip →
    phone; later patterns cannot match inside earlier placeholders."""
    out = df
    scrubbed = F.col(col)
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name.replace('ipv4', 'ip')}",
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat),
                                        F.lit(0))))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.withColumn(out_col, scrubbed)


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   col: str = "text", k: float = 0.5) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    model-free stand-in for CCNet-style perplexity filtering: train
    add-k-smoothed bigram probabilities on the corpus itself, then
    score each doc by its mean bigram log-probability (higher =
    more typical of the corpus; gibberish and boilerplate-mangled
    docs score low). Returns (id, n_bigrams, avg_logprob).

    P(w2|w1) = (c(w1 w2) + k) / (c(w1·) + k·V), V = unigram vocab
    size; natural log; docs with < 2 tokens get n_bigrams = 0 and
    NULL avg_logprob (nothing to score — visible, not defaulted).

    Scale shape: two corpus-wide aggregations (bigram and unigram
    counts, both map-side combinable) + a broadcast 1-row (V) cross
    join; scoring joins each doc's bigrams against the count tables
    on the gram key — the same shuffle pattern as the dedup family,
    no windows. Deterministic; mirrored exactly in the DuckDB
    oracle."""
    from .fanout import fan_out
    base = fan_out(df.select(id_col, col)).select(
        F.col(id_col).alias("doc"),
        F.split(F.trim(F.lower(F.col(col))), r"\s+").alias("_t"))
    tk = F.col("_t")
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.concat_ws(" ", F.element_at(tk, i),
                                  F.element_at(tk, i + 1))),
    ).otherwise(F.array().cast("array<string>"))
    from pyspark import StorageLevel

    # the bigram-instance stream feeds TWO consumers (the count model
    # and the scoring join) — persist so the corpus-width tokenize +
    # explode runs once (as in the jaccard operator; DISK_ONLY)
    doc_bi = base.select("doc", F.explode(bigrams).alias("bi")) \
        .persist(StorageLevel.DISK_ONLY)
    c_bi = doc_bi.groupBy("bi").agg(F.count("*").alias("c2"))
    c_uni = (base.select(F.explode(tk).alias("w"))
             .groupBy("w").agg(F.count("*").alias("c1")))
    vocab = c_uni.agg(F.count("*").alias("v"))
    scored = (doc_bi
              .join(c_bi, "bi")
              .join(c_uni.withColumnRenamed(
                  "w", "_w1"),
                  F.split(F.col("bi"), " ")[0] == F.col("_w1"))
              .crossJoin(F.broadcast(vocab))
              .withColumn("_lp", F.log((F.col("c2") + k) /
                                       (F.col("c1") + k * F.col("v")))))
    agg = scored.groupBy("doc").agg(
        F.count("*").alias("n_bigrams"),
        F.avg("_lp").alias("avg_logprob"))
    return (base.select("doc").distinct()
            .join(agg, "doc", "left")
            .select(F.col("doc").alias(id_col),
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    "avg_logprob"))


def with_compression_ratio(df: DataFrame, id_col: str = "doc_id",
                           col: str = "text",
                           level: int = 6) -> DataFrame:
    """zlib compression ratio per document — the cheap redundancy
    signal corpus filters use alongside the n-gram repetition stats
    (Gopher/FineWeb family: highly compressible text is boilerplate,
    templated spam, or repeated blocks; incompressible text at the
    other extreme is often binary junk or hash dumps). Returns
    (id, n_raw_bytes, n_compressed_bytes, compression_ratio =
    compressed/raw; empty docs → ratio NULL).

    Deterministic for a fixed zlib version/level (pinned by pytest on
    known strings, rows-only for the driver — DuckDB has no zlib).
    Arrow-batched narrow map, no shuffle; cost is one memcpy-class
    pass per doc, far below the parse stages around it."""
    import zlib
    from typing import Iterator as _It

    import pandas as _pd

    def run(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            raws, comps, ratios = [], [], []
            for t in pdf[col]:
                if not isinstance(t, str) or not t:
                    raws.append(0)
                    comps.append(0)
                    ratios.append(None)
                    continue
                b = t.encode("utf-8")
                c = len(zlib.compress(b, level))
                raws.append(len(b))
                comps.append(c)
                ratios.append(round(c / len(b), 6))
            yield _pd.DataFrame({
                "_id": pdf[id_col], "n_raw_bytes": raws,
                "n_compressed_bytes": comps,
                "compression_ratio": ratios})

    # id type follows the input column (a string url id is as valid as
    # a long doc id — hardcoding 'long' failed at Arrow conversion,
    # ADVICE r04)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (f"_id {id_type}, n_raw_bytes long, "
                  f"n_compressed_bytes long, compression_ratio double")
    return (df.select(id_col, col)
            .mapInPandas(run, out_schema)
            .withColumnRenamed("_id", id_col))


def segment_sentences(df: DataFrame, id_col: str = "doc_id",
                      col: str = "text",
                      min_tokens: int = 1) -> DataFrame:
    """Sentence segmentation — (id, sent_idx, sentence, n_tokens):
    the unit the sentence-granular pipeline steps want (sentence-level
    dedup, per-sentence LM scoring, citation alignment). Sentences are
    maximal runs ending at ``.``/``!``/``?`` clusters ("Really?!" is
    ONE boundary), plus the unterminated tail — dropping trailing
    fragments would silently lose corpus text. ``sent_idx`` is the
    0-based document-order ordinal; ``min_tokens`` drops noise
    sentences below the threshold AFTER indexing (gaps in sent_idx
    preserve provenance).

    Deliberately regex-tier (no abbreviation lexicon — "Dr. Smith"
    splits): the rule is deterministic, cheap, and cross-engine
    mirrorable; a lexicon-aware splitter belongs behind the same
    signature when quality work needs it. Scale shape: one
    corpus-width regexp scan materializes the sentence array, one
    posexplode, per-sentence ops on slim strings — pure narrow map,
    zero shuffle, nothing leaves the JVM."""
    sents = F.regexp_extract_all(
        F.col(col), F.lit(r"[^.!?]+(?:[.!?]+|$)"), 0)
    out = (df.select(F.col(id_col),
                     F.posexplode(sents).alias("sent_idx", "_s"))
           .select(id_col,
                   F.col("sent_idx").cast("int").alias("sent_idx"),
                   F.trim("_s").alias("sentence")))
    return (out.filter(F.col("sentence") != "")
            .withColumn("n_tokens",
                        F.size(F.split("sentence", r"\s+")).cast("int"))
            .filter(F.col("n_tokens") >= int(min_tokens)))
