"""Text analysis operators: token counting, quality scoring,
language-ID, document fingerprinting.

All pure Column expressions (codegen'd, zero Python in the hot path);
at 100 TB these are embarrassingly parallel map stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pg_lake_spark.operators import local_frame

#: Tiny per-language stopword profiles for the n-gram/stopword
#: language-ID heuristic. Deterministic and engine-portable — the same
#: lists are inlined into the DuckDB oracle SQL.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}


def words(text: Column | str) -> Column:
    """Whitespace tokens with empties excluded: F.trim strips only
    ASCII spaces, so tab/newline-led text gained a phantom '' token and
    empty text counted as one word (r15 review) — regex-trim both ends
    first, so the split can never produce empties, and all-whitespace
    text maps to [].

    Spelled WITHOUT ``F.filter``: higher-order lambdas are
    CodegenFallback (interpreted per row, excluded from common-
    subexpression elimination), and this tokenizer is mentioned ~6
    times across text_stats' one projection — the r15 lambda form
    multiplied interpreted traversals and cost txt_stats a 4x
    regression against its all-time best (r16 quiet re-measure).
    regexp_replace/split/when all stay inside whole-stage codegen."""
    text = F.col(text) if isinstance(text, str) else text
    trimmed = F.regexp_replace(text, r"^\s+|\s+$", "")
    return F.when(
        F.length(trimmed) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def token_count_bpe_ish(text: Column | str) -> Column:
    """BPE-ish token estimate: count of word-piece matches
    (letter runs, digit runs, punctuation singletons) — a deterministic
    stand-in for a real tokenizer's token count."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), F.lit(0)))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-scoring features: length, word stats, punct/space ratios."""
    text = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(text)
    ws = words(text)
    n_words = F.size(ws)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_spaces = n_chars - F.length(F.regexp_replace(text, r"\s", ""))
    # greatest(...,1) denominators: under ANSI (the session default) an
    # empty document was a query-killing DIVIDE_BY_ZERO (r15 review)
    nz_chars = F.greatest(n_chars, F.lit(1))
    nz_words = F.greatest(n_words, F.lit(1))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_words": n_words.cast("bigint"),
        "avg_word_len": (n_chars - n_spaces).cast("double") / nz_words,
        "punct_ratio": n_punct.cast("double") / nz_chars,
        "space_ratio": n_spaces.cast("double") / nz_chars,
    }


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Stopword-hit count per language profile."""
    # lowercase before matching: profiles are lowercase, and without it
    # sentence-initial 'The'/'Der'/'Le' — the most common stopword
    # positions — never hit, biasing lang_id toward 'und' (r15 review)
    ws = F.transform(words(text), F.lower)
    out = {}
    for lang, stop in LANG_PROFILES.items():
        out[lang] = F.size(F.array_intersect(ws, F.array(*[F.lit(s) for s in stop]))).cast("int")
    return out


def lang_id(text: Column | str) -> Column:
    """Predicted language: argmax of profile scores, 'und' when all zero.

    Ties break by profile order (en > de > fr) — deterministic.
    """
    scores = lang_scores(text)
    mx = F.greatest(*scores.values())
    out = F.lit("und")
    # earlier profiles win ties → apply later profiles first, overwrite with earlier
    for lang in reversed(list(scores)):
        out = F.when((mx > 0) & (scores[lang] == mx), F.lit(lang)).otherwise(out)
    return out


def fingerprint(text: Column | str) -> Column:
    """Canonical document fingerprint: md5 of the normalized text
    (lowercased, whitespace collapsed, punctuation stripped). Two docs
    differing only in case/spacing/punctuation collide — the standard
    first pass before near-dup detection."""
    text = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(text), r"[^\w\s]", ""), r"\s+", " "))
    return F.md5(norm)


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """All text-analysis features in one map-only projection."""
    feats = quality_features(text_col)
    return df.select(
        F.col(id_col),
        *[c.alias(name) for name, c in feats.items()],
        token_count_ws(text_col).cast("bigint").alias("n_tokens_ws"),
        token_count_bpe_ish(text_col).cast("bigint").alias("n_tokens_bpe"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


# --- PII scrubbing (training-data hygiene) ---------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"(?:\+?\d{1,3}[-. ])?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}"
_IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Occurrence counts of the three workhorse PII patterns — emails,
    phone numbers, IPv4 addresses — as JVM regexp_count expressions."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        "n_emails": F.regexp_count(c, F.lit(_EMAIL_RE)),
        "n_phones": F.regexp_count(c, F.lit(_PHONE_RE)),
        "n_ips": F.regexp_count(c, F.lit(_IP_RE)),
    }


def redact_pii(text: Column | str) -> Column:
    """Replace emails/phones/IPv4s with typed placeholder tokens — the
    standard pre-training scrub, entirely in JVM regexp_replace (order
    matters: emails first so user@host IPs don't half-match)."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, _EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, _IP_RE, "<IP>")
    c = F.regexp_replace(c, _PHONE_RE, "<PHONE>")
    return c


# --- Gopher-style quality signals ------------------------------------------

#: The published Gopher/MassiveText keep thresholds (Rae et al. 2021,
#: appendix A). Single home for the literals — gopher_keep and the
#: txt_gopher_quality query (which applies the length/symbol/alpha
#: subset its SQL oracle mirrors) both read from here (r15 review).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8


def gopher_signals(text: Column | str) -> dict[str, Column]:
    """The document-quality heuristics of the Gopher/MassiveText rules
    (public: Rae et al. 2021, 'Scaling Language Models', appendix A):
    word count, mean word length, symbol-to-word ratio (# and ...),
    fraction of lines starting with a bullet, fraction ending with an
    ellipsis, and fraction of words containing an alphabetic character.
    All plain Column expressions over split()."""
    c = F.col(text) if isinstance(text, str) else text
    ws = words(c)  # THE tokenizer — one definition (r15 self-review)
    n_words = F.size(ws)
    # Every per-line / per-word count below is a regexp_count over the
    # RAW text instead of size(filter(split, lambda)) — higher-order
    # lambdas are CodegenFallback (interpreted per row; the txt_stats
    # lesson, r16). Each regex is value-exact vs the old filter form:
    #  - non-blank line = split("\n") element whose F.trim (ASCII
    #    spaces only) is non-empty = line whose first non-space char
    #    exists and is not "\n";
    #  - bullet line = first non-space char is a bullet (trim only
    #    strips spaces, so a tab before the bullet fails BOTH forms);
    #  - ellipsis line = "..." then only spaces to line end — spelled
    #    with a (?=\n|\z) lookahead, not $, so Java's \r\n-aware $
    #    cannot diverge from split("\n") semantics;
    # The anchored patterns run under (?dm) — UNIX_LINES + MULTILINE —
    # because plain (?m) also treats \r, NEL and LS/PS as line breaks
    # and over-counted vs split("\n") (caught by the r16 800-case
    # differential fuzz, pinned in tests);
    #  - alpha word = maximal \S run containing a letter (greedy \S*
    #    makes matches token-aligned and non-overlapping).
    n_nonblank = F.regexp_count(c, F.lit(r"(?dm)^ *[^ \n][^\n]*"))
    n_lines = F.greatest(n_nonblank, F.lit(1))
    nz = F.greatest(n_words, F.lit(1)).cast("double")
    return {
        "n_words": n_words,
        # sum(len(word)) == len(text minus all whitespace): words are
        # exactly the maximal non-\s runs, and the old double fold
        # summed integers exactly — bit-identical result
        "mean_word_len": F.length(F.regexp_replace(c, r"\s", "")).cast(
            "double"
        ) / nz,
        "symbol_word_ratio": (
            F.regexp_count(c, F.lit(r"#")) + F.regexp_count(c, F.lit(r"\.\.\."))
        ).cast("double") / nz,
        "bullet_line_frac": F.regexp_count(
            c, F.lit(r"(?dm)^ *[-*•‣▪]")
        ).cast("double") / n_lines.cast("double"),
        "ellipsis_line_frac": F.regexp_count(
            c, F.lit(r"\.\.\. *(?=\n|\z)")
        ).cast("double") / n_lines.cast("double"),
        "alpha_word_frac": F.size(
            F.regexp_extract_all(c, F.lit(r"\S*[A-Za-z]\S*"), F.lit(0))
        ).cast("double") / nz,
    }


def gopher_keep(text: Column | str) -> Column:
    """The keep/drop verdict from the published thresholds: 50..100k
    words, mean word length 3..10, symbol ratio <= 0.1, bullets <= 90%,
    ellipses <= 30%, >= 80% alphabetic words."""
    s = gopher_signals(text)
    return (
        (s["n_words"] >= GOPHER_MIN_WORDS)
        & (s["n_words"] <= GOPHER_MAX_WORDS)
        & (s["mean_word_len"] >= GOPHER_MIN_MEAN_WORD_LEN)
        & (s["mean_word_len"] <= GOPHER_MAX_MEAN_WORD_LEN)
        & (s["symbol_word_ratio"] <= GOPHER_MAX_SYMBOL_RATIO)
        & (s["bullet_line_frac"] <= GOPHER_MAX_BULLET_FRAC)
        & (s["ellipsis_line_frac"] <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (s["alpha_word_frac"] >= GOPHER_MIN_ALPHA_FRAC)
    )


def compression_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """zlib compression ratio per document (compressed/raw bytes) — the
    CCNet/RefinedWeb-style redundancy signal: highly repetitive or
    templated text compresses far below ~0.4, random gibberish sits
    near 1.0, natural prose in between. zlib isn't expressible in SQL,
    so this is a legitimate Arrow kernel (mapInPandas, map-only).

    Output: (id_col, n_bytes, ratio double) — empty/null text → null."""
    import zlib
    from typing import Iterator

    import pandas as pd_
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("n_bytes", LongType()),
            StructField("ratio", DoubleType()),
        ]
    )

    def run(batches: Iterator[pd_.DataFrame]) -> Iterator[pd_.DataFrame]:
        for pdf in batches:
            ids, sizes, ratios = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                ids.append(i)
                if t is None or t == "":
                    sizes.append(None)
                    ratios.append(None)
                    continue
                raw = t.encode("utf-8")
                sizes.append(len(raw))
                ratios.append(len(zlib.compress(raw, 6)) / len(raw))
            yield pd_.DataFrame({id_col: ids, "n_bytes": sizes, "ratio": ratios})

    return df.select(id_col, text_col).mapInPandas(run, schema)



def bm25_topk(
    df,
    id_col: str,
    text_col: str,
    queries: dict[str, list[str]],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 text retrieval: top-``k`` documents per query under the
    Okapi BM25 ranking function (Robertson idf). Reference parity:
    pg_lake has no text-search operator; this is part of the
    beyond-reference training-pipeline surface (corpus search /
    eval-set mining / hard-negative sampling all reduce to it).

    ``queries`` maps query_id -> list of lowercase terms.

    Scale design: tokens explode once and are immediately filtered to
    the query-term union (a broadcast isin over typically <100
    terms), so the shuffled frame is O(matching tokens), not O(corpus
    tokens). Document frequencies reduce from the per-(doc, term)
    frame (one groupBy); N and avgdl are one tiny scalar reduction
    broadcast back. Scores aggregate per (query, doc) and a
    row_number window caps each query at k over the scored frame
    only. All arithmetic is exact-integer tf/df/dl fed into double
    idf — identical in any engine; scores round to 6dp before the
    ranking tie-break on the id.

    Returns (query_id, id_col, score, rnk) sorted by (query_id, rnk).
    """
    from pyspark.sql.window import Window as W

    all_terms = sorted({t for ts in queries.values() for t in ts})
    qrows = [(q, t) for q, ts in queries.items() for t in sorted(set(ts))]
    spark = df.sparkSession
    qdf = local_frame(spark, qrows, "query_id string, term string")

    words = F.split(
        F.lower(F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")),
        r"\s+",
    )
    base = df.select(F.col(id_col).alias("_id"), words.alias("_w"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("_w")).alias("total_len"),
    ).collect()[0]
    # total_len is NULL (not 0) on an empty corpus — sum() over no rows
    n_docs, avgdl = stats.n_docs, (stats.total_len or 0) / max(stats.n_docs, 1)
    avgdl = avgdl or 1.0  # all-empty docs: keep the length norm finite

    tok = base.select(
        "_id",
        F.size("_w").alias("_dl"),
        F.explode("_w").alias("_t"),
    )
    if len(all_terms) <= 1000:
        # small sets: an In/InSet literal filter keeps the plan flat
        tok = tok.filter(F.col("_t").isin(all_terms))
    else:
        # large term sets (query logs, eval-suite mining): a plan with
        # 10k+ literals bloats the driver and serializes to every
        # task; a broadcast left-semi against a terms frame is the
        # same executor-side hash probe with an O(1)-size plan.
        terms_df = local_frame(spark, [(t,) for t in all_terms], "_t string")
        tok = tok.join(F.broadcast(terms_df), "_t", "left_semi")
    tf = tok.groupBy("_id", "_dl", "_t").agg(
        F.count(F.lit(1)).cast("double").alias("_tf")
    )
    dfreq = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    scored = (
        tf.join(F.broadcast(dfreq), "_t")
        .join(F.broadcast(qdf), F.col("_t") == F.col("term"))
        .select(
            "query_id",
            "_id",
            (
                idf
                * F.col("_tf")
                * (k1 + 1.0)
                / (
                    F.col("_tf")
                    + k1 * (1.0 - b + b * F.col("_dl") / F.lit(float(avgdl)))
                )
            ).alias("_s"),
        )
        .groupBy("query_id", "_id")
        .agg(F.round(F.sum("_s"), 6).alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col("_id").alias(id_col), "score", "rnk")
        .orderBy("query_id", "rnk")
    )


def unigram_surprisal(df, id_col: str, text_col: str):
    """Per-document mean unigram surprisal — the perplexity-proxy
    quality signal (CCNet-style: documents whose tokens are
    improbable under the corpus unigram distribution are likely
    noise; documents of all-boilerplate tokens score too low).
    Reference parity: beyond-reference training-pipeline surface.

    surprisal(d) = (1/|d|) * sum_t tf(t, d) * -ln(count(t) / T)

    Scale (r17 restructure, guide §1.2/§2.3): ONE explode of the
    corpus, one token-stream shuffle. The r16 shape exploded the
    token stream three times — once for the corpus counts, once
    inside the eager T reduction, once for tf — and shuffled it
    twice; now tf is aggregated first (map-side combined), CHECKPOINTED
    (it feeds both the corpus roll-up and the probability join), the
    corpus counts roll up FROM tf (sum of tf over docs ≡ count over
    the token stream), and T comes from a map-only sum of the
    per-doc word counts — no explode, no shuffle. The prob join stays
    token-keyed (vocabulary-sized build side, NOT broadcast — at web
    scale the vocabulary outgrows a broadcast). All counts are exact
    integers; ln and the final division are deterministic doubles;
    output rounds to 6dp — bit-identical to the old shape (A/B
    toPandas-equal at sf0.1 and sf1; 8.4 → 7.0s at sf1).

    Returns (id_col, n_tokens, surprisal) sorted by id.
    """
    words = F.split(
        F.regexp_replace(F.lower(F.col(text_col)), r"^\s+|\s+$", ""),
        r"\s+",
    )
    base = df.select(F.col(id_col).alias("_id"), words.alias("_w"))
    # sum() over no rows is NULL — an empty corpus should return an
    # empty frame, not crash building the literal below. NULL text adds
    # 0: size(NULL) is NULL under ANSI but -1 under legacy.sizeOfNull.
    total = base.agg(
        F.sum(F.when(F.col("_w").isNotNull(), F.size("_w")))
    ).collect()[0][0] or 1
    tok = base.select(
        "_id", F.size("_w").alias("_dl"), F.explode("_w").alias("_t")
    )
    tf = tok.groupBy("_id", "_dl", "_t").agg(
        F.count(F.lit(1)).alias("_tf")
    ).localCheckpoint(eager=True)
    corpus = tf.groupBy("_t").agg(F.sum("_tf").alias("_c"))
    return (
        tf.join(corpus, "_t")
        .groupBy("_id", "_dl")
        .agg(
            F.round(
                F.sum(
                    F.col("_tf")
                    * -F.log(F.col("_c") / F.lit(float(total)))
                )
                / F.col("_dl"),
                6,
            ).alias("surprisal")
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("_dl").cast("bigint").alias("n_tokens"),
            "surprisal",
        )
        .orderBy(id_col)
    )
