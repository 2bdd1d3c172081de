"""Text-analysis operators for training-data pipelines (SURVEY.md §2.5).

All derived from the reference's word-count capability classes (W3-W7,
src/word_count.rs:90-128): tokenisation, normalisation, per-key counting —
widened to per-document quality statistics, n-gram stats, heuristic
language ID, regex token counting and content fingerprinting.

Everything is builtin-column-function only (whole-stage codegen; no UDFs),
and every operator is expressible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64
from amorphous_mapreduce_spark.operators.dedup import normalize_text, tokenized

# Stopword markers per language for the n-gram/stopword language heuristic.
# Deterministic and tiny by design (mirrored literally in oracle SQL).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "una", "y", "es"),
}

STOPWORDS = tuple(w for ws in LANG_MARKERS.values() for w in ws)

# A BPE-ish pre-tokeniser: word pieces, numbers, or single non-space symbols.
BPE_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-doc quality statistics: token/char counts, ratios, quality score.

    Columns: [id, n_tokens, n_chars_norm, avg_token_len, punct_ratio,
    stopword_ratio, quality]. ``quality`` is a fixed deterministic formula —
    a stand-in for learned quality classifiers in real pipelines.
    """
    norm = normalize_text()
    n_tokens = F.size(F.split(norm, " "))
    n_chars = F.length(norm)
    n_punct = n_chars - F.length(F.regexp_replace(norm, r"[^\w\s]", ""))
    stop_hits = F.size(
        F.filter(
            F.split(norm, " "),
            lambda w: w.isin(*STOPWORDS),
        )
    )
    avg_tok = (n_chars - (n_tokens - 1)) / n_tokens  # chars sans separators
    punct_ratio = n_punct / n_chars
    stop_ratio = stop_hits / n_tokens
    quality = (
        F.when(n_tokens < 5, 0.0)
        .otherwise(
            F.least(F.lit(1.0), n_tokens / 100)
            * (1 - punct_ratio)
            * (0.5 + stop_ratio)
        )
    )
    return docs.select(
        F.col("doc_id").alias("id"),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_norm"),
        avg_tok.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: [id, lang_pred, lang_score].

    Scores each language by marker-stopword hits over the token bag;
    argmax with deterministic tie-break on language code; 'und' when no
    marker hits at all. (An n-gram-frequency heuristic — the classic
    pre-neural langid approach.)
    """
    toks = F.split(normalize_text(), " ")

    def marker_hits(ws: tuple[str, ...]) -> Column:
        # NB: the lambda must take exactly one parameter — F.filter treats
        # a second parameter (even a defaulted one) as the element index.
        return F.size(F.filter(toks, lambda w: w.isin(list(ws))))

    scores = [
        F.struct(marker_hits(ws).alias("score"), F.lit(lang).alias("lang"))
        for lang, ws in sorted(LANG_MARKERS.items())
    ]
    # array_max picks highest score; struct comparison breaks ties on the
    # *smallest* lang string for equal scores — so invert via sort desc:
    best = F.sort_array(F.array(*scores), asc=False)[0]
    return docs.select(
        F.col("doc_id").alias("id"),
        F.when(best["score"] > 0, best["lang"]).otherwise("und").alias("lang_pred"),
        best["score"].alias("lang_score"),
    )


def token_counts_bpe(docs: DataFrame) -> DataFrame:
    """Regex (BPE-ish pre-tokeniser) token counts: [id, n_bpe_tokens,
    n_word_tokens]. Proxy for LLM token budgeting over a corpus."""
    return docs.select(
        F.col("doc_id").alias("id"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), 0)).alias(
            "n_bpe_tokens"
        ),
        F.size(F.split(normalize_text(), " ")).alias("n_word_tokens"),
    )


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprints: [id, fp] — distinct minima of each
    4-token sliding window over the token-hash sequence
    (Schleimer et al. winnowing; the rolling-hash fingerprint family).
    """
    toks = tokenized(docs).select(
        "id", "pos", hex_hash64("word").alias("th")
    )
    w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
    )
    n = Window.partitionBy("id")
    return (
        toks.withColumn("fp", F.min("th").over(w))
        .withColumn("_n", F.max("pos").over(n))
        .filter(F.col("pos") <= F.col("_n") - 3)
        .select("id", "fp")
        .distinct()
    )


def term_frequencies(docs: DataFrame, top_k: int = 10) -> DataFrame:
    """Top-k terms per language: [grp, word, cnt, rnk]."""
    toks = docs.select(
        F.col("lang").alias("grp"),
        F.explode(F.split(normalize_text(), " ")).alias("word"),
    ).filter(F.length("word") > 0)
    counts = toks.groupBy("grp", "word").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
    )


def bigram_counts(docs: DataFrame) -> DataFrame:
    """Corpus bigram counts: [bigram, cnt] (word pairs, space-joined).

    Round 8: bigrams from per-row array math (no lead() window / no
    (id, pos) sort shuffle) — identical bigram strings, guide §2.4."""
    from amorphous_mapreduce_spark.operators.dedup import (
        shingle_grams,
        word_array,
    )

    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        docs.repartition(nparts)
        .select(word_array().alias("_ws"))
        .select(F.explode(shingle_grams(F.col("_ws"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
    )


def bm25_scores(docs: DataFrame, terms: tuple[str, ...], b: float = 0.75) -> DataFrame:
    """BM25 relevance of every document against a fixed bag-of-terms
    query: [id, dl, tf_0.., score] for docs matching >= 1 term.

    Engine-exact discipline (cf. tfidf_top_terms): IDF uses the
    RATIONAL Robertson form (N - df + 0.5)/(df + 0.5) without the log —
    libm log differs in the last ulp across engines, while this is a
    fixed IEEE expression tree; it is rank-equivalent per term. The
    per-term scores are summed in literal term order (fixed
    left-association), so every double on both engines goes through the
    identical op sequence.

    Scale: one tokenize pass -> per-(id, word) counts; the per-term
    document frequencies, corpus size and total token count are ONE
    1-row scalar aggregate broadcast-crossed back (no global window);
    per-doc scoring is then a narrow projection. The only data shuffle
    is the (id, word) aggregation.
    """
    toks = tokenized(docs)
    # Per-doc bag counts for query terms + document length in one pass:
    # conditional sums avoid a words-filter join (terms are literals).
    per_doc = toks.groupBy("id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("word") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    # 1-row scalars: corpus size, total tokens, per-term doc frequencies.
    scalars = per_doc.agg(
        F.count("*").alias("_n_doc"),
        F.sum("dl").alias("_n_tok"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(scalars))
    dl_norm = (
        F.col("dl").cast("double")
        * F.col("_n_doc").cast("double")
        / F.col("_n_tok").cast("double")
    )
    denom_base = F.lit(1.2) * (
        F.lit(1.0) - F.lit(float(b)) + F.lit(float(b)) * dl_norm
    )

    def term_score(i: int) -> Column:
        tf = F.col(f"tf_{i}").cast("double")
        df_ = F.col(f"_df_{i}").cast("double")
        idf = (F.col("_n_doc").cast("double") - df_ + F.lit(0.5)) / (
            df_ + F.lit(0.5)
        )
        return idf * (tf * F.lit(2.2)) / (tf + denom_base)

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    any_term = F.greatest(*[F.col(f"tf_{i}") for i in range(len(terms))]) > 0
    return (
        scored.filter(any_term)
        .select(
            "id",
            "dl",
            *[f"tf_{i}" for i in range(len(terms))],
            score.alias("score"),
        )
    )
