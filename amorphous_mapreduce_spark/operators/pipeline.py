"""Training-data pipeline operators: chunking, packing, sampling, TF-IDF,
embedding quantization (north-star extensions, SURVEY.md §2.5).

These are the remaining ops a 100 TB pretraining-data pipeline runs after
dedup/curation: split documents into model-context-sized chunks, pack
short documents into fixed-length sequences, draw deterministic
stratified samples, score terms for filtering/indexing, and quantize
embeddings for cheap ANN storage.

All built from the reference's capability classes — tokenize (W3-W5,
src/word_count.rs:99-103), hash-partition (W6, :104-105), per-key
aggregate (W7, :121-123), elementwise vector work (I2/VecOp,
src/op.rs:66-106) — and all engine-portable: hashes are MD5-derived,
score arithmetic uses single well-ordered double expressions, integer
casts truncate identically on both engines.

Scale notes (100 TB):
- chunking/packing/TF-IDF are narrow projections + hash aggregations on
  (doc, chunk|word) keys — linear, skew-free (token keys are zipfian but
  the per-doc keys that matter are uniform);
- stratified sampling is a stateless filter (no shuffle at all) or a
  per-stratum top-n (one shuffle on the stratum key);
- quantization is a pure per-row array transform — zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64
from amorphous_mapreduce_spark.operators.dedup import shingles, tokenized


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping token windows: [id, chunk_id, n_tokens, chunk_text].

    Chunk ``c`` covers token positions [c*stride, c*stride + chunk_size).
    Each token belongs to every chunk whose window contains it — the
    membership range [ceil((pos-chunk_size+1)/stride), floor(pos/stride)]
    clamped at 0 — emitted via one sequence+explode (no self-join).
    Ceil-division runs in double on both engines; quotients at this
    magnitude sit far from integer boundaries except when exact, so the
    result is engine-stable.
    """
    toks = tokenized(docs)
    lo = F.greatest(
        F.lit(0),
        F.ceil((F.col("pos") - F.lit(chunk_size) + 1) / F.lit(float(stride))),
    ).cast("long")
    hi = F.floor(F.col("pos") / F.lit(float(stride))).cast("long")
    member = toks.select(
        "id", "pos", "word", F.explode(F.sequence(lo, hi)).alias("chunk_id")
    )
    return (
        member.groupBy("id", "chunk_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


def pack_sequences(docs: DataFrame, ctx_len: int = 512) -> DataFrame:
    """Deterministic sequence packing: [lang, id, n_tokens, tok_offset, bin].

    The concatenate-and-cut packing a pretraining loader uses: within
    each stratum, documents are laid out in id order; ``tok_offset`` is
    the token offset where the doc starts in the concatenated stream and
    ``bin`` = tok_offset / ctx_len is the context window it starts in.
    One window cumsum per stratum — integer arithmetic only, so the
    layout is bit-identical on any engine and any partitioning.
    """
    ntok = (
        tokenized(docs)
        .groupBy("id")
        .agg(F.count("*").alias("n_tokens"))
    )
    strata = docs.select(F.col("doc_id").alias("id"), "lang")
    w = (
        Window.partitionBy("lang")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ntok.join(strata, "id")
        .withColumn("tok_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn("bin", F.floor(F.col("tok_offset") / F.lit(ctx_len)).cast("long"))
        .select("lang", "id", "n_tokens", "tok_offset", "bin")
    )


def stratified_sample(docs: DataFrame, rate_pct: int = 10) -> DataFrame:
    """Deterministic ~rate_pct% hash sample per stratum: [id, lang].

    Membership = md5-derived hash of (stratum, id) mod 100 < rate — a
    stateless filter (no shuffle, no RNG state): the same rows are
    sampled on any engine, any run, any partitioning. At 100 TB this is
    the only sane sampling primitive; fraction-based `sample()` is
    partition-order dependent.
    """
    key = F.concat_ws(":", F.col("lang"), F.col("doc_id").cast("string"))
    return docs.filter(F.pmod(hex_hash64(key), F.lit(100)) < rate_pct).select(
        F.col("doc_id").alias("id"), "lang"
    )


def stratified_topn(docs: DataFrame, n: int = 5) -> DataFrame:
    """Exactly-n-per-stratum deterministic sample: [id, lang, rnk].

    Smallest-hash-first with the id as total-order tie-break; one
    shuffle on the stratum key + per-partition top-n (Window row_number
    — bounded strata cardinality makes the window safe)."""
    key = F.concat_ws(":", F.col("lang"), F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(
        hex_hash64(key).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= n)
        .select(F.col("doc_id").alias("id"), "lang", "rnk")
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k terms per document by TF-IDF: [id, word, tf, df, score, rnk].

    IDF uses the rational form N/df (not log(N/df)): libm log differs in
    the last ulp across engines, while tf * (N/df) is two IEEE ops in a
    fixed order — bit-identical everywhere and rank-equivalent to the
    log form for per-document top-k. N is a 1-row scalar aggregate
    broadcast back (no global window).
    """
    toks = tokenized(docs)
    tf = toks.groupBy("id", "word").agg(F.count("*").alias("tf")).persist()
    df_ = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("_n"))
    scored = (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("_n").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("id", "word", "tf", "df", "score", "rnk")
    )


STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def quality_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style per-document quality rules: [id, n_words, mean_wlen,
    uniq_frac, top_bigram_frac, stop_frac, rules_pass].

    The repetition/length/stopword heuristics of pretraining quality
    filtering, engine-exact: every statistic is an integer count until
    one final double division (and mean_wlen, an int/int division), so
    the rule booleans can never flap between engines.

    ONE corpus pass: the lead() window shuffles tokens onto their doc id
    once; every downstream aggregate groups by that id (or a superset),
    so Spark reuses the window's hash partitioning and adds no further
    exchange. Word stats ride along the bigram rollup — each token
    occurrence is exactly one windowed row, the last token of a doc
    keeps a NULL successor ("_nxt") instead of being filtered, and since
    a bigram string determines its first word, per-(id, bg) groups carry
    the word-level sums losslessly.
    """
    toks = tokenized(docs)
    w = Window.partitionBy("id").orderBy("pos")
    toksw = toks.select(
        "id",
        "word",
        F.lead("word").over(w).alias("_nxt"),
    )
    per_bg = toksw.groupBy(
        "id",
        "word",
        F.concat_ws(" ", "word", "_nxt").alias("bg"),
        F.col("_nxt").isNotNull().alias("_is_bg"),
    ).agg(F.count("*").alias("c"))
    joined = per_bg.groupBy("id").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.col("c") * F.length("word")).alias("_chars"),
        F.countDistinct("word").alias("_uniq"),
        F.sum(
            F.col("c") * F.col("word").isin(*STOPWORDS).cast("long")
        ).alias("_stop"),
        F.max(F.when(F.col("_is_bg"), F.col("c"))).alias("_top_bg"),
        F.sum(F.when(F.col("_is_bg"), F.col("c")).otherwise(F.lit(0))).alias(
            "_n_bg"
        ),
    )
    mean_wlen = F.col("_chars").cast("double") / F.col("n_words").cast("double")
    uniq_frac = F.col("_uniq").cast("double") / F.col("n_words").cast("double")
    top_bg_frac = F.coalesce(
        F.col("_top_bg").cast("double") / F.col("_n_bg").cast("double"), F.lit(0.0)
    )
    stop_frac = F.col("_stop").cast("double") / F.col("n_words").cast("double")
    return joined.select(
        "id",
        "n_words",
        mean_wlen.alias("mean_wlen"),
        uniq_frac.alias("uniq_frac"),
        top_bg_frac.alias("top_bigram_frac"),
        stop_frac.alias("stop_frac"),
        (
            (F.col("n_words") >= 30)
            & (top_bg_frac <= 0.1)
            & (uniq_frac >= 0.3)
        ).alias("rules_pass"),
    )


def decontaminate(docs: DataFrame, eval_source: str, min_shared: int = 5) -> DataFrame:
    """Train/eval contamination flags: [id, n_shared] of training docs
    sharing >= min_shared distinct shingles with the eval set.

    The benchmark-decontamination pass every pretraining pipeline runs:
    the eval set's distinct shingle vocabulary is tiny relative to the
    corpus (per-benchmark, not per-corpus), so it is broadcast and the
    flagging join never shuffles the training side's shingles. (id, sh)
    is distinct by construction, so COUNT(*) counts distinct overlaps.

    The source filter is applied to the DOCS, not to a tagged shingle
    frame: eval and training shingles are built from disjoint pushed-down
    scans (total tokenize work = one corpus pass, no id->source broadcast
    join, and no double execution of the shingle lineage through a
    fan-out join).
    """
    eval_sh = (
        shingles(docs.filter(F.col("source") == eval_source))
        .select("sh")
        .distinct()
    )
    train_sh = shingles(docs.filter(F.col("source") != eval_source))
    return (
        train_sh.join(F.broadcast(eval_sh), "sh")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def source_mixing_weights(docs: DataFrame) -> DataFrame:
    """Data-mixing stats per source: [source, n_docs, n_tokens,
    tok_share, w_sqrt].

    The inputs a mixture sampler needs: token counts per source, each
    source's exact share of the corpus, and the sqrt-damped raw weight
    (the alpha=0.5 temperature of multilingual/multi-source sampling).
    All engine-exact: integer sums, one double division per row, and
    sqrt is correctly rounded IEEE on both engines — no double SUM whose
    accumulation order could differ. The corpus total is a 1-row scalar
    aggregate broadcast back (no global window).
    """
    toks = tokenized(docs)
    src = docs.select(F.col("doc_id").alias("id"), "source")
    per_src = (
        toks.join(F.broadcast(src), "id")
        .groupBy("source")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_tokens"),
        )
    )
    total = per_src.agg(F.sum("n_tokens").alias("_total"))
    return per_src.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("_total").cast("double")).alias(
            "tok_share"
        ),
        F.sqrt(F.col("n_tokens").cast("double")).alias("w_sqrt"),
    )


def importance_sample(docs: DataFrame, base_rate: float = 0.5) -> DataFrame:
    """Quality-weighted deterministic sampling: [id, quality, coin] of
    docs kept with probability ``base_rate * quality``.

    The importance-sampling step of corpus mixing — higher-quality docs
    survive proportionally more often — with an MD5 coin instead of RNG:
    coin = hash60('imp_' || id) / 2^60, a uniform [0,1) binary fraction
    both engines compute bit-identically (int64->double rounds to
    nearest on both; the 2^60 divisor is a pure exponent shift). The
    keep predicate is one exact multiply + compare, so the sample is
    replayable anywhere, nests by construction across base rates, and is
    a stateless filter — zero shuffle beyond the quality projection.
    """
    from amorphous_mapreduce_spark.operators.text_analysis import doc_stats

    stats = doc_stats(docs).select("id", "quality")
    coin = hex_hash64(
        F.concat(F.lit("imp_"), F.col("id").cast("string"))
    ) / F.lit(float(2**60))
    return (
        stats.select("id", "quality", coin.alias("coin"))
        .filter(F.col("coin") < F.lit(base_rate) * F.col("quality"))
    )


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Int8 scalar quantization: [id, scale, n_sat, q_sum].

    q[i] = trunc(v[i] / scale * 127) with scale = max(|v|) — a pure
    per-row array transform (zero shuffle; the VecOp class, src/op.rs:66).
    Outputs are the quantization audit a pipeline stores alongside the
    int8 vectors: the per-vector scale, the count of saturated
    components, and the integer checksum of the quantized vector
    (integers, so the audit is engine-exact; truncation toward zero is
    CAST semantics on Spark and TRUNC on DuckDB).
    """
    absd = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    scale = F.array_max(absd)
    q = F.transform(
        F.col("embedding"),
        lambda x: (x.cast("double") / F.col("scale") * F.lit(127.0)).cast("int"),
    )
    return (
        emb.select(F.col("vec_id").alias("id"), "embedding", scale.alias("scale"))
        .filter(F.col("scale") > 0)
        .withColumn("q", q)
        .select(
            "id",
            "scale",
            F.size(F.filter(F.col("q"), lambda v: F.abs(v) == 127)).alias("n_sat"),
            F.aggregate(
                F.col("q"), F.lit(0).cast("long"), lambda acc, v: acc + v
            ).alias("q_sum"),
        )
    )
