"""Mergeable sketch operators: count-min heavy hitters over token streams.

The sketch family a 100 TB pipeline uses where exact state is too big to
keep per key. The reference's per-key aggregation (W7,
src/word_count.rs:121-123) is the exact form; the count-min sketch is
its sublinear-state sibling: a d x m grid of counters updated by d
independent hashes, whose per-cell sums are mergeable across partitions,
files, and days (counter grids add elementwise — the same property that
makes the reference's disjoint-merge W8 trivial).

Everything is deterministic integer arithmetic over MD5-derived hashes
(functions.hashing.hex_hash64 with per-depth salts), so the full sketch
state AND the estimates replay bit-identically in SQL on any engine —
the sketch is oracle-checkable, not just plausible.

Scale: building cells from per-word partial counts (ONE hash aggregate
on the token stream, map-side combined) means the d-way fanout happens
on |vocab| rows, never on raw token occurrences; the cell grid is d*m
rows total regardless of corpus size. Estimation joins words to cells on
the (depth, bucket) key — the d*m cell table is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64
from amorphous_mapreduce_spark.operators.dedup import tokenized


# Rows of every count-min grid; the SQL oracles unroll the same depth.
CMS_DEPTH = 4


def _bucket(word, depth: int, width: int):
    """MD5-derived CMS bucket for ``word`` at ``depth`` — replayable in
    DuckDB as the same md5-substring arithmetic."""
    return F.pmod(hex_hash64(F.concat(F.lit(f"cms{depth}_"), word)), F.lit(width))


def cms_cells(docs: DataFrame, width: int = 256) -> DataFrame:
    """The sketch state: [depth, bucket, cell] — d x m counter grid.

    Built from per-word exact partials (one token-stream aggregate),
    then d rows per vocab word summed into cells. Cells are mergeable:
    grids from disjoint corpus shards add elementwise.
    """
    tf = _word_counts(docs)
    return _cells_from_tf(tf, width)


def _word_counts(docs: DataFrame) -> DataFrame:
    return (
        tokenized(docs)
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )


def _depth_rows(width: int):
    """Explode each vocab word into its d (depth, bucket) coordinates —
    ONE pass over the tf frame (a d-branch union would re-execute the
    token aggregation once per depth)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("depth"),
                    _bucket(F.col("word"), d, width).alias("bucket"),
                )
                for d in range(CMS_DEPTH)
            ]
        )
    )


def _cells_from_tf(tf: DataFrame, width: int) -> DataFrame:
    return (
        tf.select(_depth_rows(width).alias("db"), "c")
        .select("db.depth", "db.bucket", "c")
        .groupBy("depth", "bucket")
        .agg(F.sum("c").alias("cell"))
    )


def cms_heavy_hitters(docs: DataFrame, k: int = 20) -> DataFrame:
    """Top-k words by exact count, with their count-min estimate:
    [word, exact_count, cms_est] — demonstrating the sketch's
    overestimate bound (cms_est >= exact_count always; equality when no
    bucket collisions at the word's min cell).

    The cell grid (d*m rows, corpus-size independent) is broadcast onto
    the per-word depth rows; the estimate is MIN over depths.
    """
    # persisted: both the cell grid and the estimation rows read the
    # token aggregate — without the cache it would run twice
    tf = _word_counts(docs).persist()
    cells = _cells_from_tf(tf, 256)
    wb = tf.select(
        "word",
        F.col("c").alias("exact_count"),
        _depth_rows(256).alias("db"),
    ).select("word", "exact_count", F.col("db.depth"), F.col("db.bucket"))
    est = (
        wb.join(F.broadcast(cells), ["depth", "bucket"])
        .groupBy("word", "exact_count")
        .agg(F.min("cell").alias("cms_est"))
    )
    # global ordered limit -> TakeOrderedAndProject (distributed top-k
    # merge), never a whole-vocabulary single-partition window
    return est.orderBy(F.desc("exact_count"), F.asc("word")).limit(k)


def _trailing_zeros(col):
    """Trailing zero bits of a positive BIGINT, via bit_count((h & -h)-1)
    — identical on Spark and DuckDB (both 64-bit two's complement)."""
    return F.bit_count((col.bitwiseAND(-col)) - F.lit(1))


def fm_cardinality(docs: DataFrame) -> DataFrame:
    """Flajolet-Martin cardinality sketch state per language:
    [lang, n_distinct_exact, fm_sum_pow2, buckets_used, max_rho].

    The distinct-count sketch: per word, bucket = h % m and rho =
    trailing-zeros(h >> 5) + 1; the sketch keeps MAX(rho) per bucket —
    mergeable state (max of maxes), corpus-size independent (m rows per
    language). ``fm_sum_pow2`` = Σ_buckets 2^max_rho is the integer core
    of the FM estimator (the float scale factor is a driver-side
    constant, deliberately left out so every output column is an exact
    integer both engines reproduce bit-for-bit). Exact distinct rides
    along for the error comparison.

    ONE aggregation chain: distinct (lang, word) -> per-(lang, bucket)
    maxima + counts -> per-lang rollup; each level groups by a prefix
    superset so no branch re-executes the token scan.
    """
    toks = tokenized(docs)
    langs = docs.select(F.col("doc_id").alias("id"), "lang")
    h = hex_hash64(F.concat(F.lit("fm_"), F.col("word")))
    per_word = (
        toks.join(F.broadcast(langs), "id")
        .select("lang", "word")
        .distinct()
        .select(
            "lang",
            F.pmod(h, F.lit(32)).alias("bucket"),
            (
                F.least(
                    _trailing_zeros(F.shiftright(h, 5)) + F.lit(1), F.lit(40)
                )
            ).alias("rho"),
        )
    )
    per_bucket = per_word.groupBy("lang", "bucket").agg(
        F.max("rho").alias("max_rho"), F.count("*").alias("_n_words")
    )
    return per_bucket.groupBy("lang").agg(
        F.sum("_n_words").alias("n_distinct_exact"),
        F.sum(F.pow(F.lit(2.0), F.col("max_rho")).cast("long")).alias(
            "fm_sum_pow2"
        ),
        F.count("*").alias("buckets_used"),
        F.max("max_rho").alias("max_rho"),
    )


# alpha_64 * m^2 * 2^55 for m = 64 registers: the HLL raw-estimate
# numerator as ONE double literal, so the estimate is a single IEEE
# division of exact integers on both engines (alpha_m = 0.7213/(1+1.079/m)).
_HLL_EST_NUM_64 = 1.046802484394006e20


def hll_cardinality(docs: DataFrame) -> DataFrame:
    """HyperLogLog distinct-count sketch per language:
    [lang, n_distinct_exact, registers_used, zero_registers,
    hll_sum_scaled, hll_raw_est].

    The register for bucket j keeps MAX(rho) where rho = position of the
    first 1-bit (from the MSB) of the remaining 54 hash bits — computed
    EXACTLY as 55 - length(bin(w)) (no libm; same trick as
    zipf_octave_profile). Registers are mergeable (max of maxes) and the
    state is m rows per key regardless of corpus size — the
    sublinear-state form of COUNT(DISTINCT) that ships in every
    warehouse engine (reference per-key agg W7, src/word_count.rs:121-123,
    with bounded instead of linear state).

    The harmonic-mean denominator Σ 2^-register is dyadic, so scaling by
    2^55 makes ``hll_sum_scaled`` an exact BIGINT (absent buckets are
    register 0 and contribute 2^55 each; max total 64 * 2^55 = 2^61).
    ``hll_raw_est`` = alpha_m * m^2 * 2^55 / sum_scaled is then ONE
    double division of exact integers — bit-identical on both engines.
    Zero-register count rides along (the linear-counting regime signal).
    """
    toks = tokenized(docs)
    langs = docs.select(F.col("doc_id").alias("id"), "lang")
    h = hex_hash64(F.concat(F.lit("hll_"), F.col("word")))
    w = F.shiftright(h, 6)
    per_word = (
        toks.join(F.broadcast(langs), "id")
        .select("lang", "word")
        .distinct()
        .select(
            "lang",
            F.pmod(h, F.lit(64)).alias("bucket"),
            F.when(w == 0, F.lit(55))
            .otherwise(F.lit(55) - F.length(F.bin(w)))
            .alias("rho"),
        )
    )
    per_bucket = per_word.groupBy("lang", "bucket").agg(
        F.max("rho").alias("reg"), F.count("*").alias("_n_words")
    )
    per_lang = per_bucket.groupBy("lang").agg(
        F.sum("_n_words").alias("n_distinct_exact"),
        F.count("*").alias("registers_used"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(55) - F.col("reg")).cast("long")
        ).alias("_present_scaled"),
    )
    sum_scaled = (
        F.col("_present_scaled")
        + (F.lit(64) - F.col("registers_used")).cast("long")
        * F.lit(1 << 55).cast("long")
    )
    return per_lang.select(
        "lang",
        "n_distinct_exact",
        "registers_used",
        (F.lit(64) - F.col("registers_used")).cast("long").alias("zero_registers"),
        sum_scaled.alias("hll_sum_scaled"),
        (F.lit(_HLL_EST_NUM_64) / sum_scaled.cast("double")).alias(
            "hll_raw_est"
        ),
    )


def bloom_semi_join(
    fact: DataFrame,
    dim_keys: DataFrame,
    fact_key: str,
    group_col: str,
) -> DataFrame:
    """Bloom-filter pre-join pruning audit: [group, n_probe,
    n_bloom_pass, n_exact] per ``group_col``.

    The runtime-filter pattern: the dim side's keys set k bits each in an
    m-bit array; fact rows pass if all k bits are set. At 100 TB the bit
    set (<= k*|dim| distinct positions, itself bounded by m rows) is
    broadcast and the fact side is pruned BEFORE its shuffle — the
    whole point of a bloom semi-join. n_bloom_pass >= n_exact always
    (no false negatives); the gap is the false-positive cost, visible
    per group. All positions are MD5-derived integers — both engines
    replay the filter exactly.
    """
    bits = None
    for j in range(3):
        pos_j = dim_keys.select(
            F.pmod(
                hex_hash64(F.concat(F.lit(f"bf{j}_"), F.col(fact_key).cast("string"))),
                F.lit(4096),
            ).alias("pos")
        )
        bits = pos_j if bits is None else bits.unionByName(pos_j)
    bits = bits.distinct()

    probe = fact.select(
        F.col(group_col).alias("grp"), F.col(fact_key).alias("k")
    )
    for j in range(3):
        pos_col = F.pmod(
            hex_hash64(F.concat(F.lit(f"bf{j}_"), F.col("k").cast("string"))),
            F.lit(4096),
        )
        bj = bits.select(F.col("pos").alias(f"_b{j}"))
        probe = probe.withColumn(f"_p{j}", pos_col).join(
            F.broadcast(bj), F.col(f"_p{j}") == F.col(f"_b{j}"), "left"
        )
    passes = F.lit(True)
    for j in range(3):
        passes = passes & F.col(f"_b{j}").isNotNull()
    exact = fact.join(
        dim_keys.select(F.col(fact_key)).distinct(), fact_key, "semi"
    ).select(F.col(group_col).alias("grp"), F.lit(1).alias("_one"))
    bloom_agg = probe.groupBy("grp").agg(
        F.count("*").alias("n_probe"),
        F.sum(passes.cast("long")).alias("n_bloom_pass"),
    )
    exact_agg = exact.groupBy("grp").agg(F.count("*").alias("n_exact"))
    return (
        bloom_agg.join(exact_agg, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_probe",
            "n_bloom_pass",
            F.coalesce(F.col("n_exact"), F.lit(0)).alias("n_exact"),
        )
    )


def _key_cells(keys: DataFrame) -> DataFrame:
    """CMS counter grid [depth, bucket, cell], 512 buckets wide, over a
    bare key column ``k`` — the join-cardinality variant of ``cms_cells``
    (the same ``cmsj`` salt on both sides so matching keys land in
    matching buckets)."""
    tf = keys.groupBy("k").agg(F.count("*").alias("c"))
    rows = tf.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        F.pmod(
                            hex_hash64(
                                F.concat(
                                    F.lit(f"cmsj{d}_"),
                                    F.col("k").cast("string"),
                                )
                            ),
                            F.lit(512),
                        ).alias("bucket"),
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("db"),
        "c",
    )
    return (
        rows.select("db.depth", "db.bucket", "c")
        .groupBy("depth", "bucket")
        .agg(F.sum("c").alias("cell"))
    )


def cms_join_size(left_keys: DataFrame, right_keys: DataFrame) -> DataFrame:
    """Sketch-based equi-join cardinality estimate next to the exact
    count: ONE row [cms_est, exact_rows, overestimate].

    The classic CMS inner-product estimator: |L ⋈ R| = Σ_k f_L(k)·f_R(k)
    is upper-bounded by min_d Σ_b L[d,b]·R[d,b] — two d×m counter grids
    whose dot product needs no key exchange at all. This is what a cost
    model consults BEFORE committing to a shuffle join at 100 TB: each
    side is summarized by one map-side-combined aggregate into d*m rows,
    the grids join on (depth, bucket) (broadcast — the grid size is
    data-independent), and the estimate is a 4-row MIN. The exact count
    rides along (per-key count join) as the calibration column.

    Oracle-checkable end to end: counts, buckets, products and minima
    are MD5-derived integer arithmetic (functions.hashing.hex_hash64).
    """
    gl = _key_cells(left_keys)
    gr = _key_cells(right_keys)
    per_depth = (
        gl.join(
            gr.select(
                "depth", "bucket", F.col("cell").alias("cell_r")
            ),
            ["depth", "bucket"],
        )
        .groupBy("depth")
        .agg(F.sum(F.col("cell") * F.col("cell_r")).alias("est"))
    )
    est = per_depth.agg(F.min("est").alias("cms_est"))
    fl = left_keys.groupBy("k").agg(F.count("*").alias("cl"))
    fr = right_keys.groupBy("k").agg(F.count("*").alias("cr"))
    exact = (
        fl.join(fr, "k")
        .agg(F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0)).alias("exact_rows"))
    )
    return (
        est.crossJoin(exact)
        .select(
            "cms_est",
            "exact_rows",
            (F.col("cms_est") - F.col("exact_rows")).alias("overestimate"),
        )
    )


def hll_pairwise_overlap(docs: DataFrame) -> DataFrame:
    """Pairwise vocabulary overlap between corpus partitions from MERGED
    HyperLogLog registers: [src_a, src_b, denom_a, denom_b, denom_union,
    est_a, est_b, est_union, est_intersection].

    The algebra that makes HLL a SET sketch, not just a counter: the
    union register is max(reg_a, reg_b) per bucket — equivalently the
    MIN of the dyadic terms 2^(55-reg) — so |A∪B| is estimated from the
    merged sketch and |A∩B| follows by inclusion-exclusion. Registers
    are padded dense (absent bucket = register 0 = term 2^55), so every
    pair's denominators are exact BIGINTs and the three estimates are
    single double divisions combined in one fixed expression.

    Scale: sketch state is m rows per key forever; the pair join runs on
    #keys * m rows (KB), not on data. The one data-sized stage is the
    distinct (key, word) tagging — identical to hll_cardinality's.
    Reference: bounded-state per-key agg (W7, src/word_count.rs:121-123).
    """
    toks = tokenized(docs)
    keys = docs.select(F.col("doc_id").alias("id"), F.col("source").alias("src"))
    h = hex_hash64(F.concat(F.lit("hll_"), F.col("word")))
    w = F.shiftright(h, 6)
    per_bucket = (
        toks.join(F.broadcast(keys), "id")
        .select("src", "word")
        .distinct()
        .select(
            "src",
            F.pmod(h, F.lit(64)).alias("bucket"),
            F.when(w == 0, F.lit(55))
            .otherwise(F.lit(55) - F.length(F.bin(w)))
            .alias("rho"),
        )
        .groupBy("src", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    srcs = docs.select(F.col("source").alias("src")).distinct()
    dense = (
        srcs.select(
            "src", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bucket")
        )
        .join(per_bucket, ["src", "bucket"], "left")
        .select(
            "src",
            "bucket",
            F.pow(F.lit(2.0), F.lit(55) - F.coalesce(F.col("reg"), F.lit(0)))
            .cast("long")
            .alias("term"),
        )
        .persist()  # both pair-join sides + the per-key sums read this
    )
    sums = dense.groupBy("src").agg(F.sum("term").alias("denom"))
    pairs = (
        dense.select(F.col("src").alias("src_a"), "bucket", F.col("term").alias("ta"))
        .join(
            dense.select(
                F.col("src").alias("src_b"), "bucket", F.col("term").alias("tb")
            ),
            "bucket",
        )
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.least("ta", "tb")).alias("denom_union"))
    )
    alpha = F.lit(_HLL_EST_NUM_64)
    out = (
        pairs.join(
            F.broadcast(sums.select(F.col("src").alias("src_a"), F.col("denom").alias("denom_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sums.select(F.col("src").alias("src_b"), F.col("denom").alias("denom_b"))),
            "src_b",
        )
    )
    ea = alpha / F.col("denom_a").cast("double")
    eb = alpha / F.col("denom_b").cast("double")
    eu = alpha / F.col("denom_union").cast("double")
    return out.select(
        "src_a",
        "src_b",
        "denom_a",
        "denom_b",
        "denom_union",
        ea.alias("est_a"),
        eb.alias("est_b"),
        eu.alias("est_union"),
        (ea + eb - eu).alias("est_intersection"),
    )
