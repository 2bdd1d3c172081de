"""Deduplication operators (north-star, SURVEY.md §2.5).

All variants are built from the reference's own capability classes: tokenise
(W3-W5, src/word_count.rs:99-103), hash-partition (W6, :104-105) and per-key
aggregate (W7, :121-123) — applied to the duplicate-detection problem of a
large-scale training-data pipeline.

Engine-portability rule: every hash is MD5-derived (functions.hashing) and
every minhash permutation is fixed integer arithmetic mod a prime, so each
operator has an exact DuckDB oracle — no murmur3, no RNG state.

Scale notes (100 TB):
- exact dedup is one hash-shuffle groupBy on a 128-bit digest — the
  canonical dedup at any scale; skew-free (digest keys are uniform);
- MinHash/LSH: per-doc work is linear in tokens; the candidate join
  shuffles on (band, signature) buckets whose entropy bounds bucket sizes;
  pair explosion is bounded by bucket cardinality, and exact Jaccard
  re-ranking touches only candidates — the standard sub-quadratic path;
- SimHash: 64-bit fingerprints; near-dup = Hamming ≤ t. The all-pairs
  check here is the correctness baseline; at scale, block by bit-bands
  (same LSH machinery) before the Hamming filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64

# Minhash permutation family: h_i(x) = ((x mod P) * (2i+1) + i*12345) mod P.
# P fits products in int64 for any i < 2^16; identical in ANSI SQL.
MINHASH_P = 2_147_483_647


def normalize_text() -> Column:
    """Lowercase + whitespace-collapse + trim of ``text``: the canonical
    form every dedup variant hashes. Mirrors W4/W5 normalisation semantics."""
    return F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups: [content_hash, keeper_id, n_copies].

    groupBy(md5(normalised text)) with min(id) as the canonical survivor —
    one shuffle, uniform keys, works identically at 100 TB.
    """
    return (
        docs.select(
            F.col("doc_id"), F.md5(normalize_text()).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def tokenized(docs: DataFrame) -> DataFrame:
    """[id, pos, word]: position-indexed tokens of the normalised ``text``
    of each ``doc_id``.

    Docs are spread across the cluster BEFORE the explode: a small corpus
    often scans as one partition, and everything downstream (split,
    explode, hashing) would otherwise run on a single core. One cheap
    shuffle of compact doc rows buys full parallelism for the token work.
    """
    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        docs.repartition(nparts)
        .select(
            F.col("doc_id").alias("id"),
            F.posexplode(F.split(normalize_text(), " ")).alias("pos", "word"),
        )
        .filter(F.length("word") > 0)
    )


def word_array() -> Column:
    """Array of non-empty tokens of the normalised ``text`` (W3-W5
    semantics, as an array column instead of exploded rows)."""
    return F.filter(
        F.split(normalize_text(), " "), lambda w: F.length(w) > 0
    )


def shingle_grams(words: Column | str, shingle_size: int = 3) -> Column:
    """Array of word-``shingle_size``-grams (space-joined) over a WORD
    ARRAY column — pure per-row array math.

    Equivalent to the explode + lead()-window construction (same gram
    strings, same order) but with ZERO shuffles: the window form paid an
    (id, pos) sort shuffle per call, which dominated every shingle
    consumer's plan (round-8 optimization, guide §2.4). Gram i is
    words[i..i+k-1], built by zipping k aligned slices of the word array.

    Takes the tokenised array (see :func:`word_array`), NOT the raw text:
    the normalise+split must be materialised in a prior projection, or
    Catalyst inlines it into every slice and re-tokenises the text
    ``shingle_size`` times per row (measured 1.7x slower at sf0.1).
    """
    words = _c(words) if not isinstance(words, Column) else words
    if shingle_size == 1:
        return words
    m = F.greatest(F.size(words) - (shingle_size - 1), F.lit(0))
    slices = [F.slice(words, i + 1, m) for i in range(shingle_size)]
    z = F.arrays_zip(*slices)
    return F.transform(
        z, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(shingle_size)])
    )


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _gram_hashes(docs: DataFrame, shingle_size: int = 3) -> DataFrame:
    """[id, sh] — one row per gram OCCURRENCE (non-distinct).

    Internal fast path: consumers whose aggregate is duplicate-invariant
    (minhash minima) skip the distinct shuffle entirely.
    """
    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        # repartition BEFORE the explode: single-file fixtures scan as one
        # partition and the per-gram md5 would run on one core. word_array
        # is a separate projection so the tokenise runs ONCE per row (see
        # shingle_grams docstring).
        docs.repartition(nparts)
        .select(F.col("doc_id").alias("id"), word_array().alias("_ws"))
        .select(
            "id",
            F.explode(shingle_grams(F.col("_ws"), shingle_size)).alias("gram"),
        )
        .select("id", hex_hash64(F.col("gram")).alias("sh"))
    )


def shingles(docs: DataFrame, shingle_size: int = 3) -> DataFrame:
    """Distinct word-``shingle_size``-gram hashes per doc: [id, sh].

    Shingle text is the space-joined n-gram; hash is the portable 60-bit
    MD5-derived integer. Grams come from per-row array math
    (:func:`shingle_grams`); only the distinct shuffles.
    """
    return _gram_hashes(docs, shingle_size).distinct()


def minhash_signatures(docs: DataFrame, num_hashes: int = 16) -> DataFrame:
    """MinHash signatures: [id, hid, mh] — min over shingles per hash fn.

    All ``num_hashes`` minima ride ONE aggregation pass as separate agg
    expressions (same trick as simhash's bit sums) — not a shingle×hashes
    row explosion, which would multiply shuffle volume by num_hashes on a
    large corpus. The wide row then unpivots via stack() (no shuffle).
    """
    stack_args = ", ".join(f"{i}L, mh{i}" for i in range(num_hashes))
    return _minhash_wide(docs, num_hashes).select(
        "id", F.expr(f"stack({num_hashes}, {stack_args}) AS (hid, mh)")
    )


def _minhash_wide(
    docs: DataFrame,
    num_hashes: int = 16,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Wide minhash signatures [id, mh0..mh{n-1}] in ONE shuffle.

    Minima are duplicate-invariant, so the gram stream skips the
    shingle-distinct shuffle (min over the bag == min over the set).
    ``grams`` optionally supplies a pre-built (typically persisted)
    [id, sh] occurrence frame so callers that ALSO consume the gram bag
    (e.g. the Fellegi-Sunter frames) tokenize the corpus once, not
    twice (round 9, guide §2.4/§5).
    """
    sh = grams if grams is not None else _gram_hashes(docs)

    def perm(i: int):
        return ((F.col("sh") % MINHASH_P) * (2 * i + 1) + i * 12345) % MINHASH_P

    return sh.groupBy("id").agg(
        *[F.min(perm(i)).alias(f"mh{i}") for i in range(num_hashes)]
    )


def minhash_band_buckets(
    sigs: DataFrame, band_bits: int = 4
) -> DataFrame:
    """[id, band, sig]: signature components grouped into LSH bands."""
    pb = F.struct("hid", "mh")
    return (
        sigs.select("id", (F.col("hid") / band_bits).cast("long").alias("band"), pb.alias("pb"))
        .groupBy("id", "band")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("pb")), lambda s: s["mh"]),
                "-",
            ).alias("sig")
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    band_bits: int = 4,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Distinct near-dup candidate pairs [qid, nid] (qid < nid) that agree
    on at least one full minhash band.

    ``grams``: optional pre-built [id, sh] gram-occurrence frame (see
    :func:`_minhash_wide`)."""
    # Band signatures straight off the WIDE aggregate (per-row concat +
    # explode — no long-format groupBy shuffle); identical [id, band, sig]
    # rows to minhash_band_buckets(minhash_signatures(...)).
    wide = _minhash_wide(docs, num_hashes, grams)
    nbands = (num_hashes + band_bits - 1) // band_bits
    band_structs = [
        F.struct(
            F.lit(b).cast("long").alias("band"),
            F.concat_ws(
                "-",
                *[
                    F.col(f"mh{i}")
                    for i in range(b * band_bits, min((b + 1) * band_bits, num_hashes))
                ],
            ).alias("sig"),
        )
        for b in range(nbands)
    ]
    # Persist: both join branches read the buckets (else the shingle +
    # minhash pipeline executes twice).
    buckets = (
        wide.select("id", F.explode(F.array(*band_structs)).alias("bk"))
        .select("id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))
        .persist()
    )
    a = buckets.select(F.col("id").alias("qid"), "band", "sig")
    b = buckets.select(F.col("id").alias("nid"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("qid") < F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.0,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing >= 1 shingle:
    [qid, nid, inter, union_sz, jaccard].

    Inverted-index join (shingle -> docs) keeps it sub-quadratic for
    non-degenerate corpora. ``max_df`` caps hot-shingle fanout: shingles
    appearing in more than ``max_df`` documents are dropped from the
    vocabulary BEFORE the join (from both the intersection counts and the
    per-doc sizes, so the result is exact Jaccard over the capped
    vocabulary). Without the cap, one stopword-like shingle at 100 TB
    makes the self-join quadratic on that key — a shingle with df=d
    produces d²/2 candidate rows.
    """
    sh = shingles(docs)
    if max_df is not None:
        rare = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("sh")
        )
        sh = sh.join(rare, "sh")
    # Three branches (sizes, both join sides) read the shingle table —
    # persist so tokenize+shingle+df-cap runs once, not three times.
    sh = sh.persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("qid"), "sh")
    b = sh.select(F.col("id").alias("nid"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("qid") < F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("qid"), F.col("sz").alias("qsz")), "qid")
        .join(sizes.select(F.col("id").alias("nid"), F.col("sz").alias("nsz")), "nid")
        .withColumn("union_sz", F.col("qsz") + F.col("nsz") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("union_sz"))
        .filter(F.col("jaccard") >= threshold)
        .select("qid", "nid", "inter", "union_sz", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment |A∩B| / |A| >= threshold:
    [qid, nid, inter, qsz, nsz, containment].

    Containment (Broder's asymmetric resemblance) is the quote/partial-dup
    detector Jaccard misses: a short document wholly embedded in a long one
    has low Jaccard (the union is dominated by the long doc) but
    containment ~ 1 from the short side. Pairs are ORDERED — qid is the
    contained candidate, nid the container — and emitted in both
    directions when both clear the threshold.

    Reference tie-in: per-key count over hashed shingles (W6/W7,
    src/word_count.rs:105-124) feeding an inverted-index equi-join.

    Scale: identical posture to ``jaccard_pairs`` — one inverted-index
    equi-join on shingle hash (sub-quadratic for non-degenerate corpora),
    ``max_df`` capping hot-shingle fanout, with the cap applied to sizes
    AND intersections so the score stays exact over the capped
    vocabulary. The only double is one division of two int64s.
    """
    sh = shingles(docs)
    if max_df is not None:
        rare = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("sh")
        )
        sh = sh.join(rare, "sh")
    # sizes + both join sides read the shingle table — persist (self-join
    # lineage gotcha).
    sh = sh.persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        sh.select(F.col("id").alias("qid"), "sh")
        .join(sh.select(F.col("id").alias("nid"), "sh"), "sh")
        .filter(F.col("qid") != F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("qid"), F.col("sz").alias("qsz")), "qid"
        )
        .join(sizes.select(F.col("id").alias("nid"), F.col("sz").alias("nsz")), "nid")
        .withColumn("containment", F.col("inter") / F.col("qsz"))
        .filter(F.col("containment") >= threshold)
        .select("qid", "nid", "inter", "qsz", "nsz", "containment")
    )


def jaccard_prefix_pairs(docs: DataFrame) -> DataFrame:
    """Exact Jaccard >= 0.5 pairs via LOSSLESS prefix filtering (the
    AllPairs/PPJoin candidate scheme): [qid, nid, inter, union_sz,
    jaccard].

    Global shingle order = (document frequency asc, shingle asc) — rare
    shingles first. Each doc keeps only its first
    ``L = sz - ceil(0.5*sz) + 1`` shingles under that order; by the
    pigeonhole prefix property, two sets with Jaccard >= 0.5 MUST
    share at least one prefix shingle, so the equi-join on prefix
    shingles misses no qualifying pair. Candidates are then verified with
    an exact intersection count, making the result identical to the
    brute-force all-pairs join.

    Scale: this is the lossless counterpart of ``jaccard_pairs``'
    ``max_df`` cap. Stopword-like shingles have maximal df, sort LAST in
    the global order, and drop out of every prefix — so the candidate
    join's per-key fanout is bounded by rare-shingle df instead of
    corpus-wide df, with no vocabulary truncation. All windows are keyed
    by doc id (no global rank materialisation: the order (df, sh) is
    used directly as a sort key inside each doc's partition).
    """
    sh = shingles(docs)
    # Read by the df count, the prefix build, and both verify sides —
    # persist so tokenize+shingle runs once (self-join lineage gotcha).
    sh = sh.persist()
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("_df"))
    # Both window columns in ONE select, filter afterwards (CLAUDE.md
    # gotcha: window exprs after a filter recompute over filtered rows).
    wdoc = Window.partitionBy("id").orderBy("_df", "sh")
    ranked = (
        sh.join(dfreq, "sh")
        .select(
            "id",
            "sh",
            F.row_number().over(wdoc).alias("_r"),
            F.count("*").over(Window.partitionBy("id")).alias("_sz"),
        )
    )
    prefix = ranked.filter(
        F.col("_r") <= F.col("_sz") - F.ceil(F.lit(0.5) * F.col("_sz")) + 1
    ).select("id", "sh")
    cand = (
        prefix.select(F.col("id").alias("qid"), "sh")
        .join(prefix.select(F.col("id").alias("nid"), "sh"), "sh")
        .filter(F.col("qid") < F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(sh.select(F.col("id").alias("qid"), "sh"), "qid")
        .join(sh.select(F.col("id").alias("nid"), "sh"), ["nid", "sh"])
        .groupBy("qid", "nid")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("qid"), F.col("sz").alias("qsz")), "qid")
        .join(sizes.select(F.col("id").alias("nid"), F.col("sz").alias("nsz")), "nid")
        .withColumn("union_sz", F.col("qsz") + F.col("nsz") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("union_sz"))
        .filter(F.col("jaccard") >= 0.5)
        .select("qid", "nid", "inter", "union_sz", "jaccard")
    )


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash fingerprints (hex_hash64 yields 60 usable bits):
    [id, simhash].

    Component b of the fingerprint is the sign of Σ_tokens (±1), where the
    ±1 is bit b of the token's portable hash. Token multiplicity counts
    (bag semantics), matching the classic Charikar construction.
    """
    # tokenized() already spreads docs across partitions, so the per-token
    # hash below is computed in parallel.
    toks = tokenized(docs).select("id", hex_hash64("word").alias("th"))
    # One aggregation pass with 60 sum expressions — NOT a token×60
    # row explosion (a 60x shuffle blowup on large corpora). All 60 sums
    # ride the same partial+final HashAggregate.
    bitsums = toks.groupBy("id").agg(
        *[
            F.sum(F.expr(f"(shiftright(th, {b}) & 1) * 2 - 1")).alias(f"s{b}")
            for b in range(60)
        ]
    )
    fingerprint = sum(
        F.when(F.col(f"s{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for b in range(60)
    )
    return bitsums.select("id", fingerprint.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 12) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming: [qid, nid, hamming].

    Candidates come from the exact pigeonhole argument: split the
    fingerprint into ``max_hamming+1`` disjoint bit bands — any pair
    within the Hamming budget must agree exactly on at least one band —
    then equi-join per band and verify the true distance.
    Result set is identical to the all-pairs form, but candidate
    generation is a hash join instead of an O(n²) nested loop: the 100 TB
    path.
    """
    # Persist: both join branches read the fingerprints — without this the
    # whole simhash pipeline (tokenise + 60-bit expansion + two aggs) runs
    # twice. One row per doc: negligible memory at any corpus size.
    fp = simhash(docs).persist()
    ham = F.bit_count(F.col("qh").bitwiseXOR(F.col("nh")))
    nbands = max_hamming + 1
    base, extra = divmod(60, nbands)
    # Band b covers [off, off+w): widths base(+1 for the first `extra`).
    bands = []
    off = 0
    for bi in range(nbands):
        w = base + (1 if bi < extra else 0)
        bands.append((bi, off, w))
        off += w
    band_arr = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.expr(f"(shiftright(simhash, {o}) & {(1 << w) - 1})").alias("bv"),
            )
            for bi, o, w in bands
        ]
    )
    keyed = fp.select("id", "simhash", F.explode(band_arr).alias("bk")).select(
        "id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv")
    )
    a = keyed.select(
        F.col("id").alias("qid"), F.col("simhash").alias("qh"), "band", "bv"
    )
    b = keyed.select(
        F.col("id").alias("nid"), F.col("simhash").alias("nh"), "band", "bv"
    )
    # Hamming filter BEFORE the distinct: bit_count over the (possibly
    # many) band-join candidates is cheap; deduplicating survivors is not.
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("qid") < F.col("nid"))
        .select("qid", "nid", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_band_spec(nbands: int) -> list[tuple[int, int, int]]:
    """Pigeonhole band layout over the 60-bit SimHash fingerprint:
    disjoint (band_idx, offset, width) triples, first `60 % nbands` bands
    one bit wider. Shared by the exact banded join, the capped top-m scale
    path, and their SQL oracles (identical widths on both engines)."""
    if nbands > 60:
        # A zero-width band would put EVERY doc in one global bucket
        # (mask 0) — under a cap only the `cap` lowest-hash ids would
        # ever be candidates there, silently degrading recall. The
        # pigeonhole guarantee needs only max_hamming+1 <= 60 bands;
        # callers wanting max_hamming >= 60 get the full-width layout
        # (every band still sound, recall unchanged) (ADVICE_r06).
        nbands = 60
    base, extra = divmod(60, nbands)
    spec = []
    off = 0
    for bi in range(nbands):
        w = base + (1 if bi < extra else 0)
        spec.append((bi, off, w))
        off += w
    return spec


def simhash_capped_topm(
    docs: DataFrame,
    max_hamming: int = 12,
    m: int = 3,
    cap: int = 8,
) -> DataFrame:
    """Per-doc top-m approximate near-neighbors by SimHash Hamming
    distance: [doc_id, neighbor_id, hamming, rank].

    The 100 TB companion to :func:`simhash_near_pairs` (VERDICT_r05
    item 4): the exact pair dump is OUTPUT-bound Θ(n²) on dense-near-dup
    corpora (measured ~77M pairs at the sf1 rung), so the scale path
    caps work by construction instead:

    - each doc probes its ``max_hamming+1`` pigeonhole band buckets, but
      only the first ``cap`` docs per bucket (deterministic: lowest ids)
      are match candidates — candidates ≤ n·(max_hamming+1)·cap, LINEAR
      in the corpus at any scale;
    - survivors within the Hamming budget are ranked per probe doc by
      (hamming, neighbor_id) — a total order — and truncated to top-m.

    Recall < 1 by design (a true neighbor outside its shared bucket's
    first `cap` ids is missed) — the standard capped-occupancy trade
    every production LSH dedup makes; measured at sf0.01 in the
    registered query's docstring. Deterministic: the cap and the rank
    both break ties on id, so the result is a pure function of the
    corpus on both engines.
    """
    fp = simhash(docs)
    spec = simhash_band_spec(max_hamming + 1)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.expr(f"(shiftright(simhash, {o}) & {(1 << w) - 1})").alias("bv"),
            )
            for bi, o, w in spec
        ]
    )
    # Persist: probe and capped branches both read the keyed frame; one
    # row per (doc, band) — 13n rows, linear.
    keyed = (
        fp.select("id", "simhash", F.explode(band_arr).alias("bk"))
        .select(
            "id",
            "simhash",
            F.col("bk.band").alias("band"),
            F.col("bk.bv").alias("bv"),
        )
        .persist()
    )
    wb = Window.partitionBy("band", "bv").orderBy("id")
    capped = (
        keyed.withColumn("_r", F.row_number().over(wb))
        .filter(F.col("_r") <= cap)
        .select(
            F.col("id").alias("nid"),
            F.col("simhash").alias("nh"),
            "band",
            "bv",
        )
    )
    probe = keyed.select(
        F.col("id").alias("qid"), F.col("simhash").alias("qh"), "band", "bv"
    )
    ham = F.bit_count(F.col("qh").bitwiseXOR(F.col("nh")))
    cand = (
        probe.join(capped, ["band", "bv"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    wr = Window.partitionBy("qid").orderBy(F.asc("hamming"), F.asc("nid"))
    return (
        cand.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= m)
        .select(
            F.col("qid").alias("doc_id"),
            F.col("nid").alias("neighbor_id"),
            "hamming",
            "rank",
        )
    )
