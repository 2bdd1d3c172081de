"""Dedup queries over ``documents`` — exact, MinHash-LSH, Jaccard, SimHash.

The SQL oracles mirror the operators construction-for-construction: same
normalisation regex, same MD5-derived 60-bit hashes, same fixed minhash
permutations — so value hashes match exactly (integer arithmetic only;
the single division, Jaccard, is a deterministic double division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Shared oracle CTE fragments (DuckDB). NORM/TOKS/SHINGLES mirror
# operators.dedup.normalize_text/tokenized/shingles exactly.
# DEFINED BEFORE the queries_registry import: an executor unpickling a
# kernel may import a query module as its entry point, which pulls in
# queries_registry -> every query module -> `from dedup_queries import
# NORM/...` while THIS module is still initializing. With the shared
# fragments bound first, that partial-module attribute access succeeds
# and the circular chain unwinds cleanly (round-5 fix; previously only
# queries_registry was a safe entry point).
NORM = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"


def _sql_list(words: tuple[str, ...]) -> str:
    """SQL string-literal list: ``'a', 'b'``."""
    return ", ".join(f"'{w}'" for w in words)


def toks_cte(src: str = "documents") -> str:
    """Position-indexed token CTE over any relation with (doc_id, text)."""
    return f"""
toks AS (
    SELECT id, pos, word FROM (
        SELECT doc_id AS id,
               generate_subscripts(ws, 1) AS pos,
               unnest(ws) AS word
        FROM (SELECT doc_id, regexp_split_to_array({NORM}, ' ') AS ws
              FROM {src})
    ) WHERE length(word) > 0
)
"""


def shingles_cte(src: str = "documents") -> str:
    return (
        toks_cte(src)
        + """
, grams AS (
    SELECT id,
           word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS gram,
           lead(word, 2) OVER w AS last2
    FROM toks WINDOW w AS (PARTITION BY id ORDER BY pos)
), shingles AS (
    SELECT DISTINCT id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS sh
    FROM grams WHERE last2 IS NOT NULL
)
"""
    )


TOKS_CTE = toks_cte()
SHINGLES_CTE = shingles_cte()

# Shared by the near-dup graph family (cluster/analytics oracles import
# it) — kept with the other pre-import fragments so partial-module
# imports during the executor-side circular chain always find it.
MINHASH_EDGES_CTE = """
, minhash AS (
    SELECT s.id, h.range AS hid,
           MIN(((s.sh % 2147483647) * (h.range * 2 + 1) + h.range * 12345)
               % 2147483647) AS mh
    FROM shingles s, range(16) h
    GROUP BY s.id, h.range
), bands AS (
    SELECT id, hid // 4 AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // 4
), pairs AS (
    SELECT DISTINCT a.id AS qid, b.id AS nid
    FROM bands a JOIN bands b USING (band, sig)
    WHERE a.id < b.id
), edges AS (
    SELECT qid AS a, nid AS b FROM pairs
    UNION
    SELECT nid AS a, qid AS b FROM pairs
)"""

from amorphous_mapreduce_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
    normalize_text,
    jaccard_pairs,
    jaccard_prefix_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_near_pairs,
)
from amorphous_mapreduce_spark.operators.graph import (  # noqa: E402
    KCORE_K,
    KTRUSS_K,
    KTRUSS_ROUNDS,
)
from amorphous_mapreduce_spark.queries_registry import register  # noqa: E402
from amorphous_mapreduce_spark.sources import load_table  # noqa: E402


EXACT_ORACLE = f"""
SELECT md5({NORM}) AS content_hash,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY content_hash
"""


@register("exact_dedup", EXACT_ORACLE)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on a content digest (uniform keys)."""
    return exact_dedup(load_table(spark, sf_dir, "documents"))


MINHASH_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + """
, minhash AS (
    SELECT s.id, h.range AS hid,
           MIN(((s.sh % 2147483647) * (h.range * 2 + 1) + h.range * 12345)
               % 2147483647) AS mh
    FROM shingles s, range(16) h
    GROUP BY s.id, h.range
), bands AS (
    SELECT id, hid // 4 AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // 4
)
SELECT DISTINCT a.id AS qid, b.id AS nid
FROM bands a JOIN bands b USING (band, sig)
WHERE a.id < b.id
"""
)


@register("minhash_lsh_pairs", MINHASH_ORACLE)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 fns)-LSH(4-bit bands) near-dup candidates — the
    sub-quadratic dedup path (shingle->minhash->band->bucket-join)."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), num_hashes=16, band_bits=4
    )


JACCARD_MAX_DF = 1000

JACCARD_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + f"""
, capped AS (
    SELECT s.id, s.sh FROM shingles s
    JOIN (SELECT sh FROM shingles GROUP BY sh
          HAVING COUNT(*) <= {JACCARD_MAX_DF}) rare USING (sh)
)
, sizes AS (SELECT id, COUNT(*) AS sz FROM capped GROUP BY id),
inters AS (
    SELECT a.id AS qid, b.id AS nid, COUNT(*) AS inter
    FROM capped a JOIN capped b USING (sh)
    WHERE a.id < b.id
    GROUP BY a.id, b.id
)
SELECT qid, nid, inter,
       qs.sz + ns.sz - inter AS union_sz,
       CAST(inter AS DOUBLE) / (qs.sz + ns.sz - inter) AS jaccard
FROM inters
JOIN sizes qs ON qs.id = qid
JOIN sizes ns ON ns.id = nid
WHERE CAST(inter AS DOUBLE) / (qs.sz + ns.sz - inter) >= 0.05
"""
)


@register("ngram_jaccard", JACCARD_ORACLE)
def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.05 via shingle inverted-index join, with
    the hot-shingle df cap mirrored in the oracle (both sides compute
    Jaccard over the df<=1000 vocabulary — identical results at any SF)."""
    return jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.05, max_df=JACCARD_MAX_DF
    )


PREFIX_JACCARD_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + """
, sizes AS (SELECT id, COUNT(*) AS sz FROM shingles GROUP BY id),
inters AS (
    SELECT a.id AS qid, b.id AS nid, COUNT(*) AS inter
    FROM shingles a JOIN shingles b USING (sh)
    WHERE a.id < b.id
    GROUP BY a.id, b.id
)
SELECT qid, nid, inter,
       qs.sz + ns.sz - inter AS union_sz,
       CAST(inter AS DOUBLE) / (qs.sz + ns.sz - inter) AS jaccard
FROM inters
JOIN sizes qs ON qs.id = qid
JOIN sizes ns ON ns.id = nid
WHERE CAST(inter AS DOUBLE) / (qs.sz + ns.sz - inter) >= 0.5
"""
)


@register("jaccard_prefix_pairs", PREFIX_JACCARD_ORACLE)
def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.5 via LOSSLESS prefix filtering (AllPairs/
    PPJoin): docs keep only their sz-ceil(t*sz)+1 rarest shingles, the
    candidate join runs on those prefixes, then exact verification. The
    oracle is the BRUTE-FORCE all-pairs join — hash equality proves the
    prefix filter loses nothing. Hot shingles sort last in the (df, sh)
    order and fall out of every prefix, bounding the join fanout without
    the max_df vocabulary truncation ngram_jaccard uses."""
    return jaccard_prefix_pairs(load_table(spark, sf_dir, "documents"))


SIMHASH_CTE = (
    "WITH "
    + TOKS_CTE
    + """
, th AS (
    SELECT id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS th FROM toks
), bitsums AS (
    SELECT id, b.range AS bit,
           CAST(SUM(((th >> CAST(b.range AS INT)) & 1) * 2 - 1) AS BIGINT) AS s
    FROM th, range(60) b
    GROUP BY id, b.range
), fp AS (
    SELECT id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT))
                             ELSE 0 END) AS BIGINT) AS simhash
    FROM bitsums GROUP BY id
)
"""
)

SIMHASH_ORACLE = SIMHASH_CTE + "SELECT id, simhash FROM fp"


@register("simhash_fingerprint", SIMHASH_ORACLE)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (Charikar): sign of per-bit ±1 sums."""
    return simhash(load_table(spark, sf_dir, "documents"))


SIMHASH_PAIRS_ORACLE = (
    SIMHASH_CTE
    + """
SELECT a.id AS qid, b.id AS nid,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a, fp b
WHERE a.id < b.id AND bit_count(xor(a.simhash, b.simhash)) <= 12
"""
)


@register("simhash_near_pairs", SIMHASH_PAIRS_ORACLE)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming <= 12.

    Pigeonhole band join (exact result, hash-join candidate generation)
    — the 100 TB path, and also the faster one on this corpus (the
    fixture's near-dup clusters make band buckets correlate with true
    pairs, so candidates ~ output, not ~ n²).
    """
    return simhash_near_pairs(load_table(spark, sf_dir, "documents"), max_hamming=12)


def _simhash_topm_oracle() -> str:
    from amorphous_mapreduce_spark.operators.dedup import simhash_band_spec

    spec = simhash_band_spec(12 + 1)
    values = ", ".join(
        f"({bi}, {o}, CAST({(1 << w) - 1} AS BIGINT))" for bi, o, w in spec
    )
    return (
        SIMHASH_CTE
        + f"""
, bandspec(band, off, mask) AS (VALUES {values})
, keyed AS (
    SELECT id, simhash, band, (simhash >> CAST(off AS INT)) & mask AS bv
    FROM fp, bandspec
), capped AS (
    SELECT id AS nid, simhash AS nh, band, bv,
           row_number() OVER (PARTITION BY band, bv ORDER BY id) AS r
    FROM keyed
), cand AS (
    SELECT DISTINCT k.id AS qid, c.nid,
           bit_count(xor(k.simhash, c.nh)) AS hamming
    FROM keyed k JOIN capped c USING (band, bv)
    WHERE c.r <= 8 AND k.id <> c.nid
      AND bit_count(xor(k.simhash, c.nh)) <= 12
)
SELECT qid AS doc_id, nid AS neighbor_id, hamming, rank FROM (
    SELECT qid, nid, hamming,
           CAST(row_number() OVER (PARTITION BY qid
                                   ORDER BY hamming, nid) AS INT) AS rank
    FROM cand
) WHERE rank <= 3
"""
    )


@register("simhash_topm_neighbors", _simhash_topm_oracle())
def q_simhash_topm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 SimHash neighbors from capped band buckets — the
    scale-safe companion to simhash_near_pairs (VERDICT_r05 item 4).

    The exact pair dump is output-bound Θ(n²) on this near-dup-dense
    corpus (77M pairs at sf1); this registered headline caps work by
    construction: each doc probes its 13 pigeonhole buckets but only
    the first 8 docs per bucket (by id) are candidates, so candidates
    ≤ 13·8·n at ANY corpus size, then a per-doc (hamming, id)-ordered
    top-3. Measured vs the exact truth at sf0.01: 80% recall on the
    h<=2 twins (24/30 — the exact-dup and one-edit neighbors dedup
    cares about) and 37% on the full radius-12 top-3 (522/1394, the
    loose tail being mostly accidental collisions on this 31-word
    corpus) — the capped-occupancy trade every production LSH dedup
    makes. Wall-clock measured FLAT across the second decade (22.5 s at
    sf0.1 → 26.4 s at sf1, 10× the docs; output 13,220 → 127,073 rows,
    linear) where the exact pair dump grows to 77M rows. Both the
    bucket cap and the rank break ties on id, so the output is a pure
    function of the corpus.
    """
    from amorphous_mapreduce_spark.operators.dedup import simhash_capped_topm

    return simhash_capped_topm(
        load_table(spark, sf_dir, "documents"), max_hamming=12, m=3, cap=8
    )


BFS_ORACLE = (
    "WITH RECURSIVE "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + """
, seeds AS (SELECT doc_id AS id FROM documents WHERE doc_id % 20 = 0),
walk(id, hop) AS (
    SELECT id, 0 FROM seeds
    UNION
    SELECT e.b, w.hop + 1 FROM walk w JOIN edges e ON e.a = w.id
    WHERE w.hop < 6
)
SELECT id, MIN(hop) AS hop FROM walk GROUP BY id
"""
)


@register("near_dup_bfs_hops", BFS_ORACLE)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the MinHash-LSH near-dup graph: minimum hop
    distance from a seed set (every 20th doc) capped at 6 — the
    'contamination radius' question (which docs sit within k dedup hops
    of a flagged set). Frontier-expansion loop joins only the frontier
    per round and stops when it empties; oracle is a depth-capped
    recursive CTE taking MIN(hop)."""
    from amorphous_mapreduce_spark.operators.graph import bfs_hops

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)
    seeds = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("id")
    )
    return bfs_hops(pairs, seeds, max_hops=6)


def _pr_iter(prev: str, cur: str) -> str:
    """One unrolled fixed-point PageRank step (mirrors operators.graph
    .pagerank: teleport 15%/N + 85% of summed integer contributions).

    MATERIALIZED (round-6 fix): without it DuckDB inlines the whole
    chain, re-expanding edges/deg (and the shingle->minhash->bands
    pipeline under them) once per round — measured as a >70 GB temp
    spill that filled the disk at the sf1 rung (same class as the
    kcore gotcha)."""
    return f"""
{cur} AS MATERIALIZED (
    SELECT d.id, d.deg,
           CAST((15 * 1000000000000) // (100 * nn.n)
                + (85 * COALESCE(SUM(r.r // r.deg), 0)) // 100 AS BIGINT) AS r
    FROM deg d CROSS JOIN nn
         LEFT JOIN edges e ON e.b = d.id
         LEFT JOIN {prev} r ON r.id = e.a
    GROUP BY d.id, d.deg, nn.n
)"""


PAGERANK_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + """
, minhash AS (
    SELECT s.id, h.range AS hid,
           MIN(((s.sh % 2147483647) * (h.range * 2 + 1) + h.range * 12345)
               % 2147483647) AS mh
    FROM shingles s, range(16) h
    GROUP BY s.id, h.range
), bands AS (
    SELECT id, hid // 4 AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // 4
), pairs AS (
    SELECT DISTINCT a.id AS qid, b.id AS nid
    FROM bands a JOIN bands b USING (band, sig)
    WHERE a.id < b.id
), edges AS MATERIALIZED (
    SELECT qid AS a, nid AS b FROM pairs
    UNION
    SELECT nid AS a, qid AS b FROM pairs
), deg AS MATERIALIZED (SELECT a AS id, COUNT(*) AS deg FROM edges GROUP BY a),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
r0 AS MATERIALIZED (
    SELECT id, deg, CAST(1000000000000 // n AS BIGINT) AS r
    FROM deg CROSS JOIN nn
),"""
    + ",".join(_pr_iter(f"r{i}", f"r{i + 1}") for i in range(3))
    + """
SELECT id, deg, r AS rank_fp FROM r3
"""
)


@register("pagerank_near_dup", PAGERANK_ORACLE)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the MinHash-LSH near-dup graph: which
    documents sit at the centre of duplication clusters. Integer
    arithmetic end-to-end (the kmeans quantisation discipline), three
    unrolled power iterations, CTE-for-CTE SQL oracle."""
    from amorphous_mapreduce_spark.operators.graph import pagerank

    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), num_hashes=16, band_bits=4
    )
    return pagerank(pairs, n_iter=3)


# --- duplicate passages (substring-style dedup; operators/spans.py) -------

PASSAGE_K = 6
PASSAGE_MIN_TOKENS = 12
PASSAGE_MAX_DF = 64

PASSAGES_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, pgrams AS (
    SELECT id, pos - 1 AS pos0,
           word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w
                || ' ' || lead(word, 3) OVER w || ' ' || lead(word, 4) OVER w
                || ' ' || lead(word, 5) OVER w AS gram,
           lead(word, {PASSAGE_K - 1}) OVER w AS lastw
    FROM toks WINDOW w AS (PARTITION BY id ORDER BY pos)
), ps AS (
    SELECT id, pos0 AS pos,
           CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS sh
    FROM pgrams WHERE lastw IS NOT NULL
), m AS (
    SELECT a.id AS id1, b.id AS id2, a.pos AS pos1, b.pos AS pos2,
           a.pos - b.pos AS diag
    FROM ps a JOIN ps b ON a.sh = b.sh AND a.id < b.id
    WHERE a.sh IN (SELECT sh FROM ps GROUP BY sh
                   HAVING COUNT(DISTINCT id) BETWEEN 2 AND {PASSAGE_MAX_DF})
), runs AS (
    SELECT id1, id2, diag, pos1, pos2,
           pos1 - ROW_NUMBER() OVER (PARTITION BY id1, id2, diag
                                     ORDER BY pos1) AS grp
    FROM m
)
SELECT id1, id2, MIN(pos1) AS start1, MIN(pos2) AS start2,
       CAST(COUNT(*) + {PASSAGE_K - 1} AS BIGINT) AS span_tokens
FROM runs GROUP BY id1, id2, diag, grp
HAVING COUNT(*) + {PASSAGE_K - 1} >= {PASSAGE_MIN_TOKENS}
"""
)


@register("duplicate_passages", PASSAGES_ORACLE)
def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim shared token spans between document pairs — the
    substring-dedup pass of LLM pipelines (positioned shingles ->
    capped inverted-index join -> per-diagonal islands-and-gaps)."""
    from amorphous_mapreduce_spark.operators.spans import duplicate_passages

    return duplicate_passages(
        load_table(spark, sf_dir, "documents"),
        shingle_size=PASSAGE_K,
        min_tokens=PASSAGE_MIN_TOKENS,
        max_df=PASSAGE_MAX_DF,
    )


MANIFEST_ORACLE = f"""
WITH pass AS ({PASSAGES_ORACLE}),
iv AS (
    SELECT id2 AS id, start2 AS s, start2 + span_tokens AS e FROM pass
), m AS (
    SELECT id, s, e,
           CASE WHEN max(e) OVER pm IS NULL OR s > max(e) OVER pm
                THEN 1 ELSE 0 END AS new_island
    FROM iv
    WINDOW pm AS (PARTITION BY id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl AS (
    SELECT id, s, e,
           SUM(new_island) OVER (PARTITION BY id ORDER BY s, e
                                 ROWS UNBOUNDED PRECEDING) AS island
    FROM m
), mg AS (
    SELECT id, island, MIN(s) AS ms, MAX(e) AS me FROM isl
    GROUP BY id, island
)
SELECT id, COUNT(*) AS n_trim_spans,
       CAST(SUM(me - ms) AS BIGINT) AS tokens_to_trim
FROM mg GROUP BY id
"""


@register("dedup_span_manifest", MANIFEST_ORACLE)
def q_dedup_span_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc trim manifest for substring dedup (keep-first policy):
    merged intervals of every shared passage's later copy — the action
    side of duplicate_passages (what an executor actually cuts before
    tokenisation)."""
    from amorphous_mapreduce_spark.operators.spans import (
        dedup_span_manifest,
        duplicate_passages,
    )

    passages = duplicate_passages(
        load_table(spark, sf_dir, "documents"),
        shingle_size=PASSAGE_K,
        min_tokens=PASSAGE_MIN_TOKENS,
        max_df=PASSAGE_MAX_DF,
    )
    return dedup_span_manifest(passages)


# --- k-core of the near-dup graph ------------------------------------------

KCORE_ROUNDS = 8


def _kcore_round(i: int) -> str:
    # MATERIALIZED: each round references the previous one three times —
    # without it DuckDB inlines the chain and the base scan re-expands
    # 3^rounds times (observed as an fd explosion).
    return f"""
a{i} AS MATERIALIZED (
    SELECT a AS id FROM e{i - 1} GROUP BY a HAVING COUNT(*) >= {KCORE_K}
), e{i} AS MATERIALIZED (
    SELECT a, b FROM e{i - 1}
    WHERE a IN (SELECT id FROM a{i}) AND b IN (SELECT id FROM a{i})
)"""


# The minhash/bands/pairs/edges CTE chain is shared with PAGERANK_ORACLE —
# slice it off at the first pagerank-specific CTE so there is exactly one
# SQL definition of the near-dup edge list.
_NEARDUP_EDGES_PREFIX = PAGERANK_ORACLE.split(", deg AS")[0]
assert _NEARDUP_EDGES_PREFIX.rstrip().endswith(")"), "edges CTE slice broke"

KCORE_ORACLE = (
    _NEARDUP_EDGES_PREFIX
    + ", e0 AS MATERIALIZED (SELECT a, b FROM edges),"
    + ",".join(_kcore_round(i) for i in range(1, KCORE_ROUNDS + 1))
    + f"""
SELECT a AS id, COUNT(*) AS core_deg FROM e{KCORE_ROUNDS} GROUP BY a
"""
)


@register("kcore_near_dup", KCORE_ORACLE)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the MinHash-LSH near-dup graph: documents in genuinely
    dense duplication structures after pendant/chain peeling — the
    'delete the whole cluster' candidates, vs one-off pair dups.
    Fixed 8 peel rounds (converges earlier at test SFs — asserted in
    tests — so the result is the true 2-core); CTE-for-CTE oracle."""
    from amorphous_mapreduce_spark.operators.graph import kcore

    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), num_hashes=16, band_bits=4
    )
    return kcore(pairs, n_rounds=KCORE_ROUNDS)


# --- normalization sensitivity sweep ----------------------------------------

_VARIANTS_SQL = {
    "raw": "text",
    "lower_ws": r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')",
    "lower_ws_punct": (
        r"regexp_replace(trim(regexp_replace(lower(text), '[,.]', '', 'g')),"
        r" '\s+', ' ', 'g')"
    ),
}

NORM_SWEEP_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{name}' AS variant,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(c - 1) AS BIGINT) AS n_removable,
       CAST(MAX(c) AS BIGINT) AS max_group
FROM (SELECT md5({expr}) AS h, COUNT(*) AS c FROM documents GROUP BY h)
"""
    for name, expr in _VARIANTS_SQL.items()
)


@register("normalization_sensitivity", NORM_SWEEP_ORACLE)
def q_normalization_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-normalization sensitivity sweep: exact-duplicate statistics
    (group count, removable rows, largest group) under three text
    canonicalizations — raw bytes, lowercase+whitespace, and the full
    punctuation-stripping normalizer (the reference's W4/W5 chain,
    src/word_count.rs:99-103) — the tuning table that decides how
    aggressive a 100 TB dedup pass should be.

    ONE scan serves every variant: each row emits (variant, digest)
    through a single explode, and one keyed aggregate per level does the
    rest — the hyperparameter sweep AS data parallelism, instead of one
    job per config."""
    docs = load_table(spark, sf_dir, "documents")
    lower_ws = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    lower_ws_punct = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[,.]", "")),
        r"\s+",
        " ",
    )
    variants = F.array(
        F.struct(F.lit("raw").alias("variant"), F.md5("text").alias("h")),
        F.struct(
            F.lit("lower_ws").alias("variant"), F.md5(lower_ws).alias("h")
        ),
        F.struct(
            F.lit("lower_ws_punct").alias("variant"),
            F.md5(lower_ws_punct).alias("h"),
        ),
    )
    hashed = docs.select(F.explode(variants).alias("vh")).select(
        "vh.variant", "vh.h"
    )
    groups = hashed.groupBy("variant", "h").agg(F.count("*").alias("c"))
    return groups.groupBy("variant").agg(
        F.count("*").alias("n_groups"),
        F.sum(F.col("c") - 1).alias("n_removable"),
        F.max("c").alias("max_group"),
    )


# --- MinHash-LSH recall against exact-Jaccard ground truth ------------------

_RECALL_TAU = 0.05

MINHASH_RECALL_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + f"""
, capped AS (
    SELECT s.id, s.sh FROM shingles s
    JOIN (SELECT sh FROM shingles GROUP BY sh
          HAVING COUNT(*) <= {JACCARD_MAX_DF}) rare USING (sh)
),
sizes AS (SELECT id, COUNT(*) AS sz FROM capped GROUP BY id),
inters AS (
    SELECT a.id AS qid, b.id AS nid, COUNT(*) AS inter
    FROM capped a JOIN capped b USING (sh)
    WHERE a.id < b.id
    GROUP BY a.id, b.id
),
truth AS (
    SELECT qid, nid,
           CAST(inter AS DOUBLE) / (qs.sz + ns.sz - inter) AS jaccard
    FROM inters
    JOIN sizes qs ON qs.id = qid
    JOIN sizes ns ON ns.id = nid
    WHERE CAST(inter AS DOUBLE) / (qs.sz + ns.sz - inter) >= {_RECALL_TAU}
),
minhash AS (
    SELECT s.id, h.range AS hid,
           MIN(((s.sh % 2147483647) * (h.range * 2 + 1) + h.range * 12345)
               % 2147483647) AS mh
    FROM shingles s, range(16) h
    GROUP BY s.id, h.range
),
bands AS (
    SELECT id, hid // 4 AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // 4
),
found AS (
    SELECT DISTINCT a.id AS qid, b.id AS nid
    FROM bands a JOIN bands b USING (band, sig)
    WHERE a.id < b.id
),
scored AS (
    SELECT t.qid, t.nid,
           LEAST(CAST(FLOOR(t.jaccard * 5) AS BIGINT), 4) AS jband,
           CASE WHEN f.qid IS NULL THEN 0 ELSE 1 END AS hit
    FROM truth t LEFT JOIN found f ON t.qid = f.qid AND t.nid = f.nid
)
SELECT jband,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM scored GROUP BY jband
"""
)


@register("minhash_recall_vs_jaccard", MINHASH_RECALL_ORACLE)
def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash(16)-LSH(4-bit band) candidate generator
    against exact n-gram-Jaccard ground truth (pairs with J >= 0.05 over
    the df-capped vocabulary), bucketed by Jaccard band — the dedup
    analogue of similarity_lsh_recall: the measured S-curve evidence
    that the banding parameters catch the near-dups they claim to,
    BEFORE a 100 TB dedup commits to them.

    Scale: the LSH side is the production sub-quadratic path; the exact
    side is the inverted-index join with the hot-shingle cap — the
    validation arm, run at audit SF. Truth→found matching is a keyed
    left join on the pair ids; band bucketing is FLOOR on an exact
    double ratio, identical on both engines."""
    from amorphous_mapreduce_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    truth = jaccard_pairs(
        docs, threshold=_RECALL_TAU, max_df=JACCARD_MAX_DF
    ).select("qid", "nid", "jaccard")
    found = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).select(
        "qid", "nid", F.lit(1).alias("hit")
    )
    scored = truth.join(found, ["qid", "nid"], "left").select(
        F.least(
            F.floor(F.col("jaccard") * 5).cast("long"), F.lit(4).cast("long")
        ).alias("jband"),
        F.coalesce("hit", F.lit(0)).alias("hit"),
    )
    return scored.groupBy("jband").agg(
        F.count("*").alias("n_truth"),
        F.sum("hit").cast("long").alias("n_hits"),
        (
            F.sum("hit").cast("double") / F.count("*").cast("double")
        ).alias("recall"),
    )


# --- dedup storage-savings scorecard per source ------------------------------

SAVINGS_ORACLE = f"""
WITH hashed AS (
    SELECT doc_id, source, n_chars, md5({NORM}) AS h
    FROM documents
),
keep AS (
    SELECT h, MIN(doc_id) AS keeper_id FROM hashed GROUP BY h
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN d.doc_id <> k.keeper_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_redundant,
       CAST(SUM(CASE WHEN d.doc_id <> k.keeper_id THEN d.n_chars ELSE 0 END)
            AS BIGINT) AS redundant_chars,
       CAST(SUM(CASE WHEN d.doc_id <> k.keeper_id THEN d.n_chars ELSE 0 END)
            AS DOUBLE)
       / CAST(SUM(d.n_chars) AS DOUBLE) AS savings_frac
FROM hashed d JOIN keep k USING (h)
GROUP BY d.source
"""


@register("dedup_storage_savings", SAVINGS_ORACLE)
def q_dedup_storage_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-savings scorecard of exact dedup per source: documents
    and characters that disappear when only the canonical copy
    (min doc_id per content hash) is kept — the bytes-saved number that
    justifies a dedup pass before a 100 TB storage commit, attributed
    to the source that contributed the redundancy.

    Scale: one digest aggregate (uniform keys) + one keyed join back;
    savings fractions are single exact double divisions."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(normalize_text()).alias("h"),
    )
    keep = hashed.groupBy("h").agg(F.min("doc_id").alias("keeper_id"))
    redundant = F.when(F.col("doc_id") != F.col("keeper_id"), 1).otherwise(0)
    red_chars = F.when(
        F.col("doc_id") != F.col("keeper_id"), F.col("n_chars")
    ).otherwise(0)
    return (
        hashed.join(keep, "h")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(redundant).cast("long").alias("n_redundant"),
            F.sum(red_chars).alias("redundant_chars"),
            (
                F.sum(red_chars).cast("double")
                / F.sum("n_chars").cast("double")
            ).alias("savings_frac"),
        )
    )


# --- blocking-strategy bake-off: sorted neighborhood vs LSH ------------------

_SNM_WINDOW = 5  # sorted-neighborhood sliding window size
_SNM_KEY_LEN = 20

SNM_ORACLE = (
    "WITH "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + f"""
, keyed AS (
    SELECT doc_id,
           substr({NORM}, 1, {_SNM_KEY_LEN}) AS k,
           md5({NORM}) AS ch
    FROM documents
),
ranked AS (
    SELECT doc_id, ch,
           ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rnk
    FROM keyed
),
snm AS (
    SELECT LEAST(a.doc_id, b.doc_id) AS qid,
           GREATEST(a.doc_id, b.doc_id) AS nid
    FROM ranked a
    JOIN ranked b ON b.rnk - a.rnk BETWEEN 1 AND {_SNM_WINDOW - 1}
),
exact_pairs AS (
    SELECT a.doc_id AS qid, b.doc_id AS nid
    FROM ranked a JOIN ranked b ON a.ch = b.ch AND a.doc_id < b.doc_id
),
counts AS (
    SELECT
        (SELECT COUNT(*) FROM snm) AS n_snm,
        (SELECT COUNT(*) FROM pairs) AS n_lsh,
        (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
        (SELECT COUNT(*) FROM exact_pairs e
         WHERE EXISTS (SELECT 1 FROM snm s
                       WHERE s.qid = e.qid AND s.nid = e.nid)) AS snm_hits,
        (SELECT COUNT(*) FROM exact_pairs e
         WHERE EXISTS (SELECT 1 FROM pairs p
                       WHERE p.qid = e.qid AND p.nid = e.nid)) AS lsh_hits,
        (SELECT COUNT(*) FROM snm s
         WHERE EXISTS (SELECT 1 FROM pairs p
                       WHERE p.qid = s.qid AND p.nid = s.nid)) AS n_common
)
SELECT CAST(n_snm AS BIGINT) AS n_snm_candidates,
       CAST(n_lsh AS BIGINT) AS n_lsh_candidates,
       CAST(n_exact AS BIGINT) AS n_exact_dup_pairs,
       CAST(n_common AS BIGINT) AS n_snm_lsh_common,
       CASE WHEN n_exact = 0 THEN NULL
            ELSE CAST(snm_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) END
           AS snm_recall_exact,
       CASE WHEN n_exact = 0 THEN NULL
            ELSE CAST(lsh_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) END
           AS lsh_recall_exact
FROM counts
"""
)


@register("snm_vs_lsh_blocking", SNM_ORACLE)
def q_snm_vs_lsh_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy bake-off: SORTED-NEIGHBORHOOD candidate pairs
    (sort by a 20-char normalized prefix key, pair everything within a
    5-row sliding window) vs MinHash-LSH, both scored for recall
    against exact-duplicate ground truth — the record-linkage
    methodology comparison (SNM / LSH / q-gram are the three classic
    blocking families; operators/fuzzy.py covers the third).

    Scale: SNM's global sort rank rides the distributed prefix-sum
    template (range sort, partition partials — the sort-based blocking
    is exactly the 'sort + bounded window' pattern that scales); pairs
    come from a (w-1)-way bounded rank-offset equi-join, NEVER a rank
    inequality join. LSH pairs reuse the banded kernel. All overlap
    counts are keyed semi-joins; the ranked frame and pair sets are
    persisted (multiple readers)."""
    from amorphous_mapreduce_spark.operators.corpus_stats import (
        distributed_prefix_sum,
    )
    from amorphous_mapreduce_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.substring(normalize_text(), 1, _SNM_KEY_LEN).alias("k"),
        F.md5(normalize_text()).alias("ch"),
    )
    ranked = distributed_prefix_sum(
        keyed.select("doc_id", "ch", "k", F.lit(1).alias("_one")),
        "_one",
        [F.asc("k"), F.asc("doc_id")],
        rank_col="rnk",
    ).select("doc_id", "ch", "rnk").persist()
    offsets = F.explode(
        F.array(*[F.lit(i) for i in range(1, _SNM_WINDOW)])
    ).alias("off")
    probe = ranked.select(
        F.col("doc_id").alias("id_a"), F.col("rnk"), offsets
    ).select("id_a", (F.col("rnk") + F.col("off")).alias("rnk"))
    snm = (
        probe.join(
            ranked.select(F.col("doc_id").alias("id_b"), "rnk"), "rnk"
        )
        .select(
            F.least("id_a", "id_b").alias("qid"),
            F.greatest("id_a", "id_b").alias("nid"),
        )
        .persist()
    )
    lsh = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    ca = ranked.select(F.col("doc_id").alias("qid"), "ch")
    cb = ranked.select(F.col("doc_id").alias("nid"), "ch")
    exact_pairs = (
        ca.join(cb, "ch")
        .filter(F.col("qid") < F.col("nid"))
        .select("qid", "nid")
        .persist()
    )
    # six 1-row scalar aggregates crossed into the scorecard — pure
    # dataflow, no driver-side counts
    c_snm = snm.agg(F.count("*").alias("n_snm_candidates"))
    c_lsh = lsh.agg(F.count("*").alias("n_lsh_candidates"))
    c_exact = exact_pairs.agg(F.count("*").alias("n_exact_dup_pairs"))
    c_common = snm.join(lsh, ["qid", "nid"], "left_semi").agg(
        F.count("*").alias("n_snm_lsh_common")
    )
    c_snm_hits = exact_pairs.join(snm, ["qid", "nid"], "left_semi").agg(
        F.count("*").alias("_snm_hits")
    )
    c_lsh_hits = exact_pairs.join(lsh, ["qid", "nid"], "left_semi").agg(
        F.count("*").alias("_lsh_hits")
    )
    return (
        c_snm.crossJoin(c_lsh)
        .crossJoin(c_exact)
        .crossJoin(c_common)
        .crossJoin(c_snm_hits)
        .crossJoin(c_lsh_hits)
        .select(
            "n_snm_candidates",
            "n_lsh_candidates",
            "n_exact_dup_pairs",
            "n_snm_lsh_common",
            F.when(
                F.col("n_exact_dup_pairs") != 0,
                F.col("_snm_hits").cast("double")
                / F.col("n_exact_dup_pairs").cast("double"),
            ).alias("snm_recall_exact"),
            F.when(
                F.col("n_exact_dup_pairs") != 0,
                F.col("_lsh_hits").cast("double")
                / F.col("n_exact_dup_pairs").cast("double"),
            ).alias("lsh_recall_exact"),
        )
    )


# --- dedup-method overlap (Venn) scorecard -----------------------------------

_SIMHASH_BODY = """
, th AS (
    SELECT id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS th FROM toks
), bitsums AS (
    SELECT id, b.range AS bit,
           CAST(SUM(((th >> CAST(b.range AS INT)) & 1) * 2 - 1) AS BIGINT) AS s
    FROM th, range(60) b
    GROUP BY id, b.range
), fp AS (
    SELECT id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT))
                             ELSE 0 END) AS BIGINT) AS simhash
    FROM bitsums GROUP BY id
)"""

_EMB_COS = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)

VENN_ORACLE = (
    "WITH "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + _SIMHASH_BODY
    + f"""
, sh_pairs AS (
    SELECT a.id AS qid, b.id AS nid
    FROM fp a, fp b
    WHERE a.id < b.id AND bit_count(xor(a.simhash, b.simhash)) <= 12
),
em_pairs AS (
    SELECT a.vec_id AS qid, b.vec_id AS nid
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND {_EMB_COS} > 0.45
)
SELECT
    (SELECT COUNT(*) FROM pairs) AS n_minhash,
    (SELECT COUNT(*) FROM sh_pairs) AS n_simhash,
    (SELECT COUNT(*) FROM em_pairs) AS n_embedding,
    (SELECT COUNT(*) FROM pairs p
     WHERE EXISTS (SELECT 1 FROM sh_pairs s
                   WHERE s.qid = p.qid AND s.nid = p.nid)) AS n_min_sim,
    (SELECT COUNT(*) FROM pairs p
     WHERE EXISTS (SELECT 1 FROM em_pairs e
                   WHERE e.qid = p.qid AND e.nid = p.nid)) AS n_min_emb,
    (SELECT COUNT(*) FROM sh_pairs s
     WHERE EXISTS (SELECT 1 FROM em_pairs e
                   WHERE e.qid = s.qid AND e.nid = s.nid)) AS n_sim_emb,
    (SELECT COUNT(*) FROM pairs p
     WHERE EXISTS (SELECT 1 FROM sh_pairs s
                   WHERE s.qid = p.qid AND s.nid = p.nid)
       AND EXISTS (SELECT 1 FROM em_pairs e
                   WHERE e.qid = p.qid AND e.nid = p.nid)) AS n_all_three
"""
)


@register("dedup_method_venn", VENN_ORACLE)
def q_dedup_method_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble-dedup overlap scorecard: candidate-pair counts from the
    three near-dup families (MinHash-LSH shingle Jaccard, SimHash
    Hamming, embedding cosine) plus every pairwise and the triple
    intersection — the Venn diagram that justifies (or kills) running
    multiple dedup passes: methods with near-total overlap are
    redundant, disjoint tails are each method's unique catch.

    Scale: each pair set comes from its existing bucketed kernel
    (banded LSH / pigeonhole SimHash / blocked E·Eᵀ); overlaps are
    keyed semi-joins; the scorecard is 1-row scalar aggregates crossed
    (pure dataflow, same shape as snm_vs_lsh_blocking).

    vec_id and doc_id share the id space by fixture design."""
    from amorphous_mapreduce_spark.operators.similarity import (
        cosine_near_dup_blocked,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    mh = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    sh = (
        simhash_near_pairs(docs, max_hamming=12)
        .select("qid", "nid")
        .persist()
    )
    em = (
        cosine_near_dup_blocked(emb, threshold=0.45)
        .select("qid", "nid")
        .persist()
    )

    def n(df, name):
        return df.agg(F.count("*").alias(name))

    min_sim = mh.join(sh, ["qid", "nid"], "left_semi").persist()
    return (
        n(mh, "n_minhash")
        .crossJoin(n(sh, "n_simhash"))
        .crossJoin(n(em, "n_embedding"))
        .crossJoin(n(min_sim, "n_min_sim"))
        .crossJoin(n(mh.join(em, ["qid", "nid"], "left_semi"), "n_min_emb"))
        .crossJoin(n(sh.join(em, ["qid", "nid"], "left_semi"), "n_sim_emb"))
        .crossJoin(
            n(min_sim.join(em, ["qid", "nid"], "left_semi"), "n_all_three")
        )
    )


# --- source modularity of the near-dup graph ---------------------------------

MODULARITY_ORACLE = (
    _NEARDUP_EDGES_PREFIX
    + """
, m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
ns AS (
    SELECT d.source,
           CAST(COUNT(DISTINCT e.a) AS BIGINT) AS n_nodes,
           CAST(COUNT(*) AS BIGINT) AS deg_sum
    FROM edges e JOIN documents d ON e.a = d.doc_id
    GROUP BY d.source
),
es AS (
    SELECT da.source, CAST(COUNT(*) AS BIGINT) AS internal_edges
    FROM pairs p
    JOIN documents da ON p.qid = da.doc_id
    JOIN documents db ON p.nid = db.doc_id
    WHERE da.source = db.source
    GROUP BY da.source
)
SELECT ns.source, n_nodes, deg_sum,
       COALESCE(internal_edges, 0) AS internal_edges,
       CAST(4 * m * COALESCE(internal_edges, 0) - deg_sum * deg_sum AS DOUBLE)
           / CAST(4 * m * m AS DOUBLE) AS q_contrib
FROM ns LEFT JOIN es USING (source) CROSS JOIN m
ORDER BY ns.source
"""
)


@register("near_dup_source_modularity", MODULARITY_ORACLE)
def q_source_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the SOURCE partition over the MinHash-LSH
    near-dup graph: does duplication concentrate within sources (high
    Q — dedup shards can follow source boundaries) or cross them (low
    Q — global dedup is mandatory)? Per-source contribution
    e_s/m - (deg_s/2m)^2; the sum of q_contrib IS the partition's Q.

    Exactness: the contribution is the cross-multiplied integer
    (4*m*e_s - deg_s^2) over 4*m^2 — ONE double division per source row
    (convention: never sum floats across groups).

    Scale: edge list is LSH-bucketed (sub-quadratic); both tag joins are
    keyed equi-joins on doc id; per-source aggregate state is
    #sources rows; the pair total is a 1-row scalar crossed back."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    src = docs.select(F.col("doc_id").alias("id"), "source")
    edges = pairs.select(F.col("qid").alias("a"), F.col("nid").alias("b")).unionAll(
        pairs.select(F.col("nid").alias("a"), F.col("qid").alias("b"))
    )
    m = pairs.agg(F.count("*").alias("m"))
    ns = (
        edges.join(src.withColumnRenamed("id", "a"), "a")
        .groupBy("source")
        .agg(
            F.countDistinct("a").alias("n_nodes"),
            F.count("*").alias("deg_sum"),
        )
    )
    es = (
        pairs.join(
            src.select(F.col("id").alias("qid"), F.col("source").alias("src_a")),
            "qid",
        )
        .join(
            src.select(F.col("id").alias("nid"), F.col("source").alias("src_b")),
            "nid",
        )
        .filter(F.col("src_a") == F.col("src_b"))
        .groupBy(F.col("src_a").alias("source"))
        .agg(F.count("*").alias("internal_edges0"))
    )
    return (
        ns.join(es, "source", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "source",
            "n_nodes",
            "deg_sum",
            F.coalesce(F.col("internal_edges0"), F.lit(0)).alias("internal_edges"),
            (
                (
                    F.lit(4) * F.col("m") * F.coalesce(F.col("internal_edges0"), F.lit(0))
                    - F.col("deg_sum") * F.col("deg_sum")
                ).cast("double")
                / (F.lit(4) * F.col("m") * F.col("m")).cast("double")
            ).alias("q_contrib"),
        )
        .orderBy("source")
    )


# --- per-source knockout yield of the near-dup pair list ----------------------

KNOCKOUT_ORACLE = (
    _NEARDUP_EDGES_PREFIX
    + """
, m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
tagged AS (
    SELECT p.qid, p.nid, da.source AS src_a, db.source AS src_b
    FROM pairs p
    JOIN documents da ON p.qid = da.doc_id
    JOIN documents db ON p.nid = db.doc_id
),
incident AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_incident FROM (
        SELECT qid, nid, src_a AS source FROM tagged
        UNION
        SELECT qid, nid, src_b AS source FROM tagged
    ) GROUP BY source
),
internal AS (
    SELECT src_a AS source, CAST(COUNT(*) AS BIGINT) AS n_internal
    FROM tagged WHERE src_a = src_b GROUP BY src_a
)
SELECT i.source, n_incident,
       COALESCE(n_internal, 0) AS n_internal,
       n_incident - COALESCE(n_internal, 0) AS n_cross,
       CAST(n_incident AS DOUBLE) / CAST(m AS DOUBLE) AS knockout_share
FROM incident i LEFT JOIN internal USING (source) CROSS JOIN m
ORDER BY i.source
"""
)


@register("source_knockout_dup_yield", KNOCKOUT_ORACLE)
def q_source_knockout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out dedup accounting: for each source, how many
    near-dup pairs vanish if that source is excluded from the corpus
    (pairs incident to it), split into within-source and cross-source
    mass — the marginal-contribution ranking that decides which feed to
    renegotiate or down-weight first (the knockout sibling of
    markov_removal_attribution, applied to dedup yield).

    Exactness: pure integer pair counts; one division by the 1-row pair
    total. The UNION dedups (qid, nid, source) so a same-source pair
    counts once toward its source.

    Scale: LSH-bucketed pair list, two keyed doc-tag joins, a
    per-source rollup — no quadratic stage; the pair total is a scalar
    crossed back."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)
    src = docs.select(F.col("doc_id").alias("id"), "source")
    tagged = (
        pairs.join(
            src.select(F.col("id").alias("qid"), F.col("source").alias("src_a")),
            "qid",
        )
        .join(
            src.select(F.col("id").alias("nid"), F.col("source").alias("src_b")),
            "nid",
        )
        .persist()  # incident, internal AND the total re-read it
    )
    m = tagged.agg(F.count("*").alias("m"))
    incident = (
        tagged.select("qid", "nid", F.col("src_a").alias("source"))
        .unionAll(tagged.select("qid", "nid", F.col("src_b").alias("source")))
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("n_incident"))
    )
    internal = (
        tagged.filter(F.col("src_a") == F.col("src_b"))
        .groupBy(F.col("src_a").alias("source"))
        .agg(F.count("*").alias("n_internal0"))
    )
    return (
        incident.join(internal, "source", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "source",
            "n_incident",
            F.coalesce(F.col("n_internal0"), F.lit(0)).alias("n_internal"),
            (
                F.col("n_incident") - F.coalesce(F.col("n_internal0"), F.lit(0))
            ).alias("n_cross"),
            (
                F.col("n_incident").cast("double") / F.col("m").cast("double")
            ).alias("knockout_share"),
        )
        .orderBy("source")
    )


# --- LSH band-width sweep vs exact Jaccard truth -------------------------------

SWEEP_WIDTHS = (2, 4, 8)
SWEEP_TRUTH_J = 0.5
SWEEP_MAX_DF = 64


def _sweep_band_sql(w: int) -> str:
    return f"""
SELECT {w} AS w, a.id AS qid, b.id AS nid FROM (
    SELECT id, hid // {w} AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // {w}
) a JOIN (
    SELECT id, hid // {w} AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // {w}
) b USING (band, sig)
WHERE a.id < b.id"""


BAND_SWEEP_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + """
, minhash AS (
    SELECT s.id, h.range AS hid,
           MIN(((s.sh % 2147483647) * (h.range * 2 + 1) + h.range * 12345)
               % 2147483647) AS mh
    FROM shingles s, range(16) h
    GROUP BY s.id, h.range
),
capped AS (
    SELECT s.id, s.sh FROM shingles s
    JOIN (SELECT sh FROM shingles GROUP BY sh
"""
    + f"          HAVING COUNT(*) <= {SWEEP_MAX_DF}) rare USING (sh)\n"
    + f"""),
sizes AS (SELECT id, COUNT(*) AS sz FROM capped GROUP BY id),
truth AS (
    SELECT qid, nid FROM (
        SELECT a.id AS qid, b.id AS nid, COUNT(*) AS inter
        FROM capped a JOIN capped b USING (sh) WHERE a.id < b.id
        GROUP BY a.id, b.id
    ) i
    JOIN sizes qs ON qs.id = i.qid
    JOIN sizes ns ON ns.id = i.nid
    WHERE CAST(inter AS DOUBLE) / (qs.sz + ns.sz - inter) >= {SWEEP_TRUTH_J}
),
cands AS (SELECT DISTINCT w, qid, nid FROM ("""
    + "\nUNION ALL".join(_sweep_band_sql(w) for w in SWEEP_WIDTHS)
    + """
)),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth)
SELECT CAST(w AS BIGINT) AS band_width,
       CAST(16 // w AS BIGINT) AS n_bands,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       MAX(nt.n_true) AS n_true,
       CAST(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
       CAST(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(MAX(nt.n_true) AS DOUBLE) AS recall,
       CAST(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS precision
FROM cands c
LEFT JOIN truth t ON c.qid = t.qid AND c.nid = t.nid
CROSS JOIN nt
GROUP BY w ORDER BY w
"""
)


@register("lsh_band_sweep", BAND_SWEEP_ORACLE)
def q_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding S-curve sweep: candidate volume, recall, and
    precision against exact Jaccard >= 0.5 truth for band widths 2/4/8
    rows — all three configurations re-band the SAME 16-value
    signatures, so the whole tuning frontier costs one signature pass
    (the dedup sibling of ivf_probe_sweep). Narrow bands (w=2) cast a
    wide net (high recall, low precision); wide bands (w=8) the
    reverse — the curve picks the production config.

    Exactness: signatures and candidates are integer hash arithmetic;
    truth is the capped exact-Jaccard pair set (ngram_jaccard
    discipline); recalls/precisions are single divisions.

    Scale: banding is a per-doc rollup repeated 3x over the persisted
    signature frame; candidate joins are (band, sig) hash joins; truth
    is the inverted-index join with the hot-shingle cap."""
    from amorphous_mapreduce_spark.operators.dedup import (
        jaccard_pairs,
        minhash_band_buckets,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=16).persist()
    truth = (
        jaccard_pairs(docs, threshold=SWEEP_TRUTH_J, max_df=SWEEP_MAX_DF)
        .select("qid", "nid")
        .withColumn("_t", F.lit(1))
        .persist()
    )
    cands = None
    for w in SWEEP_WIDTHS:
        b = minhash_band_buckets(sigs, band_bits=w).persist()
        cw = (
            b.select(F.col("id").alias("qid"), "band", "sig")
            .join(b.select(F.col("id").alias("nid"), "band", "sig"), ["band", "sig"])
            .filter(F.col("qid") < F.col("nid"))
            .select("qid", "nid")
            .distinct()
            .withColumn("w", F.lit(w))
        )
        cands = cw if cands is None else cands.unionByName(cw)
    nt = truth.agg(F.count("*").alias("n_true"))
    return (
        cands.join(truth, ["qid", "nid"], "left")
        .crossJoin(F.broadcast(nt))
        .groupBy("w")
        .agg(
            F.count("*").alias("n_candidates"),
            F.max("n_true").alias("n_true"),
            F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .select(
            F.col("w").cast("long").alias("band_width"),
            F.expr("CAST(16 div w AS BIGINT)").alias("n_bands"),
            "n_candidates",
            "n_true",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_true").cast("double")).alias(
                "recall"
            ),
            (
                F.col("n_hits").cast("double") / F.col("n_candidates").cast("double")
            ).alias("precision"),
        )
        .orderBy("band_width")
    )


# --- winnowing fingerprints (MOSS-style positional selection) ---------------

# Schleimer/Wilkerson/Aiken winnowing: slide a window of W consecutive
# shingle hashes and keep each window's minimum (min-position tie-break
# here — deterministic on both engines). Guarantees any match of length
# >= W + shingle_size - 1 tokens shares a fingerprint, while storing only
# ~2/(W+1) of the shingles — the position-aware selection scheme the
# density-based MinHash family can't express.
WINNOW_W = 4
WINNOW_MIN_SHARED = 2
WINNOW_MAX_DF = 1000

WINNOW_ORACLE = (
    "WITH "
    + toks_cte()
    + f"""
, grams AS (
    SELECT id, pos,
           word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w
               AS gram,
           lead(word, 2) OVER w AS last2
    FROM toks WINDOW w AS (PARTITION BY id ORDER BY pos)
), sh AS (
    SELECT id,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY pos) AS spos,
           CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS h
    FROM grams WHERE last2 IS NOT NULL
), wins AS (
    SELECT id, spos AS e,
           MIN(h) OVER (PARTITION BY id ORDER BY spos
                        ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW)
               AS wmin
    FROM sh
), sel AS (
    SELECT DISTINCT a.id, MIN(a.spos) OVER (PARTITION BY a.id, w.e) AS fp_pos,
           w.wmin AS h
    FROM wins w
    JOIN sh a ON a.id = w.id AND a.h = w.wmin
              AND a.spos BETWEEN w.e - {WINNOW_W - 1} AND w.e
    WHERE w.e >= {WINNOW_W}
), fp AS (SELECT DISTINCT id, h FROM sel),
capped AS (
    SELECT f.id, f.h FROM fp f
    JOIN (SELECT h FROM fp GROUP BY h
          HAVING COUNT(*) <= {WINNOW_MAX_DF}) rare USING (h)
)
SELECT a.id AS qid, b.id AS nid, CAST(COUNT(*) AS BIGINT) AS n_shared_fp
FROM capped a JOIN capped b ON a.h = b.h AND a.id < b.id
GROUP BY a.id, b.id
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""
)


@register("winnowing_fingerprint_pairs", WINNOW_ORACLE)
def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= 2 WINNOWED fingerprints — the MOSS
    plagiarism-detection scheme: per sliding window of 4 consecutive
    3-gram hashes keep the minimum (min-position tie-break), giving a
    ~2/(W+1)-density fingerprint set with a positional match GUARANTEE
    (any shared run of >= 6 tokens surfaces) that uniform-density
    MinHash sampling cannot make. Candidates then flow through the
    standard df-capped inverted-index join.

    Scale: the selection windows are keyed per doc (running min + a
    bounded W-row back-join); fingerprint density cuts the index join's
    input ~2.5x vs full shingles; the df cap bounds hot-key fanout."""
    docs = load_table(spark, sf_dir, "documents")
    from amorphous_mapreduce_spark.operators.dedup import tokenized
    from pyspark.sql import Window as W

    toks = tokenized(docs)
    wdoc = W.partitionBy("id").orderBy("pos")
    grams = toks.select(
        "id",
        "pos",
        F.concat_ws(
            " ",
            F.col("word"),
            F.lead("word", 1).over(wdoc),
            F.lead("word", 2).over(wdoc),
        ).alias("gram"),
        F.lead("word", 2).over(wdoc).alias("_last"),
    )
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64

    sh = (
        grams.filter(F.col("_last").isNotNull())
        .select(
            "id",
            F.row_number().over(wdoc).alias("spos"),
            hex_hash64(F.col("gram")).alias("h"),
        )
    )
    sh = sh.persist()  # read by the window pass AND the argmin back-join
    wins = sh.select(
        "id",
        F.col("spos").alias("e"),
        F.min("h")
        .over(
            W.partitionBy("id")
            .orderBy("spos")
            .rowsBetween(-(WINNOW_W - 1), 0)
        )
        .alias("wmin"),
    ).filter(F.col("e") >= WINNOW_W)
    a = sh.select("id", F.col("spos").alias("apos"), F.col("h").alias("ah"))
    sel = (
        wins.join(
            a,
            (wins.id == a.id)
            & (F.col("ah") == F.col("wmin"))
            & (F.col("apos").between(F.col("e") - (WINNOW_W - 1), F.col("e"))),
        )
        .select(wins.id.alias("id"), "e", "wmin", "apos")
        .groupBy("id", "e", "wmin")
        .agg(F.min("apos").alias("fp_pos"))
    )
    fp = sel.select("id", F.col("wmin").alias("h")).distinct()
    fp = fp.persist()  # df cap + both inverted-index join sides
    rare = (
        fp.groupBy("h")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= WINNOW_MAX_DF)
        .select("h")
    )
    capped = fp.join(rare, "h")
    return (
        capped.select(F.col("id").alias("qid"), "h")
        .join(capped.select(F.col("id").alias("nid"), "h"), "h")
        .filter(F.col("qid") < F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.count("*").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= WINNOW_MIN_SHARED)
    )


# --- label-propagation communities of the near-dup graph ---------------------

LPA_ROUNDS = 4


def _lpa_round(i: int) -> str:
    # MATERIALIZED for the same reason as _kcore_round: each round feeds
    # the next, and DuckDB would otherwise inline/re-expand the chain.
    return f"""
l{i} AS MATERIALIZED (
    SELECT id, label FROM (
        SELECT e.a AS id, l.label,
               ROW_NUMBER() OVER (PARTITION BY e.a
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM edges e JOIN l{i - 1} l ON e.b = l.id
        GROUP BY e.a, l.label
    ) WHERE rn = 1
)"""


def lpa_ctes(n_rounds: int) -> str:
    """The near-dup edges and label-propagation states l0..l{n_rounds}:
    ``operators.graph.label_propagation`` unrolled in SQL."""
    return (
        _NEARDUP_EDGES_PREFIX
        + ", l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS label FROM edges),"
        + ",".join(_lpa_round(i) for i in range(1, n_rounds + 1))
    )


LPA_ORACLE = (
    lpa_ctes(LPA_ROUNDS)
    + f"""
SELECT label AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(id) AS BIGINT) AS min_id,
       CAST(MAX(id) AS BIGINT) AS max_id
FROM l{LPA_ROUNDS} GROUP BY label
ORDER BY n_members DESC, community
"""
)


@register("label_propagation_communities", LPA_ORACLE)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities of the MinHash-LSH
    near-dup graph — the third clustering lens beside connected
    components (near_dup_clusters: everything reachable merges) and
    k-core (kcore_near_dup: density survivors). LPA splits a connected
    blob into locally-cohesive duplicate families, which is what a
    'keep one per template' dedup policy actually wants when chains of
    weak pair links bridge unrelated templates.

    Determinism: synchronous rounds + (count DESC, label ASC) modal
    tie-break + label init = node id, with the fixed round count part
    of the spec — the SQL oracle unrolls the identical 4 rounds, so
    even not-yet-converged or oscillating states compare equal.

    Scale: per round one keyed equi-join (edge list, LSH-bucketed and
    sub-quadratic) + hash aggregate + per-node bounded window; no
    global window, no all-pairs; label state is one row per node."""
    from amorphous_mapreduce_spark.operators.graph import label_propagation

    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), num_hashes=16, band_bits=4
    )
    lab = label_propagation(pairs, n_rounds=LPA_ROUNDS)
    return (
        lab.groupBy(F.col("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy(F.desc("n_members"), F.asc("community"))
    )


# --- per-edge triangle support of the near-dup graph --------------------------

EDGE_SUPPORT_ORACLE = (
    _NEARDUP_EDGES_PREFIX
    + """
, sup AS (
    SELECT p.qid, p.nid, CAST(COUNT(e2.b) AS BIGINT) AS support
    FROM pairs p
    LEFT JOIN edges e1 ON e1.a = p.qid
    LEFT JOIN edges e2 ON e2.a = p.nid AND e2.b = e1.b
    GROUP BY p.qid, p.nid
)
SELECT support,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       support >= 1 AS in_3truss
FROM sup GROUP BY support ORDER BY support
"""
)


@register("near_dup_edge_support", EDGE_SUPPORT_ORACLE)
def q_near_dup_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle support of the MinHash-LSH near-dup graph
    (support = common neighbours of the endpoints), as a histogram —
    the edge-level density signal under k-truss: support >= k-2 is the
    k-truss membership condition, so support 0 edges are one-off pair
    links (chain bridges a transitive dedup should distrust) and
    support >= 1 edges are triangle-embedded (genuine template
    families). Complements the node-level kcore_near_dup and the
    global clustering coefficient.

    Scale: support is one wedge join (edges joined to edges through the
    shared endpoint — the near_dup_triangles kernel, LSH-bucketed and
    sub-quadratic on the capped edge list); the histogram is a bounded
    hash aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    edges = (
        pairs.select(F.col("qid").alias("a"), F.col("nid").alias("b"))
        .unionAll(pairs.select(F.col("nid").alias("a"), F.col("qid").alias("b")))
        .persist()
    )
    e1 = edges.select(F.col("a").alias("qid"), F.col("b").alias("cn"))
    e2 = edges.select(F.col("a").alias("nid2"), F.col("b").alias("cn2"))
    sup = (
        pairs.join(e1, "qid", "left")
        .join(
            e2,
            (F.col("nid") == F.col("nid2")) & (F.col("cn") == F.col("cn2")),
            "left",
        )
        .groupBy("qid", "nid")
        .agg(F.count("cn2").alias("support"))
    )
    return (
        sup.groupBy("support")
        .agg(F.count("*").alias("n_edges"))
        .select("support", "n_edges", (F.col("support") >= 1).alias("in_3truss"))
        .orderBy("support")
    )


# --- k-truss of the near-dup graph -------------------------------------------

def _ktruss_round(i: int) -> str:
    # MATERIALIZED for the same reason as the k-core rounds: each round
    # references the previous edge set three times (the wedge join).
    return f"""
sup{i} AS MATERIALIZED (
    SELECT e.a, e.b, CAST(COUNT(y.b) AS BIGINT) AS s
    FROM t{i - 1} e
    LEFT JOIN t{i - 1} x ON x.a = e.a
    LEFT JOIN t{i - 1} y ON y.a = e.b AND y.b = x.b
    GROUP BY e.a, e.b
), t{i} AS MATERIALIZED (
    SELECT a, b FROM sup{i} WHERE s >= {KTRUSS_K - 2}
)"""


KTRUSS_ORACLE = (
    _NEARDUP_EDGES_PREFIX
    + ", t0 AS MATERIALIZED (SELECT a, b FROM edges),"
    + ",".join(_ktruss_round(i) for i in range(1, KTRUSS_ROUNDS + 1))
    + f"""
SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS truss_deg
FROM t{KTRUSS_ROUNDS} GROUP BY a
"""
)


@register("ktruss_near_dup", KTRUSS_ORACLE)
def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the MinHash-LSH near-dup graph: documents whose
    remaining dup edges each sit in >= 1 triangle after cascading edge
    peels — the edge-density cut ABOVE the 2-core (a k-core keeps long
    chains; a truss demands triangles, so it isolates genuine template
    families and drops every pair-link bridge). Completes the density
    ladder: near_dup_edge_support (one support pass) -> kcore_near_dup
    (node peel) -> k-truss (edge peel).

    Fixed 3 peel rounds (converges earlier at test SFs — asserted), CTE
    -for-CTE oracle with MATERIALIZED rounds (the wedge join references
    each round three times). Scale: per round two keyed equi-joins + a
    hash aggregate on the bucketed edge list; localCheckpoint per round
    stops lineage re-expansion."""
    from amorphous_mapreduce_spark.operators.graph import ktruss

    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), num_hashes=16, band_bits=4
    )
    return ktruss(pairs)


# --- Fellegi-Sunter record-linkage weights ------------------------------------

# Training signal for probabilistic record linkage: m_k = P(field k
# agrees | pair is a true near-dup), u_k = P(agrees | random pair);
# the match weight is log2(m_k / u_k). Matches = MinHash-LSH candidate
# pairs verified at exact capped-vocab Jaccard >= 0.5 (round-7 fix: the
# previous exact shared-shingle mining had candidate mass Σ df² that
# blew past 18 min at sf10 as shingle dfs approached the 1000 cap; LSH
# signature bands bound candidates near-linearly and the oracle mirrors
# the same candidate set, so the match definition stays deterministic).
# Non-matches = a deterministic linear sample (hash-bucket-consecutive
# pairs minus the match set). Weights go through functions.intlog on
# Laplace-smoothed integer counts, so the "log" is bit-identical across
# engines.
_FS_BUCKETS = 64
_FS_H = (
    "CAST('0x' || substr(md5('fs_' || CAST(doc_id AS VARCHAR)), 1, 15)"
    " AS BIGINT)"
)


def _fs_ctes() -> str:
    """Shared Fellegi-Sunter CTE prefix (through mf/uf): LSH candidates,
    Jaccard-verified matches, sampled non-matches, attributes, and the
    per-field agreement scalars — used by both the weight table and the
    classify query."""
    return (
        SHINGLES_CTE
        + MINHASH_EDGES_CTE
        + f"""
, capped AS (
    SELECT s.id, s.sh FROM shingles s
    JOIN (SELECT sh FROM shingles GROUP BY sh
          HAVING COUNT(*) <= {JACCARD_MAX_DF}) rare USING (sh)
),
sizes AS (SELECT id, COUNT(*) AS sz FROM capped GROUP BY id),
inters AS (
    SELECT p.qid, p.nid, COUNT(*) AS inter
    FROM pairs p
    JOIN capped a ON a.id = p.qid
    JOIN capped b ON b.id = p.nid AND b.sh = a.sh
    GROUP BY p.qid, p.nid
),
matches AS (
    SELECT qid, nid FROM inters
    JOIN sizes qs ON qs.id = qid JOIN sizes ns ON ns.id = nid
    WHERE 2 * inter >= qs.sz + ns.sz - inter
),
hb AS (
    SELECT doc_id AS id, {_FS_H} AS h, {_FS_H} % {_FS_BUCKETS} AS b
    FROM documents
),
cons AS (
    SELECT id, lead(id) OVER (PARTITION BY b ORDER BY h, id) AS nxt FROM hb
),
upairs AS (
    SELECT LEAST(id, nxt) AS qid, GREATEST(id, nxt) AS nid
    FROM cons WHERE nxt IS NOT NULL
),
nonmatches AS (
    SELECT u.qid, u.nid FROM upairs u
    LEFT JOIN matches m ON m.qid = u.qid AND m.nid = u.nid
    WHERE m.qid IS NULL
),
att AS (
    SELECT doc_id AS id, lang, source, n_chars,
           substr({NORM}, 1, 24) AS head
    FROM documents
),
mf AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m_tot,
           CAST(SUM(CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END) AS BIGINT)
               AS f_lang,
           CAST(SUM(CASE WHEN a.source = b.source THEN 1 ELSE 0 END)
               AS BIGINT) AS f_source,
           CAST(SUM(CASE WHEN ABS(a.n_chars - b.n_chars) <= 20 THEN 1
                    ELSE 0 END) AS BIGINT) AS f_len,
           CAST(SUM(CASE WHEN a.head = b.head THEN 1 ELSE 0 END) AS BIGINT)
               AS f_head
    FROM matches p JOIN att a ON a.id = p.qid JOIN att b ON b.id = p.nid
),
uf AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS u_tot,
           CAST(SUM(CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END) AS BIGINT)
               AS f_lang,
           CAST(SUM(CASE WHEN a.source = b.source THEN 1 ELSE 0 END)
               AS BIGINT) AS f_source,
           CAST(SUM(CASE WHEN ABS(a.n_chars - b.n_chars) <= 20 THEN 1
                    ELSE 0 END) AS BIGINT) AS f_len,
           CAST(SUM(CASE WHEN a.head = b.head THEN 1 ELSE 0 END) AS BIGINT)
               AS f_head
    FROM nonmatches p JOIN att a ON a.id = p.qid JOIN att b ON b.id = p.nid
)"""
    )


def _fs_oracle() -> str:
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled_sql

    w_num = log2_scaled_sql("(m_agree + 1) * (u_tot + 2)")
    w_den = log2_scaled_sql("(m_tot + 2) * (u_agree + 1)")
    return (
        "WITH "
        + _fs_ctes()
        + f""",
feat AS (
    SELECT f.feature,
           CASE f.feature WHEN 'lang' THEN mf.f_lang
                WHEN 'source' THEN mf.f_source
                WHEN 'len20' THEN mf.f_len ELSE mf.f_head END AS m_agree,
           mf.m_tot,
           CASE f.feature WHEN 'lang' THEN uf.f_lang
                WHEN 'source' THEN uf.f_source
                WHEN 'len20' THEN uf.f_len ELSE uf.f_head END AS u_agree,
           uf.u_tot
    FROM (VALUES ('lang'), ('source'), ('len20'), ('head24')) AS f(feature)
    CROSS JOIN mf CROSS JOIN uf
)
SELECT feature, m_agree, m_tot, u_agree, u_tot,
       CAST({w_num} - {w_den} AS BIGINT) AS weight_scaled,
       CAST({w_num} - {w_den} AS DOUBLE) / 1048576.0 AS weight_bits
FROM feat ORDER BY feature
"""
    )


@register("fellegi_sunter_weights", _fs_oracle())
def q_fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage calibration: estimate
    per-field agreement rates among TRUE near-duplicate pairs (MinHash-
    LSH candidates verified at exact Jaccard >= 0.5 over the capped
    shingle vocabulary — the corpus's own ground truth) vs a
    deterministic random-pair sample, and emit each field's match weight
    log2(m_k/u_k) — the trained scoring table a linkage engine sums over
    fields to classify candidate pairs.

    Non-match sampling is scale-linear and collect-free: hash each doc
    into 64 buckets, pair hash-order-consecutive rows per bucket (one
    PARTITIONED window, never a global sort), anti-join the match set.
    Weights use functions.intlog on Laplace-smoothed integer counts
    ((m_k+1)/(m_tot+2) over (u_k+1)/(u_tot+2), cross-multiplied), so
    both engines compute the identical fixed-point log — products must
    stay < 2^55 (intlog domain), i.e. pair counts < ~2^27 per side;
    sample fewer buckets past that.

    Scale (round-7 fix, VERDICT_r06 item 1): match candidates come from
    the MinHash signature-band bucket join (bounded occupancy — a
    16-value signature only collides for genuinely similar docs), and
    exact capped-vocab Jaccard is verified per CANDIDATE, so the
    per-pair work is Σ_cand |shingles(qid)| instead of Σ_sh df² — the
    previous inverted-index mining DNF'd the sf10 rung as dfs approached
    the cap. The sample half is one window + one broadcast anti-join;
    the weight table itself is 4 rows. Reference tie-in: W6/W7 hash
    partition + per-key count (src/word_count.rs:96-118) driving the
    linkage-theory head."""
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled

    _, _, _, mf, uf = _fs_frames(spark, sf_dir)
    feats = spark.createDataFrame(
        [("lang",), ("source",), ("len20",), ("head24",)], ["feature"]
    )
    grid = feats.crossJoin(F.broadcast(mf)).crossJoin(F.broadcast(uf)).select(
        "feature",
        F.expr(
            "CASE feature WHEN 'lang' THEN f_lang WHEN 'source' THEN f_source"
            " WHEN 'len20' THEN f_len ELSE f_head END"
        ).alias("m_agree"),
        "m_tot",
        F.expr(
            "CASE feature WHEN 'lang' THEN u_lang WHEN 'source' THEN u_source"
            " WHEN 'len20' THEN u_len ELSE u_head END"
        ).alias("u_agree"),
        "u_tot",
    )
    wnum = log2_scaled("(m_agree + 1) * (u_tot + 2)")
    wden = log2_scaled("(m_tot + 2) * (u_agree + 1)")
    return grid.select(
        "feature",
        "m_agree",
        "m_tot",
        "u_agree",
        "u_tot",
        (wnum - wden).cast("long").alias("weight_scaled"),
        ((wnum - wden).cast("double") / F.lit(1048576.0)).alias(
            "weight_bits"
        ),
    ).orderBy("feature")


def _fs_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared Fellegi-Sunter frames: (candidate pairs, matches,
    attributes, mf 1-row match-agreement scalars, uf 1-row non-match
    scalars) — the Spark mirror of the _fs_ctes() oracle prefix."""
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64
    from amorphous_mapreduce_spark.operators.dedup import (
        _gram_hashes,
        normalize_text,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # ONE persisted gram-occurrence pass feeds BOTH the minhash pipeline
    # (bag minima) and the distinct shingle vocabulary below — the
    # tokenize+gram+md5 corpus pass previously ran twice (round 9,
    # guide §2.4/§5).
    grams = _gram_hashes(docs).persist()
    # persist: record_linkage_classify reads cand TWICE (the Jaccard
    # verification join AND the classification scoring join) — without
    # the cache the banded-bucket join + distinct re-runs (round 8).
    cand = minhash_lsh_pairs(
        docs, num_hashes=16, band_bits=4, grams=grams
    ).persist()
    # persist: sh feeds the df-cap aggregate AND the capped probe join —
    # two consumers, one distinct over the shared gram pass (round 8).
    sh = grams.distinct().persist()
    rare = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= JACCARD_MAX_DF)
        .select("sh")
    )
    # capped feeds sizes AND both verification join sides — persist so
    # tokenize+shingle+df-cap runs once.
    capped = sh.join(rare, "sh").persist()
    sizes = capped.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(capped.select(F.col("id").alias("qid"), "sh"), "qid")
        .join(capped.select(F.col("id").alias("nid"), "sh"), ["nid", "sh"])
        .groupBy("qid", "nid")
        .agg(F.count("*").alias("inter"))
    )
    matches = (
        inter.join(
            sizes.select(F.col("id").alias("qid"), F.col("sz").alias("qsz")),
            "qid",
        )
        .join(
            sizes.select(F.col("id").alias("nid"), F.col("sz").alias("nsz")),
            "nid",
        )
        .filter(
            2 * F.col("inter") >= F.col("qsz") + F.col("nsz") - F.col("inter")
        )
        .select("qid", "nid")
        .persist()
    )

    h = hex_hash64(F.concat(F.lit("fs_"), F.col("doc_id").cast("string")))
    hb = docs.select(F.col("doc_id").alias("id"), h.alias("h")).select(
        "id", "h", F.pmod(F.col("h"), F.lit(_FS_BUCKETS)).alias("b")
    )
    w = Window.partitionBy("b").orderBy("h", "id")
    cons = hb.select("id", F.lead("id").over(w).alias("nxt")).filter(
        F.col("nxt").isNotNull()
    )
    upairs = cons.select(
        F.least("id", "nxt").alias("qid"), F.greatest("id", "nxt").alias("nid")
    )
    nonmatches = upairs.join(F.broadcast(matches), ["qid", "nid"], "left_anti")

    att = docs.select(
        F.col("doc_id").alias("id"),
        "lang",
        "source",
        "n_chars",
        F.substring(normalize_text(), 1, 24).alias("head"),
    )

    def flags(pairs: DataFrame, tot_name: str):
        a = att.select(*[F.col(c).alias("a_" + c) for c in att.columns])
        b = att.select(*[F.col(c).alias("b_" + c) for c in att.columns])
        return (
            pairs.join(a, pairs["qid"] == a["a_id"])
            .join(b, pairs["nid"] == b["b_id"])
            .agg(
                F.count("*").alias(tot_name),
                F.sum(
                    (F.col("a_lang") == F.col("b_lang")).cast("long")
                ).alias("f_lang"),
                F.sum(
                    (F.col("a_source") == F.col("b_source")).cast("long")
                ).alias("f_source"),
                F.sum(
                    (
                        F.abs(F.col("a_n_chars") - F.col("b_n_chars")) <= 20
                    ).cast("long")
                ).alias("f_len"),
                F.sum(
                    (F.col("a_head") == F.col("b_head")).cast("long")
                ).alias("f_head"),
            )
        )

    mf = flags(matches, "m_tot")
    uf = flags(nonmatches, "u_tot").select(
        F.col("u_tot"),
        F.col("f_lang").alias("u_lang"),
        F.col("f_source").alias("u_source"),
        F.col("f_len").alias("u_len"),
        F.col("f_head").alias("u_head"),
    )
    return cand, matches, att, mf, uf


# --- Fellegi-Sunter classification (the trained model APPLIED) ----------------

# Score every LSH candidate pair by the summed per-field log2 weight
# (agreement weight wa_k = log2(m_k/u_k), DISagreement weight
# wd_k = log2((1-m_k)/(1-u_k)), Laplace-smoothed) and band into
# match / possible / non-match at ±2 bits — the decision step a linkage
# engine runs after fellegi_sunter_weights trains the table.
_FS_BAND_BITS = 2


def _fs_classify_oracle() -> str:
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled_sql

    def wa(f: str) -> str:
        return (
            f"({log2_scaled_sql(f'(mf.{f} + 1) * (uf.u_tot + 2)')}"
            f" - {log2_scaled_sql(f'(mf.m_tot + 2) * (uf.{f} + 1)')})"
        )

    def wd(f: str) -> str:
        return (
            f"({log2_scaled_sql(f'(mf.m_tot + 1 - mf.{f}) * (uf.u_tot + 2)')}"
            f" - {log2_scaled_sql(f'(uf.u_tot + 1 - uf.{f}) * (mf.m_tot + 2)')})"
        )

    terms = " + ".join(
        f"(CASE WHEN {g} THEN {wa(f)} ELSE {wd(f)} END)"
        for f, g in (
            ("f_lang", "a.lang = b.lang"),
            ("f_source", "a.source = b.source"),
            ("f_len", "ABS(a.n_chars - b.n_chars) <= 20"),
            ("f_head", "a.head = b.head"),
        )
    )
    thr = _FS_BAND_BITS * 1048576
    return (
        "WITH "
        + _fs_ctes()
        + f""",
scoredp AS (
    SELECT p.qid, p.nid, CAST({terms} AS BIGINT) AS score_q
    FROM pairs p
    JOIN att a ON a.id = p.qid JOIN att b ON b.id = p.nid
    CROSS JOIN mf CROSS JOIN uf
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(score_q) AS BIGINT) AS sum_score_q,
       CAST(SUM(score_q) AS DOUBLE) / (COUNT(*) * 1048576.0)
           AS mean_score_bits
FROM (
    SELECT CASE WHEN score_q >= {thr} THEN 'match'
                WHEN score_q <= -{thr} THEN 'nonmatch'
                ELSE 'possible' END AS band, score_q
    FROM scoredp
) GROUP BY band ORDER BY band
"""
    )


@register("record_linkage_classify", _fs_classify_oracle())
def q_record_linkage_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter DECISION step: apply the trained per-field weights
    to every LSH candidate pair — summed log2 evidence over the four
    fields, agreement weight log2(m_k/u_k) or disagreement weight
    log2((1-m_k)/(1-u_k)) per field — banded at ±2 bits into match /
    possible / non-match with count and mean evidence per band. Closes
    the linkage loop: fellegi_sunter_weights trains, this classifies.

    All weights ride functions.intlog on the same Laplace-smoothed
    integer counts as the weight table (bit-identical both engines);
    per-pair scores are exact BIGINTs, so the band cut is deterministic.
    Scale: candidate pairs are the bounded LSH set; scoring is two keyed
    attribute joins + one broadcast of the two 1-row scalar frames; the
    result is a 3-row scorecard."""
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled_expr

    cand, _, att, mf, uf = _fs_frames(spark, sf_dir)

    a = att.select(*[F.col(c).alias("a_" + c) for c in att.columns])
    b = att.select(*[F.col(c).alias("b_" + c) for c in att.columns])
    paired = (
        cand.join(a, cand["qid"] == a["a_id"])
        .join(b, cand["nid"] == b["b_id"])
        .crossJoin(F.broadcast(mf))
        .crossJoin(F.broadcast(uf))
    )

    def wa(mcol: str, ucol: str) -> str:
        return (
            f"({log2_scaled_expr(f'({mcol} + 1) * (u_tot + 2)')}"
            f" - {log2_scaled_expr(f'(m_tot + 2) * ({ucol} + 1)')})"
        )

    def wd(mcol: str, ucol: str) -> str:
        return (
            f"({log2_scaled_expr(f'(m_tot + 1 - {mcol}) * (u_tot + 2)')}"
            f" - {log2_scaled_expr(f'(u_tot + 1 - {ucol}) * (m_tot + 2)')})"
        )

    terms = " + ".join(
        f"(CASE WHEN {g} THEN {wa(m, u)} ELSE {wd(m, u)} END)"
        for m, u, g in (
            ("f_lang", "u_lang", "a_lang = b_lang"),
            ("f_source", "u_source", "a_source = b_source"),
            ("f_len", "u_len", "ABS(a_n_chars - b_n_chars) <= 20"),
            ("f_head", "u_head", "a_head = b_head"),
        )
    )
    thr = _FS_BAND_BITS * 1048576
    scored = paired.select(F.expr(f"CAST({terms} AS BIGINT)").alias("score_q"))
    return (
        scored.select(
            F.when(F.col("score_q") >= thr, "match")
            .when(F.col("score_q") <= -thr, "nonmatch")
            .otherwise("possible")
            .alias("band"),
            "score_q",
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("score_q").cast("long").alias("sum_score_q"),
            (
                F.sum("score_q").cast("double")
                / (F.count("*") * F.lit(1048576.0))
            ).alias("mean_score_bits"),
        )
        .orderBy("band")
    )


# --- IDF-weighted Jaccard near-dup pairs --------------------------------------

# Refinement of ngram_jaccard: shingles shared by many documents carry
# less evidence of duplication than rare ones, so each shingle gets an
# integer weight w = 2^20 div df and pairs are scored by weighted
# Jaccard = sum_shared(w) / (W_a + W_b - sum_shared(w)). With per-doc
# DISTINCT shingles the weights are global, so min/max weighted Jaccard
# collapses to this exact rational — integers until one division.
_WJ_SCALE = 1 << 20

WEIGHTED_JACCARD_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + f"""
, wdf AS (
    SELECT sh, CAST({_WJ_SCALE} // COUNT(*) AS BIGINT) AS w
    FROM shingles GROUP BY sh
    HAVING COUNT(*) <= {JACCARD_MAX_DF}
),
ws AS (SELECT s.id, s.sh, w FROM shingles s JOIN wdf USING (sh)),
sizes AS (SELECT id, CAST(SUM(w) AS BIGINT) AS wsz FROM ws GROUP BY id),
inters AS (
    SELECT a.id AS qid, b.id AS nid, CAST(SUM(a.w) AS BIGINT) AS w_inter
    FROM ws a JOIN ws b USING (sh)
    WHERE a.id < b.id
    GROUP BY a.id, b.id
)
SELECT qid, nid, w_inter,
       qs.wsz + ns.wsz - w_inter AS w_union,
       CAST(w_inter AS DOUBLE) / CAST(qs.wsz + ns.wsz - w_inter AS DOUBLE)
           AS weighted_jaccard
FROM inters
JOIN sizes qs ON qs.id = qid
JOIN sizes ns ON ns.id = nid
WHERE w_inter * 20 >= (qs.wsz + ns.wsz - w_inter)
ORDER BY qid, nid
"""
)


@register("weighted_jaccard_pairs", WEIGHTED_JACCARD_ORACLE)
def q_weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted near-duplicate pairs: exact weighted Jaccard >= 0.05
    where each shingle counts 2^20 div df — rare shingles dominate, so
    boilerplate-heavy pairs that unweighted Jaccard (ngram_jaccard)
    over-scores drop out, and pairs sharing distinctive content rise.
    The weighted-minhash/ICWS intuition kept EXACT: per-doc shingles
    are distinct, so weighted Jaccard is a pure rational of integer
    weight sums, and even the 0.05 threshold is applied as the
    cross-multiplied integer w_inter*20 >= w_union.

    Scale: identical shape to the unweighted kernel — df-capped
    inverted-index join (the df cap caps BOTH the quadratic fan-out and
    the weight table), two keyed aggregates, one broadcast-join of
    per-doc weight sizes. Reference tie-in: W6/W7 hash partition +
    per-key count (src/word_count.rs:96-118) with an evidence-weighted
    scoring head."""
    from amorphous_mapreduce_spark.operators.dedup import shingles as _sh

    sh = _sh(load_table(spark, sf_dir, "documents"))
    wdf = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= JACCARD_MAX_DF)
        .select("sh", F.expr(f"CAST({_WJ_SCALE} div _df AS BIGINT)").alias("w"))
    )
    ws = sh.join(wdf, "sh").persist()
    sizes = ws.groupBy("id").agg(F.sum("w").alias("wsz"))
    a = ws.select(F.col("id").alias("qid"), "sh", F.col("w").alias("wa"))
    b = ws.select(F.col("id").alias("nid"), "sh")
    inters = (
        a.join(b, "sh")
        .filter(F.col("qid") < F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.sum("wa").alias("w_inter"))
    )
    qs = sizes.select(F.col("id").alias("qid"), F.col("wsz").alias("q_wsz"))
    ns = sizes.select(F.col("id").alias("nid"), F.col("wsz").alias("n_wsz"))
    return (
        inters.join(qs, "qid")
        .join(ns, "nid")
        .select(
            "qid",
            "nid",
            "w_inter",
            (F.col("q_wsz") + F.col("n_wsz") - F.col("w_inter")).alias(
                "w_union"
            ),
            (
                F.col("w_inter").cast("double")
                / (
                    F.col("q_wsz") + F.col("n_wsz") - F.col("w_inter")
                ).cast("double")
            ).alias("weighted_jaccard"),
        )
        .filter(
            F.col("w_inter") * 20
            >= F.col("q_wsz") + F.col("n_wsz") - F.col("w_inter")
        )
        .orderBy("qid", "nid")
    )


# --- greedy max-coverage document selection -------------------------------------

_COV_ROUNDS = 5


def _coverage_oracle() -> str:
    parts = [
        "WITH " + SHINGLES_CTE.lstrip(),
        """
, r1 AS MATERIALIZED (
    SELECT id, CAST(COUNT(*) AS BIGINT) AS g
    FROM shingles GROUP BY id ORDER BY g DESC, id LIMIT 1
),
c1 AS MATERIALIZED (
    SELECT DISTINCT sh FROM shingles JOIN r1 USING (id)
)""",
    ]
    for k in range(2, _COV_ROUNDS + 1):
        prev_sel = " UNION ALL ".join(f"SELECT id FROM r{j}" for j in range(1, k))
        parts.append(
            f""",
g{k} AS (
    SELECT s.id, CAST(COUNT(*) AS BIGINT) AS g
    FROM shingles s LEFT JOIN c{k - 1} c ON s.sh = c.sh
    WHERE c.sh IS NULL AND s.id NOT IN ({prev_sel})
    GROUP BY s.id
),
r{k} AS MATERIALIZED (SELECT id, g FROM g{k} ORDER BY g DESC, id LIMIT 1),
c{k} AS MATERIALIZED (
    SELECT sh FROM c{k - 1}
    UNION
    SELECT sh FROM shingles JOIN r{k} USING (id)
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {k} AS round, id AS doc_id, g AS gain,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM c{k}) AS cum_covered"
        f" FROM r{k}"
        for k in range(1, _COV_ROUNDS + 1)
    )
    return "".join(parts) + "\n" + sel + "\nORDER BY round"


@register("coverage_greedy_docs", _coverage_oracle())
def q_coverage_greedy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage subset selection: pick 5 documents, each
    round taking the doc that covers the most NOT-yet-covered trigram
    shingles — the classic (1 - 1/e)-approximate submodular coverage
    selector behind 'choose k seed documents that span the corpus'
    (lexical complement of the embedding-space mmr_diverse_retrieval /
    diversity_sample). Emits per round the chosen doc, its marginal
    gain, and the cumulative covered-type count — the diminishing-
    returns curve that tells you when to stop adding seeds.

    Determinism: argmax is total-ordered (gain desc, id); counts are
    integers. Oracle CTEs are MATERIALIZED (the kcore lesson: DuckDB
    otherwise re-expands the chain exponentially).

    Scale: each of the 5 bounded rounds is one pass over the persisted
    shingle table with an anti-join against the covered set (<= 5 docs'
    shingles — broadcastable) and a TakeOrderedAndProject top-1; the
    selected/covered frames are localCheckpointed so lineage stays flat
    (the embedding_power_iteration lesson). Reference tie-in: W7
    per-key count (src/word_count.rs:96-118) inside a submodular
    selection loop."""
    from amorphous_mapreduce_spark.operators.dedup import shingles as _sh

    sh = _sh(load_table(spark, sf_dir, "documents")).persist()
    picks = []
    covered = None
    sel_ids = None
    for rnd in range(1, _COV_ROUNDS + 1):
        cand = sh
        if covered is not None:
            cand = cand.join(F.broadcast(covered), "sh", "left_anti")
        if sel_ids is not None:
            cand = cand.join(F.broadcast(sel_ids), "id", "left_anti")
        pick = (
            cand.groupBy("id")
            .agg(F.count("*").alias("g"))
            .orderBy(F.desc("g"), F.asc("id"))
            .limit(1)
            .localCheckpoint()
        )
        new_cov = sh.join(F.broadcast(pick.select("id")), "id").select("sh")
        covered = (
            new_cov
            if covered is None
            else covered.unionByName(new_cov).distinct()
        ).localCheckpoint()
        sel_ids = (
            pick.select("id")
            if sel_ids is None
            else sel_ids.unionByName(pick.select("id"))
        ).localCheckpoint()
        cum = covered.agg(F.countDistinct("sh").alias("cum_covered"))
        picks.append(
            pick.select(
                F.lit(rnd).alias("round"),
                F.col("id").alias("doc_id"),
                F.col("g").alias("gain"),
            ).crossJoin(F.broadcast(cum))
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.orderBy("round")


# --- expected calibration error of the MinHash similarity estimate -----------

# The MinHash signature-agreement fraction (matching components / 16) is
# an unbiased estimator of Jaccard; dedup pipelines threshold it as a
# dup-probability. ECE (expected calibration error, the standard
# reliability-diagram summary) measures how far that estimate sits from
# the realized rate of true near-dups (exact capped-vocab Jaccard >=
# 1/4) across 5 confidence bins — the calibration sibling of
# quality_dup_calibration (per-band rates) and isotonic_dup_calibration
# (the corrective fit). Everything is integer-exact: est16 in 0..16,
# bins = est16 // 4, the per-bin |accuracy - confidence| mass collapses
# to |16*n_pos - sum_est16| / (16*N) — ONE integer numerator per bin and
# a single double division for the headline.
_ECE_NH = 16

ECE_DUP_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + f"""
, capped AS MATERIALIZED (
    SELECT s.id, s.sh FROM shingles s
    JOIN (SELECT sh FROM shingles GROUP BY sh
          HAVING COUNT(*) <= {JACCARD_MAX_DF}) rare USING (sh)
),
sizes AS MATERIALIZED (SELECT id, COUNT(*) AS sz FROM capped GROUP BY id),
minhash AS MATERIALIZED (
    SELECT s.id, h.range AS hid,
           MIN(((s.sh % 2147483647) * (h.range * 2 + 1) + h.range * 12345)
               % 2147483647) AS mh
    FROM shingles s, range({_ECE_NH}) h
    GROUP BY s.id, h.range
),
bands AS MATERIALIZED (
    SELECT id, hid // 4 AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // 4
),
found AS MATERIALIZED (
    SELECT DISTINCT a.id AS qid, b.id AS nid
    FROM bands a JOIN bands b USING (band, sig)
    WHERE a.id < b.id
),
est AS MATERIALIZED (
    SELECT f.qid, f.nid,
           CAST(SUM(CASE WHEN qa.mh = nb.mh THEN 1 ELSE 0 END) AS BIGINT)
               AS est16
    FROM found f
    JOIN minhash qa ON qa.id = f.qid
    JOIN minhash nb ON nb.id = f.nid AND nb.hid = qa.hid
    GROUP BY f.qid, f.nid
),
inters AS MATERIALIZED (
    SELECT f.qid, f.nid, CAST(COUNT(*) AS BIGINT) AS inter
    FROM found f
    JOIN capped a ON a.id = f.qid
    JOIN capped b ON b.id = f.nid AND b.sh = a.sh
    GROUP BY f.qid, f.nid
),
scored AS (
    SELECT e.est16 // 4 AS conf_bin,
           e.est16,
           CASE WHEN 4 * COALESCE(i.inter, 0)
                          >= COALESCE(qs.sz, 0) + COALESCE(ns.sz, 0)
                             - COALESCE(i.inter, 0)
                      AND COALESCE(qs.sz, 0) + COALESCE(ns.sz, 0)
                          - COALESCE(i.inter, 0) > 0
                THEN 1 ELSE 0 END AS pos
    FROM est e
    LEFT JOIN inters i ON i.qid = e.qid AND i.nid = e.nid
    LEFT JOIN sizes qs ON qs.id = e.qid
    LEFT JOIN sizes ns ON ns.id = e.nid
),
bins AS (
    SELECT conf_bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(est16) AS BIGINT) AS sum_est16,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(ABS({_ECE_NH} * SUM(pos) - SUM(est16)) AS BIGINT)
               AS ece_contrib_num
    FROM scored GROUP BY conf_bin
),
tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n,
               CAST(SUM(ece_contrib_num) AS BIGINT) AS num
        FROM bins)
SELECT b.conf_bin, b.n_pairs, b.sum_est16, b.n_pos, b.ece_contrib_num,
       CAST(b.n_pos AS DOUBLE) / CAST(b.n_pairs AS DOUBLE) AS accuracy,
       CAST(b.sum_est16 AS DOUBLE)
           / (CAST(b.n_pairs AS DOUBLE) * {_ECE_NH}.0) AS confidence,
       CAST(t.num AS DOUBLE) / (CAST(t.n AS DOUBLE) * {_ECE_NH}.0) AS ece
FROM bins b, tot t
ORDER BY conf_bin
"""
)


@register("ece_dup_calibration", ECE_DUP_ORACLE)
def q_ece_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of the MinHash(16) signature-agreement
    estimate as a near-dup probability: per confidence bin (est16 // 4),
    candidate count, realized exact-Jaccard>=1/4 rate, mean estimated
    similarity, and the |accuracy - confidence| mass; the global ECE
    rides every row (the self-auditing-scalar pattern).

    Exactness: est16 and the intersection counts are integers; the
    per-bin calibration mass is the integer |16*n_pos - sum_est16|; ECE
    is one double division. 'pos' handles the degenerate empty-capped-
    vocabulary pair identically on both engines.

    Scale: candidates come from the banded LSH join (linear); the
    signature-agreement and intersection joins are keyed per candidate;
    the reliability table is 5 constant bins. Signatures and buckets
    are persisted (multi-consumer, the self-join rule)."""
    from amorphous_mapreduce_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_signatures,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, _ECE_NH).persist()
    buckets = minhash_band_buckets(sigs, 4).persist()
    a = buckets.select(F.col("id").alias("qid"), "band", "sig")
    b = buckets.select(F.col("id").alias("nid"), "band", "sig")
    cand = (
        a.join(b, ["band", "sig"])
        .filter(F.col("qid") < F.col("nid"))
        .select("qid", "nid")
        .distinct()
        .persist()  # est16 join + intersection join
    )
    est = (
        cand.join(
            sigs.select(F.col("id").alias("qid"), "hid", F.col("mh").alias("qmh")),
            "qid",
        )
        .join(
            sigs.select(F.col("id").alias("nid"), "hid", F.col("mh").alias("nmh")),
            ["nid", "hid"],
        )
        .groupBy("qid", "nid")
        .agg(
            F.sum(F.when(F.col("qmh") == F.col("nmh"), 1).otherwise(0))
            .cast("long")
            .alias("est16")
        )
    )
    sh = shingles(docs).persist()  # df cap + both intersection sides
    rare = sh.groupBy("sh").agg(F.count("*").alias("df")).filter(
        F.col("df") <= JACCARD_MAX_DF
    )
    capped = sh.join(rare.select("sh"), "sh").persist()
    sizes = capped.groupBy("id").agg(F.count("*").cast("long").alias("sz"))
    inters = (
        cand.join(capped.toDF("sh", "qid"), "qid")
        .join(capped.toDF("sh", "nid"), ["nid", "sh"])
        .groupBy("qid", "nid")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    scored = (
        est.join(inters, ["qid", "nid"], "left")
        .join(sizes.toDF("qid", "qsz"), "qid", "left")
        .join(sizes.toDF("nid", "nsz"), "nid", "left")
        .select(
            F.expr("est16 div 4").alias("conf_bin"),
            "est16",
            F.expr(
                "CASE WHEN 4 * COALESCE(inter, 0)"
                " >= COALESCE(qsz, 0) + COALESCE(nsz, 0) - COALESCE(inter, 0)"
                " AND COALESCE(qsz, 0) + COALESCE(nsz, 0)"
                " - COALESCE(inter, 0) > 0 THEN 1 ELSE 0 END"
            ).alias("pos"),
        )
    )
    bins = scored.groupBy("conf_bin").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("est16").cast("long").alias("sum_est16"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.abs(
            F.lit(_ECE_NH) * F.sum("pos") - F.sum("est16")
        )
        .cast("long")
        .alias("ece_contrib_num"),
    )
    tot = bins.agg(
        F.sum("n_pairs").cast("long").alias("n"),
        F.sum("ece_contrib_num").cast("long").alias("num"),
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "conf_bin",
            "n_pairs",
            "sum_est16",
            "n_pos",
            "ece_contrib_num",
            (
                F.col("n_pos").cast("double") / F.col("n_pairs").cast("double")
            ).alias("accuracy"),
            (
                F.col("sum_est16").cast("double")
                / (F.col("n_pairs").cast("double") * F.lit(float(_ECE_NH)))
            ).alias("confidence"),
            (
                F.col("num").cast("double")
                / (F.col("n").cast("double") * F.lit(float(_ECE_NH)))
            ).alias("ece"),
        )
        .orderBy("conf_bin")
    )
