"""Similarity search over embedding columns (north-star, SURVEY.md §2.5).

Scores = E·Eᵀ — literally the reference's outer-product capability applied
to the embeddings fixture. Three paths:

- **brute force** (`cosine_topk`): block-join all pairs, dot products as
  ordered double folds (functions.vectors — JVM higher-order functions,
  whole-stage codegen, bit-deterministic), Window top-k with total-order
  tie-break. O(n²·d) — the correctness baseline; at 100 TB use the LSH or
  IVF path.
- **LSH-bucketed ANN** (`lsh_topk`): random-hyperplane signatures (signs
  derived from MD5 so they're deterministic and engine-portable), banded
  into tables; candidate pairs only within matching (band, signature)
  buckets, then exact cosine re-rank. Sub-quadratic candidate generation:
  the bucket join shuffles on (band, sig) — skew-safe because signature
  entropy spreads keys; recall tuned by bands × band_bits.
- **IVF-flat ANN** (`ivf_topk`, `ivf_probe_sweep_candidates`): a
  k-means-trained coarse quantiser (`ivf_trained_ranked`, built once per
  session and shared) ranks each vector's nearest cells; queries probe
  their top cells against capped per-cell inverted lists, scored exactly
  by one Arrow kernel per cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64
from amorphous_mapreduce_spark.functions.vectors import l2_norm
from amorphous_mapreduce_spark.operators.kmeans import (
    KM_TRAIN_N,
    _centroid_matrix,
    kmeans_fit,
)


def cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All ordered pairs (a != b) with cosine scores: [qid, nid, sim].

    Norms are folded once per vector (not once per pair) and the left side
    is repartitioned so the nested-loop pair generation parallelises across
    all cores — same doubles, ~100x less fold work than the naive form.
    """
    spark = emb.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    v = emb.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    a = v.repartition(nparts)
    b = v.select(
        F.col("qid").alias("nid"), F.col("qv").alias("nv"), F.col("qn").alias("nn")
    )
    dot = F.aggregate(
        F.zip_with("qv", "nv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", (dot / (F.col("qn") * F.col("nn"))).alias("sim"))
    )


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbours per vector: [qid, nid, sim, rnk]."""
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        cosine_pairs(emb, id_col, vec_col)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def cosine_topk_blocked(
    emb: DataFrame,
    k: int = 5,
    n_blocks: int = 16,
    exclude_label_col: str | None = None,
    query_ids: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k via blocked E·Eᵀ — the reference's tiled outer-product
    GEMM (src/outer_product.rs:146-169 tiling, :194-208 rank-k update)
    applied to similarity: [qid, nid, sim, rnk].

    Vectors are grouped into ``n_blocks`` hash blocks; the O(b²) block
    pairs (not the O(n²) row pairs!) flow through one crossJoin, and a
    mapInPandas kernel computes each m×n score tile. Per (query, block)
    only the local top-k survives the kernel, so the shuffle out of the
    UDF is n·b·k rows instead of n² — the global window then merges the
    per-block winners (global top-k ⊆ union of per-block top-k).

    Bit-exactness with the SQL oracle: the tile is accumulated as an
    ordered loop of per-dimension outer products
    (``acc += outer(A[:,d], B[:,d])``), which performs the IDENTICAL
    sequence of double additions as the ordered left fold in
    functions.vectors / DuckDB list_dot_product — a BLAS ``A @ B`` would
    drift in the last ulp and break the hash compare. Norms are computed
    once JVM-side (l2_norm) and carried into the blocks.

    ``exclude_label_col``: when set, pairs whose rows share that label
    are masked in the tile (in addition to self-pairs), turning the
    kernel into a hard-negative miner — top-k nearest CROSS-label
    neighbours (contrastive-training negative mining).

    ``query_ids``: optional one-column frame of vector ids; when set,
    only those vectors act as QUERIES (the gallery side stays the full
    corpus), so the tile work drops from n² to |panel|·n — the truth
    panel for recall evals (round 8, VERDICT_r07 item 5). The frame is
    broadcast (panel-sized, the model class, not data).
    """
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    cols = [
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        l2_norm("embedding").alias("norm"),
        F.pmod(hex_hash64(F.col("vec_id").cast("string")), F.lit(n_blocks)).alias(
            "blk"
        ),
    ]
    item_fields = ["id", "vec", "norm"]
    if exclude_label_col is not None:
        cols.append(F.col(exclude_label_col).cast("long").alias("lab"))
        item_fields.append("lab")
    v = emb.select(*cols)
    # sort_array(collect_list(struct)) -> deterministic block member order
    # (struct ordering leads with id), so kernel output is reproducible.
    blocks = v.groupBy("blk").agg(
        F.sort_array(F.collect_list(F.struct(*item_fields))).alias("items")
    )
    if query_ids is not None:
        qn = query_ids.columns[0]
        va = v.join(
            F.broadcast(query_ids.select(F.col(qn).alias("id"))), "id"
        )
        a_blocks = va.groupBy("blk").agg(
            F.sort_array(F.collect_list(F.struct(*item_fields))).alias("items")
        )
    else:
        a_blocks = blocks
    pairs = a_blocks.select(
        F.col("blk").alias("ablk"), F.col("items").alias("a_items")
    ).crossJoin(
        blocks.select(F.col("blk").alias("bblk"), F.col("items").alias("b_items"))
    )

    out_schema = StructType(
        [
            StructField("qid", LongType()),
            StructField("nid", LongType()),
            StructField("sim", DoubleType()),
        ]
    )

    def kernel(it):
        import numpy as np

        for pdf in it:
            qids, nids, sims = [], [], []
            for a_items, b_items in zip(pdf["a_items"], pdf["b_items"]):
                aids = np.array([x["id"] for x in a_items], dtype=np.int64)
                bids = np.array([x["id"] for x in b_items], dtype=np.int64)
                A = np.array([x["vec"] for x in a_items], dtype=np.float64)
                B = np.array([x["vec"] for x in b_items], dtype=np.float64)
                an = np.array([x["norm"] for x in a_items], dtype=np.float64)
                bn = np.array([x["norm"] for x in b_items], dtype=np.float64)
                m, n = len(aids), len(bids)
                if m == 0 or n == 0:
                    continue
                acc = np.zeros((m, n), dtype=np.float64)
                for d in range(A.shape[1]):  # rank-1 updates in dim order
                    acc += np.outer(A[:, d], B[:, d])
                tile = acc / np.outer(an, bn)
                tile[aids[:, None] == bids[None, :]] = -np.inf  # self-pairs
                if exclude_label_col is not None:
                    alab = np.array([x["lab"] for x in a_items], dtype=np.int64)
                    blab = np.array([x["lab"] for x in b_items], dtype=np.int64)
                    tile[alab[:, None] == blab[None, :]] = -np.inf
                kk = min(k, n)
                for i in range(m):
                    # top-k by (sim desc, nid asc): lexsort, last key primary
                    order = np.lexsort((bids, -tile[i]))[:kk]
                    for j in order:
                        if tile[i, j] == -np.inf:
                            continue
                        qids.append(aids[i])
                        nids.append(bids[j])
                        sims.append(tile[i, j])
            yield pd.DataFrame({"qid": qids, "nid": nids, "sim": sims})

    cands = pairs.mapInPandas(kernel, out_schema)
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return cands.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def cosine_near_dup_blocked(
    emb: DataFrame,
    threshold: float,
    n_blocks: int = 16,
) -> DataFrame:
    """Exact cosine near-duplicate pairs above ``threshold`` via the same
    blocked E·Eᵀ tiling as :func:`cosine_topk_blocked`: [qid, nid, sim]
    with qid < nid.

    Only the upper triangle of block pairs (ablk <= bblk) is generated —
    blocks partition ids, so an unordered row pair lives in exactly one
    block pair — and the kernel emits each qualifying pair once as
    (min, max). Work is O(b²/2) tiles; rows leaving the kernel are only
    the above-threshold pairs, so shuffle volume tracks the answer size
    rather than n². Bit-exact with the SQL cosine (ordered rank-1
    accumulation, JVM-side norms), so the threshold compare is safe.
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    v = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        l2_norm("embedding").alias("norm"),
        F.pmod(hex_hash64(F.col("vec_id").cast("string")), F.lit(n_blocks)).alias(
            "blk"
        ),
    )
    blocks = v.groupBy("blk").agg(
        F.sort_array(F.collect_list(F.struct("id", "vec", "norm"))).alias("items")
    )
    pairs = (
        blocks.select(F.col("blk").alias("ablk"), F.col("items").alias("a_items"))
        .crossJoin(
            blocks.select(
                F.col("blk").alias("bblk"), F.col("items").alias("b_items")
            )
        )
        .filter(F.col("ablk") <= F.col("bblk"))
    )

    out_schema = StructType(
        [
            StructField("qid", LongType()),
            StructField("nid", LongType()),
            StructField("sim", DoubleType()),
        ]
    )

    def kernel(it):
        import numpy as np

        for pdf in it:
            qids, nids, sims = [], [], []
            for ablk, bblk, a_items, b_items in zip(
                pdf["ablk"], pdf["bblk"], pdf["a_items"], pdf["b_items"]
            ):
                aids = np.array([x["id"] for x in a_items], dtype=np.int64)
                bids = np.array([x["id"] for x in b_items], dtype=np.int64)
                A = np.array([x["vec"] for x in a_items], dtype=np.float64)
                B = np.array([x["vec"] for x in b_items], dtype=np.float64)
                an = np.array([x["norm"] for x in a_items], dtype=np.float64)
                bn = np.array([x["norm"] for x in b_items], dtype=np.float64)
                m, n = len(aids), len(bids)
                if m == 0 or n == 0:
                    continue
                acc = np.zeros((m, n), dtype=np.float64)
                for d in range(A.shape[1]):  # rank-1 updates in dim order
                    acc += np.outer(A[:, d], B[:, d])
                tile = acc / np.outer(an, bn)
                # each unordered pair exactly once: the diagonal block
                # holds both orderings -> keep aid < bid; off-diagonal
                # blocks hold each cross pair once -> keep all, emit
                # (min, max).
                if ablk == bblk:
                    keep = (tile > threshold) & (aids[:, None] < bids[None, :])
                else:
                    keep = tile > threshold
                ii, jj = np.nonzero(keep)
                if len(ii) == 0:
                    continue
                lo = np.minimum(aids[ii], bids[jj])
                hi = np.maximum(aids[ii], bids[jj])
                qids.extend(lo.tolist())
                nids.extend(hi.tolist())
                sims.extend(tile[ii, jj].tolist())
            yield pd.DataFrame({"qid": qids, "nid": nids, "sim": sims})

    return pairs.mapInPandas(kernel, out_schema)


def _plane_sign(plane: int, dim: int) -> float:
    """±1 component of hyperplane ``plane`` at ``dim``: the same value as
    functions.hashing.hex_hash64(f"lsh_{plane}_{dim}") % 2, computed
    driver-side (hashlib md5 == Spark md5 on the same bytes)."""
    import hashlib

    h = hashlib.md5(f"lsh_{plane}_{dim}".encode()).hexdigest()
    return 1.0 if int(h[:15], 16) % 2 == 0 else -1.0


def hyperplane_signatures(emb: DataFrame, n_planes: int, band_bits: int) -> DataFrame:
    """Per (vector, band) signature strings: [id, band, sig].

    Hyperplane p has ±1 components s(p,d) derived from md5("lsh_p_d") —
    deterministic, no RNG state, reproducible across engines and runs.
    sign bit = [Σ_d s(p,d)·v[d] >= 0]. Bits are band-grouped (LSH banding:
    ``n_planes/band_bits`` independent tables OR-ed for recall).

    All ``n_planes`` projections are computed in ONE Arrow-batched
    mapInPandas kernel (no explode, no plane join, no shuffle). The
    prior formulation baked each plane in as a literal array expression;
    at 32 planes x 64 dims the ~2k-term Catalyst tree took longer to
    analyze + interpret than the data took to scan. The kernel
    accumulates per dimension in order (``acc[:,p] += v[d]*s[d,p]`` for
    d = 0..dims-1), the identical double-addition sequence as the
    ordered left fold / DuckDB list_dot_product, so sign bits are
    bit-stable across engines.
    """
    import pandas as pd

    first = emb.select(F.size("embedding").alias("d")).first()
    if first is None:  # empty input: empty signature table, same schema
        spark = emb.sparkSession
        return spark.createDataFrame([], schema="id long, band long, sig string")
    dims = first["d"]
    import numpy as np

    # dims x planes sign matrix, derived from md5 driver-side (tiny).
    S = np.array(
        [[_plane_sign(p, d) for p in range(n_planes)] for d in range(dims)],
        dtype=np.float64,
    )
    n_bands = (n_planes + band_bits - 1) // band_bits
    src = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))

    def kernel(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.array([list(v) for v in pdf["vec"]], dtype=np.float64)
            acc = np.zeros((len(pdf), n_planes), dtype=np.float64)
            for d in range(dims):  # ordered over dims == left fold order
                acc += V[:, d : d + 1] * S[d]
            bits = np.where(acc >= 0, "1", "0")
            ids, bands, sigs = [], [], []
            for i, vid in enumerate(pdf["id"]):
                for b in range(n_bands):
                    ids.append(vid)
                    bands.append(b)
                    sigs.append("".join(bits[i, b * band_bits : (b + 1) * band_bits]))
            yield pd.DataFrame({"id": ids, "band": bands, "sig": sigs})

    return src.mapInPandas(kernel, "id long, band long, sig string")


def adaptive_band_bits(n: int) -> int:
    """Scale-correct LSH band width: bits = floor(log2 n) - 6, clamped.

    Expected bucket occupancy is n / 2^bits; holding it at ~2^6 = 64
    keeps per-vector candidate work CONSTANT as the corpus grows, so
    total candidate pairs stay LINEAR in n. A fixed 4-bit band (the
    round-4 setting) lets buckets grow with n and candidates grow
    quadratically — measured as the slope2 = 61 flag in SLOPES.json at
    the sf1 rung (VERDICT_r04 item 1 follow-through). floor(log2) is
    the engine-portable length(bin(n)) - 1 (Python: bit_length() - 1),
    so the DuckDB oracle derives the identical width from the data.
    """
    return min(16, max(4, n.bit_length() - 1 - 6))


def adaptive_cells(n: int) -> int:
    """Scale-correct IVF/k-means cell count: k = 2^(floor(log2 n) // 2),
    clamped to [16, 4096] — i.e. k ≈ √n within a factor of √2.

    A FIXED cell count is the same latent-quadratic defect class as the
    fixed LSH band bits round 5 caught (VERDICT_r07 item 2): at fixed k,
    cell occupancy grows as n/k, so capped inverted lists silently lose
    recall and any uncapped within-cell work grows superlinearly. k ∝ √n
    is the classic IVF optimum (cell-ranking cost k plus per-probe scan
    n/k are balanced at √n each). floor(log2) is the engine-portable
    length(bin(n)) - 1 (Python: bit_length() - 1), so the DuckDB oracle
    derives the identical k from COUNT(*) — see the ivfk CTE in
    queries/similarity_queries.py. The floor of 16 keeps every rung with
    n <= ~1000 byte-identical to the historical fixed k=16 (sf0.001 and
    sf0.01 results unchanged); the 4096 cap equals KM_TRAIN_N so seeds
    never exceed the training sample.
    """
    # max(n, 1): an empty corpus gets the floor, not a negative shift.
    return min(4096, max(16, 1 << ((max(n, 1).bit_length() - 1) // 2)))


def lsh_candidate_pairs(
    emb: DataFrame,
    n_planes: int = 32,
    band_bits: int = 8,
    cap: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing any band bucket.

    ``cap=None``: distinct undirected pairs (qid < nid) — the exact
    bucket join. ``cap=c``: DIRECTED candidates [qid, nid] where nid is
    one of the first ``c`` bucket members ordered by
    (md5('lshcap_'||id), id). Adaptive band width holds EXPECTED bucket
    occupancy constant, but hyperplane sign bits on clustered embeddings
    are skewed — a hot band signature grows with n, and occupancy² on
    that one bucket turned the join superlinear in the 3rd decade
    (slope3 = 13.2 and a 48 GB driver heap at sf10; VERDICT_r06 item 2).
    Capping only the NEIGHBOR side bounds per-query candidates at
    n_bands·c and total join output at n·n_bands·c while every vector
    still queries from each bucket it occupies — same pattern as
    simhash_capped_topm (operators/dedup.py).
    """
    # Persist: both join branches read the signatures — without it the
    # whole signature pipeline runs twice. One row per (vector, band).
    sigs = hyperplane_signatures(emb, n_planes, band_bits).persist()
    a = sigs.select(F.col("id").alias("qid"), "band", "sig")
    if cap is None:
        b = sigs.select(F.col("id").alias("nid"), "band", "sig")
        return (
            a.join(b, ["band", "sig"])
            .filter(F.col("qid") < F.col("nid"))
            .select("qid", "nid")
            .distinct()
        )
    wcap = Window.partitionBy("band", "sig").orderBy(
        hex_hash64(F.concat(F.lit("lshcap_"), F.col("id").cast("string"))),
        F.col("id"),
    )
    b = (
        sigs.withColumn("_rk", F.row_number().over(wcap))
        .filter(F.col("_rk") <= cap)
        .select(F.col("id").alias("nid"), "band", "sig")
    )
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )


def ivf_trained_ranked(
    emb: DataFrame,
    n_cells: int | None = None,
    max_rank: int = 4,
) -> DataFrame:
    """K-means-trained IVF cell ranking: [id, vec, cell, rk] for each
    vector's ``max_rank`` nearest trained centroids (rk = 1 is the
    vector's own cell — the coarse-quantiser assignment).

    Closes the documented swap-in seam (VERDICT_r05 item 3): centroids
    come from :func:`operators.kmeans.kmeans_fit` (2 Lloyd iterations in
    the quantized integer domain — deterministic, oracle-replayable), and
    cell affinity uses k-means' exact argmax(q·c − |c|²/2) score (trained
    centroids are NOT unit-norm corpus vectors, so plain dot would
    mis-rank); ties break on cell id. Scale (round-7, VERDICT_r06 item
    3): training runs on kmeans_fit's deterministic KM_TRAIN_N hash
    sample — constant-cost in corpus size (the full-corpus Lloyd passes
    previously re-executed inside EVERY IVF query; semdedup_manifest's
    bench cost tripled) — and the final full-corpus assign inside
    kmeans_fit stays lazy/unused here (only the centroid lineage feeds
    the ranking). The ranking is one broadcast cross join against
    n_cells centroids + a per-id window.
    """
    if n_cells is None:
        # adaptive k ≈ √n (round 8, VERDICT_r07 item 2) — the count is a
        # driver-side scalar plan parameter, same class as the LSH
        # band-bits count and the dims probe.
        n_cells = adaptive_cells(emb.count())
    q, _, cents = kmeans_fit(
        emb,
        k=n_cells,
        iters=2,
        train_sample=KM_TRAIN_N,
    )
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    # cents is already persisted: kmeans_fit persists it whenever
    # train_sample is set
    return _rank_cells_arrow(q, cents, max_rank).join(vecs, "id").select(
        "id", "vec", "cell", "rk"
    )


def _rank_cells_arrow(
    q: DataFrame, centroids: DataFrame, max_rank: int
) -> DataFrame:
    """Top-``max_rank`` cells per vector by the k-means argmax score, as
    ONE mapInPandas kernel: [id, cell, rk].

    Bit-exact with the declarative crossJoin+window form (the round-6
    path): scores accumulate per dimension in order (the left-fold
    sequence), c2/2 is one exact halving, and the rank order is
    (score DESC, cell ASC) via a stable sort on the cell-ascending score
    matrix. The crossJoin form evaluated the fold as an interpreted
    Catalyst expression per (vector, centroid) — measured ~30 s for
    200k×64×16 at the sf10 rung, in EVERY IVF query; the kernel
    vectorizes the identical double arithmetic. Centroids are collected
    driver-side (k·d doubles — the model, not data)."""
    import numpy as np

    model = _centroid_matrix(centroids)
    if model is None:
        spark = q.sparkSession
        return spark.createDataFrame([], schema="id long, cell long, rk int")
    cells, C, c2 = model
    dims = C.shape[1]
    k = min(max_rank, len(cells))

    def kernel(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.array([list(v) for v in pdf["qv"]], dtype=np.float64)
            acc = np.zeros((len(pdf), len(cells)), dtype=np.float64)
            for d in range(dims):  # ordered over dims == left fold order
                acc += V[:, d : d + 1] * C[:, d]
            scores = acc - c2 / 2.0
            # centroid columns are cell-ascending, so a STABLE argsort of
            # -score resolves score ties to the smaller cell — the same
            # (score DESC, cell ASC) order as the declarative window.
            order = np.argsort(-scores, axis=1, kind="stable")[:, :k]
            ids = np.repeat(np.asarray(pdf["id"], dtype=np.int64), k)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "cell": cells[order].ravel(),
                    "rk": np.tile(np.arange(1, k + 1, dtype=np.int32), len(pdf)),
                }
            )

    return q.mapInPandas(kernel, "id long, cell long, rk int")


IVF_CELL_CAP = 256


def _cell_scored_arrow(
    probes: DataFrame,
    members: DataFrame,
    local_topk: int | None = None,
    probe_rank_col: str | None = None,
    cross_label: bool = False,
) -> DataFrame:
    """Per-cell probe×member cosine scoring as ONE applyInPandas kernel:
    [qid, nid, prk, sim] (prk carries ``probe_rank_col`` or 0).

    Bit-exact with the declarative join + fold scoring: dots accumulate
    per dimension in order (the left-fold sequence), norms are
    ordered-fold sqrt, and sim = dot / (qn·nn) performs the identical
    multiply-then-divide. ``local_topk`` keeps only each probe's top-k
    by (sim DESC, nid ASC) within the cell — sound for a global top-k
    merge (global top-k ⊆ union of per-cell top-k, the blocked-tile
    argument). The declarative form evaluated the 64-term fold as an
    interpreted Catalyst expression per candidate — ~7.7 µs/pair,
    measured at 26 min/run for the 205M capped candidates at sf10."""
    import numpy as np

    prk = (
        F.col(probe_rank_col)
        if probe_rank_col
        else F.lit(0)
    )
    lbl = F.col("lbl") if cross_label else F.lit("")
    p = probes.select(
        "cell",
        F.col("qid").alias("id"),
        F.col("qv").alias("vec"),
        prk.cast("int").alias("prk"),
        F.lit(1).alias("role"),
        lbl.cast("string").alias("lbl"),
    )
    m = members.select(
        "cell",
        F.col("nid").alias("id"),
        F.col("nv").alias("vec"),
        F.lit(0).alias("prk"),
        F.lit(2).alias("role"),
        lbl.cast("string").alias("lbl"),
    )

    def kern(pdf):
        import pandas as pd

        pr = pdf[pdf["role"] == 1]
        me = pdf[pdf["role"] == 2]
        empty = pd.DataFrame(
            {"qid": [], "nid": [], "prk": [], "sim": []}
        ).astype({"qid": "int64", "nid": "int64", "prk": "int32", "sim": "float64"})
        if len(pr) == 0 or len(me) == 0:
            return empty
        P = np.array([list(v) for v in pr["vec"]], dtype=np.float64)
        M = np.array([list(v) for v in me["vec"]], dtype=np.float64)
        pid = np.asarray(pr["id"], dtype=np.int64)
        mid = np.asarray(me["id"], dtype=np.int64)
        prks = np.asarray(pr["prk"], dtype=np.int32)
        plbl = np.asarray(pr["lbl"], dtype=object)
        mlbl = np.asarray(me["lbl"], dtype=object)
        dims = P.shape[1]
        pn2 = np.zeros(len(pr), dtype=np.float64)
        mn2 = np.zeros(len(me), dtype=np.float64)
        for d in range(dims):  # ordered over dims == left fold order
            pn2 += P[:, d] * P[:, d]
            mn2 += M[:, d] * M[:, d]
        pn, mn = np.sqrt(pn2), np.sqrt(mn2)
        acc = np.zeros((len(pr), len(me)), dtype=np.float64)
        for d in range(dims):
            acc += P[:, d : d + 1] * M[:, d]
        sim = acc / (pn[:, None] * mn[None, :])
        out_q, out_n, out_p, out_s = [], [], [], []
        for i in range(len(pr)):
            ok = mid != pid[i]
            if cross_label:
                ok &= mlbl != plbl[i]
            s, n = sim[i][ok], mid[ok]
            if local_topk is not None and len(n) > local_topk:
                sel = np.lexsort((n, -s))[:local_topk]
                s, n = s[sel], n[sel]
            out_q.append(np.full(len(n), pid[i], dtype=np.int64))
            out_n.append(n)
            out_p.append(np.full(len(n), prks[i], dtype=np.int32))
            out_s.append(s)
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "qid": np.concatenate(out_q),
                "nid": np.concatenate(out_n),
                "prk": np.concatenate(out_p),
                "sim": np.concatenate(out_s),
            }
        )

    return p.unionByName(m).groupBy("cell").applyInPandas(
        kern, "qid long, nid long, prk int, sim double"
    )


def _capped_cell_members(
    members: DataFrame, cap: int, salt: str = "ivfcap_"
) -> DataFrame:
    """First ``cap`` members of each cell by (md5(salt||id), id):
    [nid, nv, cell]. At fixed n_cells the cell population grows with the
    corpus, so an uncapped probe join is n²/k — quadratic (the sf10
    slopes run measured the uncapped IVF probe at hours). The capped
    inverted list bounds per-query candidates at n_probe·cap — the same
    capped-occupancy pattern as the LSH buckets / simhash bands /
    SemDeDup reps."""
    w = Window.partitionBy("cell").orderBy(
        hex_hash64(F.concat(F.lit(salt), F.col("id").cast("string"))),
        F.col("id"),
    )
    return (
        members.withColumn("_caprk", F.row_number().over(w))
        .filter(F.col("_caprk") <= cap)
        .select(F.col("id").alias("nid"), F.col("vec").alias("nv"), "cell")
    )


def ivf_topk(ranked: DataFrame, k: int = 5, n_probe: int = 4) -> DataFrame:
    """IVF-flat ANN top-k over a trained index: probe the ``n_probe``
    nearest cells per query, exact cosine re-rank within them:
    [qid, nid, sim, rnk].

    ``ranked`` is the :func:`ivf_trained_ranked` frame (k-means
    centroids, ``max_rank >= n_probe``), built once and shared across
    the queries of a session — a model is trained once and served to
    every query. The candidate join is per cell: each query meets the
    members of its probed cells, and each inverted list is capped at
    IVF_CELL_CAP md5-ordered members (round 7 — linear candidates at
    fixed n_cells; never binds through sf0.1). Trained centroids lifted
    recall@5 over md5-seeded corpus-vector centroids 0.485→0.579
    (sf0.01) / 0.492→0.546 (sf0.1) at the same probe budget.
    """
    probes = ranked.filter(F.col("rk") <= n_probe).select(
        F.col("id").alias("qid"), F.col("vec").alias("qv"), "cell"
    )
    members = _capped_cell_members(
        ranked.filter(F.col("rk") == 1).select("id", "vec", "cell"),
        IVF_CELL_CAP,
    )
    # per-cell Arrow scoring with local top-k (global top-k ⊆ union
    # of per-cell top-k); candidate pairs are unique (each nid lives
    # in one cell), so no distinct is needed.
    scored = _cell_scored_arrow(probes, members, local_topk=k).select(
        "qid", "nid", "sim"
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return scored.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= k
    )


def lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_planes: int = 32,
    band_bits: int = 8,
    cap: int | None = None,
) -> DataFrame:
    """ANN top-k: LSH candidates -> exact cosine re-rank: [qid, nid, sim, rnk].

    ``cap`` bounds per-bucket neighbor-side occupancy (see
    :func:`lsh_candidate_pairs`) — the capped candidates are already
    directed with every vector on the query side, so no symmetrisation.
    """
    cands = lsh_candidate_pairs(emb, n_planes, band_bits, cap=cap)
    if cap is not None:
        sym = cands
    else:
        # Symmetrise so every vector gets neighbours from either side of <.
        sym = cands.unionByName(
            cands.select(F.col("nid").alias("qid"), F.col("qid").alias("nid"))
        )
    # Precomputed-norm expression re-rank (round-9 A/B): norms fold once
    # per VECTOR here, so each candidate pair pays ONE interpreted dot
    # fold + a multiply. A pandas-UDF variant that recomputed both norms
    # per PAIR and paid the Arrow transpose of two 64-dim arrays per pair
    # measured SLOWER at sf0.1 (alternating same-session A/B, median
    # 12.0 s vs 16.5 s, identical output) and was deleted.
    vecs = emb.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        l2_norm("embedding").alias("_n"),
    ).persist()
    dot = F.aggregate(
        F.zip_with("qv", "nv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        sym.join(vecs.toDF("qid", "qv", "qn"), "qid")
        .join(vecs.toDF("nid", "nv", "nn"), "nid")
        .select("qid", "nid", (dot / (F.col("qn") * F.col("nn"))).alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def ivf_probe_sweep_candidates(ranked: DataFrame) -> DataFrame:
    """Scored IVF candidates tagged with the probe depth that reaches
    them: [qid, nid, probe_needed, sim].

    ``ranked`` is the :func:`ivf_trained_ranked` frame; its ``max_rank``
    is the deepest probe budget priced. Each vector lives in exactly one
    cell, so a candidate's ``probe_needed`` is the rank of its cell in
    the query's centroid order — ONE assignment pass prices every probe
    budget 1..max_rank at once (recall-vs-cost sweeps re-running the
    index per setting would scan max_rank times). Inverted lists carry
    the same IVF_CELL_CAP cap as :func:`ivf_topk`.
    """
    probes = ranked.select(
        F.col("id").alias("qid"),
        F.col("vec").alias("qv"),
        "cell",
        F.col("rk").alias("probe_needed"),
    )
    members = _capped_cell_members(
        ranked.filter(F.col("rk") == 1).select("id", "vec", "cell"),
        IVF_CELL_CAP,
    )
    # per-cell Arrow scoring, probe rank carried through; candidate
    # pairs are unique (each nid lives in one cell) so no distinct.
    return _cell_scored_arrow(
        probes, members, probe_rank_col="probe_needed"
    ).select("qid", "nid", F.col("prk").alias("probe_needed"), "sim")
