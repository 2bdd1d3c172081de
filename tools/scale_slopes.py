"""Scale-slope evidence, up to three measured decades
(VERDICT_r04 item 1; third decade VERDICT_r05 item 2).

Round 3 measured one decade (sf0.01 -> sf0.1, 17 MB of data); round 5
adds a second rung, sf1 (~170 MB, 6M-row lineitem, 50k docs), generated
deterministically by tools/make_fixtures.py into fixtures/sf1. For each
heavy query: warm at sf0.001 (plan/codegen compile), then two timed
runs per SF taking the min (ambient-load shaving). Each run is one
``perfbench.harness.measure`` call (builder through the noop sink, caches
released after it), so the second run cannot reuse the first one's
persisted frames. Each decade is a 10x data ratio, so:

  slope1 = t(sf0.1) / t(sf0.01)      (decade 1)
  slope2 = t(sf1)   / t(sf0.1)       (decade 2, when fixtures/sf1 exists)
  slope3 = t(sf10)  / t(sf1)         (decade 3, when fixtures/sf10 exists)

~10 or below = at-worst-linear in the data (scan-bound is ~linear;
bounded-state ops are far flatter). Queries whose slope exceeds
FLAG_RATIO * 10 in EITHER decade are flagged — those grew superlinearly
and need a plan read. Fixed per-query overhead (session/scheduling,
~0.5-1 s) deflates slopes at the small rungs; slope2 carries less of that
distortion, which is the point of the second decade: a hidden quadratic
term that overhead masks at 17 MB shows up undeniably at 170 MB.

Usage: python tools/scale_slopes.py [query ...]   (default: heavy set)
Writes SLOPES.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The heaviest BENCH_LOCAL entries (everything >= ~1.7 s solo at sf0.1),
# plus the round-4 reworked loops (one-kernel collapses, delta-frontier
# BF) whose scaling behavior the verdicts specifically track.
HEAVY = [
    "lof_outliers",
    "bellman_ford_delta_frontier",
    "ransac_price_fit",
    "corpus_curation",
    "fellegi_sunter_weights",
    "recommend_parts",
    "similarity_lsh_topk",
    "conformal_price_intervals",
    "brand_association_rules",
    "abc_xyz_matrix",
    "rfm_cell_matrix",
    "topic_shift_boundaries",
    "simhash_near_pairs",
    "simhash_topm_neighbors",
    "incremental_agg_maintenance",
    "wasserstein_price_segments",
    "fdr_bh_discoveries",
    "kmeans_clusters",
    "similarity_topk",
    "markov_removal_attribution",
    "kleinberg_burst_days",
    "sppmi_rank1_embedding",
    "kmv_set_similarity",
    "hard_negative_mining",
    "phrase_search",
    "embedding_power_iteration",
    "approx_quantile_audit",
    "cdc_net_effect_compaction",
    "ivf_hard_negatives",
    "semdedup_manifest",
    "similarity_ivf_topk",
]

DATA_RATIO = 10.0
FLAG_RATIO = 1.5  # flag when slope > FLAG_RATIO * DATA_RATIO

# Queries whose result-set cardinality is itself superlinear in the data
# (measured, documented) — their wall-clock must grow with the OUTPUT and
# a slope flag is expected, not a plan defect. Each entry carries the
# measured evidence; an allowlisted query still appears in SLOPES.json
# with its slopes, marked "explained".
ALLOW = {
    "simhash_near_pairs": (
        "output-bound: hamming<=12 of 60 on the 31-word-vocab corpus "
        "admits ~7% of ALL pairs (measured sample density 6.6e-2 at sf1 "
        "-> ~82M result rows); the banded join produces ~2.7M pairs/s, "
        "i.e. work ~ output, the optimum for an exact pair enumeration"
    ),
    "hard_negative_mining": (
        "exact blocked same-label kernel is intrinsically n^2*d (the "
        "tile mask prunes constants, not asymptotics); at sf10 the "
        "kernel ran >10 CPU-min without finishing a rung and was "
        "deliberately cut — the SCALE path is ivf_hard_negatives "
        "(celled, per-cell cap 256), 4-decade measured slope3 5.45"
    ),
    "similarity_topk": (
        "exact brute-force truth baseline: blocked cosine top-k over ALL "
        "pairs is intrinsically n^2*d (slope2 12.93 at sf1 is the "
        "expected quadratic); at sf10 that is ~4e10 dot products "
        "(~40 min/run), deliberately not measured — the SCALE paths are "
        "similarity_lsh_topk and similarity_ivf_topk, both 4-decade "
        "measured, and the query exists as the recall-eval truth"
    ),
}

RUNGS = [
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", os.path.join(REPO, "fixtures", "sf1")),
    # Third decade (VERDICT_r05 item 2): ~1.7 GB, 60M-row lineitem,
    # 500k docs — generate with `python tools/make_fixtures.py 100
    # fixtures/sf10`. Only the heavy set runs here (scale_slopes args);
    # the full-registry oracle battery stops at sf1.
    ("sf10", os.path.join(REPO, "fixtures", "sf10")),
]


def _row(name: str, times: dict[str, float]) -> tuple[dict, list[float]]:
    """One SLOPES.json row from seconds per rung, and its decade slopes.

    Unrounded times ride along in ``_raw`` (ADVICE_r06): the merge path
    recomputes slopes from stored times; 3-decimal rounding could flip a
    near-threshold flag across subset runs (and a sub-ms rung rounded to
    0.0 would produce slope=inf).
    """
    ordered = [k for k, _ in RUNGS if k in times]
    rec: dict = {f"{k}_s": round(times[k], 3) for k in ordered}
    rec["_raw"] = {k: times[k] for k in ordered}
    slopes = [
        times[b] / times[a] if times[a] > 0 else float("inf")
        for a, b in zip(ordered, ordered[1:])
    ]
    for i, s in enumerate(slopes):
        rec["slope" if i == 0 else f"slope{i + 1}"] = round(s, 2)
    over = any(s > FLAG_RATIO * DATA_RATIO for s in slopes)
    rec["flagged"] = over and name not in ALLOW
    if over and name in ALLOW:
        rec["explained"] = ALLOW[name]
    return rec, slopes


def _merge_and_write(out: dict, rungs, subset: bool) -> dict:
    """Merge fresh rows into SLOPES.json and write it. Called after
    EVERY measured query (round 7): a killed/timed-out run previously
    lost every rung it had measured, because the single write happened
    only at the end."""
    out = dict(out)
    prior_doc: dict = {}
    if subset:
        # Subset run: merge fresh rows into the committed SLOPES.json so
        # per-fix re-measures don't drop the rest of the heavy set.
        try:
            with open(os.path.join(REPO, "SLOPES.json")) as f:
                prior_doc = json.load(f)
        except FileNotFoundError:
            prior_doc = {}
        prior = dict(prior_doc.get("queries", {}))
        for name, rec in out.items():
            old = prior.get(name)
            # ADVICE_r05: never let a rung-poor re-measure (e.g. run while
            # fixtures/sf1 is absent) erase a prior row's deeper-decade
            # evidence — that slope2 signal is what caught the
            # similarity_lsh_topk quadratic. Keep the old deep rungs and
            # only refresh the rungs this run actually measured.
            if old and any(k for k in old if k.endswith("_s") and k not in rec):
                kept = [k for k in old if k.endswith("_s") and k not in rec]
                print(f"warn: {name}: keeping prior deeper-rung evidence ({kept})")
                # Prefer unrounded prior times when the row carries them
                # (ADVICE_r06: rounded times can flip a near-threshold
                # flag or produce slope=inf from a 0.0).
                old_raw = old.get("_raw", {})
                times = {
                    k[: -len("_s")]: old_raw.get(k[: -len("_s")], v)
                    for k, v in old.items()
                    if k.endswith("_s")
                }
                new_raw = rec.get("_raw", {})
                times.update(
                    {
                        k[: -len("_s")]: new_raw.get(k[: -len("_s")], v)
                        for k, v in rec.items()
                        if k.endswith("_s")
                    }
                )
                merged, mslopes = _row(name, times)
                if "measured_at" in rec:
                    merged["measured_at"] = rec["measured_at"]
                if "measured_at" in old:
                    merged["prior_measured_at"] = old.get(
                        "prior_measured_at", old["measured_at"]
                    )
                if "explained" in old and "explained" not in merged:
                    merged["explained"] = old["explained"]
                if any(s > FLAG_RATIO * DATA_RATIO for s in mslopes):
                    # Mixed-run slopes compare times measured under
                    # different machine load — re-measure every rung
                    # before trusting a flag that only appears here
                    # (ADVICE_r06).
                    print(
                        f"warn: {name}: mixed-run merged slope crosses the"
                        " flag line — re-measure ALL rungs for this query"
                    )
                rec = merged
            prior[name] = rec
        out = prior
    # Union of rungs: a subset run on fewer rungs must not shrink the
    # summary below what the committed evidence actually covers.
    rung_names = [k for k, _ in rungs]
    for k in prior_doc.get("rungs", []):
        if k not in rung_names:
            rung_names.append(k)
    doc = {
        "data_ratio": DATA_RATIO,
        "flag_above_slope": FLAG_RATIO * DATA_RATIO,
        "rungs": rung_names,
        "queries": out,
        "n_flagged": sum(1 for r in out.values() if r["flagged"]),
    }
    with open(os.path.join(REPO, "SLOPES.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return doc


def main() -> int:
    names = sys.argv[1:] or HEAVY

    from amorphous_mapreduce_spark import get_spark
    from amorphous_mapreduce_spark.queries_registry import QUERIES
    from perfbench.harness import measure

    spark = get_spark(app_name="scale-slopes")
    spark.sparkContext.setLogLevel("ERROR")

    rungs = [(k, d) for k, d in RUNGS if os.path.isdir(d)]
    if len(rungs) < len(RUNGS):
        absent = [k for k, d in RUNGS if not os.path.isdir(d)]
        print(
            f"note: rungs {absent} missing — regenerate with "
            "`python tools/make_fixtures.py <10|100> fixtures/<sf1|sf10>`"
        )

    def run(name: str, sf_dir: str) -> float:
        rec = measure(spark, name, QUERIES[name], sf_dir, f"slopes/{name}")
        if "error" in rec:
            raise RuntimeError(f"{name} at {sf_dir}: {rec['error']}")
        return rec["latency_s"]

    out = {}
    for name in names:
        if name not in QUERIES:
            print(f"skip {name}: not registered")
            continue
        run(name, "/root/testdata/sf0.001")  # warm
        t = {k: min(run(name, d) for _ in range(2)) for k, d in rungs}
        rec, slopes = _row(name, t)
        rec["measured_at"] = time.strftime("%Y-%m-%dT%H:%M:%S")
        out[name] = rec
        print(
            f"{name}: "
            + " -> ".join(f"{t[k]:.2f}s" for k, _ in rungs)
            + "  slopes "
            + "/".join(f"{s:.2f}" for s in slopes)
            + (
                "  ** FLAGGED **"
                if rec["flagged"]
                else ("  (explained)" if "explained" in rec else "")
            )
        )
        # checkpoint: persist every rung measured so far (survives
        # kills). Always merge-mode — a full-run checkpoint must not
        # transiently truncate SLOPES.json to the measured-so-far set.
        _merge_and_write(out, rungs, True)

    doc = _merge_and_write(out, rungs, bool(sys.argv[1:]))
    print(f"\nwrote SLOPES.json: {len(doc['queries'])} queries,"
          f" {doc['n_flagged']} flagged")
    spark.stop()
    return 1 if doc["n_flagged"] else 0


if __name__ == "__main__":
    sys.exit(main())
