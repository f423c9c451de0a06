"""Scale-stress harness for the dedup family's candidate stages.

PERF.md's dedup scaling story at sf0.1→sf≈1 rests on one claim: candidate
counts (and therefore verify fan-out and wall) track DUPLICATE MASS, not
corpus² (VERDICT r6 item 5 asks for this measured at 1/10/100×; the parity
pipeline's hub fixture is `perfbench/fixtures.py`'s `domain_tables`, which
`perfbench/run.py --workload pipeline_hub` times). This tool plants
a corpus whose duplicate mass is CONTROLLED — a fixed fraction of docs in
near-dup clusters of fixed size, so true pair mass grows exactly linearly
with scale while the all-pairs count grows quadratically — and measures:

1. true duplicate mass (by construction: clusters(s) × C(cluster_size, 2));
2. MinHash+LSH candidate count (`minhash_lsh_candidates` — the 100-TB
   near-dup path's one lossy stage);
3. exact-Jaccard PPJoin prefix candidate count (`_jaccard_prefix_stage` —
   the headline `dedup_ngram_jaccard_topk`'s candidate stage);
4. containment single-slot MinHash candidate count
   (`containment_minhash_candidates` — the round-7 scale path);
5. containment EXACT path's one-sided prefix candidate count
   (`_containment_prefix_candidates` — the truth-side stage of
   `dedup_containment_topk` and the recall audit);
6. quoted_spans' positional-trigram diagonal fan-out over the shipped
   lang-blocked containment top-3 pair set (`_quoted_diagonal_hits` —
   `quoted_span_stats`' largest intermediate);
7. the suffix-ranking family at the shipped census config (W=8, cap 512):
   qualifying-suffix count, Σ repeat_len (the doubling loop's
   shipped-bytes proxy), and capped-suffix disclosure — linearity judged
   on the last scale step because the planted boilerplate anchor crosses
   the 512 cap between 1× and 10× (see the inline note);
8. the sampled beyond-cap estimator (`sampled_repeat_lengths`) at
   production knobs (min df = census cap, S = 64): sampled-suffix count,
   HT mass estimate vs the disclosed capped truth, and wall — the planted
   boilerplate anchor's df grows 10× per step while its anchor count
   stays 1, so the estimator's cost must stay FLAT under growing heat
   (its contract) and the HT mass must recover the capped mass exactly;
9. wall of the two headline dedup queries run EXACTLY as catalogued
   (`dedup_minhash_lsh`, `dedup_ngram_jaccard_topk` over a parquet
   documents table), best-of-2 with the cache cleared before EVERY run
   (cold walls — internally persisted tables never carry into run 2).

The verdict line compares each candidate count's 1→N scaling ratio against
the duplicate-mass ratio (linear, = N) and against corpus² (= N²): the
claim holds iff candidates scale ≲ duplicate mass with a small slack for
coincidental shared-rare-shingle pairs (which also grow linearly — each
doc's rare shingles meet a bounded number of others under the df cap).

Corpus shape per scale s (deterministic, seeded):
- ``N_BASE·s`` docs of ~40 unique namespaced tokens;
- 20% of docs in near-dup clusters of 4 (1 original + 3 copies with 2
  tokens perturbed → J ≈ 0.9) → dup mass = 0.05·N·C(4,2) = 0.3·N pairs;
- 30% of docs additionally carry one SHARED 8-token boilerplate phrase —
  the hot-shingle mass the df/slot caps must absorb (without the caps this
  alone is (0.3·N)² candidate pairs).

``--base`` defaults to 1000 so the boilerplate's document frequency
(0.3·N = 300) exceeds the 256 df cap already at scale 1 — every scale then
runs in the capped regime and the scaling ratios compare like with like.
(Below the cap the r=1 containment index carries the boilerplate's
quadratic-in-its-mass candidates by design — bounded by cap²·16 total —
which is exactly the regime the df cap exists to exit; a sub-cap base
shows a non-monotonic candidate step at the crossover, not a defect.)

Usage:
    python tools/dedup_scale_stress.py [--scales 1,10,100] [--base 1000] \
        [--out /tmp/dedup_stress]

Prints one JSON line per scale plus a summary JSON. Record in PERF.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CLUSTER = 4          # near-dup cluster size
DUP_FRAC = 0.2       # fraction of docs that are cluster members
BOILER_FRAC = 0.3    # fraction of docs carrying the shared boilerplate
TOKENS = 40          # unique tokens per doc


def _gen_docs(scale: int, base: int) -> list[tuple[int, str, str, str]]:
    """Deterministic (doc_id, text, lang, source) rows; see module docstring
    for the planted structure. Integer-mixer determinism (no RNG state)."""
    n = base * scale
    n_members = int(n * DUP_FRAC)
    n_clusters = n_members // CLUSTER
    boiler = " ".join(f"boiler{i}" for i in range(8))
    rows: list[tuple[int, str, str, str]] = []
    did = 0
    for c in range(n_clusters):
        baseline = [f"c{c}t{i}" for i in range(TOKENS)]
        for m in range(CLUSTER):
            toks = list(baseline)
            if m:  # perturb two tokens per copy → J ≈ (38-2)/(44-2+...)~0.8+
                toks[5] = f"c{c}m{m}a"
                toks[25] = f"c{c}m{m}b"
            text = " ".join(toks)
            if (did * 2654435761) % 100 < BOILER_FRAC * 100:
                text = text + " " + boiler
            rows.append((did, text, "en", "web"))
            did += 1
    while did < n:
        toks = [f"u{did}t{i}" for i in range(TOKENS)]
        text = " ".join(toks)
        if (did * 2654435761) % 100 < BOILER_FRAC * 100:
            text = text + " " + boiler
        rows.append((did, text, "en", "web"))
        did += 1
    return rows


def _wall(spark, fn, runs: int = 2) -> float:
    """Best-of-N wall with the cache cleared BEFORE EVERY run — a query's
    internally persisted tables (e.g. the shingle table) stay registered
    after its first run and Spark's cache manager would substitute them
    into the second identical plan, turning best-of-2 into a warm-cache
    figure (ADVICE r7)."""
    best = float("inf")
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10,100")
    ap.add_argument("--base", type=int, default=1000)
    ap.add_argument("--out", default="/tmp/dedup_stress")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from platform_etl_drug_disease_spark.session import get_spark

    spark = get_spark(app_name="dedup_scale_stress")
    spark.sparkContext.setLogLevel("ERROR")

    from platform_etl_drug_disease_spark.operators.dedup import (
        _containment_prefix_candidates,
        _jaccard_prefix_stage,
        _quoted_diagonal_hits,
        _shingle_table,
        containment_minhash_candidates,
        containment_topk,
        longest_repeat_lengths,
        minhash_lsh_candidates,
        sampled_repeat_lengths,
    )
    from platform_etl_drug_disease_spark.plans.dedup_text import (
        dedup_minhash_lsh as q_minhash,
        dedup_ngram_jaccard_topk as q_topk,
    )
    import pyspark.sql.functions as F

    results = []
    for s in scales:
        sf_dir = os.path.join(args.out, f"x{s}")
        shutil.rmtree(sf_dir, ignore_errors=True)
        os.makedirs(sf_dir, exist_ok=True)
        rows = _gen_docs(s, args.base)
        spark.createDataFrame(
            rows, "doc_id: long, text: string, lang: string, source: string"
        ).repartition(32).write.parquet(os.path.join(sf_dir, "documents.parquet"))

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        n = docs.count()
        dup_mass = (int(n * DUP_FRAC) // CLUSTER) * (CLUSTER * (CLUSTER - 1) // 2)

        lsh_c = minhash_lsh_candidates(
            docs, "doc_id", "text", shingle_n=3, n_hashes=16, n_bands=4
        ).count()
        sh = _shingle_table(docs, "doc_id", "text", 3).select(
            F.col("doc_id"), F.col("sh"), F.size("sh").alias("__sz")
        ).persist()
        pref_c, _ = _jaccard_prefix_stage(
            sh, "doc_id", [F.col("doc_id")], 0.5, 256, None
        )
        pref_c = pref_c.count()
        # operator defaults = the SHIPPED dedup_containment_minhash_topk
        # configuration — the measurement must certify what the catalog
        # serves, not a looser cap (review finding, round 7).
        cont_c = containment_minhash_candidates(
            sh.select("doc_id", "sh"), "doc_id", threshold=0.8
        ).count()
        # containment EXACT path's one-sided prefix fan-out, at the shipped
        # dedup_containment_topk configuration (τ=0.8, df cap 256) — the
        # family's truth-side candidate stage (VERDICT r7 item 7).
        exploded = sh.select(
            F.col("doc_id"), F.col("__sz"), F.explode("sh").alias("__s")
        ).select("doc_id", "__sz", F.xxhash64("__s").alias("shingle"))
        freq = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= 256)
        )
        cpref_c = _containment_prefix_candidates(
            exploded, freq, [F.col("doc_id")], "doc_id", 0.8, None, None
        ).count()
        # quoted_spans' positional-trigram diagonal fan-out over the shipped
        # quoted_span_stats pair set (lang-blocked exact containment top-3;
        # lang is constant in this corpus, so blocking is a no-op — the
        # adversarial direction).
        pairs = containment_topk(
            docs, "doc_id", "text", shingle_n=3, threshold=0.8, k=3,
            block_col="lang", max_shingle_df=256,
        )
        diag_c = _quoted_diagonal_hits(docs, pairs, "doc_id", "text", 3).count()
        sh.unpersist()
        # suffix-ranking (longest_repeat) family at the SHIPPED census
        # config (W=8, anchor cap 512): qualifying-suffix count and
        # Σ repeat_len (the doubling loop's shipped-bytes proxy — a suffix
        # ships ~2·repeat_len tokens over its lifetime). NOTE the planted
        # boilerplate's anchor df is 0.3·N = 300·s: UNDER the 512 cap at
        # scale 1 (its suffixes count), OVER it at 10×/100× (capped +
        # disclosed) — the 10×→100× ratio is the clean linearity signal,
        # and the capped columns show the cap absorbing the boilerplate
        # exactly as designed.
        # config IMPORTED from the shipped census, never hardcoded — a
        # retune of _LR_W/_LR_CAP must keep this measurement honest
        # (the round-7 config-fidelity finding, again).
        from platform_etl_drug_disease_spark.plans.dedup_text import (
            _LR_CAP,
            _LR_W,
        )

        per_suffix, capped = longest_repeat_lengths(
            docs, "doc_id", "text", w=_LR_W, max_anchor_df=_LR_CAP
        )
        rrow = per_suffix.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("repeat_len"), F.lit(0)).alias("s"),
        ).collect()[0]
        crow = capped.collect()[0]
        # sampled beyond-cap estimator at PRODUCTION knobs (min df = the
        # census cap, S = 64): its whole point is that the SAMPLED set —
        # and therefore the doubling loop's state and shipped bytes — is
        # bounded by n_capped_anchors × S regardless of anchor heat. The
        # planted boilerplate anchor's df grows 10× per scale step (3000 →
        # 30000 at 10×/100×) while the anchor count stays 1, so the sampled
        # row count must stay FLAT across the last step and the HT estimate
        # (Σ anchor_df / S over sampled rows) must recover the disclosed
        # capped mass exactly (single anchor ⇒ zero sampling variance in
        # the mass estimate). The WALL is corpus-linear by design — the
        # tokenize/suffix-explode/anchor-count scan touches every doc
        # regardless of heat — so est_wall_sec is recorded for context but
        # carries no flatness gate (only the sampled count does).
        est_vals: dict = {}

        def _run_est():
            smp, _selected, disc = sampled_repeat_lengths(
                docs, "doc_id", "text", w=_LR_W,
                min_anchor_df=_LR_CAP, sample_per_anchor=64,
            )
            erow = smp.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.floor(F.sum("anchor_df") / F.lit(64)), F.lit(0)
                ).alias("ht"),
            ).collect()[0]
            drow = disc.collect()[0]
            est_vals.update(
                sampled=int(erow["n"]), ht=int(erow["ht"]),
                anchors=int(drow["n_selected_anchors"]),
                mass=int(drow["n_selected_suffixes"]),
            )

        # values captured from inside the timed runs (deterministic, so the
        # last run's values equal the first's) — no third untimed pass.
        w_est = _wall(spark, _run_est)
        est_sampled, est_ht_mass, est_anchors, est_mass_true = (
            est_vals["sampled"], est_vals["ht"],
            est_vals["anchors"], est_vals["mass"],
        )

        w_minhash = _wall(
            spark, lambda: q_minhash(spark, sf_dir).foreach(lambda r: None)
        )
        w_topk = _wall(spark, lambda: q_topk(spark, sf_dir).foreach(lambda r: None))
        spark.catalog.clearCache()

        rec = {
            "scale": s,
            "n_docs": n,
            "dup_pairs_true": dup_mass,
            "lsh_candidates": lsh_c,
            "prefix_candidates": pref_c,
            "containment_mh_candidates": cont_c,
            "containment_prefix_candidates": cpref_c,
            "quoted_diag_hits": diag_c,
            "repeat_suffixes": int(rrow["n"]),
            "repeat_len_sum": int(rrow["s"]),
            "repeat_capped_suffixes": int(crow["n_capped_suffixes"]),
            "est_capped_anchors": est_anchors,
            "est_sampled_suffixes": est_sampled,
            "est_ht_mass": est_ht_mass,
            "est_true_capped_mass": est_mass_true,
            "est_wall_sec": round(w_est, 2),
            "minhash_lsh_wall_sec": round(w_minhash, 2),
            "jaccard_topk_wall_sec": round(w_topk, 2),
        }
        print(json.dumps(rec), flush=True)
        results.append(rec)

    base_r = results[0]
    top_r = results[-1]
    n_ratio = top_r["n_docs"] / base_r["n_docs"]
    summary = {
        "scale_span": f"{base_r['scale']}->{top_r['scale']}",
        "dup_mass_ratio": round(top_r["dup_pairs_true"] / base_r["dup_pairs_true"], 1),
        "corpus_sq_ratio": round(n_ratio**2, 1),
        "lsh_cand_ratio": round(
            top_r["lsh_candidates"] / max(base_r["lsh_candidates"], 1), 1
        ),
        "prefix_cand_ratio": round(
            top_r["prefix_candidates"] / max(base_r["prefix_candidates"], 1), 1
        ),
        "containment_cand_ratio": round(
            top_r["containment_mh_candidates"]
            / max(base_r["containment_mh_candidates"], 1),
            1,
        ),
        "containment_prefix_ratio": round(
            top_r["containment_prefix_candidates"]
            / max(base_r["containment_prefix_candidates"], 1),
            1,
        ),
        "quoted_diag_ratio": round(
            top_r["quoted_diag_hits"] / max(base_r["quoted_diag_hits"], 1), 1
        ),
        # suffix family linearity is judged on the LAST scale step (10→100
        # by default): at scale 1 the boilerplate anchor (df 300) is under
        # the 512 cap and its suffixes count, from 10× it is capped +
        # disclosed — so the base→top ratio mixes regimes by construction.
        "repeat_sfx_step_ratio": round(
            results[-1]["repeat_suffixes"]
            / max(results[-2]["repeat_suffixes"], 1),
            1,
        )
        if len(results) >= 2
        else None,
        "repeat_len_sum_step_ratio": round(
            results[-1]["repeat_len_sum"]
            / max(results[-2]["repeat_len_sum"], 1),
            1,
        )
        if len(results) >= 2
        else None,
        "minhash_wall_ratio": round(
            top_r["minhash_lsh_wall_sec"] / base_r["minhash_lsh_wall_sec"], 2
        ),
        "topk_wall_ratio": round(
            top_r["jaccard_topk_wall_sec"] / base_r["jaccard_topk_wall_sec"], 2
        ),
    }
    # the claim: every candidate stage scales like duplicate mass (linear),
    # nowhere near corpus². 2× slack for the linear coincidental tail.
    for k in (
        "lsh_cand_ratio",
        "prefix_cand_ratio",
        "containment_cand_ratio",
        "containment_prefix_ratio",
        "quoted_diag_ratio",
    ):
        summary[f"{k}_tracks_dup_mass"] = bool(
            summary[k] <= 2.0 * summary["dup_mass_ratio"]
        )
    if summary["repeat_sfx_step_ratio"] is not None:
        step = results[-1]["scale"] / results[-2]["scale"]
        for k in ("repeat_sfx_step_ratio", "repeat_len_sum_step_ratio"):
            summary[f"{k}_tracks_dup_mass"] = bool(summary[k] <= 2.0 * step)
    # estimator claims, judged on the last step (the capped regime): the
    # sampled row count is heat-invariant (anchors × S at both scales),
    # and the HT mass estimate equals the disclosed capped mass (single
    # planted anchor ⇒ exact recovery).
    if len(results) >= 2 and results[-2]["est_sampled_suffixes"]:
        summary["est_sampled_step_ratio"] = round(
            results[-1]["est_sampled_suffixes"]
            / results[-2]["est_sampled_suffixes"],
            2,
        )
        summary["est_wall_step_ratio"] = round(
            results[-1]["est_wall_sec"] / max(results[-2]["est_wall_sec"], 0.01),
            2,
        )
        summary["est_sampled_flat_under_heat"] = bool(
            summary["est_sampled_step_ratio"] <= 1.1
        )
        summary["est_ht_mass_exact"] = bool(
            all(
                r["est_ht_mass"] == r["est_true_capped_mass"]
                for r in results
                if r["est_capped_anchors"] == 1
            )
        )
    print(json.dumps(summary), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
