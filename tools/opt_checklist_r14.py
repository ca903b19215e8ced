#!/usr/bin/env python3
"""Emit the OPTIMIZATION_r14.md per-query checklist table: baseline vs
final bench seconds plus the r14 optimization item(s) that touched each
query. Usage: opt_checklist_r14.py <baseline.json> <final.json>"""
import json
import sys

ITEMS = {
    # item tags -> queries (see OPTIMIZATION_r14.md "Changes")
    "native-jaccard(1)": ["q_dedup_pipeline_exact"],
    "window-keepbest(2)": ["q_curate"],
    "no-distinct-cc(3)": ["q_semantic_dedup"],
    "mixed-sort-native(4)": ["q_sort_head"],
    "awaitBoth(5)": ["q_read_glob", "q_describe_approx"],
}
LEFT_ALONE = {
    "q_curate": "one keyed window (WindowGroupLimit partial = map-side prune) + single checkpoint; was agg+semi-join with two checkpoints",
    "q_dedup_pipeline_exact": "r14: verify now on the native jaccard kernel (was the 0.61s dominant job); still an oracle-parity artifact excluded from production_total",
    "q_minhash_pairs_exact": "oracle-parity minhash value replay; multi-shuffle LSH join dominates, by design",
    "q_simhash_pairs": "banded dual-order chain pipeline, tuned r11/r12; whole-partition frames are the O(n) class",
    "q_minhash_pairs": "banded LSH + planted-truth memo (warmed by Bench); shuffle-bound",
    "q_minhash_rank": "oracle-parity global shingle rank (distributed sort), by design",
    "q_dedup_pipeline": "LSH->verify->CC->keep chain; REPARTITION_BY_NUM parallelism pin spec-asserted (r12); framework-bound at sf0.1",
    "q_dedup_incremental": "distinct KEPT deliberately (map-side partial agg is the hot-batch-doc collapse guard at scale); rank substrate is the oracle artifact",
    "q_semantic_dedup": "r14: distinct-before-CC stage removed; remaining time is framework gaps (JobProfile: 0.17s busy in 0.66s wall)",
    "q_dedup_exact": "one hash shuffle",
    "q_dedup_keep_best": "one max_by aggregate",
    "q_media_dedup": "one hash shuffle over binary keys",
    "q_curate_full": "paragraph dedup + split + seq-pack chain; each stage exact, fixed shuffle count",
    "q_contamination": "broadcast gram probe, corpus never shuffled",
    "q_contamination_bloom": "two passes by design (bloom build + probe)",
    "q_ann_brute": "broadcast brute-force oracle shape",
    "q_ann_ivf": "k-means iteration barrier: driver collects centroids between Lloyd rounds (iters=2 declared) — inherent, amortized over probes (r14 JobProfile: 0.34s busy / 0.59s gaps)",
    "q_ann_lsh_buckets": "bucketed, map-side bounded",
    "q_ann_lsh_topk": "bounded top-k heaps",
    "q_pq_topk": "PQ codebook scan, decade-verified 7.9x on 10x data",
    "q_embed_cosine_pairs": "capped broadcast block",
    "q_embed_norm": "pure projection",
    "q_session_window": "Spark session_window aggregate (stateful shape shared with streaming)",
    "q_sessionize": "one keyed window",
    "q_asof_join": "union-sweep asof: one keyed shuffle, O(n) frames (r12 fix)",
    "q_range_join": "banded equi-join + residual filter",
    "q_read_glob": "overlapped fixture writes (awaitBoth hardening r14); codec A/B measured flat",
    "q_partial_read": "write+pruned-read round trip; r14 codec A/B (lz4 vs snappy) measured flat — encode machinery dominates",
    "q_struct_of_list": "transpose write + readCompat zip round trip; IO-bound by design (r14 codec A/B flat)",
    "q_mixed_read": "fixture write (per-JVM lazy) + two partial loads",
    "q_generate": "deterministic per-row hashing, no shuffle",
    "q_set_ops": "intersect/except built-ins (3 scans by declared shape)",
    "q_rollup": "pack + rollup expand, two shuffles inherent",
    "q_take": "oracle-parity global row_number alignment artifact",
    "q_schema_cols": "introspection, trivial",
    "q_vocab_score": "train (persist/unpersist inside op) + broadcast score, two passes by design",
    "q_unigram_lp": "corpus-derived LM scoring, already single shuffle",
    "q_qcut": "distributed order-statistic edges (bit-exact pandas chain); approx path is the 100TB alternative (spec-asserted)",
    "q_factorize": "first-appearance codes, r13-build hardened (no single-partition window)",
    "q_crosstab": "bounded-domain pivot with fail-loudly cap (r13 build)",
    "q_ewm": "sequential pandas kernel via secondary-sort mapPartitions (adjudicated r12: no window expresses it without O(n^2))",
    "q_ewm_cov": "same kernel family, two-series accumulator",
    "q_ewm_var": "same kernel family",
    "q_resample": "window(ts, freq) groupBy, one shuffle",
    "q_rolling": "bounded rows-frame windows, keyed",
    "q_rolling_time": "rangeBetween time frames, keyed",
    "q_stack": "melt-shaped narrow reshape",
    "q_unstack": "pivot machinery (shares item 6's pivot fix)",
    "q_media_decode": "mapPartitions batched decode (Expression cannot fit), byte-budget partitioning",
    "q_image_resize": "pure metadata arithmetic",
    "q_audio_decode": "WAV header parse, narrow",
    "q_video_decode": "MP4 box walk, narrow",
    "q_multimodal_meta": "byte-budget repartition + batched decode",
    "q_seq_pack": "keyed pack + offset arithmetic, one shuffle",
    "q_chunk_windows": "per-doc sliding windows, narrow",
    "q_dup_spans": "span-hash group, one shuffle",
    "q_para_dedup": "paragraph hash keep-first, one shuffle",
    "q_para_dedup_doc": "in-doc dedup, narrow",
    "q_global_shuffle": "seeded-hash permutation + TakeOrderedAndProject",
    "q_split_assign": "stateless affine bucket, scan-stage filter",
    "q_stratified": "pure filter, prunes at scan",
    "q_temperature_mix": "rates agg + filter, two passes by design",
    "q_per_key_cap": "WindowGroupLimit map-side prune",
    "q_jaccard_pairs": "capped broadcast block",
    "q_token_stats": "codegen text expressions in scan stage",
    "q_quality": "codegen expressions",
    "q_quality_signals": "codegen expressions",
    "q_lang_id": "codegen expressions",
    "q_fingerprint": "codegen expressions",
    "q_ngram_repetition": "codegen expressions",
    "q_bpe_tokens": "regex column expressions in scan",
    "q_value_counts": "groupBy count + tiny global window (post-agg rows)",
    "q_melt": "narrow reshape",
    "q_rank": "keyed windows",
    "q_cum_diff": "prefix/lag windows, keyed",
    "q_clip_pct": "codegen projection + keyed lag",
    "q_shift_lag": "keyed lag window",
    "q_ffill": "keyed last-non-null prefix frame (O(n) class, r12 fix)",
    "q_interp": "keyed prefix frames (O(n) class, r12 fix)",
    "q_cut": "static bin projection",
    "q_corr": "two 1-row aggregates (adjudicated 1-row crossJoin pattern)",
    "q_col_stats": "eight 1-row aggregates over a 150k scan, by declared shape",
    "q_eval_reduce": "narrow array expressions",
    "q_sort_base": "base sort + limit",
    "q_sort_napos": "na_position sort + limit",
    "q_concat_take": "union + total-ordered limit",
    "q_pack_seq": "sequence pack, narrow",
    "q_pack_salted": "two-stage salted agg (the partial agg IS the skew defense; left on the partial-agg plan)",
    "q_asof_forward": "union-sweep asof (O(n) DESC-prefix frames)",
    "q_asof_nearest": "both sweeps + distance pick",
    "q_asof_ts_tol": "timestamp tolerance path",
    "q_asof_ts_nearest": "timestamp nearest path",
    "q_asof_ntz_tol": "NTZ calendar-field path",
    "q_dropna_opts": "3 dropna branches; checkpoint evaluated and reverted (cheap branches — see rejected)",
    "q_min_max_flags": "2 agg branches; checkpoint evaluated and reverted",
}


def main() -> None:
    a = json.load(open(sys.argv[1]))["queries"]
    b = json.load(open(sys.argv[2]))["queries"]
    touched = {}
    for tag, qs in ITEMS.items():
        for q in qs:
            touched.setdefault(q, []).append(tag)
    print("| query | baseline s | final s | Δ | optimized by / why left |")
    print("|---|---|---|---|---|")
    for k in sorted(b):
        x, y = a.get(k), b[k]
        d = "n/a" if x is None or x == 0 else f"{(y - x) / x * 100:+.0f}%"
        note = ", ".join(touched.get(k, []))
        if k in LEFT_ALONE:
            note = (note + "; " if note else "") + LEFT_ALONE[k]
        if not note:
            note = ("r13-optimized shape unchanged; re-examined r14 "
                    "(profile/plan), at the single-row-group scan + "
                    "framework-gap floor")
        base = "—" if x is None else f"{x:.3f}"
        print(f"| {k} | {base} | {y:.3f} | {d} | {note} |")


if __name__ == "__main__":
    main()
