"""Declared query inventory.

Each query is declared once — a PySpark builder plus (where expressible)
the equivalent DuckDB oracle SQL — and flows from here into
``__spark_entry__.py`` (driver contract), ``tests/`` (differential
harness) and ``bench.py`` (perf loop). This mirrors the reference's test
strategy: differential testing against an oracle is the spine
(SURVEY §5; reference test_common/helpers/comparisons.py:98-127).
"""

from pg_lake_spark.queries.registry import QUERIES, QuerySpec, query

# Import for registration side effects — each module adds to QUERIES.
from pg_lake_spark.queries import scalar_funcs  # noqa: E402,F401
from pg_lake_spark.queries import datapipe  # noqa: E402,F401
from pg_lake_spark.queries import streaming_q  # noqa: E402,F401
from pg_lake_spark.queries import relational  # noqa: E402,F401
from pg_lake_spark.queries import tpch  # noqa: E402,F401
from pg_lake_spark.queries import dml  # noqa: E402,F401
from pg_lake_spark.queries import delta_q  # noqa: E402,F401
from pg_lake_spark.queries import spatial_q  # noqa: E402,F401
from pg_lake_spark.queries import tpcds  # noqa: E402,F401
from pg_lake_spark.queries import tpcds_w5  # noqa: E402,F401
from pg_lake_spark.queries import clickbench  # noqa: E402,F401

# Registration order is driver-visible: the correctness driver checks the
# FIRST 50 registry entries each round, so the registry is reordered at
# import time so that the rows most in need of an official green come
# first. The ordering is COMPUTED from the CORRECTNESS_r*.json artifacts
# the driver leaves at the repo root — never a hand-edited list (r11's
# defining defect: a hand-pinned window shipped stale and re-certified
# r10's exact rows). Priority groups, CHANGED-CODE-FIRST within the
# standing rule "an official green must postdate the code it certifies":
#   0. never-driver-checked rows (no green in any artifact)
#   1. rows whose implementation changed after their latest green
#      (declared in _CODE_CHANGED_IN, below — entries EXPIRE on their
#      own once a green from >= that round lands, so the manifest only
#      ever needs appends, never pruning)
#   2. everything else, stalest-green-first
# Ties break on registration order, so the ordering is deterministic
# and does not depend on filesystem or dict iteration quirks.
# STARVATION FLOOR (r16): when groups 0+1 alone would fill the window
# past (window - floor) slots, the floor stalest group-2 rows take the
# window's tail anyway — r15 proved an oversized flag batch could
# otherwise age the stalest rows indefinitely (the same 4 rows slipped
# two consecutive rounds). Excess priority rows queue right after the
# window and land next round.

#: (name, round) — round in which the row's implementation last changed
#: BEHAVIOR after an official green. APPEND when you touch a certified
#: query's code path; never prune — an entry stops mattering on its own
#: once a green from >= that round lands. A plain append-only list, not
#: a dict literal: the same row legitimately recurs across rounds, and
#: duplicate dict keys silently kept only the later value (correct by
#: accident, one reorder away from wrong — r15 verdict #4). The
#: effective manifest below max-merges the pairs explicitly.
_CODE_CHANGES: list[tuple[str, int]] = [
    # r12: windowed-keys semi-join prefilter rewrite (VERDICT r11 #3).
    # q18 itself is NOT rewritten — it has no selective order-side
    # predicate to push (the only gate IS the per-order HAVING), so
    # the lever doesn't apply; its single-aggregation form stands.
    ("dsq34_order_size_band", 12),
    ("dsq95_dual_semijoin", 12),
    # r12: bounded-key-space state_partitions for streaming window aggs
    ("st_tumbling_counts", 12),
    ("st_sliding_counts", 12),
    # r12: these traverse the INSERT-coercion guards (ddl.py — float→int
    # exclusive-bound ADVICE fix) and the delete/update stats-pruning
    # path (pruning.py — disjunction + dirty-literal rejection), both
    # changed after their r11 green.
    ("dml_cow_delete", 12),
    ("dml_mor_lifecycle", 12),
    ("dml_merge_upsert", 12),
    ("dml_update_set", 12),
    ("dml_incremental_scan", 12),
    ("dml_drop_restore", 12),
    ("dml_changelog", 12),
    ("ddl_schema_evolution", 12),
    # r13: signed-zero canonicalization (+0.0 after round) applied to
    # the projection builders whose outputs round to zero (VERDICT r12
    # #1). f_merc_3395 is group 0 anyway (never green); these two had
    # r12 greens, so their builders changing re-flags them.
    ("f_polar_stereographic", 13),
    ("f_laea_transform", 13),
    # r13: GeoJSON layout sniff rewritten to decode accumulated bytes
    # once (ADVICE r12 multibyte-split fix) — on f_geojson_scan's path.
    ("f_geojson_scan", 13),
    # r13: restore_table gained manifest-aware deletion-queue
    # reconciliation (maintenance review) — on dml_drop_restore's path.
    ("dml_drop_restore", 13),
    # r13: table.py review batch (typed partition values, per-file
    # delete refinement, DML preconditions, _read_era atomic select,
    # update/merge assignment casts) — on every dml_* row's path.
    ("dml_cow_delete", 13),
    ("dml_mor_lifecycle", 13),
    ("dml_merge_upsert", 13),
    ("dml_update_set", 13),
    ("dml_incremental_scan", 13),
    ("dml_changelog", 13),
    ("ddl_schema_evolution", 13),
    # r13: delta_meta review batch (python-side _uri_key, sound
    # conjunct pruning, checkpoint field preservation) — on
    # d_delta_scan's path.
    ("d_delta_scan", 13),
    # r14: q20 gained the nation-suppliers semi-join-first prefilter;
    # q21 rewrote collect_set windows to map-side min/max aggregates
    # (VERDICT r13 #4, applied while both rows' r6 greens reset anyway).
    ("q20_excess_suppliers", 14),
    ("q21_waiting_suppliers", 14),
    # r14 review batch: run_available_now now checkpoints + drops the
    # memory-sink view (all st_* rows' drain path); streaming LSH drops
    # NULL-text docs pre-banding (st_stream_lsh_neardup); IVF probe
    # tie-break now matches assignment (sim_ivf_topk).
    ("st_tumbling_counts", 14),
    ("st_session_windows", 14),
    ("st_stateful_user_totals", 14),
    ("st_sliding_counts", 14),
    ("st_stream_dedup", 14),
    ("st_stream_lsh_neardup", 14),
    ("st_stream_interval_join", 14),
    ("sim_ivf_topk", 14),
    # r14 operator-module review batch: asof carries the right payload
    # as one struct (per-column last() tore rows with NULL payload
    # fields); salted_join gained the outer-join refusal; connected
    # components gained pointer-doubling + a non-convergence raise
    # (dd_neardup_clusters' clustering path); kmv filters NULLs before
    # the bottom-k; repeated_spans' hash path groups on the bigint;
    # lsh_candidate_pairs validates num_hashes % bands; bm25/surprisal
    # guard the empty-corpus scalar reduction.
    ("j_asof_prior_view", 14),
    ("j_salted_skew", 14),
    ("dd_neardup_clusters", 14),
    ("sk_kmv_distinct", 14),
    ("dd_repeated_spans", 14),
    ("dd_lsh_candidates", 14),
    ("txt_bm25_topk", 14),
    ("txt_unigram_surprisal", 14),
    # r14: bbox_point_join refuses non-inner joins (guard only; inner
    # path unchanged) — on j_spatial_bbox_join's path.
    ("j_spatial_bbox_join", 14),
    # r14: pg_div moved to exact integral div (the double route was
    # wrong past 2^53); pg_date_bin bins via exact pmod arithmetic.
    ("f_intdiv", 14),
    ("f_date_bin", 14),
    # r14: parse_where splits conjuncts on quote-masked offsets and
    # accepts typed/quoted BETWEEN bounds — on every dml row's
    # DELETE/UPDATE pruning path.
    ("dml_cow_delete", 14),
    ("dml_mor_lifecycle", 14),
    ("dml_merge_upsert", 14),
    ("dml_update_set", 14),
    ("dml_incremental_scan", 14),
    ("dml_changelog", 14),
    ("dml_drop_restore", 14),
    ("ddl_schema_evolution", 14),
    # r15: q22's anti-join orders side gains a distinct() so the
    # custkey shuffle carries map-side-deduped keys (VERDICT r14 #3).
    ("q22_dormant_customers", 15),
    # r15 review batch: restore/purge consume the shared
    # read_dropped_metadata helper (dml_drop_restore's path);
    # co_located_join validates bucket specs up front
    # (j_bucketed_colocated's path).
    ("dml_drop_restore", 15),
    ("j_bucketed_colocated", 15),
    # r15 datapipe/multimodal review batch: hash01 consolidated into
    # dedup.hash01_52bit (sk_kmv/split/sample paths), dd_semantic_prune
    # drops the single-partition count window for a broadcast 1-row
    # aggregate, txt_gopher_quality reads shared threshold constants,
    # extract_features builds all feature columns in one payload pass.
    ("sk_kmv_distinct", 15),
    ("ds_train_val_split", 15),
    ("ds_weighted_sample", 15),
    ("dd_semantic_prune", 15),
    ("txt_gopher_quality", 15),
    ("mm_binary_features", 15),
    # r15 chunking/mix review: chunk_documents coalesces NULL text like
    # the token variant; temperature_mix validates T>0 and excludes
    # NULL sources from the weight denominator.
    ("ds_chunk_documents", 15),
    ("ds_temperature_mix", 15),
    ("ds_mix_corpora", 15),
    # r15 pg/textstats/streaming review batch: to_char compiler rework
    # (computed segments for WW/SSSS/Y,YYY/J/case-variant text/FM),
    # NULL-propagating pg_substring, type-stable pg_date_trunc, PG text
    # form for times, date_bin validation, first-match regexp lookaround
    # + \& fixes; words() filters empties, lang matching lowercases,
    # quality ratios guard ANSI div-by-zero (oracles moved in lockstep);
    # run_available_now drops its memory view on the failure path too.
    ("f_to_char", 15),
    ("f_date_bin", 15),
    ("f_datetime", 15),
    ("f_casts", 15),
    ("f_regexp_replace_pg", 15),
    ("f_substring_pg", 15),
    ("txt_stats", 15),
    ("txt_quality_by_lang", 15),
    ("ds_pack_sequences", 15),
    ("st_tumbling_counts", 15),
    ("st_session_windows", 15),
    ("st_stateful_user_totals", 15),
    ("st_sliding_counts", 15),
    ("st_stream_dedup", 15),
    ("st_stream_lsh_neardup", 15),
    ("st_stream_interval_join", 15),
    # r15 readers review: shared first-file resolver on the geojson
    # layout sniff path.
    ("f_geojson_scan", 15),
    # r15 self-review of the round's own diff: pg_to_date/pg_to_timestamp
    # route through the parse-direction pattern translator (case-variant
    # text fields fall back to Java text patterns).
    ("f_to_date", 15),
    # r15 spatial.py review: MULTI*-capable centroid (hole-aware) /
    # reverse/flip/geojson/boundary/issimple kernels; the exact-verify
    # relation kernels recurse on parsed tuples instead of re-packing
    # WKB per child; _fmt_num survives non-finite coords.
    ("f_spatial_point", 15),
    ("f_spatial_measures", 15),
    ("f_spatial_relations", 15),
    ("f_spatial_overlay", 15),
    ("j_polygon_point_exact", 15),
    ("j_polygon_overlap_join", 15),
    # r15 ddl.py review: quote-aware _split_top (UPDATE/MERGE SET),
    # canonical alias rewrite via placeholders, COPY FROM view refresh,
    # option lexer valueless-boolean shorthand, last-segment format
    # sniff, schema-list type normalization.
    ("dml_update_set", 15),
    ("dml_merge_upsert", 15),
    ("dml_cow_delete", 15),
    ("dml_mor_lifecycle", 15),
    ("ddl_schema_evolution", 15),
    ("ddl_guc_numeric_schema", 15),
    ("ddl_expire_on_write", 15),
    ("ddl_alter_statements", 15),
    ("dml_changelog", 15),
    ("dml_incremental_scan", 15),
    # r15 similarity/quantization/membership review: shared rank_topk
    # tie-break, lexsort partial top-fetch, dtype-preserving neardup
    # ids + zero-norm guard, lsh score-then-distinct, pq_encode carry.
    ("sim_cosine_topk", 15),
    ("sim_lsh_topk", 15),
    ("sim_ivf_topk", 15),
    ("dd_embedding_neardup", 15),
    # r15 TPC-DS/ClickBench coverage review: vacuous gates made live
    # (dsq01 1.2->1.05 multiplier, dsq45 live nation names, dsq41 arm2
    # price band inside the corpus range, dsq80 error-events returns
    # leg, cb funnel NOT LIKE token that exists), URL synthesis and
    # avg4/net-cents expressions deduped, dsq65 lazy checkpoint.
    ("dsq01_returns_above_avg", 15),
    ("dsq45_disjunctive_semijoin", 15),
    ("dsq41_attr_disjunction", 15),
    ("dsq80_tri_channel_net_rollup", 15),
    ("cb_multi_like_funnel", 15),
    ("dsq65_min_share_brands", 15),
    ("dsq58_channel_tolerance", 15),
    ("cb_url_domain_topn", 15),
    ("cb_url_strip_params_topn", 15),
    ("dsq27_filtered_dim_avg_rollup", 15),
    ("dsq30_return_ratio_vs_state", 15),
    ("dsq07_demographic_avgs", 15),
    # r16 ADVICE fix: UPDATE's per-file hit filter now abspaths the
    # manifest path like DELETE (shared _meta_path_key) — on the CoW
    # update/delete rewrite paths.
    ("dml_update_set", 16),
    ("dml_cow_delete", 16),
    # r16 ADVICE fix: connected_components identifies its checkpoints
    # by their own LogicalRDD ids (no session-global diff) — on the
    # clustering path.
    ("dd_neardup_clusters", 16),
    # r16 scale audit: IVF training's centroid update moved from the
    # posexplode triple shuffle to Summarizer.mean partial aggregation,
    # and _nearest_centroid is a vectorized pandas UDF — on
    # sim_ivf_topk's training path.
    ("sim_ivf_topk", 16),
    # r16 perf fix: words() re-spelled without the F.filter lambda
    # (CodegenFallback, interpreted per row — the r15 txt_stats
    # regression) — on every words()-consuming row's path.
    ("txt_stats", 16),
    ("txt_quality_by_lang", 16),
    ("txt_gopher_quality", 16),
    ("ds_pack_sequences", 16),
    # r16 oracle audit: three vacuous/degenerate gates made live —
    # s_except's nationkey difference was empty at every SF (both
    # sides cover all 25 nations), j_semi_anti's anti legs were
    # constant 0 / full-table (every partkey and custkey is covered),
    # cb_phrase_lexical_order projected a constant '0' vector. Each
    # re-spelled with selective predicates / the tie-break column so
    # the differential check discriminates; oracles moved in lockstep.
    ("s_except", 16),
    ("j_semi_anti", 16),
    ("cb_phrase_lexical_order", 16),
    # r16 optimization round: LSH banding restructure (signatures
    # carried inline, first-match dedup + estimate gate as in-join
    # predicates, xxhash64 bucket keys, footer-row-count cap-probe
    # skip), simhash first-match dedup, cosine norm hoist
    # (brute-force/LSH/IVF top-k), embedding near-dup work-aware block
    # sizing — all strict-checked at sf0.001/0.01/0.1 this session.
    ("dd_lsh_candidates", 16),
    ("dd_neardup_clusters", 16),
    ("dd_simhash_pairs", 16),
    ("dd_embedding_neardup", 16),
    ("sim_cosine_topk", 16),
    ("sim_lsh_topk", 16),
    ("sim_ivf_topk", 16),
    # r16 optimization round: dsq74 single-pass conditional aggregation
    # (was 4 filtered self-join legs; 16 Exchanges -> 6, 4 SMJ -> 0).
    ("dsq74_two_metric_growth", 16),
    # r16 optimization round: merge() single tagged materialization —
    # the target⋈source joins run once instead of three times (counts
    # + write re-execution); on the MERGE path.
    ("dml_merge_upsert", 16),
    # r16 optimization round: bounded-key-space state width 8 -> 4
    # (per-partition state-store fixed cost re-measured at sf0.1).
    ("st_tumbling_counts", 16),
    ("st_sliding_counts", 16),
    # r16 optimization round: materialize_deletes single-scan groups
    # (manifest row counts + checkpointed survivors) — on every DML
    # row that calls materialize_deletes up front.
    ("dml_mor_lifecycle", 16),
    ("dml_cow_delete", 16),
    ("dml_update_set", 16),
    # r16 optimization round: _k_contains_xy vectorized (NumPy even-odd
    # over distinct geometries; 50x kernel microbench, bit-identical)
    # — on the polygon⋈point exact-verify path.
    ("j_polygon_point_exact", 16),
    # r16 optimization round: dsq93 per-order pre-aggregation before
    # the fact⋈fact join; bloom_semi_join footer-count sizing hint;
    # st_stream_dedup input-size-derived state width.
    ("dsq93_net_after_returns", 16),
    ("dd_bloom_semi_join", 16),
    ("st_stream_dedup", 16),
    # r16 optimization round: hyperplane planes pre-evaluated to
    # literals + one Arrow kernel for all table buckets (bit-identical;
    # sim_lsh_topk 16.8s -> 1.3s) — on every hyperplane_bucket path.
    ("dd_semantic_prune", 16),
    # r16 optimization round: _k_intersects vectorized (per-distinct
    # parse + one NumPy segment-pair broadcast per left-geometry
    # group, same orientation arithmetic elementwise) — on the
    # polygon⋈polygon exact-verify path.
    ("j_polygon_overlap_join", 16),
    # r16 optimization round: input-size-derived state width for the
    # data-scaled streaming states (session windows, per-user totals,
    # interval-join buffers, LSH bucket lists) via the shared
    # _scaled_state_width helper; st_stream_dedup folded onto it.
    ("st_session_windows", 16),
    ("st_stateful_user_totals", 16),
    ("st_stream_interval_join", 16),
    ("st_stream_lsh_neardup", 16),
    ("st_stream_dedup", 16),
    # r16 optimization round: sort-before-projection — moving the
    # final orderBy below the heavy projection stops the range
    # partitioner's boundary-sampling job from executing the
    # projection (pandas-UDF transform legs / the full text-stats
    # tree) a second time per action. Same rows, same global order.
    ("f_geodesic_spheroid", 16),
    ("f_polar_stereographic", 16),
    ("f_krovak_transform", 16),
    ("f_laea_transform", 16),
    ("f_merc_3395", 16),
    ("txt_stats", 16),
    # r16 optimization round: word_shingles/_windows_expr binds the
    # split array ONCE as a transform lambda variable (interpreted
    # higher-order exprs have no CSE; the regex split re-ran ~n+2×
    # per row) with an n>=4 slice/join build — on every
    # word_shingles-consuming row's path; streaming LSH signature
    # re-spelled as one xxhash64 pass + aggregate() fold of the k
    # affine permutations, and the stateful operator re-keyed on
    # coarse hash groups holding per-bucket dicts (semantics
    # unchanged, per-group fixed cost amortized) — on
    # st_stream_lsh_neardup's path.
    ("dd_minhash_signatures", 16),
    ("dd_ngram_jaccard_pairs", 16),
    ("dd_simhash", 16),
    ("dd_simhash_pairs", 16),
    ("dd_lsh_candidates", 16),
    ("dd_neardup_clusters", 16),
    ("dd_decontaminate", 16),
    ("st_stream_lsh_neardup", 16),
    # r16 optimization round: _k_intersects' containment fallback for
    # no-edge-crossing rows vectorized batch-wide (one even-odd pass
    # per distinct geometry part via _contains_xy_vec; verdicts
    # unchanged) — on the polygon⋈polygon exact-verify path.
    ("j_polygon_overlap_join", 16),
    # r16 optimization round: recursive-CTE walk keeps the native
    # WITH RECURSIVE surface but materializes the loop-invariant edge
    # set once (localCheckpoint temp view) and broadcast-hints the
    # per-level join — no per-iteration parquet re-scan or shuffle.
    ("d_recursive_hierarchy", 16),
    # r16 optimization round: maximal_repeated_spans hashes the window
    # token TUPLE as its group key and builds span strings only for
    # hot rows (tuple equality == joined-string equality for
    # space-free tokens; key never reaches the output).
    ("dd_maximal_spans", 16),
    # r16 optimization round: train_ivf_centroids materializes its
    # loop-invariant input once (eager localCheckpoint, freed on
    # return) — the seed scan and every Lloyd iteration re-executed
    # the corpus scan + array cast. Centroids bit-identical (the
    # checkpoint caches the same rows); sim_ivf_topk 3.73 -> 2.74s
    # median at sf0.1, variance collapsed.
    ("sim_ivf_topk", 16),
    # r16 optimization round: pre-dedup (flag, partkey) before the HLL
    # aggregate instead of mixing COUNT(DISTINCT) into it — the mixed
    # plan carried one partial HLL sketch PER DISTINCT PAIR through the
    # first shuffle. Sketch of a multiset == sketch of its distinct set
    # (idempotent register updates), so the output is frame-identical.
    ("sk_hll_bounded_error", 16),
    # r17 optimization round 2: tumbling/sliding state width derived
    # from the key space (footer ts span / slide x type bound) instead
    # of the pinned 4 — identical value locally (floor), scale-adaptive
    # at 100 TB (VERDICT r16 #3).
    ("st_tumbling_counts", 17),
    ("st_sliding_counts", 17),
    # r17: batch est-gate ported into the streaming LSH stateful
    # operator (pairs below 5/12 signature agreement never emitted;
    # candidate set equals the gated batch set bit-for-bit — parity
    # test + strict_check sf0.001/0.01, old-vs-new exceptAll 0/0 at
    # sf0.1). VERDICT r16 #1.
    ("st_stream_lsh_neardup", 17),
    # r17: span group/semi-join keys switched to the 8-byte hash path
    # (hash_only=True) — output rebuilt from tokens, row-identical at
    # sf0.1/sf1 (exceptAll both ways), strict-checked.
    ("dd_maximal_spans", 17),
    # r17: supplier-gauged broadcast hint (the s⋈n⋈r estimate exploded
    # past the gate, so the planner broadcast the fact aggregate) +
    # one shared l_partkey exchange for agg AND window min. Output
    # toPandas-equal; strict-checked at 3 SFs.
    ("q2_min_cost_supplier", 17),
    # r17: one explode instead of three (tf aggregated first and
    # checkpointed; corpus counts rolled up from tf; T from a map-only
    # word-count sum). toPandas-equal at sf0.1/sf1; strict-checked.
    ("txt_unigram_surprisal", 17),
    # r17: two filtered aggregate legs + SortMergeJoin FullOuter folded
    # into one conditional aggregation over a single fact join (the
    # dsq74 fold). toPandas-equal; strict-checked at 3 SFs.
    ("dsq78_channel_fullouter_ratio", 17),
    # r18: one MinHash-LSH core — bigint bucket keys hash the band in,
    # and batch and streaming share one verify stage. Gated candidate
    # sets exceptAll 0/0 at sf0.1; strict-checked at 3 SFs.
    ("dd_lsh_candidates", 18),
    ("dd_neardup_clusters", 18),
    ("st_stream_lsh_neardup", 18),
    # r19: block pairs from a per-row explode(sequence) instead of two
    # broadcast joins against a driver-built list (no Python-RDD scan);
    # pairs equal numpy all-pairs for 1/2/3/5 blocks.
    ("dd_embedding_neardup", 19),
    # r19: query/term relations built as Arrow LocalTableScans.
    ("txt_bm25_topk", 19),
    # r19: the fold keeps a NULL-keyed group's ship and return legs
    # apart, as the oracle's full outer join does.
    ("dsq78_channel_fullouter_ratio", 19),
    # r19: sort before the Python kernel projection (spatial_q module
    # docstring); f_geojson_scan sorts its bounded output in one
    # partition.
    ("f_spatial_point", 19),
    ("f_spatial_measures", 19),
    ("f_spatial_relations", 19),
    ("f_spatial_overlay", 19),
    ("f_geojson_scan", 19),
    ("f_geodesic_sphere", 19),
]

#: Effective manifest: explicit max-merge of the append-only pair list.
_CODE_CHANGED_IN: dict[str, int] = {}
for _n, _r in _CODE_CHANGES:
    _CODE_CHANGED_IN[_n] = max(_CODE_CHANGED_IN.get(_n, 0), _r)
del _n, _r


def _latest_green() -> dict[str, int]:
    """Latest round each row was fully green in a driver artifact.

    A green = rows_match AND schema_match AND hash_match (rows-only
    checks, where the driver records no hash, count via their own
    flags). Unreadable/foreign files are skipped, not fatal — a fresh
    clone with no artifacts simply yields an empty dict and the
    registration order stands.
    """
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    latest: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, res in data.items():
            if (
                isinstance(res, dict)
                and res.get("rows_match")
                and res.get("schema_match", True)
                and res.get("hash_match", True)
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


#: Driver certifies the first _WINDOW registry rows each round.
_WINDOW = 50
#: Starvation guard (r15 verdict #2): two rounds running, changed-code
#: flags alone exceeded the window and the same stalest-green rows
#: slipped — their official greens aged 9 rounds. At least _STALE_FLOOR
#: of the window's slots always go to the stalest group-2 rows, no
#: matter how many priority (group 0/1) rows exist; excess priority
#: rows queue immediately after the window and land next round.
_STALE_FLOOR = 6


def _ordered_names(
    names: list[str],
    latest: dict[str, int],
    changed: dict[str, int],
    window: int = _WINDOW,
    floor: int = _STALE_FLOOR,
) -> list[str]:
    """Pure ordering policy (unit-testable with synthetic inputs):
    group 0 (never green) then group 1 (changed after green) in
    registration order, then group 2 stalest-green-first — with the
    starvation floor: when groups 0+1 would overfill the window past
    ``window - floor``, the ``floor`` stalest group-2 rows take the
    window's tail slots and the excess priority rows queue right
    after."""
    reg_pos = {n: i for i, n in enumerate(names)}

    def key(name: str) -> tuple[int, int, int]:
        green = latest.get(name)
        if green is None:
            return (0, 0, reg_pos[name])
        if changed.get(name, -1) > green:
            return (1, 0, reg_pos[name])
        return (2, green, reg_pos[name])

    out = sorted(names, key=key)
    n_priority = sum(1 for n in out if key(n)[0] < 2)
    cap = window - floor
    if n_priority > cap:
        head, overflow = out[:cap], out[cap:n_priority]
        stale = out[n_priority:]
        out = head + stale[:floor] + overflow + stale[floor:]
    return out


def _rotate() -> None:
    names = _ordered_names(list(QUERIES), _latest_green(), _CODE_CHANGED_IN)
    ordered = {n: QUERIES[n] for n in names}
    QUERIES.clear()
    QUERIES.update(ordered)


_rotate()

__all__ = ["QUERIES", "QuerySpec", "query"]
