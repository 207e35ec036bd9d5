"""Physical-plan audit: explain key queries and check plan properties.

For each audited query we assert the properties that matter at 100 TB:
filters pushed to the parquet scan, column pruning (ReadSchema carries
only needed columns), broadcast joins for dimension-sized sides, and
WholeStageCodegen coverage. Output: a human report + FAIL lines when a
property is missing. Run: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

CHECKS = {
    # query -> list of (description, regex that must appear in the plan)
    "ccnet_lm_filter": [
        ("LM count tables broadcast to the gram stream", r"BroadcastHashJoin"),
        ("scan pruned to doc_id/text/source", r"ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
        ("partial aggregation", r"HashAggregate"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "blocklist_gate": [
        ("blocklist dimension broadcast", r"BroadcastHashJoin"),
        ("suffix explode stays JVM-side", r"Generate"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "video_metadata": [
        ("Arrow-batched kernel", r"MapInPandas"),
        ("NO shuffle (header-only probe)", r"!Exchange"),
    ],
    "image_dimensions": [
        ("Arrow-batched kernel", r"MapInPandas"),
        ("NO shuffle (header-only probe)", r"!Exchange"),
    ],
    "frame_sample_times": [
        ("JVM-side sequence explode", r"Generate"),
        ("NO shuffle", r"!Exchange"),
    ],
    "feed_parse": [
        ("item/entry explode stays JVM-side", r"Generate"),
        ("NO shuffle (per-feed parse is embarrassingly parallel)", r"!Exchange"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "cdx_fetch_extract": [
        ("span lists broadcast against archive bytes", r"BroadcastHashJoin"),
        ("index scan + slice fetch are Arrow kernels", r"MapInPandas"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF node", r"!BatchEvalPython"),
    ],
    "cdx_index": [
        ("member scan is the Arrow binaryFile kernel", r"MapInPandas"),
        ("SURT key stays JVM-side column ops", r"!BatchEvalPython"),
        ("NO shuffle after the scan (index rows are final)", r"!Exchange"),
    ],
    "warc_revisit_resolve": [
        ("WARC parse (responses + revisits) is the Arrow kernel", r"MapInPandas"),
        (
            "revisit resolution is a hash equi-join on the pointer key",
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
        ),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF node", r"!BatchEvalPython"),
    ],
    "http_transfer_decode": [
        ("WARC parse is the Arrow binaryFile kernel", r"MapInPandas"),
        ("mode/sha/length stay JVM-side", r"!BatchEvalPython"),
        ("NO shuffle", r"!Exchange"),
    ],
    "http_robots_gate": [
        ("WARC parse is the Arrow binaryFile kernel", r"MapInPandas"),
        ("compliance flags stay column ops (no join)", r"!CartesianProduct"),
        ("no Python row UDF node", r"!BatchEvalPython"),
    ],
    "warc_http_charset": [
        ("WARC parse + sniff are Arrow kernels", r"MapInPandas"),
        ("NO shuffle end-to-end", r"!Exchange"),
        ("no Python row UDF node", r"!BatchEvalPython"),
    ],
    "wat_roundtrip": [
        ("JSON lifts stay JVM-side (get_json_object)", r"!BatchEvalPython"),
        ("metadata parse is the Arrow binaryFile kernel", r"MapInPandas"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "rrf_quality_fusion": [
        ("per-signal rank windows", r"Window"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "soft404_flags": [
        ("flags compose onto the extraction kernel output", r"MapInPandas"),
        ("NO shuffle (column-op flags)", r"!Exchange"),
        ("no Python row UDF node", r"!BatchEvalPython"),
    ],
    "nfc_normalize": [
        ("Arrow-batched NFC kernel", r"MapInPandas"),
        ("NO shuffle", r"!Exchange"),
        ("no Python row UDF node", r"!BatchEvalPython"),
    ],
    "nofollow_links": [
        ("anchor explode stays JVM-side", r"Generate"),
        ("NO shuffle (per-page lift is embarrassingly parallel)", r"!Exchange"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "canonical_clusters": [
        ("one shuffle on the cluster key (window)", r"Window"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF (regexp canonical lift is JVM)", r"!BatchEvalPython"),
    ],
    "redirect_resolve": [
        # Pointer jumping: the final plan is post-checkpoint (lineage cut
        # per round), so only the loop-flag join is visible here.
        ("loop-flag membership is a hash equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "temperature_mix": [
        ("source-size partial aggregation", r"HashAggregate"),
        ("rates broadcast back for the sampling pass", r"BroadcastHashJoin"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "boilerplate_strip_host": [
        ("doc-frequency + strip are hash equi-joins", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("partial aggregation on (host, line_sha)", r"HashAggregate"),
        ("line explode stays JVM-side", r"Generate"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "extract_legacy_encoded": [
        ("ONE fused Arrow kernel (sniff+decode+extract)", r"MapInPandas"),
        # formatted explain prints each node once in the tree ("MapInPandas (3)")
        # and once in details ("(3) MapInPandas") — count details lines only.
        ("NOT two kernels — sniff is fused, not chained", r"!\(\d+\) MapInPandas[\s\S]*\(\d+\) MapInPandas"),
        ("NO shuffle end-to-end", r"!Exchange"),
        ("no per-row Python UDF", r"!BatchEvalPython"),
    ],
    "markdown_render": [
        ("Arrow-batched tokenize+classify+render kernel", r"MapInPandas"),
        ("NO shuffle (per-page render is embarrassingly parallel)", r"!Exchange"),
        ("no per-row Python UDF", r"!BatchEvalPython"),
    ],
    "charset_decode": [
        ("Arrow-batched sniff+decode kernel", r"MapInPandas"),
        ("NO shuffle (embarrassingly parallel stage)", r"!Exchange"),
        ("no per-row Python UDF", r"!BatchEvalPython"),
    ],
    "trustrank_scores": [
        ("seed membership folded in via broadcast join", r"BroadcastHashJoin"),
        ("per-iteration partial aggregation", r"HashAggregate"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "hits_scores": [
        # The per-half-round sum aggregates sit BEFORE the localCheckpoint
        # lineage cut (same situation as pagerank below), so only the final
        # score-assembly joins are visible in the returned plan.
        ("final score assembly is a hash equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "curation_v3": [
        ("dimension-sized gates broadcast", r"BroadcastHashJoin"),
        ("partial aggregation on source", r"HashAggregate"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "table_upsert_mor": [
        ("equality deletes apply as anti hash join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*LeftAnti|LeftAnti"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "q1_pricing_summary": [
        ("shipdate filter pushed to scan", r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate"),
        ("column pruning (no l_orderkey read)", r"ReadSchema: [^\n]*l_returnflag"),
        ("whole-stage codegen", r"codegen id : "),
        ("partial aggregation", r"HashAggregate"),
    ],
    "q3_shipping_priority": [
        ("customer segment filter pushed", r"PushedFilters: \[.*EqualTo\(c_mktsegment,BUILDING"),
        ("broadcast join for customer dim", r"BroadcastHashJoin"),
        ("whole-stage codegen", r"codegen id : "),
    ],
    "q5_local_supplier": [
        ("region filter pushed", r"PushedFilters: \[.*EqualTo\(r_name,ASIA"),
        ("broadcast joins", r"BroadcastHashJoin"),
    ],
    "match_customer": [
        ("point predicate pushed", r"PushedFilters: \[.*EqualTo\(c_custkey,42"),
        ("limit short-circuit present", r"CollectLimit"),
    ],
    "filter_customers": [
        ("range predicate pushed", r"PushedFilters: \[.*GreaterThan\(c_acctbal"),
    ],
    "project_parts": [
        ("column pruning to 3 cols", r"ReadSchema: struct<p_partkey:bigint,p_name:string,p_retailprice:double>"),
    ],
    "traverse_placed": [
        ("start-set pushed as In filter", r"PushedFilters: \[.*In\(o_custkey"),
    ],
    "join_placed": [
        ("key filter pushed", r"PushedFilters: \[.*LessThanOrEqual\(c_custkey,50"),
        ("hash join (broadcast or shuffled)", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
    "dedup_exact": [
        ("only doc_id+text read", r"ReadSchema: struct<doc_id:bigint,text:string>"),
        ("partial aggregation", r"HashAggregate"),
    ],
    "ann_topk_bruteforce": [
        ("query side broadcast", r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
        ("single window for top-k", r"Window"),
    ],
    "session_stats": [
        ("one shuffle on user_id", r"hashpartitioning\(user_id"),
        ("window then aggregate", r"Window"),
    ],
    "q10_returned_items": [
        ("returnflag filter pushed", r"PushedFilters: \[.*EqualTo\(l_returnflag,R"),
        ("nation dim broadcast", r"BroadcastHashJoin"),
    ],
    "blocklist_filter": [
        ("anti-join is broadcast", r"BroadcastHashJoin.*LeftAnti|BroadcastHashJoin LeftAnti"),
    ],
    "window_rank_suppliers": [
        ("single exchange on nation key", r"hashpartitioning\(s_nationkey"),
        ("rank filter present", r"rk"),
    ],
    "extract_main_text": [
        ("arrow-batched python stage", r"(MapInPandas|ArrowEvalPython)"),
        ("only url/html/doc_id scanned", r"ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>"),
    ],
    "snapshot_churn": [
        ("full-outer delta join on url", r"SortMergeJoin.*FullOuter|ShuffledHashJoin.*FullOuter"),
        ("payload hashed before the join (slim projection)", r"xxhash64"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "incremental_extract": [
        ("old side joins as slim hash dimension", r"xxhash64"),
        ("extraction kernel only after the delta filter", r"MapInPandas"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "anchor_text_agg": [
        ("arrow-batched anchor extraction", r"MapInPandas"),
        ("single hash agg on target with partials", r"HashAggregate"),
        ("one shuffle keyed on target", r"hashpartitioning\(target"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    # round-2 scale paths: the registered embedding dedup must be the
    # bucket join (a cartesian here is the 100-TB scale-killer VERDICT
    # r1 flagged), and the banded dedups must keep partial aggregation.
    "dedup_embedding_cosine": [
        ("NO cartesian product", r"!CartesianProduct"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
        ("bucket equi-join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "dedup_minhash_lsh": [
        ("NO cartesian product", r"!CartesianProduct"),
        ("signature min-aggregates partial", r"HashAggregate"),
    ],
    "dedup_minhash_salted": [
        ("NO cartesian product", r"!CartesianProduct"),
        ("hot-bucket keys broadcast", r"BroadcastHashJoin"),
        ("triangular cell explode present", r"Explode|Generate"),
    ],
    "dedup_simhash_salted": [
        ("NO cartesian product", r"!CartesianProduct"),
        ("hot-bucket keys broadcast", r"BroadcastHashJoin"),
    ],
    "dedup_lines_c4": [
        ("NO cartesian product", r"!CartesianProduct"),
        ("hot-line anti-join is a hash join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*LeftAnti|LeftAnti.*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("count partial-aggregates", r"HashAggregate"),
    ],
    "rarity_scores": [
        ("NO nested-loop except broadcast-scalar total", r"!CartesianProduct"),
        ("word-count partial agg", r"HashAggregate"),
        ("only doc_id+text read", r"ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "ann_ivf_pq_topk": [
        ("codebooks are literals: corpus never crossJoins", r"!CartesianProduct"),
        ("cell membership equi-join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "pq_codes": [
        ("assignment is one narrow scan (no join)", r"!CartesianProduct"),
        ("no per-row Python in assignment", r"!MapInPandas"),
    ],
    "ann_recall_curve": [
        ("NO cartesian between corpus sides", r"!CartesianProduct"),
        ("bucket equi-joins", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "multimodal_image_stats": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "multimodal_image_stats_gif": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "multimodal_image_stats_webp": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "multimodal_image_stats_jpeg_progressive": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "multimodal_audio_stats_flac": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "multimodal_image_stats_bmp_ico": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "multimodal_image_stats_tiff": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "asset_curation_report": [
        ("probe kernels present", r"MapInPandas"),
        ("no cartesian anywhere", r"!CartesianProduct"),
        ("partial agg before the rollup shuffle", r"partial_count"),
    ],
    "audio_probe_meta": [
        ("header walk in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "cdc_chunk_stats": [
        ("no cartesian anywhere", r"!CartesianProduct"),
        ("partial agg before the per-doc shuffle", r"partial_count"),
    ],
    "cdc_dedup": [
        ("no cartesian anywhere", r"!CartesianProduct"),
        ("chunk-hash window then doc rollup, equi-join back", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "dxf_entities_by_type": [
        ("group-code kernel in one Arrow pass", r"MapInPandas"),
        ("partial agg before the count shuffle", r"partial_count"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "pdf_real_extract": [
        ("magic-byte routing stays JVM-side", r"(?i)startswith"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "dedup_simhash": [
        ("NO cartesian product", r"!CartesianProduct"),
        ("band equi-join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "curation_pipeline": [
        # NOTE: the jaccard/CC stages run behind a localCheckpoint (lineage
        # cut), so only the post-checkpoint plan is visible here; the
        # stop-shingle prune is audited on dedup_ngram_jaccard below.
        ("NO cartesian product", r"!CartesianProduct"),
        ("keep-list semi-join", r"LeftSemi"),
    ],
    "dedup_ngram_jaccard": [
        ("NO cartesian product", r"!CartesianProduct"),
        ("stop-shingle anti-join prune present", r"LeftAnti"),
        ("pair aggregation partial", r"HashAggregate"),
    ],
    "block_comparison": [
        ("pair diff is an equi-join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "block_divergence": [
        ("no row-multiplying Expand", r"!Expand"),
        ("partial ObjectHashAggregate (map-side collect_set)", r"partial_collect_set"),
        ("no sort-based aggregate", r"!SortAggregate"),
        ("hash shuffle on name", r"hashpartitioning\(name#"),
        ("only one hash shuffle", r"!hashpartitioning[\s\S]*hashpartitioning"),
    ],
    "divergence_totals": [
        ("no row-multiplying Expand", r"!Expand"),
        ("partial ObjectHashAggregate (map-side collect_set)", r"partial_collect_set"),
        ("no sort-based aggregate", r"!SortAggregate"),
        ("hash shuffle on name", r"hashpartitioning\(name#"),
        ("only one hash shuffle", r"!hashpartitioning[\s\S]*hashpartitioning"),
    ],
    "pdf_layout_extract": [
        ("both branches arrow-batched", r"MapInPandas"),
        ("union of routed branches", r"Union"),
    ],
    "ann_lsh_multiprobe": [
        ("NO cartesian product", r"!CartesianProduct"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
        ("union of per-table bucket joins", r"Union"),
    ],
    "tfidf_top_terms": [
        ("NO cartesian on data (only scalar-count broadcast)", r"!CartesianProduct"),
        ("term-df equi-join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("partial aggregation", r"HashAggregate"),
    ],
    "binder_manifest": [
        ("single groupBy, in-aggregate ordering", r"sort_array"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "asof_last_purchase": [
        ("one window pass, no join at all", r"Window"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
    ],
    "range_join_trial_events": [
        ("bucketed equi-join (not a theta nested loop)", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "q19_or_of_ands": [
        ("part dim broadcast", r"BroadcastHashJoin"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "contamination_flags": [
        ("benchmark shingles broadcast (corpus never shuffles for the probe)", r"BroadcastHashJoin"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "containment_pairs": [
        ("fingerprint equi-join (hash family)", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("stop-fingerprint anti-join prune", r"LeftAnti"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "q2_min_cost_supplier": [
        ("p_size filter pushed", r"PushedFilters: \[.*EqualTo\(p_size,5"),
        ("dimension joins broadcast", r"BroadcastHashJoin"),
        ("correlated min as one window pass (no re-join)", r"Window"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "q8_market_share": [
        ("p_type filter pushed", r"PushedFilters: \[.*EqualTo\(p_type,ECONOMY"),
        ("dimension joins broadcast", r"BroadcastHashJoin"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "q9_product_type_profit": [
        ("p_name LIKE pushed as StringContains", r"PushedFilters: \[.*StringContains\(p_name,widget"),
        ("all dims broadcast", r"BroadcastHashJoin"),
        ("partial aggregation", r"HashAggregate"),
    ],
    "q11_important_parts": [
        ("scalar threshold is a one-row broadcast (not a cartesian shuffle)", r"BroadcastNestedLoopJoin"),
        ("partial aggregation", r"HashAggregate"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "q13_order_count_distribution": [
        ("zero-order customers kept (left outer)", r"LeftOuter"),
        ("priority exclusion pushed to orders scan", r"PushedFilters: \[.*Not\(EqualTo\(o_orderpriority"),
    ],
    "q16_supplier_part_variety": [
        ("NOT IN as broadcast anti-join", r"LeftAnti"),
        ("p_size IN pushed", r"PushedFilters: \[.*In\(p_size"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "q20_excess_shippers": [
        ("shipdate range pushed", r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate"),
        ("nested semi-join (IN subquery)", r"LeftSemi"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "q21_waiting_suppliers": [
        ("returnflag filter pushed", r"PushedFilters: \[.*EqualTo\(l_returnflag,R"),
        ("EXISTS as left-semi self-join", r"LeftSemi"),
        ("NOT EXISTS as left-anti self-join", r"LeftAnti"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "chunk_windows": [
        ("fan-out via Generate (explode), map-only", r"Generate"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO shuffle anywhere", r"!Exchange"),
    ],
    "mix_epochs": [
        ("weight table broadcast (corpus never shuffles)", r"BroadcastHashJoin"),
        ("fan-out via Generate (explode)", r"Generate"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "kmeans_clusters": [
        # centroids are driver-collected constants unrolled into least();
        # the registered plan (final assignment pass) must be a pure map
        ("assignment is narrow (no shuffle)", r"!Exchange"),
        ("no join anywhere", r"!Join"),
        ("whole-stage codegen", r"codegen id : "),
    ],
    "semdedup_survivors": [
        ("pair search is a (cluster,bucket) equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("survivor filter is a left-anti join", r"LeftAnti"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
    ],
    "dsir_importance": [
        ("bucket-ratio table broadcast (corpus never shuffles for the probe)", r"BroadcastHashJoin"),
        ("bigram fan-out via Generate (explode)", r"Generate"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "table_extract": [
        ("nested cell fan-out via Generate (explode)", r"Generate"),
        ("extraction side is join-free", r"!Join"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "length_buckets": [
        ("partial aggregation before the shuffle", r"HashAggregate"),
        ("NO join", r"!Join"),
    ],
    "compaction_plan": [
        ("window over the manifest, no join", r"!Join"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("window-based binning", r"Window"),
    ],
    "budget_alloc": [
        ("scalar weight-sum broadcast", r"(BroadcastNestedLoopJoin|BroadcastHashJoin)"),
        ("NO shuffle of the dimension beyond the agg", r"HashAggregate"),
    ],
    "script_profile": [
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
    "token_counts_multilingual": [
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
    "lang_id_script": [
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
    "gif_animation_stats": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "webp_animation_stats": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "apng_animation_stats": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "audio_fingerprint_dups": [
        ("fingerprinting is one Arrow pass", r"MapInPandas"),
        ("cluster rollup partial-aggregates", r"HashAggregate"),
        ("cluster join is a hash equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "community_labels": [
        # every round ends in a localCheckpoint lineage cut (same
        # situation as hits/pagerank), so the returned plan is the final
        # label scan; the per-round join+aggregate shape is pinned by
        # the operator's code and the value oracle
        ("final labels come off the checkpointed round", r"ExistingRDD"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "pdf_encrypted_extract": [
        ("decrypt+parse is one Arrow pass", r"MapInPandas"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "pdf_objstm_extract": [
        ("expansion+parse is one Arrow pass", r"MapInPandas"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "mp4_sample_table": [
        ("sample-table walk is one Arrow pass", r"MapInPandas"),
        ("NO shuffle (per-asset explode is local)", r"!Exchange hashpartitioning"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "sitemap_media": [
        ("media blocks explode JVM-side", r"Generate"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "image_exif_meta": [
        ("EXIF walk is one Arrow pass", r"MapInPandas"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
    "image_gps_redact": [
        ("parse->scrub->reparse is ONE Arrow pass", r"MapInPandas"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
    "meta_refresh_targets": [
        ("directive lift + RFC3986 resolve stay JVM-side", r"!BatchEvalPython"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
        ("NO join (resolution is column math)", r"!Join"),
    ],
    "multimodal_image_stats_png_palette": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "multimodal_image_stats_png16": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "multimodal_image_stats_cmyk": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "image_autorotate_stats": [
        ("decode+orient runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "multimodal_audio_stats_24bit": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "audio_id3_meta": [
        ("tag walk is one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "audio_tags_meta": [
        ("cross-container tag walk is one Arrow pass", r"MapInPandas"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
    "svg_asset_meta": [
        ("regexp lifts stay JVM-side", r"!BatchEvalPython"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
        ("NO join", r"!Join"),
    ],
    "srcset_assets": [
        ("candidate explode is JVM-side", r"Generate"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "link_icon_assets": [
        ("link-tag explode is JVM-side", r"Generate"),
        ("one partition-local window for document order", r"Window"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "css_asset_refs": [
        ("ref explode is JVM-side", r"Generate"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "photo_curation_report": [
        # two MapInPandas appear by design: the synthetic-corpus
        # generator is itself an Arrow kernel; the report pass is one
        ("decode+EXIF+orient+scrub is ONE Arrow pass", r"MapInPandas"),
        ("per-make rollup partial-aggregates", r"HashAggregate"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "subtitle_cues": [
        ("cue blocks explode JVM-side", r"Generate"),
        ("no window function (block_pos from posexplode)", r"!Window"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "hls_playlist": [
        ("tag->URI pairing is a hash equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("no Python row UDF", r"!BatchEvalPython"),
    ],
    "caption_keyframe_align": [
        ("cue/keyframe match is an asset-keyed equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("count partial-aggregates", r"HashAggregate"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("sample walk is the Arrow kernel", r"MapInPandas"),
    ],
    "multimodal_image_stats_bmp_rle": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "multimodal_audio_stats_g711": [
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
    "table_schema_evolution": [
        ("no cartesian anywhere", r"!CartesianProduct"),
        ("no join: projection is per-file select, not a data join", r"!Join"),
        ("whole-stage codegen aggregation", r"codegen id : "),
    ],
    "table_pruned_scan": [
        ("range filter pushed into the parquet scan", r"PushedFilters: \[IsNotNull\(doc_id\), GreaterThanOrEqual\(doc_id,100\), LessThanOrEqual\(doc_id,180\)"),
        ("file-granular pruning left ONE file to scan", r"InMemoryFileIndex \[[^\]]*1 entries"),
        ("NO shuffle: metadata planning + narrow scan", r"!Exchange"),
    ],
    "registrable_domains": [
        ("PSL rule dimension broadcast to both matchers", r"BroadcastHashJoin"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "resolve_references": [
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
    "resolved_links": [
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("NO join", r"!Join"),
    ],
    "domain_quality_report": [
        ("PSL dimension broadcast", r"BroadcastHashJoin"),
        ("single partial-agg rollup", r"HashAggregate"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "recrawl_plan": [
        ("lastmod dimension joins by url equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("NO window", r"!Window"),
    ],
    "frontier_schedule": [
        ("host-partitioned window (politeness key)", r"Window"),
        ("delay dimension joins by host equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "robots_gate": [
        ("rule join is host-keyed (equi + prefix filter, no theta-only join)", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "phrase_hits": [
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
    "shard_assign": [
        ("pure column expression: NO shuffle", r"!Exchange"),
        ("no explode needed (unrolled array_max)", r"!Generate"),
        ("NO join", r"!Join"),
    ],
    "curation_v2": [
        ("dedup survivor filter is a semi-join", r"LeftSemi"),
        ("score joins back on the id key", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
    ],
    "template_ngrams": [
        ("host page-count dimension equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("partial aggregation", r"HashAggregate"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "edit_verify": [
        ("pairs broadcast (corpus never shuffles)", r"BroadcastHashJoin"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
    ],
    "normalize_mojibake": [
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen (replace chain fused)", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
    "compliance_flags": [
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("NO join", r"!Join"),
        ("whole-stage codegen", r"codegen id : "),
    ],
    "jsonld_extract": [
        ("blob fan-out via Generate (explode)", r"Generate"),
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("NO join", r"!Join"),
    ],
    "classifier_scores": [
        ("feature fan-out via Generate (explode)", r"Generate"),
        ("partial aggregation before the shuffle", r"HashAggregate"),
        ("default weight path has NO join at all", r"!Join"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "bm25_topk": [
        ("df dimension broadcast (corpus side never re-shuffles)", r"BroadcastHashJoin"),
        ("global top-k is TakeOrdered, not a full sort", r"TakeOrderedAndProject"),
        ("NO cartesian product", r"!CartesianProduct"),
    ],
    "robots_gate_wildcard": [
        ("rule join stays a host equi-join (join keyed on host)",
         r"Left keys \[1\]: \[host#"),
        ("wildcard match rides as the join condition, not the key",
         r"Join condition: CASE WHEN _wild.* THEN RLIKE"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("NO nested-loop join (wildcard match is a join filter, not the key)",
         r"!BroadcastNestedLoopJoin"),
    ],
    "url_canonicalize": [
        ("fully narrow plan: no shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
    "sitemap_parse": [
        # tree lines render as '+- Exchange (n)': two tree occurrences
        # means two shuffles, one is the per-host assembly groupBy
        ("one shuffle only (the per-host assembly groupBy; parse side narrow)",
         r"!\+- Exchange[\s\S]*\+- Exchange"),
        ("partial aggregation before the host shuffle", r"HashAggregate|ObjectHashAggregate"),
        ("NO join", r"!Join"),
    ],
    "dedup_window_stats": [
        ("window-hash groupBy/window keyed on wh (uniform hash key)", r"\[wh#"),
        ("NO cartesian product", r"!CartesianProduct"),
        # (the only nested-loop in this plan is the corpus CONSTRUCTION's
        # broadcast-scalar template crossJoin — one row, test fixture only)
    ],
    "dedup_window_removal": [
        ("keeper selection is a row_number window, not a self-join", r"row_number"),
        ("NO cartesian product", r"!CartesianProduct"),
        ("position anti-join is a left-anti equi-join", r"LeftAnti"),
    ],
    "embedding_quantize": [
        ("fully narrow plan: no shuffle at all", r"!\+- Exchange"),
        ("NO join", r"!Join"),
        ("only vec_id+embedding read", r"ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
    ],
    "pii_scan": [
        ("fully narrow plan: no shuffle at all", r"!\+- Exchange"),
        ("NO join", r"!Join"),
        ("whole-stage codegen", r"codegen id : "),
    ],
    "hll_sketch": [
        ("one partial aggregation (map-side combine)", r"HashAggregate"),
        ("NO join", r"!Join"),
        ("only doc_id+source read", r"ReadSchema: struct<doc_id:bigint,source:string>"),
    ],
    "kmv_distinct": [
        ("per-group k-cut is a window, not a self-join", r"row_number"),
        ("NO join", r"!Join"),
        ("partial aggregation", r"HashAggregate"),
    ],
    "image_dhash": [
        ("Arrow-batched python kernel (not per-row UDF)", r"MapInPandas"),
        ("NO join", r"!Join"),
        ("NO shuffle", r"!\+- Exchange"),
    ],
    "image_neardup_pairs": [
        ("banded equi-join, never cartesian", r"!CartesianProduct"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
        ("hamming verify via bit_count", r"bit_count"),
    ],
    "cms_heavyhitters": [
        ("probe side broadcast to the tiny sketch", r"BroadcastHashJoin"),
        ("NO cartesian", r"!CartesianProduct"),
        ("partial aggregation", r"HashAggregate"),
    ],
    "length_quantiles": [
        ("NO join (sketch + window only)", r"!Join"),
        ("only source+n_chars read", r"ReadSchema: struct<source:string,n_chars:bigint>"),
        ("partial aggregation", r"HashAggregate"),
    ],
    "corpus_report": [
        ("pruned to text+source only (id unused, dropped)", r"ReadSchema: struct<text:string,source:string>"),
        ("dimension-sized joins stay broadcast", r"!SortMergeJoin"),
        ("NO cartesian", r"!CartesianProduct"),
    ],
    "bpe_encode_tokens": [
        ("kernel over the distinct vocabulary", r"MapInPandas"),
        ("token dimension joined broadcast", r"BroadcastHashJoin"),
        ("NO cartesian", r"!CartesianProduct"),
    ],
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from finetoo_sp_spark import contract
    from finetoo_sp_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE re-plans at runtime and hides codegen annotation in pre-execution
    # explain output; disable it for static plan inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    qs = contract.queries()
    failures = 0
    for name, checks in CHECKS.items():
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        print(f"\n=== {name} ===")
        for desc, pat in checks:
            if pat.startswith("!"):  # negative check: pattern must be absent
                ok = re.search(pat[1:], plan) is None
            else:
                ok = re.search(pat, plan) is not None
            print(f"  {'ok  ' if ok else 'FAIL'} {desc}")
            if not ok:
                failures += 1
                if "-v" in sys.argv:
                    print(plan)
    print(f"\n{failures} plan-property failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
