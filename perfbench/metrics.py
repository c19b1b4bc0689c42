"""Metric names, the percentile helper, and the turning of one run's raw
measurements into the metrics run.py prints."""
import re
import statistics

# End-to-end metrics: every workload reports every one of them.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("items_per_s", "1/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
    ("cpu_us_per_item", "us", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

# The query suite, one ops.<query>_s per-layer metric each.
QUERIES = [
    "q1_pricing_summary", "q2_revenue_by_nation", "q3_top_parts_per_brand",
    "q4_latest_event_per_user", "q5_semi_join", "q6_anti_join", "q7_dedup_exact",
    "q8_text_stats", "q9_event_window_agg", "q10_lang_id", "q11_quality_score",
    "q12_token_count", "q13_fingerprint", "q14_ngram_jaccard", "q15_minhash_lsh",
    "q16_simhash", "q17_embedding_neardup", "q18_ann_bruteforce", "q19_ann_lsh",
    "q20_rle", "q21_asof_join", "q22_range_join", "q23_closure", "q24_tag_diff",
    "q25_bitmask", "q26_geo", "q27_cdc_lww", "q28_media_features",
    "q29_best_match_join", "q30_jsonl_export", "q31_tag_mask", "q32_geojson_tags",
    "q33_rep_point", "q34_license_filter", "q35_hierarchical_cells", "q36_rollup",
    "q37_dedup_clusters", "q38_ann_ivf", "q39_redact", "q40_doc_freq",
    "q41_tfidf_topk", "q42_stratified_sample", "q43_length_quantiles",
    "q44_decontaminate", "q45_repetition", "q46_hist_quantiles", "q47_dup_spans",
    "q48_seq_pack", "q49_kmv_distinct", "q50_weighted_sample", "q51_line_dedup",
    "q52_funnel", "q53_unicode_clean", "q54_ann_recall",
]

# Workload-level figures, measured untraced inside the traced run.
WORKLOAD_FIGURES = [
    ("backfill_events_per_s", "events/s", "higher"),
    ("backfill_1c_events_per_s", "events/s", "higher"),
    ("scaling_eff_1to4", "ratio", "higher"),
    ("epoch_p50_s", "s", "lower"),
    ("incr_events_per_s", "events/s", "higher"),
    ("write_amp", "ratio", "lower"),
    ("live_bytes_per_row", "B/row", "lower"),
    ("lookup_p50_ms", "ms", "lower"),
    ("lookup_tail_ms", "ms", "lower"),
    ("lookup_tail_pct", "%", "lower"),
    ("lookup_tail_beyond", "count", "higher"),
    ("cdc_read_rows_per_s", "rows/s", "higher"),
    ("scan_rows_per_s", "rows/s", "higher"),
    ("error_rate", "ratio", "lower"),
]

# Per-layer metrics from the traced run, named after the modules.
LAYERS = [
    ("gen.write_s", "s", "lower"),
    ("gen.fold_s", "s", "lower"),
    ("ingest.list_ms", "ms", "lower"),
    ("ingest.parse_s", "s", "lower"),
    ("ingest.parse_cpu_s", "s", "lower"),
    ("merge.apply_s", "s", "lower"),
    ("merge.cpu_s", "s", "lower"),
    ("merge.gc_s", "s", "lower"),
    ("merge.input_mb", "MB", "lower"),
    ("merge.output_mb", "MB", "lower"),
    ("merge.shuffle_write_mb", "MB", "lower"),
    ("merge.shuffle_records", "count", "lower"),
    ("merge.spill_mb", "MB", "lower"),
    ("merge.tasks", "count", "lower"),
    ("merge.stages", "count", "lower"),
    ("merge.task_skew", "ratio", "lower"),
    ("merge.events_in", "count", "higher"),
    ("merge.keys_written", "count", "lower"),
    ("merge.tombstones_written", "count", "lower"),
    ("merge.buckets_touched", "count", "lower"),
    ("merge.quarantined", "count", "lower"),
    ("merge.shuffle_records_per_event", "ratio", "lower"),
    ("merge.keys_per_event", "ratio", "lower"),
    ("merge.cpu_s_per_mevent", "s", "lower"),
    ("lake.snapshot_ms", "ms", "lower"),
    ("lake.files_live", "count", "lower"),
    ("lake.files_written", "count", "lower"),
    ("lake.bytes_written_mb", "MB", "lower"),
    ("lake.verify_s", "s", "lower"),
    ("dsv2.lookup_plan_ms", "ms", "lower"),
    ("dsv2.lookup_exec_ms", "ms", "lower"),
    ("dsv2.lookup_tasks", "count", "lower"),
    ("dsv2.rows_examined_per_row", "ratio", "lower"),
    ("dsv2.cdc_read_cpu_s", "s", "lower"),
    ("dsv2.cdc_read_input_mb", "MB", "lower"),
    ("dsv2.scan_cpu_s", "s", "lower"),
    ("dsv2.scan_input_mb", "MB", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]

# The query suite, measured in the traced cdc_backfill run.
OPS_LAYERS = [
    ("queries_total_s", "s", "lower"),
    ("ops.plan_s", "s", "lower"),
    ("ops.codegen_s", "s", "lower"),
    ("ops.exec_s", "s", "lower"),
    ("ops.cpu_s", "s", "lower"),
    ("ops.shuffle_mb", "MB", "lower"),
] + [(f"ops.{q}_s", "s", "lower") for q in QUERIES]

PER_LAYER = WORKLOAD_FIGURES + LAYERS + OPS_LAYERS


NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# A failed op misses every latency limit: it sorts above every real one.
FAILED = float("inf")
# What a percentile that lands on a failed op is reported as (ms).
FAILED_MS = 1e9


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def tail_percentile(samples, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (percentile, value, samples_beyond), or None when there are not
    more than `beyond` samples. The value is the sample at that rank of the
    ascending order; the percentile is the share of samples at or below it.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    k = n - 1 - beyond
    return 100.0 * (k + 1) / n, xs[k], n - 1 - k


def _lat_ms(ops):
    return [o["s"] * 1e3 if o["ok"] else FAILED for o in ops]


def _finite(v):
    return FAILED_MS if v == FAILED else v


def _rate(ops):
    """Items of the ops that passed ÷ seconds of all ops."""
    secs = sum(o["s"] for o in ops)
    items = sum(o["items"] for o in ops if o["ok"])
    return items / secs if secs > 0 else 0.0


def _median_rate(ops):
    """Median over repetitions of one op of items/s; a failed rep is 0."""
    rates = [o["items"] / o["s"] if o["ok"] and o["s"] > 0 else 0.0 for o in ops]
    return statistics.median(rates) if rates else 0.0


def summarize(workload, res, extra_failed=0):
    """Metrics of one run from the JVM's raw result.

    `res` holds the untraced and traced ops the JVM timed; end-to-end
    numbers use untraced ops only. Returns (end_to_end, figures, failed,
    attempted): two {name: value} dicts and the op counts.
    """
    ops = [o for o in res["ops"] if not o["traced"]]
    kind = lambda k: [o for o in ops if o["kind"] == k]
    main = kind({"cdc_backfill": "replay", "cdc_incremental": "epoch"}[workload])
    items_ok = sum(o["items"] for o in main if o["ok"])
    cpu = sum(o["cpu_s"] for o in main)
    setup = statistics.median(res["setup_s"]) + res["figures"].get("prep_s", 0.0)
    # backfill reps repeat one replay: their median resists the slow first rep
    rate = _median_rate if workload == "cdc_backfill" else _rate
    e2e = {
        "setup_s": setup,
        "items_per_s": rate(main),
        "op_p50_ms": _finite(statistics.median(_lat_ms(main))) if main else FAILED_MS,
        "cpu_us_per_item": cpu / items_ok * 1e6 if items_ok else FAILED_MS,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    fig = {name: 0.0 for name, _, _ in WORKLOAD_FIGURES}
    if workload == "cdc_backfill":
        four, one = _median_rate(kind("replay")), _median_rate(kind("replay_1c"))
        fig["backfill_events_per_s"] = four
        fig["backfill_1c_events_per_s"] = one
        fig["scaling_eff_1to4"] = four / one / 4.0 if one > 0 else 0.0
    else:
        ep = kind("epoch")
        fig["epoch_p50_s"] = _finite(statistics.median(_lat_ms(ep))) / 1e3 if ep else 0.0
        fig["incr_events_per_s"] = _rate(ep)
        fig["write_amp"] = res["figures"].get("write_amp", 0.0)
        fig["live_bytes_per_row"] = res["figures"].get("live_bytes_per_row", 0.0)
        lat = _lat_ms(kind("lookup"))
        if lat:
            fig["lookup_p50_ms"] = _finite(statistics.median(lat))
        tail = tail_percentile(lat)
        if tail:
            fig["lookup_tail_pct"], v, fig["lookup_tail_beyond"] = tail
            fig["lookup_tail_ms"] = _finite(v)
        fig["cdc_read_rows_per_s"] = _rate(kind("cdc_read"))
        fig["scan_rows_per_s"] = _rate(kind("scan"))
    failed = sum(1 for o in res["ops"] if not o["ok"]) + extra_failed
    attempted = max(1, len(res["ops"]) + extra_failed)
    fig["error_rate"] = failed / attempted
    return e2e, fig, failed, attempted
