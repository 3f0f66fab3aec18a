"""What each per-layer metric should move, and where its value comes from.

Names, units and the workloads' "why" sentences live in BENCHMARK.json;
every result artifact embeds these targets so it explains itself."""

LFQ, CORPUS, BOTH = "lfq_workflow", "corpus_ingest", "lfq_workflow,corpus_ingest"
# steps past the volcano table run only in traced runs, outside the pass
NOT_IN_PASS = "no end-to-end metric: timed past the volcano table, outside the pass"

# per-layer metric -> (end-to-end metrics it should move, workloads it moves them on)
TARGETS = {
    "spark.build_s": ("pass_s,op_p50_s", BOTH),
    "spark.build_jobs": ("pass_s,op_p50_s", BOTH),
    "tables.open_s": ("pass_s,op_p50_s", CORPUS),
    "spark.plan_s": ("pass_s", LFQ),
    "spark.exec_s": ("pass_s,cpu_s", BOTH),
    "spark.jobs": ("pass_s,cpu_s", BOTH),
    "spark.stages": ("pass_s,cpu_s", BOTH),
    "spark.tasks": ("pass_s,cpu_s", BOTH),
    "spark.task_run_s": ("pass_s,cpu_s", BOTH),
    "spark.task_cpu_s": ("pass_s,cpu_s", BOTH),
    "spark.task_max_s": ("pass_s,cpu_s", BOTH),
    "spark.gc_s": ("pass_s,cpu_s", BOTH),
    "spark.shuffle_write_mb": ("pass_s,cpu_s", BOTH),
    "spark.spill_mb": ("pass_s,cpu_s", BOTH),
    "spark.scan_mb": ("pass_s,cpu_s", BOTH),
    "io.read_maxquant_s": ("pass_s,cpu_s,items_per_s", LFQ),
    "ops.filters_s": ("pass_s,cpu_s,items_per_s", LFQ),
    "ops.reshape_s": ("pass_s,cpu_s,items_per_s", LFQ),
    "ops.normalize_s": ("pass_s,cpu_s,items_per_s", LFQ),
    "ops.design_s": ("pass_s,cpu_s,items_per_s", LFQ),
    "ops.impute_s": (NOT_IN_PASS, LFQ),
    "stats.collapse_s": ("pass_s,cpu_s,items_per_s", LFQ),
    "stats.volcano_s": ("pass_s,cpu_s,items_per_s", LFQ),
    "stats.qvalues_s": (NOT_IN_PASS, LFQ),
    "ml.pca_s": (NOT_IN_PASS, LFQ),
    "ml.ward_s": (NOT_IN_PASS, LFQ),
    "text.annotate_s": ("pass_s,op_p50_s", CORPUS),
    "text.signatures_s": ("pass_s,op_p50_s", CORPUS),
    "text.candidates_s": ("pass_s,op_p50_s", CORPUS),
    "text.curate_s": ("pass_s,op_p50_s", CORPUS),
    "text.index_write_s": ("pass_s", CORPUS),
    "text.index_probe_s": ("pass_s,op_p50_s", CORPUS),
    "text.index_append_s": ("pass_s,op_p50_s", CORPUS),
    "text.candidate_pairs": ("pass_s,op_p50_s", CORPUS),
    "text.pair_confirm_ratio": ("pass_s,op_p50_s", CORPUS),
    "text.index_bytes_per_doc": ("alloc_mb,pass_s", CORPUS),
    "trace.overhead_s": ("pass_s (traced minus untraced)", BOTH),
}

# per-layer self times from the prefix profile: metric -> chain steps
SELF_TIME_STEPS = {
    "io.read_maxquant_s": ("io.read_maxquant",),
    "ops.filters_s": ("ops.filters", "ops.min_valid"),
    "ops.reshape_s": ("ops.reshape",),
    "ops.normalize_s": ("ops.normalize",),
    "ops.design_s": ("ops.design",),
    "ops.impute_s": ("ops.impute",),
    "stats.collapse_s": ("stats.collapse",),
    "stats.volcano_s": ("stats.volcano",),
    "stats.qvalues_s": ("stats.qvalues",),
    "ml.pca_s": ("ml.pca",),
    "ml.ward_s": ("ml.ward",),
    "text.annotate_s": ("text.annotate",),
    "text.signatures_s": ("text.signatures",),
    "text.candidates_s": ("text.candidates",),
    "text.curate_s": ("text.curate",),
}

# per-layer medians of span durations in the traced passes
SPAN_METRICS = {
    "tables.open_s": "tables.open",
    "text.index_write_s": "text.index_write",
    "text.index_probe_s": "text.index_probe",
    "text.index_append_s": "text.index_append",
}
