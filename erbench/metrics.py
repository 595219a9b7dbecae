"""Turns the harness's raw samples (result.json) into the benchmark's
metrics. End-to-end metrics come from untraced runs, per-layer metrics from
traced runs; both are defined in README.md."""
import stats

UNITS = {
    "setup_s": "s",
    "step_cpu_s": "s",
    "task_cpu_s": "s",
    "spark_jobs": "count",
    "shuffle_write_bytes": "bytes",
}

LAYER_TIMED = ("blocking", "scoring", "cc")
VERBS = ("insert", "remove", "compact")
# the slowest queries get a metric of their own; the rest are summed
NAMED_QUERIES = ("q36_er_cluster", "q35_weighted_jaccard", "q33_kde_patterns",
                 "q16_day_overlap_pairs", "q25_embed_ivf_topk", "q20_dedup_minhash_lsh",
                 "q39_lev_similarity")
# every query a traced query_heavy run makes (SparkEntry.queries but q44, q46)
BATTERY = (
    "q01_pricing_summary", "q02_filter_project", "q03_join_agg", "q04_semi_join",
    "q05_anti_join", "q06_topk_per_group", "q07_global_topn", "q08_histogram",
    "q09_distinct", "q10_union_precedence", "q11_window_lead", "q12_sessionize",
    "q13_argmax", "q14_trimmed_mean", "q15_mode_per_group", "q16_day_overlap_pairs",
    "q17_hourly_vector", "q18_blocked_pairs", "q19_dedup_exact", "q20_dedup_minhash_lsh",
    "q21_dedup_ngram_jaccard", "q22_dedup_simhash", "q23_embed_cosine_topk",
    "q24_embed_neardup", "q25_embed_ivf_topk", "q26_langid", "q27_quality_score",
    "q28_token_count", "q29_fingerprint", "q30_media_features", "q31_sessionize_dyngap",
    "q32_subsequence_match", "q33_kde_patterns", "q34_haversine", "q35_weighted_jaccard",
    "q36_er_cluster", "q37_collision_scan", "q38_hash_sample", "q39_lev_similarity",
    "q40_conflict_pairs", "q41_lcs_positional", "q42_sov_ratio", "q43_trip_completion",
    "q45_sql_view", "q47_pattern_completion", "q48_weekly_monthly")


def _layer_units():
    u = {}
    for layer in ("blocking", "scoring"):
        u.update({f"{layer}.self_s": "s", f"{layer}.task_cpu_s": "s",
                  f"{layer}.task_wait_s": "s", f"{layer}.jobs": "count",
                  f"{layer}.shuffle_write_bytes": "bytes"})
    u.update({"blocking.block_rows": "count", "blocking.hot_keys": "count",
              "blocking.candidate_pairs": "count", "scoring.pairs_scored": "count",
              "scoring.pairs_accepted": "count", "scoring.accept_ratio": "ratio"})
    u.update({"cc.self_s": "s", "cc.task_cpu_s": "s", "cc.jobs": "count",
              "cc.shuffle_write_bytes": "bytes", "cc.iterations": "count"})
    u.update({"snapshots.self_s": "s", "snapshots.commits": "count",
              "snapshots.bytes_written": "bytes", "snapshots.files_written": "count",
              "snapshots.chain_depth_max": "count", "snapshots.input_bytes": "bytes",
              "snapshots.stored_bytes_per_input_byte": "ratio"})
    for v in VERBS:
        u.update({f"verbs.{v}.p50_s": "s", f"verbs.{v}.jobs": "count",
                  f"verbs.{v}.task_cpu_s": "s"})
    u.update({"audit.p50_s": "s", "audit.jobs": "count", "audit.bridges_cut": "count"})
    u.update({"merge.p50_s": "s", "merge.jobs": "count", "merge.clusters_merged": "count"})
    u.update({"streaming.docs_added": "count", "streaming.pairs_fresh": "count"})
    u.update({f"queries.{q}_s": "s" for q in NAMED_QUERIES})
    u["queries.other_s"] = "s"
    u["q35.exploded_rows"] = "count"
    u.update({f"queries.{q}.task_cpu_s": "s" for q in BATTERY})
    return u


LAYER_UNITS = _layer_units()
UNITS.update(LAYER_UNITS)


def _op_groups(res, op):
    """Spark counters of one closed-loop call (a query pass sums its queries)."""
    g = res["groups"]
    if op["group"] in g:
        return [g[op["group"]]]
    return [v for k, v in g.items() if k.startswith(op["group"] + ".")]


def _op_sum(res, op, key):
    return sum(x[key] for x in _op_groups(res, op))


def setup_seconds(res, pre_setup, key="cpu_s"):
    """JVM and session start + median of the repeated input set-up (the
    corpus in the JVM, or the query tables before it) + the untimed
    warm-up pass, in CPU seconds (key "cpu_s") or wall seconds ("wall_s")."""
    s = res["setup"]
    data = s.get("data") or pre_setup
    return (s["session"][key] + stats.median([d[key] for d in data])
            + s.get("warmup", {}).get(key, 0.0))


def end_to_end(res, pre_setup):
    ops = res["ops"]
    return {
        "setup_s": setup_seconds(res, pre_setup),
        "step_cpu_s": stats.median([o["cpu_s"] for o in ops]),
        "task_cpu_s": stats.median([_op_sum(res, o, "task_cpu_s") for o in ops]),
        "spark_jobs": stats.median([_op_sum(res, o, "jobs") for o in ops]),
        "shuffle_write_bytes": stats.median([_op_sum(res, o, "shuffle_write_bytes") for o in ops]),
    }


def _group(res, name):
    """Spark counters of one job group (zeros for a group that ran no job)."""
    return res["groups"].get(name, {"jobs": 0, "task_cpu_s": 0.0, "task_wait_s": 0.0,
                                    "shuffle_write_bytes": 0})


def _dur(s):
    return s["end"] - s["start"]


def per_layer(workload, res):
    """Every per-layer metric (a layer this workload does not reach reads 0)
    and the two diagnostics: time no layer span covers, and the tracing
    overhead (traced wall minus the untraced wall of the same work)."""
    v = {k: 0 for k in LAYER_UNITS}
    if workload == "batch_resolve":
        diagnostics = _batch_layers(res, v)
    else:
        diagnostics = _query_layers(res, v)
    return v, diagnostics


def _batch_layers(res, v):
    spans, counts = res["spans"], res["counts"]
    selft = stats.self_times(spans)
    # the traced batch run: one span and job group per layer
    for layer in LAYER_TIMED + ("snapshots",):
        v[f"{layer}.self_s"] = sum(selft[s["id"]] for s in spans if s["name"] == layer)
    for layer in LAYER_TIMED:
        g = _group(res, layer)
        for k in ("task_cpu_s", "jobs", "shuffle_write_bytes", "task_wait_s"):
            if f"{layer}.{k}" in v:
                v[f"{layer}.{k}"] = g[k]
    for k in ("blocking.block_rows", "blocking.hot_keys", "blocking.candidate_pairs",
              "scoring.pairs_scored", "scoring.pairs_accepted", "cc.iterations"):
        v[k] = counts[k]
    v["scoring.accept_ratio"] = stats.ratio(v["scoring.pairs_accepted"],
                                            v["scoring.pairs_scored"])["value"]
    # the traced stream steps: the ingest step split between its verbs by
    # the times they ended, the retraction a verb of its own
    stream = res["stream"]
    steps = stream["steps"]
    verbs = {}
    for st in steps:
        jobs = res["step_jobs"].get(st["group"], [])
        ends = st.get("verb_ends_ms") or [("remove", st["end_ms"])]
        for name, part in stats.split_step(st["start_ms"], ends, jobs).items():
            verbs.setdefault(name, []).append(part)

    def verb_stats(name):
        parts = verbs.get(name, [])
        if not parts:
            return 0, 0, 0
        return (stats.median([p["wall_s"] for p in parts]),
                stats.median([len(p["jobs"]) for p in parts]),
                stats.median([sum(j["task_cpu_s"] for j in p["jobs"]) for p in parts]))

    for name in VERBS:
        (v[f"verbs.{name}.p50_s"], v[f"verbs.{name}.jobs"],
         v[f"verbs.{name}.task_cpu_s"]) = verb_stats(name)
    v["audit.p50_s"], v["audit.jobs"], _ = verb_stats("audit")
    v["audit.bridges_cut"] = sum(max(0, st.get("audit_cuts", 0)) for st in steps)
    v["merge.p50_s"], v["merge.jobs"], _ = verb_stats("merge")
    v["merge.clusters_merged"] = sum(max(0, st.get("merge_clusters", 0)) for st in steps)
    v["streaming.docs_added"] = sum(st.get("docs_added", 0) for st in steps)
    v["streaming.pairs_fresh"] = sum(st.get("pairs_fresh", 0) for st in steps)
    # snapshots: the traced batch run's commits, then the steps' commits from
    # the snapshot ledger and a listing of the run directory after each step
    v["snapshots.self_s"] += sum(p["wall_s"] for p in verbs.get("compact", []))
    before = [(stream["before_bytes"], stream["before_files"], stream["before_snapshots"])]
    after = before + [(st["stored_bytes"], st["stored_files"], st["snapshots"]) for st in steps]
    deltas = [tuple(max(0, y - x) for x, y in zip(a, b)) for a, b in zip(after, after[1:])]
    v["snapshots.commits"] = counts["snapshots.commits"] + sum(d[2] for d in deltas)
    v["snapshots.bytes_written"] = counts["snapshots.bytes_written"] + sum(d[0] for d in deltas)
    v["snapshots.files_written"] = counts["snapshots.files_written"] + sum(d[1] for d in deltas)
    v["snapshots.chain_depth_max"] = max(st["chain_depth"] for st in steps)
    v["snapshots.input_bytes"] = stream["input_bytes"]
    v["snapshots.stored_bytes_per_input_byte"] = stats.ratio(
        steps[-1]["stored_bytes"], stream["input_bytes"])["value"]
    batch_root = next(s for s in spans if s["name"] == "batch_resolve")
    stream_root = next(s for s in spans if s["name"] == "stream_ingest")
    return {
        "unattributed_s": {
            "batch_resolve": stats.unattributed(spans, batch_root["id"]),
            "stream_ingest": stats.unattributed(spans, stream_root["id"]),
        },
        "tracing_overhead_s": res["traced_wall_s"] - res["untraced_wall_s"],
        "traced_wall_s": res["traced_wall_s"],
        "untraced_wall_s": res["untraced_wall_s"],
    }


def _query_layers(res, v):
    spans = res["spans"]
    untraced, traced = res["ops"][0], res["ops"][-1]
    by_name = {s["name"]: s for s in spans}
    for q in NAMED_QUERIES:
        v[f"queries.{q}_s"] = _dur(by_name[q])
    v["queries.other_s"] = sum(_dur(s) for n, s in by_name.items() if n not in NAMED_QUERIES)
    for q, d in traced["queries"].items():
        v[f"queries.{q}.task_cpu_s"] = _group(res, d["group"])["task_cpu_s"]
    v["q35.exploded_rows"] = res["counts"]["q35.exploded_rows"]
    first = min(s["start"] for s in spans)
    last = max(s["end"] for s in spans)
    heavy_traced = sum(_dur(by_name[q]) for q in untraced["queries"])
    return {
        "unattributed_s": (last - first) - stats.union_length(
            [(s["start"], s["end"]) for s in spans]),
        "tracing_overhead_s": heavy_traced - untraced["wall_s"],
        "traced_wall_s": heavy_traced,
        "untraced_wall_s": untraced["wall_s"],
    }
