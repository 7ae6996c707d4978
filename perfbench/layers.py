"""Per-layer metrics of a traced run, computed from its spans.

Every traced run reports every name below; a layer the workload does not
call reports 0 (its spans are absent).  Span aggregates are medians over
the spans of the pass unless stated otherwise.  The layer → end-
to-end map is in ``perfbench/README.md``.
"""

from __future__ import annotations

from harness import Tracer, median

HEADLINE = (
    "q1_pricing_summary", "filter_project", "groupby_count", "lww_latest_event",
    "cdc_replay_final_state", "dedup_exact", "revenue_by_nation", "wordcount",
    "json_extract", "window_running_total", "sessionize", "text_quality", "lang_id",
    "doc_fingerprint", "token_counts", "knn_bruteforce", "minhash_lsh",
    "winnow_span_pairs", "simhash_near_dups", "lsh_knn", "embedding_near_dup",
    "embedding_near_dup_lsh", "ivf_knn", "media_features", "frame_sample",
    "corpus_curation", "asof_join", "pack_sequences", "dup_clusters",
    "stratified_sample", "shuffle_shards", "mixture_resample", "training_shards",
    "range_join", "decontaminate", "repetition_signals", "corpus_percentiles",
    "lm_perplexity", "bpe_train",
)


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def _attr(spans, key) -> list:
    return [s["attrs"][key] for s in spans if key in s["attrs"]]


def _stage(spans, key) -> list:
    return [s["stage"][key] for s in spans]


def per_layer(tr: Tracer, res: dict) -> dict:
    merges = [s for s in tr.named("lake.merge") if "plan_s" in s["attrs"]]
    runs = tr.named("tailer.run")
    reads = tr.named("lake.read")
    lookups = tr.named("lake.read_keys")
    refreshes = tr.named("incremental.refresh")
    queries = [s for s in tr.named("query") if s["attrs"].get("warm")]
    batches = res.get("batches", [])

    def merge_overhead(run):
        inside = [m for m in merges if run["start"] <= m["start"] <= run["end"]]
        return run["seconds"] - sum(m["seconds"] for m in inside)

    out = {
        "session.start_s": res["setup_parts"]["session.start_s"],
        "changelog.gen_s": res["setup_parts"].get("changelog.gen_s", 0.0),
        "tables.gen_s": res["setup_parts"].get("tables.gen_s", 0.0),
        "setup.warm_up_s": res["setup_parts"].get("warm_up_s", 0.0),
        "tailer.batches": _med(_attr(runs, "batches")),
        "tailer.rows_in": _med(_attr(runs, "rows_in")),
        "tailer.batch_s": _med(b["seconds"] for b in batches),
        "tailer.overhead_s": _med(merge_overhead(r) for r in runs),
        "lake.merge.plan_s": _med(_attr(merges, "plan_s")),
        "lake.merge.write_s": _med(_attr(merges, "write_s")),
        # only the commits that reach the threshold compact: a pass total
        "lake.merge.compact_s": float(sum(_attr(merges, "compact_s"))),
        "lake.merge.manifest_s": _med(
            m["seconds"] - m["attrs"]["plan_s"] - m["attrs"]["write_s"] - m["attrs"]["compact_s"]
            for m in merges
        ),
        "lake.merge.cpu_s": _med(_stage(merges, "cpu_s")),
        "lake.merge.gc_s": _med(_stage(merges, "gc_s")),
        "lake.merge.shuffle_write_bytes": _med(_stage(merges, "shuffle_write_bytes")),
        "lake.merge.spill_bytes": _med(_stage(merges, "spill_bytes")),
        "lake.merge.tasks": _med(_stage(merges, "tasks")),
        "lake.merge.touched_buckets": _med(_attr(merges, "touched_buckets")),
        "lake.merge.compacted_buckets": float(sum(_attr(merges, "compacted_buckets"))),
        "lake.merge.skipped": float(sum(_attr(merges, "skipped"))),
        "lake.bytes_written": _med(_attr(merges, "bytes_written")),
        "lake.manifest_bytes": _med(_attr(merges, "manifest_bytes")),
        "lake.delta_depth_max": float(max(_attr(merges, "depth_max"), default=0)),
        "lake.delta_depth_mean": _mean(_attr(merges, "depth_mean")),
        "lake.files_total": float(max(_attr(merges, "files"), default=0)),
        "lake.read.s": _med(s["seconds"] for s in reads),
        "lake.read.cpu_s": _med(_stage(reads, "cpu_s")),
        "lake.read.shuffle_bytes": _med(_stage(reads, "shuffle_write_bytes")),
        "lake.read_keys.s": _med(s["seconds"] for s in lookups),
        "lake.read_keys.cpu_s": _med(_stage(lookups, "cpu_s")),
        "lake.read_keys.files_scanned": _med(_attr(lookups, "files_scanned")),
        "lake.read_keys.pruned_ratio": _med(_attr(lookups, "pruned_ratio")),
        "incremental.refresh.s": _med(s["seconds"] for s in refreshes),
        "incremental.refresh.cpu_s": _med(_stage(refreshes, "cpu_s")),
        "incremental.refresh.shuffle_bytes": _med(_stage(refreshes, "shuffle_write_bytes")),
        "incremental.refresh.input_bytes": _med(_stage(refreshes, "input_bytes")),
    }
    for q in HEADLINE:
        mine = [s for s in queries if s["attrs"]["query"] == q]
        out[f"query.{q}.s"] = _med(s["seconds"] for s in mine)
        out[f"query.{q}.cpu_s"] = _med(_stage(mine, "cpu_s"))
    n_pass = max(len({s["attrs"]["pass"] for s in queries}), 1)
    out["query.gc_s"] = sum(_stage(queries, "gc_s")) / n_pass
    out["query.shuffle_bytes"] = sum(_stage(queries, "shuffle_write_bytes")) / n_pass
    out["query.spill_bytes"] = sum(_stage(queries, "spill_bytes")) / n_pass
    out["trace.pass_s"] = res["e2e"]["pass_s"]
    out["trace.overhead_s"] = tr.overhead_s
    out["trace.stages_unclaimed"] = sum(s.get("stages_unclaimed", 0) for s in tr.spans)
    return {k: float(v) for k, v in out.items()}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ratio") or name.endswith("depth_mean"):
        return "ratio"
    return "count"
