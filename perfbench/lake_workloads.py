"""The lake workload ``tail_serve``: the CLI's ``tail`` drains a seeded
changelog into an empty lake, then the lake serves a derived view, key
lookups and a full read.

It drives only the engine's public calls, from one closed-loop client
thread, and checks the lake against the DuckDB oracle after the timed
region.  Like a ``run.py tail`` process, the pass starts on a fresh
session, so the engine's first-call costs fall inside it.
"""

from __future__ import annotations

import json
import pathlib
import time
from dataclasses import dataclass

import numpy as np

import harness
import oracles
from harness import Tracer, median, tail

NUM_BUCKETS = 32
HOT_KEYS = 4  # changelog.gen_events_pandas default n_hot


@dataclass(frozen=True)
class LakeSize:
    tail_batches: int  # micro-batches the tailer drains into the empty lake
    chunk_events: int  # events per changelog file (4 files make a micro-batch)
    lookups: int  # key lookups in one pass
    keys_per_lookup: int


SIZES = {
    # 8 micro-batches: the 8th commit reaches lake.merge's compaction
    # threshold (auto_compact_deltas=8), so every pass compacts and the
    # reads that follow see the deepest delta stack the policy allows
    "bench": LakeSize(tail_batches=8, chunk_events=625, lookups=4, keys_per_lookup=4),
    "tiny": LakeSize(tail_batches=2, chunk_events=250, lookups=2, keys_per_lookup=3),
}


def _gen_changelog(out: pathlib.Path, n_events: int, chunk: int, seed: int) -> list[str]:
    """bench.py's changelog shape: 60/30/10 insert/update/delete, 5% of
    events on hot keys, up to 64 tokens, one document per ten events."""
    from investigraph_etl_spark.changelog import write_changelog

    harness.fresh_dir(out)
    return write_changelog(
        str(out),
        n_events,
        chunk_size=chunk,
        seed=seed,
        n_docs=max(n_events // 10, 100),
        skew_frac=0.05,
        max_tok=64,
    )


def _lake_files(root: pathlib.Path) -> dict[str, int]:
    return {str(p): p.stat().st_size for p in root.rglob("*") if p.is_file()}


def _shape(lake) -> dict:
    snap = lake.snapshot()
    deltas = snap.get("deltas", {})
    depths = [len(deltas.get(str(b), [])) for b in range(lake.num_buckets)]
    files = sum(len(f) for f in snap["buckets"].values()) + sum(
        len(f) for ds in deltas.values() for f in ds
    )
    return {"depth_max": max(depths), "depth_mean": sum(depths) / len(depths), "files": files}


class TimedLake:
    """The lake handed to ``tail_changelog``: forwards every attribute and
    times ``merge``.  Traced, each merge span also records the commit's
    counts, the table shape after it, and the bytes it wrote."""

    def __init__(self, lake, tr: Tracer):
        self._lake = lake
        self._tr = tr
        self.commit_s: list[float] = []

    def __getattr__(self, name):
        return getattr(self._lake, name)

    def merge(self, batch, batch_id, **kw):
        tr, lake = self._tr, self._lake
        if tr.enabled:
            with tr.bookkeeping():
                before = _lake_files(lake.root)
        # runs on the streaming query's thread, which keeps its own job group
        with tr.span("lake.merge", tag_jobs=False) as a:
            t0 = time.perf_counter()
            res = lake.merge(batch, batch_id, **kw)
            self.commit_s.append(time.perf_counter() - t0)
        if tr.enabled:
            with tr.bookkeeping():
                new = {p: s for p, s in _lake_files(lake.root).items() if before.get(p) != s}
                t = res.get("timings", {})
                a.update(
                    plan_s=t.get("plan_sec", 0.0),
                    write_s=t.get("write_sec", 0.0),
                    compact_s=t.get("compact_sec", 0.0),
                    touched_buckets=res.get("touched_buckets") or 0,
                    compacted_buckets=res.get("compacted_buckets") or 0,
                    skipped=int(bool(res.get("skipped"))),
                    bytes_written=sum(s for p, s in new.items() if "/data/" in p),
                    manifest_bytes=sum(s for p, s in new.items() if "/manifests/" in p),
                    **_shape(lake),
                )
        return res


def _draw_keys(rng, k: int, n_docs: int, latest: list[str]) -> list[str]:
    """One hot key, one key of the latest commit, the rest uniform."""
    keys = {f"doc-{int(rng.integers(HOT_KEYS)):08d}", latest[int(rng.integers(len(latest)))]}
    while len(keys) < k:
        keys.add(f"doc-{int(rng.integers(n_docs)):08d}")
    return sorted(keys)


def _inject(spark, lake, fault: str):
    """Damage the finished lake so the final-state gate must notice:
    ``drop_commit`` rolls the version pointer back over the last commit;
    ``corrupt_row`` rewrites one live row of the last commit's files."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from investigraph_etl_spark.sources.lake import HashLakeTable

    if fault == "drop_commit":
        (lake.root / "_latest").write_text(str(lake.version - 1))
    elif fault == "corrupt_row":
        for f in sorted((lake.root / "data" / f"c{lake.version:06d}").rglob("*.parquet")):
            t = pq.read_table(f)
            live = pc.invert(t.column("_deleted")).to_pylist()
            if True in live:
                i = live.index(True)
                tokens = t.column("tokens").to_pylist()
                tokens[i] = tokens[i] + [7]
                col = t.schema.get_field_index("tokens")
                field = t.schema.field(col)
                pq.write_table(t.set_column(col, field, pa.array(tokens, field.type)), f)
                # as if the engine had written the wrong value: no stale checksum
                f.with_name(f".{f.name}.crc").unlink(missing_ok=True)
                break
    else:
        raise harness.BenchError(f"unknown fault {fault!r}")
    return HashLakeTable(spark, str(lake.root))


def tail_serve(spark, tr: Tracer, seed: int, size: LakeSize, work: pathlib.Path, inject=None) -> dict:
    import pyarrow.parquet as pq

    from investigraph_etl_spark.operators.incremental import DerivedAggTable
    from investigraph_etl_spark.sources.lake import HashLakeTable
    from investigraph_etl_spark.streaming.tailer import tail_changelog, target_schema

    chunk = size.chunk_events
    # tail_changelog's default max_files_per_trigger is 4 files a batch
    n_files = 4 * size.tail_batches
    n_events = n_files * chunk
    n_docs = max(n_events // 10, 100)
    log_dir = work / "changelog"

    t0 = time.perf_counter()
    files = _gen_changelog(log_dir, n_events, chunk, seed)
    gen_s = time.perf_counter() - t0
    latest = pq.read_table(files[-1], columns=["doc_id"]).column("doc_id").to_pylist()
    rng = np.random.default_rng(seed)

    lake = TimedLake(
        HashLakeTable.create(spark, str(harness.fresh_dir(work / "lake")), target_schema(), num_buckets=NUM_BUCKETS),
        tr,
    )
    view = DerivedAggTable(spark, str(harness.fresh_dir(work / "view")), ["source"], sum_cols={"n_tok": "n_tok"})
    mlog = work / "tail.jsonl"
    lookup_s: list[float] = []
    lookups: list[tuple] = []  # (keys, rows)
    rss = harness.PeakRss(spark)
    t0 = time.time()
    with tr.span("tailer.run", tag_jobs=False) as a:
        # the call `run.py tail` makes: every policy argument at its default
        q = tail_changelog(spark, str(log_dir), lake, str(work / "ckpt"), metrics_path=str(mlog))
        q.awaitTermination()
    t_tail = time.time()
    batches = [json.loads(line) for line in mlog.read_text().splitlines()]
    a.update(batches=len(batches), rows_in=sum(b["rows_in"] or 0 for b in batches))
    # a view refreshed from a cron: one catch-up over every tailed commit
    with tr.span("incremental.refresh"):
        t = time.perf_counter()
        view.refresh(lake._lake)
        feed_s = time.perf_counter() - t

    def lookup():
        keys = _draw_keys(rng, size.keys_per_lookup, n_docs, latest)
        with tr.span("lake.read_keys") as a:
            t = time.perf_counter()
            df = lake.read_keys(keys)
            rows = df.collect()
            lookup_s.append(time.perf_counter() - t)
        if tr.enabled:
            with tr.bookkeeping():
                scanned = len(df.inputFiles())
                total = _shape(lake._lake)["files"]
            a.update(files_scanned=scanned, pruned_ratio=1.0 - scanned / total)
        lookups.append((keys, rows))

    for _ in range(size.lookups):
        lookup()
    with tr.span("lake.read"):
        t = time.perf_counter()
        lake.read().write.format("noop").mode("overwrite").save()
        read_s = time.perf_counter() - t
    t1 = time.time()
    peak_rss_mb = rss.read_mb()
    tr.ledger.refresh()

    final = _inject(spark, lake._lake, inject) if inject else lake._lake
    commit_s = lake.commit_s
    attempted = len(commit_s) + 1 + len(lookups) + 1
    failed = 0
    # gate 1: the tailer saw every event exactly once
    rows_in = sum(b["rows_in"] or 0 for b in batches)
    failed += rows_in != n_events
    # gate 2: the lake equals LWW over the changelog.  The live state is
    # exported once; the export is also the base of the storage ratio.
    export = work / "live-export"
    final.read().write.mode("overwrite").parquet(str(export))
    live = pq.read_table(export).to_pylist()
    want = oracles.lww_state(files)
    bad = oracles.diff_count(oracles.lake_rows(live), want)
    failed += bad > 0
    stored = harness.dir_bytes(final.root) / harness.dir_bytes(export)
    # gate 3: every lookup equals the oracle for its keys
    bad_lookups = sum(
        oracles.diff_count(oracles.lake_rows(rows), oracles.lww_state(files, keys=keys)) > 0
        for keys, rows in lookups
    )
    failed += bad_lookups
    # gate 4: the derived view equals a group-by over the live rows
    view_rows = {v["source"]: (int(v["n_rows"]), int(v["n_tok"] or 0)) for v in view.state().collect() if v["n_rows"]}
    expect_view: dict = {}
    for row in live:
        c, s = expect_view.get(row["source"], (0, 0))
        expect_view[row["source"]] = (c + 1, s + (row["n_tok"] or 0))
    failed += view_rows != expect_view

    c_tail, c_pct, c_n = tail(commit_s)
    l_tail, l_pct, l_n = tail(lookup_s)
    return {
        "attempted": attempted,
        "failed": failed,
        "gate": {
            "tail_rows_in": rows_in,
            "lake_rows": len(live),
            "oracle_rows": len(want),
            "mismatched_keys": bad,
            "lookups": len(lookups),
            "bad_lookups": bad_lookups,
            "view_ok": view_rows == expect_view,
        },
        "setup_parts": {"changelog.gen_s": gen_s},
        "e2e": {
            "pass_s": t1 - t0,
            "cpu_s": tr.ledger.totals(t0, t1)["cpu_s"],
            "op_p50_s": median(commit_s),
            "peak_rss_mb": peak_rss_mb,
        },
        "op": {"name": "commit", "tail_pct": c_pct, "samples": c_n},
        "extra": {
            "ingest_events_per_s": (n_events / (t_tail - t0), "1/s"),
            "commit_p50_s": (median(commit_s), "s"),
            f"commit_tail_s(p{c_pct:.0f},n={c_n})": (c_tail, "s"),
            "lookup_p50_s": (median(lookup_s), "s"),
            f"lookup_tail_s(p{l_pct:.0f},n={l_n})": (l_tail, "s"),
            "feed_s": (feed_s, "s"),
            "read_full_s": (read_s, "s"),
            "stored_bytes_per_live_byte": (stored, "ratio"),
        },
        "batches": batches,
    }
