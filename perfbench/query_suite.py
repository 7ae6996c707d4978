"""The ``query_suite`` workload: the 39 headline queries of
``__spark_entry__.queries()`` over synthetic tables (``tables.py``).

One session runs a cold pass that collects every result and checks it
against the query's DuckDB ``oracle_sql()`` twin where one exists, then a
fixed number of warm passes to the ``noop`` sink, which are timed; the
end-to-end figures are medians over the warm passes.  The suite never
touches the lake.
"""

from __future__ import annotations

import pathlib
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import duckdb

import harness
import oracles
import tables
from harness import Tracer, median, tail
from layers import HEADLINE


# The tables do not follow --seed.  Several oracles of approximate queries
# (lsh_knn, the LSH near-duplicate families) are exact only while the
# gate configuration's candidate set covers the true answer, which holds
# for fixed data, as it does for the repository's test data (seed 42).
TABLE_SEED = 42


@dataclass(frozen=True)
class SuiteSize:
    sf: float
    warm_passes: int


SIZES = {
    # A warm pass takes ~15 s on 4 cores, mostly per-query planning and
    # scheduling, and adds that to every run (~75 s with two passes).
    # sf 0.001 would save almost nothing: it keeps the 500 documents.
    "bench": SuiteSize(sf=0.01, warm_passes=2),
    "tiny": SuiteSize(sf=0.001, warm_passes=1),
}


def _oracle_db(data: pathlib.Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for p in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con


def _corrupt(df):
    """One numeric cell off by one: the gate must flag the query."""
    df = df.copy()
    col = next(i for i, t in enumerate(df.dtypes) if t.kind in "if")
    df.iloc[0, col] += 1
    return df


def run(spark, tr: Tracer, size: SuiteSize, work: pathlib.Path, inject=None) -> dict:
    import __spark_entry__ as entry

    data = work / "tables"
    t0 = time.perf_counter()
    tables.write(data, size.sf, TABLE_SEED)
    gen_s = time.perf_counter() - t0

    qs, oracle_sql = entry.queries(), entry.oracle_sql()
    sf_dir = str(data)
    con = _oracle_db(data)

    def check(name: str) -> str | None:
        got = qs[name](spark, sf_dir).toPandas()
        if inject == "corrupt_result" and name == HEADLINE[0]:
            got = _corrupt(got)
        if name not in oracle_sql:
            return None if len(got) else "no rows"
        with con.cursor() as cur:
            return oracles.frames_match(got, cur.execute(oracle_sql[name]).df())

    # cold pass, part of set-up: checks every result and warms the JVM and
    # Spark's code caches.  Not a measured pass, so queries share the cores.
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max(harness.host_cores() - 1, 1)) as pool:
        verdicts = dict(zip(HEADLINE, pool.map(check, HEADLINE)))
    warm_s = time.perf_counter() - t0
    con.close()
    bad = {q: why for q, why in verdicts.items() if why}

    per_query: dict[str, list[float]] = {q: [] for q in HEADLINE}
    passes: list[dict] = []
    rss = harness.PeakRss(spark)
    for i in range(size.warm_passes):
        t0 = time.time()
        for name in HEADLINE:
            with tr.span("query", query=name, warm=True, **{"pass": i}):
                t = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                per_query[name].append(time.perf_counter() - t)
        passes.append({"t0": t0, "t1": time.time()})
    peak_rss_mb = rss.read_mb()
    tr.ledger.refresh()

    warm = [sum(per_query[q][i] for q in HEADLINE) for i in range(len(passes))]
    cpus = [tr.ledger.totals(p["t0"], p["t1"])["cpu_s"] for p in passes]
    samples = [s for xs in per_query.values() for s in xs]
    q_tail, q_pct, q_n = tail(samples)
    return {
        "attempted": len(HEADLINE) * (1 + len(passes)),
        "failed": len(bad),
        "gate": {"checked": len(HEADLINE), "with_oracle": sum(q in oracle_sql for q in HEADLINE), "bad": bad},
        "setup_parts": {"tables.gen_s": gen_s, "warm_up_s": warm_s},
        "e2e": {
            "pass_s": median(warm),
            "cpu_s": median(cpus),
            "op_p50_s": median(samples),
            "peak_rss_mb": peak_rss_mb,
        },
        "op": {"name": "query", "tail_pct": q_pct, "samples": q_n},
        "extra": {
            "queries_warm_s": (median(warm), "s"),
            f"query_tail_s(p{q_pct:.0f},n={q_n})": (q_tail, "s"),
            "passes": (len(passes), "count"),
        },
    }
