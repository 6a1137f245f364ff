"""``surface``: sequential passes over a fixed list of registered,
oracle-checked, non-training queries.

One timed operation is one pass: every listed query is rebuilt from the
registry (``fn(spark, sf_dir)``, driver-side construction, including the
eager ``localCheckpoint`` rounds some queries run) and executed into the
``noop`` sink.  The tables are generated from the seed and written before
anything is timed.  Two untimed passes warm the JIT: the first is a timed
pass's twin, the second collects each query's rows instead of writing them
to the ``noop`` sink.  After the timed window those rows are compared with
each query's DuckDB oracle by ``tests.oracle_harness.compare``, so the
oracle's time is neither set-up nor timed.
"""

from __future__ import annotations

import gc
import time

from harness import geomean, median, report
from tables import gen_tables, write_tables

SF = 0.01
# ROADMAP item 3's construction-bound targets, then one query for each
# operators module the five do not already load.
QUERIES = [
    "fuzzy_name_clusters",     # fuzzy, graph
    "pagerank_hosts",          # web, graph
    "dup_clusters",            # dedup, graph
    "curate_corpus",           # curation, dedup, text
    "pit_sliding_features",    # pit, split (the flagship entry query)
    "asof_click_attribution",  # asof
    "topk_orders_per_customer",  # topk
    "salted_group_sum",        # skew
    "encode_segments",         # features
    "spend_rank",              # windows
    "daily_gapfill",           # timeseries
    "ann_ivf_topk",            # similarity
    "pq_codes",                # pq
    "segment_quantiles",       # stats
    "multimodal_features",     # multimodal
]


class Collected:
    """One query's collected output, in the shape ``compare`` reads."""

    def __init__(self, columns: list[str], rows: list):
        self.columns, self.rows = columns, rows

    def collect(self) -> list:
        return self.rows


def run(r) -> dict:
    import __spark_entry__ as entry
    from recsys_pipeline_spark.io import read_all_tables
    from tests.oracle_harness import compare

    registry, oracles = entry.queries(), entry.oracle_sql()
    r.boot()
    spark = r.spark

    tables = gen_tables(SF, r.seed)
    sf_dirs = [r.path(f"sf{k}") for k in range(3)]
    for sf_dir in sf_dirs:
        write_tables(tables, sf_dir)

    def prepare(k: int) -> None:
        read_all_tables(spark, sf_dirs[k])  # the program's scan registry resolves each table once

    r.repeat_prepare(prepare, len(sf_dirs))
    sf_dir = sf_dirs[-1]

    tr = r.tracer

    def one_pass(_i: int, rows: dict | None = None) -> dict:
        per = {}
        for name in QUERIES:
            t = time.perf_counter()
            with tr.span("queries.construct", counted=True, query=name):
                df = registry[name](spark, sf_dir)
            with tr.span("operators.execute", counted=True, query=name):
                if rows is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    rows[name] = Collected(df.columns, df.collect())
            per[name] = time.perf_counter() - t
            # release checkpointed blocks before the next query starts (untimed)
            del df
            gc.collect()
        return {"per_query_s": per}

    collected: dict[str, Collected] = {}
    r.warm_up(lambda i: one_pass(i, collected if i == -2 else None), times=2)
    r.records = r.timed(one_pass)

    # outputs: each query's rows from the second warm-up pass against its DuckDB oracle
    check_s = {}
    for name in QUERIES:
        t = time.perf_counter()
        try:
            problems = compare(collected[name], oracles[name], sf_dir) if name in collected else ["not collected"]
        except Exception as ex:
            problems = [f"{type(ex).__name__}: {ex}"[:300]]
        r.check(not problems, f"{name}: {problems[:1]}")
        check_s[name] = time.perf_counter() - t
    r.detail["check_s"] = check_s

    ok = [x for x in r.records if x["ok"]]
    q_ms = {n: 1000.0 * median(x["per_query_s"][n] for x in ok) for n in QUERIES} if ok else {}
    r.detail["query_ms"] = q_ms
    e2e = {
        "setup_s": r.setup["setup_s"],
        "op_ms": 1000.0 * median(sum(x["per_query_s"].values()) for x in ok) if ok else 0.0,
        "part_geomean_ms": geomean(q_ms.values()),
    }
    layer = {}
    if r.trace_on:
        r.finish_setup_layers()
        r.spark_layer_metrics(r.records)
        ops = sorted({s["op"] for s in tr.spans if s["op"] is not None})
        layer["queries.construct_s"] = median(
            sum(s["end"] - s["start"] for s in tr.by_name("queries.construct") if s["op"] == o) for o in ops
        )
        layer["operators.execute_s"] = median(
            sum(s["end"] - s["start"] for s in tr.by_name("operators.execute") if s["op"] == o) for o in ops
        )
        for n, v in q_ms.items():
            layer[f"q.{n}_ms"] = v
        layer.update(r.layer)
    return report(r, e2e, layer)
