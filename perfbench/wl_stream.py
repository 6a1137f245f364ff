"""``stream``: ``streaming.curation_stream`` twins covering the four state
disciplines the module names, each driven through ``foreach_batch_sink``
over the generated ``events`` table cut into a seeded sequence of
time-ordered micro-batches.

One timed operation is one drain: every twin consumes the whole
micro-batch sequence from an empty state directory.  Each of the twins
documents an exact cross-epoch guarantee, so after the last micro-batch its
report must equal its batch query on the whole table; that is checked after
the timed window on the last drain's output.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from harness import geomean, median, report
from tables import gen_tables, write_tables

SF = 0.01
MICRO_BATCHES = 4
# twin (and the batch query it must equal) -> its state directories.  The
# three cover the four state disciplines: item_transitions keeps both
# sum-mergeable pair counters and the per-user carry row.
TWINS = {
    "retention_cohorts": ("pairs",),    # append-once set
    "daily_gapfill": ("obs",),          # latest observation per key
    "item_transitions": ("pairs", "carry"),  # sum-mergeable counters + carry-bridged state
}


def _split_events(events, out_dir: str, seed: int) -> list[int]:
    """Cut the (time-sorted) events into ``MICRO_BATCHES`` contiguous files
    at seeded cut points, each within a quarter of a batch of an even cut;
    the file source replays them in modification-time order, one file per
    micro-batch."""
    os.makedirs(out_dir)
    n = events.num_rows
    rng = np.random.default_rng(seed + 7919)
    step = n / MICRO_BATCHES
    cuts = [int(k * step + rng.uniform(-step / 4, step / 4)) for k in range(1, MICRO_BATCHES)]
    bounds = [0, *cuts, n]
    sizes = []
    for k in range(MICRO_BATCHES):
        path = os.path.join(out_dir, f"part-{k:03d}.parquet")
        pq.write_table(events.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
        sizes.append(bounds[k + 1] - bounds[k])
    return sizes


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def _rows(df) -> list:
    cols = sorted(c for c in df.columns if c != "_epoch")
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def run(r) -> dict:
    import __spark_entry__ as entry
    from recsys_pipeline_spark.io import read_table
    from recsys_pipeline_spark.streaming import curation_stream as cs

    registry = entry.queries()
    r.boot()
    spark = r.spark
    state = {}

    events = gen_tables(SF, r.seed)["events"]
    sf_dirs = [r.path(f"sf{k}") for k in range(3)]
    for sf_dir in sf_dirs:
        write_tables({"events": events}, sf_dir)
    src = r.path("src")
    r.detail["micro_batch_rows"] = _split_events(events, src, r.seed)

    def prepare(k: int) -> None:
        state["schema"] = read_table(spark, sf_dirs[k], "events").schema

    r.repeat_prepare(prepare, len(sf_dirs))
    schema = state["schema"]

    epochs: list[tuple[str, int, float]] = []
    if r.trace_on:
        from pyspark.sql.streaming import StreamingQueryListener

        class EpochTimes(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                epochs.append((str(p.runId), int(p.batchId), float(p.batchDuration)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(EpochTimes())

    def run_twin(name: str, out_base: str) -> None:
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        dirs = [os.path.join(out_base, name, d) for d in ("out", *TWINS[name])]
        getattr(cs, f"{name}_stream")(stream, *dirs)

    tr = r.tracer
    last = {}

    def drain(i: int) -> dict:
        base = r.path("state", f"op{i}")
        per = {}
        for name in TWINS:
            t = time.perf_counter()
            with tr.span(f"stream.{name}", counted=True):
                run_twin(name, base)
            per[name] = time.perf_counter() - t
        last["base"] = base
        return {"per_twin_s": per, "state": _dir_stats(base)}

    r.warm_up(drain)
    r.records = r.timed(drain)
    ok = [x for x in r.records if x["ok"]]

    # outputs: each twin's final epoch equals its batch query on the whole table
    for name in TWINS:
        try:
            table = spark.read.parquet(os.path.join(last["base"], name, "out"))
            final = max(int(x["_epoch"]) for x in table.select("_epoch").distinct().collect())
            got = _rows(table.filter(table["_epoch"] == final))
            want = _rows(registry[name](spark, sf_dirs[-1]))
            r.check(got == want, f"{name}: final epoch differs from the batch query ({len(got)} vs {len(want)} rows)")
            r.check(final == MICRO_BATCHES - 1, f"{name}: {final + 1} epochs, expected {MICRO_BATCHES}")
        except Exception as ex:
            r.check(False, f"{name}: {type(ex).__name__}: {ex}"[:300])

    twin_s = {n: median(x["per_twin_s"][n] for x in ok) for n in TWINS} if ok else {}
    r.detail["twin_s"] = twin_s
    e2e = {
        "setup_s": r.setup["setup_s"],
        "op_ms": 1000.0 * median(sum(x["per_twin_s"].values()) for x in ok) if ok else 0.0,
        "part_geomean_ms": 1000.0 * geomean(twin_s.values()),
    }
    layer = {}
    if r.trace_on:
        r.finish_setup_layers()
        r.spark_layer_metrics(r.records)
        for n, v in twin_s.items():
            layer[f"stream.{n}_s"] = v
        # progress events arrive asynchronously; wait for the last drain's
        want = (1 + len(r.records)) * len(TWINS) * MICRO_BATCHES
        deadline = time.monotonic() + 10
        while len(epochs) < want and time.monotonic() < deadline:
            time.sleep(0.05)
        # epochs of timed drains only: the listener saw the warm-up drain first
        timed = epochs[-len(ok) * len(TWINS) * MICRO_BATCHES:] if ok else []
        r.detail["epochs"] = timed
        layer["stream.epoch_first_ms"] = median(d for _q, b, d in timed if b == 0)
        layer["stream.epoch_last_ms"] = median(d for _q, b, d in timed if b == MICRO_BATCHES - 1)
        # growth with stream age: the last epoch against the first that reads state
        by_query: dict[str, dict[int, float]] = {}
        for q, b, d in timed:
            by_query.setdefault(q, {})[b] = d
        layer["stream.epoch_growth_ms"] = median(
            e[MICRO_BATCHES - 1] - e[1] for e in by_query.values() if 1 in e and MICRO_BATCHES - 1 in e
        )
        layer["stream.state_files"] = median(x["state"][0] for x in ok)
        layer["stream.state_mb"] = median(x["state"][1] for x in ok) / (1024.0 * 1024.0)
        layer.update(r.layer)
    return report(r, e2e, layer)
