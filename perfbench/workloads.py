"""The two workloads. Each runs a closed loop: one client, one call at a
time, the next only after the previous returned.

- ``ingest``: the reference job's two flows. Set-up builds the lake
  with ``pipeline.run(OnDemand)`` from the day-0 CSV drop (the backfill:
  CSV parse, window-form first write, full-lake write), which is also
  the warm-up. The loop then replays day 1, 2, ... as Scheduled runs,
  one table per call (the reference's single-table job mode), with an
  injected clock and watermark store: small batches, so
  the broadcast arm of ``merge_upsert``, the touched-partition scan,
  partition rewrites and the watermark commit dominate. One mixed
  insert/update/delete ``apply_cdc_batch`` follows the loop.
- ``query``: the read-only contrast. Declared queries (plan
  construction and Catalyst planning are a large share of their time)
  and compute- and shuffle-bound extras (product quantization,
  similarity, fuzzy join, BPE), each forced through a ``noop`` sink.

One operation is one engine call: one table's Scheduled run, the CDC
batch, or one query. ``op_s`` sums the per-part medians over one full
pass: all 8 tables of one day, or every query of the batch.
"""

from __future__ import annotations

import os
import statistics
import time

import gen_ingest
import gen_tables
from checks import frame_digest, lake_mismatches, oracle_mismatches
from spans import Tracer

INGEST_ANCHORS = 2000
INGEST_DAYS = 4
MIN_DAYS = 3
QUERY_SCALE = 0.25
CORE = ["q_join_3hop", "q_upsert_dedup", "q_minhash_lsh_pairs", "q_ann_lsh_topk"]
HEAVY = ["x_profile", "x_fuzzy_join", "x_ivfpq_topk", "x_bpe_encode"]


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.detail: dict[str, float | str | dict] = {}
        self.ops: list[tuple[str, list]] = []  # (part, spans) of each timed op
        self.loop_start = 0.0  # perf_counter when the timed loop began
        self.untimed_s = 0.0  # output checks run during set-up

    def record(self, part: str, seconds: float) -> None:
        self.attempted += 1
        self.samples.setdefault(part, []).append(seconds)

    def op_s(self) -> float:
        return sum(statistics.median(v) for v in self.samples.values())


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def _lake_stats(root: str, since: float) -> tuple[int, int, int]:
    """Files, bytes and partition directories written at or after ``since``."""
    files = nbytes = 0
    dirs = set()
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(d, n))
                if st.st_mtime >= since:
                    files += 1
                    nbytes += st.st_size
                    dirs.add(d)
    return files, nbytes, len(dirs)


def ingest(spark, work: str, cache: str, seed: int, seconds: float, tracer: Tracer,
           res: Result) -> None:
    from data_ingestor_gluejob_script_spark import pipeline
    from data_ingestor_gluejob_script_spark.registry import CATALOG, tables_list
    from data_ingestor_gluejob_script_spark.watermarks import WatermarkStore

    src, manifest = gen_ingest.cached(cache, seed, INGEST_ANCHORS, INGEST_DAYS)
    tables = tables_list("allTables")
    lake = os.path.join(work, "lake")
    wm_path = os.path.join(work, "watermarks.json")
    undo = []
    if tracer.enabled:
        undo = [
            tracer.wrap(pipeline, "run", "pipeline"),
            tracer.wrap(pipeline, "read_csv_table", "sources"),
            tracer.wrap(pipeline.LocalFileSource, "read_table", "sources"),
            tracer.wrap(WatermarkStore, "commit", "watermarks"),
            tracer.wrap(pipeline, "apply_cdc_batch", "pipeline"),
        ]
        writes = {}
        original_write = pipeline.write_partitioned_upsert

        def traced_write(spark_, batch, spec, lake_root, *a, **kw):
            t0, idx = time.time(), len(tracer.spans)
            out = tracer.call("pipeline", "write_partitioned_upsert", original_write,
                              spark_, batch, spec, lake_root, *a, **kw)
            span = tracer.spans[idx]
            writes[span.sid] = _lake_stats(pipeline.lake_table_root(lake_root, spec.name), t0 - 1)
            return out

        pipeline.write_partitioned_upsert = traced_write
        undo.append(lambda: setattr(pipeline, "write_partitioned_upsert", original_write))

    def store() -> WatermarkStore:
        # the default watermark, yesterday midnight of ``now``, is T0
        return WatermarkStore(wm_path, tables, now=gen_ingest.T0 + gen_ingest.DAY)

    def scheduled(day: int, table: str):
        clock = gen_ingest.T0 + day * gen_ingest.DAY
        source = pipeline.LocalFileSource(os.path.join(src, f"day{day}"), clock=clock)
        return pipeline.run(spark, "Scheduled", table, lake, store(), source=source)

    skipped: list[str] = []
    try:
        # set-up and warm-up: backfill into an empty lake
        t0 = time.perf_counter()
        load, load_s = _timed(pipeline.run, spark, "OnDemand", "allTables", lake,
                              store(), source_root=os.path.join(src, "day0"))
        skipped += load.skipped
        res.attempted += 1
        base_rows = sum(manifest["day0_rows"].values())
        res.detail["load_s"] = load_s
        res.detail["load_rows_per_s"] = base_rows / load_s
        t_check = time.perf_counter()
        base_bad = lake_mismatches(lake, tables, {
            t: [os.path.join(src, "day0", "corleone", f"{t}.csv")] for t in tables})
        res.untimed_s += time.perf_counter() - t_check
        if base_bad or load.skipped:
            res.failed += 1
            res.detail["load_errors"] = base_bad or {"skipped": load.skipped}
        res.loop_start = time.perf_counter()
        res.detail["warmup_s"] = res.loop_start - t0 - res.untimed_s

        # timed loop: whole days, one Scheduled call per table; at least
        # MIN_DAYS, so each table's median sets aside a colder first day
        deadline = time.perf_counter() + seconds
        day = 0
        written: dict[int, int] = {}
        while day < INGEST_DAYS and (day < MIN_DAYS or time.perf_counter() < deadline):
            day += 1
            written[day] = 0
            for t in tables:
                idx = len(tracer.spans)
                out, s = _timed(scheduled, day, t)
                res.record(t, s)
                res.ops.append((t, tracer.spans[idx:]))
                skipped += out.skipped
                written[day] += sum(out.tables.values())
        last_day = day
        changed = sum(manifest["days"][d - 1]["rows_changed"] for d in written)
        res.detail["increment_s"] = res.op_s()
        res.detail["call_s"] = {t: [round(x, 3) for x in v] for t, v in res.samples.items()}
        res.detail["days_timed"] = len(written)
        res.detail["write_amp"] = sum(written.values()) / changed

        cdc_table = manifest["cdc"]["table"]
        changes = spark.read.options(sep=CATALOG[cdc_table].csv_sep, header=True,
                                     escape='"', multiLine=True).csv(os.path.join(src, "cdc.csv"))
        _, cdc_s = _timed(pipeline.apply_cdc_batch, spark, changes, CATALOG[cdc_table], lake)
        res.attempted += 1
        res.detail["cdc_apply_s"] = cdc_s
    finally:
        for u in undo:
            u()

    # checks, outside the timed region
    bad = lake_mismatches(lake, tables, {
        t: [os.path.join(src, "day0", "corleone", f"{t}.csv")]
        + [os.path.join(src, f"day{d}", f"{t}.csv") for d in range(1, last_day + 1)]
        for t in tables
    }, cdc=(cdc_table, os.path.join(src, "cdc.csv")))
    wm = WatermarkStore(wm_path, tables).snapshot()
    want = (gen_ingest.T0 + last_day * gen_ingest.DAY).strftime(gen_ingest.TS)
    for t in tables:
        if wm.get(t) != want:
            bad.setdefault(t, f"watermark {wm.get(t)} != {want}")
    for t in set(skipped):
        bad.setdefault(t, "skipped")
    for t in bad:
        res.failed += len(res.samples.get(t, [])) + (t == cdc_table)
    if bad:
        res.detail["errors"] = bad
    if tracer.enabled:
        res.detail["_writes"] = writes
        res.detail["_pulled"] = {
            t: sum(manifest["days"][d - 1]["pulled"][t] for d in written) / len(written)
            for t in tables
        }


def query(spark, work: str, cache: str, seed: int, seconds: float, tracer: Tracer,
          res: Result) -> None:
    import __spark_entry__ as entry
    from data_ingestor_gluejob_script_spark.queries.extras import extras

    sf_dir = gen_tables.cached(cache, seed, QUERY_SCALE)
    fns = {**entry.queries(), **extras()}
    batch = CORE + HEAVY

    def one(name: str) -> None:
        df = tracer.call("queries", f"{name}.construct", fns[name], spark, sf_dir)
        tracer.call("queries", f"{name}.sink",
                    lambda: df.write.mode("overwrite").format("noop").save())

    # set-up: warm-up pass; the heavy entries' first output digests
    t0 = time.perf_counter()
    for name in CORE:
        one(name)
    digests = {name: frame_digest(fns[name](spark, sf_dir)) for name in HEAVY}
    res.loop_start = time.perf_counter()
    res.detail["warmup_s"] = res.loop_start - t0

    deadline = time.perf_counter() + seconds
    passes = 0
    while passes < 2 or time.perf_counter() < deadline:
        passes += 1
        for name in batch:
            idx = len(tracer.spans)
            _, s = _timed(one, name)
            res.record(name, s)
            res.ops.append((name, tracer.spans[idx:]))
    res.detail["passes"] = passes

    # checks: declared queries against their oracle twins; the heavy
    # entries' outputs must not change across repetitions
    bad = oracle_mismatches(spark, sf_dir, CORE, entry.queries(), entry.oracle_sql())
    for name in HEAVY:
        again = frame_digest(fns[name](spark, sf_dir))
        if again != digests[name]:
            bad[name] = f"digest {again} != {digests[name]}"
    for name in bad:
        res.failed += len(res.samples[name])
    if bad:
        res.detail["errors"] = bad
    med = {n: statistics.median(v) for n, v in res.samples.items()}
    res.detail["core_total_s"] = sum(med[n] for n in CORE)
    res.detail["core_geomean_s"] = statistics.geometric_mean([med[n] for n in CORE])
    res.detail["heavy_total_s"] = sum(med[n] for n in HEAVY)
    res.detail["query_s"] = {n: [round(x, 3) for x in v] for n, v in res.samples.items()}


WORKLOADS = {"ingest": ingest, "query": query}
