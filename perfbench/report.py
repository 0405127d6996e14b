"""Turn a workload's samples and spans into the reported metrics."""

from __future__ import annotations

import statistics

from spans import rollup


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(res) -> dict:
    return {
        "op_s": _m(res.op_s(), "s"),
        "setup_s": _m(res.detail["setup_s"], "s"),
    }


def per_layer(workload: str, res, spans) -> tuple[dict, dict]:
    """The per-layer metrics of BENCHMARK.json (the same names on every workload) and
    the per-module breakdown of this workload."""
    roll = rollup(spans)
    passes = min(len(v) for v in res.samples.values())
    tops = [s for _, ss in res.ops for s in ss if s.parent is None]

    def per_pass(key: str, of=tops) -> float:
        return sum(roll[s.sid].get(key, 0) for s in of) / passes

    metrics = {
        "session.start_s": _m(res.detail["session_start_s"], "s"),
        "session.warmup_s": _m(res.detail["warmup_s"], "s"),
        "op.traced_s": _m(res.op_s(), "s"),
        "op.jobs": _m(per_pass("jobs"), "count"),
        "op.driver_s": _m(per_pass("driver_s"), "s"),
        "op.task_s": _m(per_pass("task_s"), "s"),
        "op.shuffle_bytes": _m(per_pass("shuffle_read_bytes") + per_pass("shuffle_write_bytes"), "B"),
        "op.scan_bytes": _m(per_pass("input_bytes"), "B"),
    }
    breakdown = (_ingest_breakdown if workload == "ingest" else _query_breakdown)(
        res, spans, roll, passes, per_pass)
    return metrics, breakdown


def _ingest_breakdown(res, spans, roll, passes, per_pass) -> dict:
    in_ops = [s for _, ss in res.ops for s in ss]
    named = lambda name: [s for s in in_ops if s.name == name]  # noqa: E731
    runs, reads = named("run"), named("read_table")
    upserts, commits = named("write_partitioned_upsert"), named("commit")
    writes = res.detail["_writes"]
    rows_scanned = per_pass("csv_input_rows")
    pulled = sum(res.detail["_pulled"].values())
    out = {
        "sources.call_s": per_pass("wall_s", reads),
        "sources.rows_scanned": rows_scanned,
        "sources.bytes_scanned": per_pass("csv_input_bytes"),
        "sources.scan_task_s": per_pass("csv_task_s"),
        "sources.selectivity": pulled / rows_scanned if rows_scanned else None,
        "pipeline.upsert_s": statistics.median(roll[s.sid]["wall_s"] for s in upserts),
        "pipeline.jobs_per_table": sum(roll[s.sid]["jobs"] for s in runs) / len(runs),
        "pipeline.driver_s": per_pass("driver_s", runs),
        "pipeline.lake_rows_scanned": per_pass("parquet_input_rows"),
        "pipeline.rows_written": per_pass("output_rows"),
        "pipeline.files_written": sum(writes[s.sid][0] for s in upserts) / passes,
        "pipeline.bytes_written": sum(writes[s.sid][1] for s in upserts) / passes,
        "pipeline.partitions_rewritten": sum(writes[s.sid][2] for s in upserts) / passes,
        "watermarks.commit_s": per_pass("wall_s", commits),
        # share of the timed calls' wall time inside the source read, the
        # lake write and the watermark commit spans
        "pipeline.span_share": (
            sum(roll[s.sid]["wall_s"] for s in reads + upserts + commits)
            / sum(sum(v) for v in res.samples.values())
        ),
    }
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_s"):
        out[f"operators.upsert.{key}"] = per_pass(key, upserts)
    for table in res.samples:
        table_upserts = [s for t, ss in res.ops if t == table for s in ss
                         if s.name == "write_partitioned_upsert"]
        out[f"pipeline.{table}.upsert_s"] = statistics.median(
            roll[s.sid]["wall_s"] for s in table_upserts)
    # the set-up backfill and the CDC batch, outside the timed loop
    in_loop = {s.sid for s in in_ops}
    for label, top in (("backfill", "run"), ("cdc", "apply_cdc_batch")):
        outer = [s for s in spans if s.parent is None and s.name == top and s.sid not in in_loop]
        if not outer:
            continue
        span = outer[0] if label == "backfill" else outer[-1]
        r = roll[span.sid]
        kids = [s for s in spans if s.parent == span.sid and s.name == "write_partitioned_upsert"]
        out[f"{label}.wall_s"] = r["wall_s"]
        out[f"{label}.driver_s"] = r["driver_s"]
        out[f"{label}.jobs"] = r["jobs"]
        out[f"{label}.csv_rows_scanned"] = r.get("csv_input_rows", 0)
        out[f"{label}.lake_rows_scanned"] = r.get("parquet_input_rows", 0)
        for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_s"):
            out[f"{label}.upsert.{key}"] = sum(roll[k.sid].get(key, 0) for k in kids)
    return out


def _query_breakdown(res, spans, roll, passes, per_pass) -> dict:
    construct = [ss[0] for _, ss in res.ops if ss]
    sinks = [ss[-1] for _, ss in res.ops if ss]
    out = {
        "queries.construct_s": per_pass("wall_s", construct),
        "queries.eager_jobs": per_pass("jobs", construct),
        "queries.driver_s": per_pass("driver_s", construct) + per_pass("driver_s", sinks),
        "queries.exec_s": per_pass("wall_s", sinks),
        "queries.jobs": per_pass("jobs", construct) + per_pass("jobs", sinks),
    }
    for name, key in (("scan_bytes", "input_bytes"), ("spill_bytes", "spill_bytes"),
                      ("task_s", "task_s"), ("gc_s", "gc_s")):
        out[f"queries.{name}"] = per_pass(key, construct) + per_pass(key, sinks)
    out["queries.shuffle_bytes"] = sum(
        per_pass(k, construct) + per_pass(k, sinks)
        for k in ("shuffle_read_bytes", "shuffle_write_bytes"))
    for name in res.samples:
        mine = [ss for n, ss in res.ops if n == name and ss]

        def med(key: str, which=(0, -1)) -> float:
            return statistics.median(
                sum(roll[ss[i].sid].get(key, 0) for i in which) for ss in mine)

        out[f"queries.{name}.construct_s"] = med("wall_s", (0,))
        out[f"queries.{name}.eager_jobs"] = med("jobs", (0,))
        out[f"queries.{name}.exec_s"] = med("wall_s", (-1,))
        out[f"queries.{name}.driver_s"] = med("driver_s")
        out[f"queries.{name}.jobs"] = med("jobs")
        out[f"queries.{name}.task_s"] = med("task_s")
        out[f"queries.{name}.shuffle_bytes"] = med("shuffle_read_bytes") + med("shuffle_write_bytes")
        out[f"queries.{name}.spill_bytes"] = med("spill_bytes")
    return out
