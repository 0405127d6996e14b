"""Streaming NEAR-dup ingest scale smoke (round-12 verdict item #5):
the web-curation twin already has bounded-state evidence
(tools/streaming_scale_smoke.py); this gives streaming.
run_neardup_ingest the same treatment — an sf-scale documents corpus
chunked into availableNow micro-batches, recording per-batch wall time
and the signature-lake growth as the ledger accumulates every DISTINCT
text ever seen.

The bounded-state claim under test: per-batch cost must stay near-flat
as the signature lake grows to the full corpus, because the state side
of both the exact anti-join (text_md5) and the band join is a
column-pruned ~50-byte-row scan — never the retained documents
themselves. Ledger rows must track DISTINCT texts seen (retained +
dropped — what makes the drop decision batching-invariant), not raw
input rows.

r15 addition: the signature and curated-corpus lakes now compact
themselves past streaming.APPEND_LAKE_COMPACT_FILES appended files
(streaming.compact_append_lakes, swap-marker protocol) — the smoke
records every compaction event and the per-lake final file counts, so
a long-horizon run shows per-batch ms staying flat ACROSS compaction
events instead of climbing with file count.

r16 addition (r15 verdict #1): compaction is now INCREMENTAL — only
the sub-target small-file tail is read and repacked; graduated files
are untouched. Each compaction event records bytes_read vs lake_bytes
at that moment, so the artifact itself witnesses the O(new data)
bound: bytes_read must stay ~flat across events while lake_bytes
grows with the stream.

Usage:
  python tools/streaming_neardup_smoke.py [sf_dir] [n_chunks]
(defaults: scale_data/sf10, 24 chunks)

Output: scale_data/streaming_neardup_smoke_r16.json. Protocol: one
JVM, quiet host, never under concurrent Spark (memory:
bench-timing-discipline).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _dir_bytes(d: str) -> int:
    total = 0
    for root, _, files in os.walk(d):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> int:
    from data_ingestor_gluejob_script_spark.session import get_spark
    from data_ingestor_gluejob_script_spark.streaming import (
        run_neardup_ingest,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "scale_data", "sf10"
    )
    n_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 24

    spark = get_spark("streaming-neardup-smoke")
    work = tempfile.mkdtemp(prefix="spark_graft_neardupsmoke_")
    docs_dir = os.path.join(work, "in")
    lake_dir = os.path.join(work, "lake")
    sig_dir = os.path.join(work, "sigs")
    ckpt_dir = os.path.join(work, "ckpt")

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    docs.repartition(n_chunks).write.mode("overwrite").parquet(docs_dir)

    t0 = time.perf_counter()
    q = run_neardup_ingest(spark, docs_dir, lake_dir, sig_dir, ckpt_dir)
    q.awaitTermination()
    wall = round(time.perf_counter() - t0, 3)

    batches = []
    for p in q.recentProgress:
        # availableNow appends trailing empty progress entries; an
        # empty batch in the last-3 window would understate end-of-run
        # cost, so input-less entries are skipped entirely.
        if p is None or p.get("numInputRows", 0) == 0:
            continue
        batches.append(
            {
                "batch_id": p.get("batchId"),
                "input_rows": p.get("numInputRows"),
                "batch_ms": (p.get("durationMs") or {}).get(
                    "triggerExecution"
                ),
            }
        )

    from data_ingestor_gluejob_script_spark import streaming as _st
    from data_ingestor_gluejob_script_spark.streaming import (
        _n_parquet_files,
    )

    sig = spark.read.parquet(sig_dir)
    doc = {
        "sf_dir": sf_dir,
        "n_chunks": n_chunks,
        "input_docs": n_docs,
        "wall_sec": wall,
        "retained_docs": spark.read.parquet(lake_dir).count(),
        "ledger_rows": sig.count(),
        "ledger_bytes": _dir_bytes(sig_dir),
        "lake_bytes": _dir_bytes(lake_dir),
        "checkpoint_bytes": _dir_bytes(ckpt_dir),
        "compact_threshold_files": _st.APPEND_LAKE_COMPACT_FILES,
        "compact_target_bytes": _st._COMPACT_TARGET_BYTES,
        "compaction_events": [
            {
                "lake": os.path.basename(ev["path"]),
                "small_files": ev["small_files"],
                "bytes_read": ev["bytes_read"],
                "lake_bytes": ev["lake_bytes"],
                "n_out": ev["n_out"],
            }
            for ev in _st.COMPACTION_EVENTS
        ],
        "sig_files_final": _n_parquet_files(spark, sig_dir),
        "lake_files_final": _n_parquet_files(spark, lake_dir),
        "batches": batches,
        "batch_ms_first3": [b["batch_ms"] for b in batches[:3]],
        "batch_ms_last3": [b["batch_ms"] for b in batches[-3:]],
    }
    path = os.path.join(
        REPO, "scale_data", "streaming_neardup_smoke_r16.json"
    )
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: doc[k] for k in (
        "input_docs", "wall_sec", "retained_docs", "ledger_rows",
        "ledger_bytes", "compaction_events", "sig_files_final",
        "lake_files_final", "batch_ms_first3", "batch_ms_last3",
    )}))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
