"""Physical-plan audit over the query surface (PLANS.md generator).

For every (or a selected) `queries()` entry, prints a one-line summary
of the executed plan: exchange count, join strategies, window passes,
and pushed filters — the evidence PLANS.md summarizes. Streaming and
media-kernel entries are skipped (their plans are audited in their own
modules' docstrings); the extraction pipeline is one plan, and building
it runs only its media-reference collect.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKIP = {
    # streaming (memory-sink harness) and binary-kernel entries: not
    # single-plan auditable this way
    "windowed_event_counts",
    "windowed_counts_append",
    "session_windows",
    "stateful_session_counts",
    "streaming_dedup",
    "stream_stream_join",
    # iterative: runs per-step argmax collects, final frame is driver-local
    "bpe_merges",
    "media_metadata",
    "media_thumbnails",
    "video_frame_sample",
    "audio_features",
    "structured_receipts",
}


def audit(spark, sf_dir: str, only: set[str] | None = None) -> list[dict]:
    import __spark_entry__ as entrymod

    rows = []
    for name, fn in entrymod.queries().items():
        if name in SKIP or (only and name not in only):
            continue
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # noqa: BLE001
            rows.append({"query": name, "error": str(exc)[:120]})
            continue
        pushed = [
            p
            for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
            if p.strip()
        ]
        rows.append(
            {
                "query": name,
                "exchanges": len(re.findall(r"Exchange ", plan)),
                "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
                "sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
                "windows": len(re.findall(r"\bWindow\b", plan)),
                # map-side combine evidence (AQE prints the pre-final
                # plan, so codegen stars are not visible here)
                "partial_aggs": len(re.findall(r"partial_", plan)),
                "pushed_filters": len(pushed),
            }
        )
    return rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None

    from ocr_service_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    rows = audit(spark, sf_dir, only)
    w = max(len(r["query"]) for r in rows)
    print(f"{'query':{w}}  exch  bhj  smj  win  partial  pushed")
    for r in rows:
        if "error" in r:
            print(f"{r['query']:{w}}  ERROR {r['error']}")
            continue
        print(
            f"{r['query']:{w}}  {r['exchanges']:4d}  {r['broadcast_joins']:3d}"
            f"  {r['sortmerge_joins']:3d}  {r['windows']:3d}"
            f"  {r['partial_aggs']:7d}  {r['pushed_filters']:6d}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
