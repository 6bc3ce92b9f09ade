"""Generate COVERAGE.md: SURVEY.md section-2 inventory id -> the
registered queries/tests that implement it. Run from the repo root:

    python tools/gen_coverage.py > COVERAGE.md
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from event_streaming_service_spark.queries import REGISTRY, _load_all

# Inventory ids that are covered by module/test surface rather than a
# registered query (catalog ops, streaming wrappers, registry).
MODULE_COVERAGE = {
    "S1": "sources/topics.py:publish + sources/kafka.py:write_kafka (tests/test_topics.py, test_kafka_wiring.py)",
    "S2": "sources/topics.py:publish (single df.write batches natively)",
    "S4": "streaming/pipeline.py:read_event_stream + sources/kafka.py:read_kafka_events",
    "S8": "sources/topics.py:TopicCatalog create/delete/list/describe/alter (tests/test_topics.py)",
    "S9": "sources/topics.py:bootstrap_defaults (reference retention policies)",
    "S10": "parquet + from_json envelope (sources/kafka.py:decode_envelope); protobuf wire encode + descriptor set + pure-Python decode with Arrow-batched Spark fallback (sources/proto_wire.py:decode_metadata_column, tests/test_protobuf_bridge.py; from_protobuf jar parity still gated on connector availability)",
    "P2": "operators/envelope.py nested EventEnvelope + envelope_projection query (metadata.* / headers[] access)",
    "P4": "pipeline.split_valid_invalid composes extra filters (tests/test_operators.py validation cases)",
    "P6": "sources/topics.py:list + union_by_name_topics query",
    "P7": "props_map_functions query (map_filter family)",
    "R7": "routing.round_robin (uuid; non-deterministic by design -> excluded from oracle)",
    "D2": "streaming/stateful.py:dedup_with_ttl (exact wall-clock TTL; tests/test_stateful.py)",
    "O1": "catalog_surface (rank-verified sorted topics); TopicCatalog.list",
    "O2": "catalog_surface (rank-verified sorted consumer groups + subscriptions)",
    "O3": "pipeline.to_dlq stacktrace truncation (substring limit 1000)",
    "W1": "streaming/pipeline.py:read_event_stream maxFilesPerTrigger / kafka maxOffsetsPerTrigger",
    "W3": "streaming/pipeline.py:with_late_data_policy (7-day watermark)",
    "W4": "dedup_stream + stateful.dedup_with_ttl (tests/test_stateful.py)",
    "W7": "NOT in the engine: no engine code reads a streaming query's lastProgress/recentProgress; only the benchmark harness does (perfbench/workloads.py). Engine-side progress reporting is ROADMAP direction 4",
    "W9": "consume_to_tables idempotent-by-batch_id: replaying a batch rewrites identical rows (tests/test_streaming.py: test_consume_batch_semantics_and_replay, test_consume_exactly_once_on_restart)",
    "2.11": "foreachBatch process hooks + Arrow-batched mapInPandas media kernels (operators/multimodal.py: every codec operator runs through _encode_each or _decode_each) — UDF surface",
}


def main() -> None:
    _load_all()
    by_tag: dict[str, list[str]] = defaultdict(list)
    for name, spec in sorted(REGISTRY.items()):
        mark = name if spec.oracle is not None else f"{name} (rows-only)"
        for tag in spec.tags:
            by_tag[tag].append(mark)

    print("# COVERAGE — SURVEY.md section 2 inventory -> implementation")
    print()
    print("Generated by tools/gen_coverage.py from the query registry.")
    print("`(rows-only)` = no DuckDB oracle (non-SQL-expressible); covered")
    print("by pytest invariants instead. Module-level coverage cites the")
    print("implementing module + test file.")
    print()
    print("## Inventory ids covered by registered queries")
    print()
    print("| id | queries |")
    print("|---|---|")
    for tag in sorted(by_tag):
        print(f"| {tag} | {', '.join(by_tag[tag])} |")
    print()
    print("## Inventory ids covered at module/test level")
    print()
    print("| id | implementation |")
    print("|---|---|")
    for tag in sorted(MODULE_COVERAGE):
        print(f"| {tag} | {MODULE_COVERAGE[tag]} |")
    print()
    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    print(f"Total registered queries: {len(REGISTRY)} "
          f"({n_oracle} oracle-checked, {len(REGISTRY) - n_oracle} rows-only).")


if __name__ == "__main__":
    main()
