"""Seeded end-to-end benchmark of the semantic_index_spark public API.

Run it with ``python3 perfbench/run.py --workload <serve|ingest|dedup>``;
see ``perfbench/README.md`` for the workloads and metrics.
"""
