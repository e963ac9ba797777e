"""Repository benchmark: seeded ingest, replay and analytics workloads
over the public API of tansu_spark. Run with ``python3 perfbench/run.py``."""
