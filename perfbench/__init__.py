"""Seeded end-to-end and per-layer benchmark for xml_to_es_spark.

Run ``python3 perfbench/run.py --workload search --seed 1 --seconds 10
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
