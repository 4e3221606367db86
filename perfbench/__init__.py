"""End-to-end and per-layer benchmark of ``plans.flagship.run_extraction``.

Run ``python3 perfbench/run.py --workload cc_mixed --seed 1 --seconds 10
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
