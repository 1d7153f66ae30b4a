"""Benchmark for the qs_spark engine: seeded workloads, a closed-loop runner,
correctness checks, host controls and a traced per-layer run.  See README.md."""
