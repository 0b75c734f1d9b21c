"""Benchmark for the knowledge-graph engine: seeded workloads, a span
tracer and output checks that do not depend on the engine. Run
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root."""
