"""Repository benchmark: seeded inputs, oracle-checked workloads, traced per-layer run."""
