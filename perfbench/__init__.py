"""Repository benchmark: seeded PNLS, CHU and corpus-dedup workloads driven
through the engine's public functions (see README.md)."""
