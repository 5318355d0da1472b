"""Repository benchmark: workloads, references, tracing (see README.md)."""
