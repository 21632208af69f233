"""CDC benchmark: workloads, tracing and reports (see README.md)."""
