"""seamdb_spark's benchmark: closed-loop workloads over the engine's
public entry points (see README.md)."""
