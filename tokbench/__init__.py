"""tokstripe benchmark: closed-loop workloads over the engine's public API."""
