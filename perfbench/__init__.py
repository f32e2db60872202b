"""Repository benchmark: merged-search latency and distributed-search
throughput of the engine, with a traced per-layer run.  See README.md."""
