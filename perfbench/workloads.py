"""Workload parameters shared by the generator and the benchmark runner.

Stream workloads are open loop.  In set-up the generator publishes one
warm-up file; in the measured phase it publishes
``rate_files_per_s`` files per second for ``--seconds`` seconds on a fixed
wall-clock schedule, and once those are all committed it publishes the
``burst_files`` backlog at once.  Each offered rate sits well below what the
engine sustains on a 4-core box, so the backlog stays flat in the steady
phase (``sources.lag_files`` in the traced run shows it).

``corpus-prep`` is batch: one job runs ``training_prep`` +
``write_training_shards`` over a generated corpus, builds the IVF and PQ
artifacts over generated embeddings and answers a batch of queries from
them.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # many keys, few rows per key: the per-group cost of the keyed count
    # window (Q-ACC) dominates each micro-batch
    "telematics-stream": {
        "kind": "stream",
        "vehicles": 2000,
        "files_per_tick": 20,  # each 120 s tick of event time is 20 files
        "tick_s": 120,
        "share_eastbound": 0.6,
        "p_stop": 0.01,  # per vehicle and tick: a 5-tick stop (fires Q-ACC twice)
        "stop_ticks": 5,
        "p_speed": 0.02,  # per report: 90-119 mph (fires Q-SPEED)
        "rate_files_per_s": 8.0,  # 800 reports/s
        "burst_files": 60,  # 6000 reports
        "unit": "events",
    },
    # the LLM-data path: clean, near-dup purge, packing, shard sink, then
    # the retrieval index over the corpus's embeddings and a query batch
    "corpus-prep": {
        "kind": "batch",
        "docs": 600,
        "vocab": 6000,
        "min_tokens": 40,
        "max_tokens": 160,
        "share_exact_dup": 0.10,
        "share_near_dup": 0.10,
        "share_junk": 0.10,
        "n_shards": 8,
        "vectors": 2000,  # embeddings indexed by IVF + PQ
        "dim": 32,
        "clusters": 10,  # Gaussian blobs
        "noise": 0.35,
        "queries": 64,
        "query_id_base": 10_000_000,
        "k": 5,
        "unit": "docs",
    },
}

