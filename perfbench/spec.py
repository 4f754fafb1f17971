"""Workload definitions shared by the engine side (``run.py``) and the
load generator (``gen.py``). BENCHMARK.json names the workloads; the
settings each one runs with are these.

- ``loop``: ``open`` sends as fast as the bridge allows (the bridge's
  ``max_simulation_ahead`` gate, ``lookahead``, blocks a send that runs
  too far ahead of the analytics) and reads feedback without waiting;
  ``closed`` sends timestep t, then polls ``bridge.get(key, t-1)`` every
  ``poll_s`` seconds until the value arrives (t-1 closes when t is
  assembled, so waiting on t itself would deadlock).
- ``ranks`` × ``chunk``: the rank grid and each rank's chunk; every rank
  sends one chunk of each of ``arrays`` per timestep.
- ``tail_pct``: the percentile the ``.tail`` metrics report — the
  highest one with at least 10 samples beyond it in a 20-second run:
  bulk_field completes about 26 steps in that time; the closed loop about
  5, too few for any percentile above the median.
- ``lookahead`` 4 keeps bulk_field's batches small enough that each one
  is sent before the engine's next listing; at 8 and above, part of a
  batch misses it and waits a whole extra pass, so per-step latency
  splits into two modes whose weights change from run to run.
- The engine runs ``InSituEngine.run(max_files_per_trigger=None)``, the
  setting of ``tools/ingest_bench.py``.
"""

from __future__ import annotations

#: registry queries the steering loop's analysis runs on every timestep,
#: over tables generated from the seed: the batch operators/ and
#: functions/ layers, which no other in-situ path touches
PANEL_QUERIES = (
    "q01_pricing_summary",
    "grid_spatial_stencil5",
    "dedup_minhash_lsh",
)

WORKLOADS: dict[str, dict] = {
    # 4 MiB per timestep: payload encoding, disk traffic and dense
    # decoding on every step; the control plane sees one row per timestep
    "bulk_field": {
        "loop": "open",
        "lookahead": 4,
        "tail_pct": 60,
        "ranks": (1, 1),
        "chunk": (1024, 1024),
        "dtype": "int32",
        "arrays": ("field",),
        "zarr_every": 16,
        "feedback_key": "sum",
        "poll_s": 0.05,
        "warmup_steps": 2,
    },
    # one timestep in flight: every fixed per-pass cost lands on every
    # step; the analysis mixes the lazy distributed path, dense reads, a
    # batch query panel, feedback writes and the simulation's reads
    "steering_loop": {
        "loop": "closed",
        "tail_pct": 50,
        "ranks": (2, 2),
        "chunk": (256, 256),
        "dtype": "float64",
        "arrays": ("field",),
        "window": 2,
        "queries": PANEL_QUERIES,
        "feedback_key": "dt",
        "poll_s": 0.05,
        "warmup_steps": 2,
    },
}
