"""Load generator: the simulation side of an in-situ benchmark run.

Runs as its own process, separate from the engine. It talks to the
engine only through ``SparkBridge`` (chunk sends, ``close`` and feedback
``get``) and stamps every call on ``time.monotonic()``, which on Linux is
the system-wide ``CLOCK_MONOTONIC`` that the engine process reads too.
The chunks it sends are generated from the seed alone, so the engine
process can regenerate them for its golden checks.

    python3 perfbench/gen.py --workload bulk_field --seed 1 --seconds 10 \
        --chunk-dir D --feedback-dir F --go-file G --out stamps.json

It waits for ``--go-file`` to exist, sends for ``--seconds`` seconds,
closes the stream, waits for the outstanding feedback and writes its
stamps as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spec import WORKLOADS  # noqa: E402  (perfbench/ is on sys.path)

#: seconds the generator waits for feedback before counting it missing
FEEDBACK_TIMEOUT_S = 60.0


def make_chunk(wl: dict, seed: int, t: int, rank: int) -> np.ndarray:
    """The chunk rank ``rank`` sends at timestep ``t`` — a pure function
    of the seed, so both processes derive the same values."""
    rng = np.random.default_rng([seed, t, rank])
    if np.dtype(wl["dtype"]) == np.int32:
        return rng.integers(-1000, 1000, size=wl["chunk"], dtype=np.int32)
    return rng.standard_normal(wl["chunk"]) + 0.01 * t


def rank_grid(wl: dict) -> list[tuple[int, int]]:
    gx, gy = wl["ranks"]
    return [(i, j) for i in range(gx) for j in range(gy)]


def make_bridges(wl: dict, chunk_dir: str, feedback_dir: str | None):
    from deisa_ray_spark.streaming import SparkBridge
    from deisa_ray_spark.streaming.bridge import metadata_for_grid

    gx, gy = wl["ranks"]
    cx, cy = wl["chunk"]
    return [
        SparkBridge(
            r,
            metadata_for_grid(wl["arrays"], (gx * cx, gy * cy), (cx, cy), pos),
            chunk_dir,
            feedback_dir=feedback_dir,
            max_simulation_ahead=wl.get("lookahead"),
        )
        for r, pos in enumerate(rank_grid(wl))
    ]


class Generator:
    def __init__(self, wl: dict, seed: int, seconds: float, bridges: list) -> None:
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.bridges = bridges
        self.sends: list[tuple[int, int, float, float]] = []  # (t, rank, start, end)
        self.send_errors = 0
        self.last_send_end: dict[int, float] = {}
        self.gets: list[tuple[int, float, float, bool]] = []  # (t, start, end, hit)
        self.feedback: dict[int, tuple[float, object]] = {}  # t -> (first hit, value)
        self.close_end: float | None = None
        self.close_t: int | None = None
        self._pending = 0  # oldest timestep whose feedback is not seen yet

    def _send_step(self, t: int) -> bool:
        chunks = [make_chunk(self.wl, self.seed, t, r) for r in range(len(self.bridges))]
        for r, (bridge, chunk) in enumerate(zip(self.bridges, chunks)):
            for arr in self.wl["arrays"]:
                start = time.monotonic()
                try:
                    bridge.send(arr, chunk, t)
                except Exception as exc:  # noqa: BLE001 — counted as a failed step
                    print(f"gen: send t={t} rank={r} failed: {exc!r}", file=sys.stderr)
                    self.send_errors += 1
                    return False
                end = time.monotonic()
                self.sends.append((t, r, start, end))
        self.last_send_end[t] = end
        return True

    def _get(self, t: int) -> bool:
        start = time.monotonic()
        value = self.bridges[0].get(self.wl["feedback_key"], t)
        end = time.monotonic()
        hit = value is not None
        self.gets.append((t, start, end, hit))
        if hit and t not in self.feedback:
            self.feedback[t] = (end, value)
        return hit

    def _poll_pending(self, upto: int) -> None:
        """Non-blocking: read every feedback value already published for
        timesteps ``< upto`` (the open loop checks once per step)."""
        while self._pending < upto and self._get(self._pending):
            self._pending += 1

    def _wait_feedback(self, t: int) -> bool:
        deadline = time.monotonic() + FEEDBACK_TIMEOUT_S
        while not self._get(t):
            if time.monotonic() > deadline:
                return False
            time.sleep(self.wl["poll_s"])
        return True

    def run(self) -> None:
        closed_loop = self.wl["loop"] == "closed"
        first = None
        t = 0
        while True:
            if not self._send_step(t):
                break
            first = first if first is not None else self.sends[0][2]
            if t >= 1:
                # t's last chunk closes t-1; waiting on t itself would
                # deadlock (a timestep closes when the next one assembles)
                if closed_loop:
                    if not self._wait_feedback(t - 1):
                        break
                    self._pending = t
                else:
                    self._poll_pending(t)
            if time.monotonic() - first >= self.seconds:
                break
            t += 1
        self.close_t = t
        self.bridges[0].close(t)
        self.close_end = time.monotonic()
        deadline = self.close_end + FEEDBACK_TIMEOUT_S
        while self._pending <= t and time.monotonic() < deadline:
            if self._get(self._pending):
                self._pending += 1
            else:
                time.sleep(self.wl["poll_s"])

    def stamps(self) -> dict:
        return {
            "sends": self.sends,
            "send_errors": self.send_errors,
            "last_send_end": self.last_send_end,
            "gets": self.gets,
            "feedback": {t: [ts, v] for t, (ts, v) in self.feedback.items()},
            "close_t": self.close_t,
            "close_end": self.close_end,
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--chunk-dir", required=True)
    ap.add_argument("--feedback-dir", required=True)
    ap.add_argument("--go-file", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]
    bridges = make_bridges(wl, args.chunk_dir, args.feedback_dir)
    deadline = time.monotonic() + 300.0
    while not os.path.exists(args.go_file):
        if time.monotonic() > deadline:
            print("gen: no go signal", file=sys.stderr)
            return 1
        time.sleep(0.01)
    gen = Generator(wl, args.seed, args.seconds, bridges)
    gen.run()
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(gen.stamps(), f)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
