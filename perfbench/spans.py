"""Span recording for the traced benchmark run, and its summarizer.

The benchmark records spans from its own code, around the calls it makes
into each layer: name, start, end, parent span and timestep. Spans stay
in memory and are written as JSON lines when the run ends; the first
line is a header with the run's metrics.

Summarize a trace (per-span-name counts, total and self time, and the
blocking-path account of the measured interval); pass the result line of
an untraced run of the same workload and seed to see tracing overhead:

    python3 perfbench/spans.py perfbench_traces/bulk_field-seed1.jsonl \
        [--untraced result.json]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from collections import defaultdict
from contextlib import nullcontext

_NULL = nullcontext()


class _Span:
    __slots__ = ("tracer", "rec")

    def __init__(self, tracer: "Tracer", rec: dict) -> None:
        self.tracer = tracer
        self.rec = rec

    def __enter__(self) -> dict:
        stack = self.tracer._stack
        self.rec["parent"] = stack[-1]["id"] if stack else None
        stack.append(self.rec)
        self.rec["start"] = time.monotonic()
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.monotonic()
        self.tracer._stack.pop()
        self.tracer.spans.append(self.rec)


class Tracer:
    """Spans with parent links. One stack for the whole process: the
    engine's pass (main thread) and the callbacks it dispatches (a py4j
    callback thread) run one at a time, never concurrently."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0

    def span(self, name: str, t: int | None = None, **attrs):
        """Context manager; yields the span record (or None when off),
        to which the caller may add attributes."""
        if not self.enabled:
            return _NULL
        self._next_id += 1
        return _Span(self, {"id": self._next_id, "name": name, "t": t, **attrs})

    def add(self, name: str, start: float, end: float, t: int | None = None, **attrs) -> None:
        """A span measured elsewhere (the generator's stamps)."""
        if self.enabled:
            self._next_id += 1
            self.spans.append(
                {"id": self._next_id, "name": name, "t": t, "parent": None,
                 "start": start, "end": end, **attrs}
            )

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"header": header}) + "\n")
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: count, total and self seconds (duration minus the
    part covered by child spans; children of one span never overlap)."""
    child_cover: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.get("parent") is not None:
            child_cover[s["parent"]] += s["end"] - s["start"]
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
    for s in spans:
        d = s["end"] - s["start"]
        row = out[s["name"]]
        row["count"] += 1
        row["total_s"] += d
        row["self_s"] += d - child_cover.get(s["id"], 0.0)
    return dict(out)


#: span names on the engine's blocking path during the measured interval
#: (the generator's bridge spans run in parallel and are excluded)
BLOCKING = ("engine.pass", "engine.poll_wait")


def summarize(path: str, untraced: dict | None = None, out=sys.stdout) -> None:
    with open(path) as f:
        header = json.loads(f.readline())["header"]
        spans = [json.loads(line) for line in f]
    rows = self_times(spans)
    print(f"trace {path}: workload={header['workload']} seed={header['seed']}", file=out)
    print(f"{'span':34s} {'count':>7s} {'total_s':>9s} {'self_s':>9s}", file=out)
    for name in sorted(rows):
        r = rows[name]
        print(f"{name:34s} {r['count']:7d} {r['total_s']:9.3f} {r['self_s']:9.3f}", file=out)
    interval = header["interval_s"]
    lo, hi = header["interval"]
    covered = sum(
        max(0.0, min(s["end"], hi) - max(s["start"], lo)) for s in spans if s["name"] in BLOCKING
    )
    print(
        f"measured interval {interval:.3f} s; engine pass + poll-wait spans "
        f"cover {covered:.3f} s ({100.0 * covered / interval:.1f}%)",
        file=out,
    )
    fl = header["per_layer"].get("floor.steps_per_s")
    sps = header["end_to_end"]["steps_per_s"]
    if fl:
        print(f"single-threaded floor {fl:.3f} steps/s vs engine {sps:.3f} steps/s "
              f"(engine / floor = {sps / fl:.3f})", file=out)
    if untraced:
        print("tracing overhead (traced / untraced - 1):", file=out)
        for k, v in header["end_to_end"].items():
            u = untraced["metrics"].get(k, {}).get("value")
            if u:
                print(f"  {k:28s} traced {v:12.4f} untraced {u:12.4f} ({100.0 * (v / u - 1):+.1f}%)", file=out)


def main() -> int:
    ap = argparse.ArgumentParser(description="Summarize a benchmark trace.")
    ap.add_argument("trace")
    ap.add_argument("--untraced", help="file whose last line is an untraced run's result")
    args = ap.parse_args()
    untraced = None
    if args.untraced:
        with open(args.untraced) as f:
            untraced = json.loads(f.read().strip().splitlines()[-1])
    summarize(args.trace, untraced)
    return 0


if __name__ == "__main__":
    sys.exit(main())
