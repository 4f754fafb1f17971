"""In-situ benchmark of deisa_ray_spark: one workload per run.

    python3 perfbench/run.py --workload bulk_field --seed 1 --seconds 20 --trace 0

The engine (``InSituEngine`` on ``local[nproc]``) runs in this process;
the load comes from a separate generator process (``gen.py``) that uses
only ``SparkBridge``. After the untimed set-up and warm-up the generator
sends for ``--seconds`` seconds, the engine analyses concurrently, and
every result is checked against golden values derived from the seed.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run, whose spans go to
``perfbench_traces/<workload>-seed<seed>.jsonl`` (summarize them with
``perfbench/spans.py``). The line before it records the environment.
Everything else the run writes lives in a fresh directory under
``.perfbench_tmp/`` that is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
sys.dont_write_bytecode = True

import numpy as np  # noqa: E402

import gen  # noqa: E402
import panel  # noqa: E402
from spec import PANEL_QUERIES, WORKLOADS  # noqa: E402
from spans import Tracer, self_times, summarize  # noqa: E402

MB = 1e6
T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) if values else float("nan")


# -- environment -------------------------------------------------------------


def pin_environment(work: str) -> None:
    """Everything Spark, the engine and the generator write goes under
    ``work``; Spark gets the machine's cores instead of the engine's
    ``local[32]`` default."""
    ncpu = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
        # every JVM (spark-submit's launcher too): temp files under work,
        # and no hsperfdata file, which the JVM always puts in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    for d in ("spark-local", "scratch", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def descendants(exclude: int | None = None) -> set[int]:
    """Live descendants of this process, without ``exclude``'s subtree."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c != exclude and c not in out]
        out.update(kids)
        frontier.extend(kids)
    return out


class RssSampler(threading.Thread):
    """Resident memory of this process and its descendants (the engine's
    JVM and Python workers), minus the generator's subtree, sampled every
    ``interval`` seconds. Each process counts its proportional set size,
    so the pages forked Python workers share count once."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.exclude: int | None = None
        self.samples: list[tuple[float, int]] = []  # (time, bytes)
        self._stop_evt = threading.Event()

    def peak(self, lo: float, hi: float) -> float:
        """The peak over [lo, hi], taken as the 90th percentile of the
        samples so that one sample catching a transient worker does not
        decide it."""
        return pct([b for t, b in self.samples if lo <= t <= hi], 90)

    def sample(self) -> int:
        tree = descendants(exclude=self.exclude) | {os.getpid()}
        rss = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            rss += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return rss

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.samples.append((time.monotonic(), self.sample()))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM pyspark launched (it exits when its
    stdin closes), and wait until every process this run started ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def environment(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "numpy": np.__version__,
        "python": sys.version.split()[0],
        "disk_free_gb": round(shutil.disk_usage(ROOT).free / 1e9, 1),
    }


def job_ids(sc, start: int = 0) -> int:
    """Number of Spark jobs submitted so far (job ids are sequential),
    from the public status tracker."""
    st = sc.statusTracker()
    i = start
    while st.getJobInfo(i) is not None:
        i += 1
    return i


def tasks_of_jobs(sc, lo: int, hi: int) -> int:
    st = sc.statusTracker()
    stages = set()
    for j in range(lo, hi):
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return sum(st.getStageInfo(s).numTasks for s in stages if st.getStageInfo(s) is not None)


# -- the workloads' analytics -----------------------------------------------


class Analysis:
    """The callbacks one engine runs, and what they observed."""

    def __init__(self, name: str, seed: int, spark, engine, tracer: Tracer, work: str,
                 panel_ctx: dict | None) -> None:
        self.name = name
        self.wl = WORKLOADS[name]
        self.seed = seed
        self.spark = spark
        self.engine = engine
        self.tr = tracer
        self.zarr_store = os.path.join(work, "sink.zarr")
        self.panel = panel_ctx
        self.calls: dict[int, tuple[float, float]] = {}  # t -> (start, end) of its callback
        self.values: dict[int, object] = {}  # t -> value published as feedback
        self.query_ok: dict[int, dict[str, bool]] = {}
        self.zarr_ts: list[int] = []
        getattr(self, f"_register_{name}")()

    def _callback(self, body):
        def cb(**windows):
            t = max(frames[-1].t for frames in windows.values())
            start = time.monotonic()
            with self.tr.span("dispatch.callback", t=t):
                value = body(t, **windows)
                with self.tr.span("feedback.set", t=t):
                    self.engine.set(self.wl["feedback_key"], value, t)
            self.values[t] = value
            self.calls[t] = (start, time.monotonic())

        return cb

    def _to_numpy(self, frame) -> np.ndarray:
        with self.tr.span("dataplane.to_numpy", t=frame.t) as rec:
            a = frame.to_numpy()
            if rec is not None:
                rec["mb"] = a.nbytes / MB
        return a

    def _register_bulk_field(self) -> None:
        from deisa_ray_spark.streaming import ArrayWindow

        def body(t, field):
            af = field[-1]
            total = int(self._to_numpy(af).sum())
            if t % self.wl["zarr_every"] == 0:
                with self.tr.span("sink.to_zarr", t=t, mb=self._step_bytes() / MB):
                    af.to_zarr(self.zarr_store, component=f"t{t}")
                self.zarr_ts.append(t)
            return total

        self.engine.register_callback(self._callback(body), ArrayWindow("field"))

    def _register_steering_loop(self) -> None:
        from deisa_ray_spark.streaming import ArrayWindow

        def body(t, field):
            cur = field[-1]
            with self.tr.span("lazy.compute", t=t):
                mean = cur.mean().compute()
            with self.tr.span("lazy.compute", t=t):
                std = cur.std().compute()
            diff = 0.0
            if len(field) > 1:
                diff = float(np.abs(self._to_numpy(cur) - self._to_numpy(field[0])).mean())
            return {"mean": mean, "std": std, "diff": diff, "panel_ok": self._panel_pass(t)}

        self.engine.register_callback(
            self._callback(body), ArrayWindow("field", self.wl["window"])
        )

    def _panel_pass(self, t: int) -> int:
        """One pass over the query panel; returns how many results match
        their oracle digest (a query that raises counts as wrong)."""
        specs, sf_dir, oracle = self.panel["specs"], self.panel["sf_dir"], self.panel["oracle"]
        ok = {}
        for q in PANEL_QUERIES:
            with self.tr.span(f"panel.{q}", t=t):
                try:
                    got = panel.digest(specs[q].fn(self.spark, sf_dir).toPandas())
                except Exception as exc:  # noqa: BLE001 — counted as a failed query
                    print(f"query {q} failed: {exc!r}", file=sys.stderr)
                    got = None
            ok[q] = got == oracle[q]
        self.query_ok[t] = ok
        return sum(ok.values())

    def _chunk_bytes(self) -> int:
        return int(np.prod(self.wl["chunk"])) * np.dtype(self.wl["dtype"]).itemsize

    def _step_bytes(self) -> int:
        ranks = self.wl["ranks"][0] * self.wl["ranks"][1]
        return ranks * len(self.wl["arrays"]) * self._chunk_bytes()


# -- golden values -----------------------------------------------------------


def global_array(wl: dict, seed: int, t: int) -> np.ndarray:
    cx, cy = wl["chunk"]
    gx, gy = wl["ranks"]
    out = np.empty((gx * cx, gy * cy), dtype=wl["dtype"])
    for r, (i, j) in enumerate(gen.rank_grid(wl)):
        out[i * cx:(i + 1) * cx, j * cy:(j + 1) * cy] = gen.make_chunk(wl, seed, t, r)
    return out


def close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def check_step(an: Analysis, t: int, prev: np.ndarray | None, cur: np.ndarray) -> bool:
    """Is the value published for timestep t right?"""
    v = an.values.get(t)
    if v is None:
        return False
    if an.name == "bulk_field":
        return v == int(cur.astype(np.int64).sum())
    diff = 0.0 if prev is None else float(np.abs(cur - prev).mean())
    return close(v["mean"], float(cur.mean())) and close(v["std"], float(cur.std())) \
        and close(v["diff"], diff)


def check_run(an: Analysis, stamps: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, reasons). An operation is a timestep — failed
    when its callback is missing or wrong, its feedback never reached the
    simulation or differs from what was published, or a send raised —
    and each panel query of each step (wrong when its result differs from
    its oracle's)."""
    from deisa_ray_spark import sinks

    wl, seed = an.wl, an.seed
    n_steps = stamps["close_t"] + 1
    fb = {int(k): v for k, v in stamps["feedback"].items()}
    attempted, failed, reasons = 0, 0, []
    prev = None
    for t in range(n_steps):
        cur = global_array(wl, seed, t)
        attempted += 1
        ok = check_step(an, t, prev, cur)
        if not ok:
            reasons.append(f"t={t}: callback value missing or wrong")
        elif t not in fb or fb[t][1] != an.values[t]:
            ok = False
            reasons.append(f"t={t}: feedback missing or differs from the published value")
        elif t in an.zarr_ts:
            back = sinks.read_zarr(an.zarr_store, component=f"t{t}")
            if back.shape != cur.shape or not np.array_equal(back, cur):
                ok = False
                reasons.append(f"t={t}: zarr read-back differs")
        failed += not ok
        prev = cur
    if stamps["send_errors"]:
        attempted += 1
        failed += 1
        reasons.append(f"{stamps['send_errors']} send(s) raised")
    for t, ok in an.query_ok.items():
        for q, good in ok.items():
            attempted += 1
            if not good:
                failed += 1
                reasons.append(f"t={t}: query {q} differs from its oracle")
    return attempted, failed, reasons


# -- single-threaded floor ------------------------------------------------------


def floor_steps_per_s(an: Analysis, chunk_dir: str, n_steps: int) -> float:
    """Replay the drop directory with plain pyarrow + numpy (one thread)
    and run the same per-step math, with the panel queries' DuckDB
    oracles standing in for the Spark queries."""
    import glob

    import pyarrow.parquet as pq

    wl = an.wl
    start = time.monotonic()
    prev = None
    for t in range(n_steps):
        cx, cy = wl["chunk"]
        gx, gy = wl["ranks"]
        a = np.empty((gx * cx, gy * cy), dtype=wl["dtype"])
        for f in glob.glob(os.path.join(chunk_dir, f"arr_{wl['arrays'][0]}", f"t_{t}", "*.parquet")):
            for row in pq.read_table(f).to_pylist():
                i, j = row["pos"]
                a[i * cx:(i + 1) * cx, j * cy:(j + 1) * cy] = np.frombuffer(
                    row["data"], dtype=row["dtype"]
                ).reshape(cx, cy)
        if an.name == "bulk_field":
            a.sum()
        else:
            import duckdb

            a.mean(), a.std()
            if prev is not None:
                np.abs(a - prev).mean()
            con = duckdb.connect(config={"threads": 1})
            for name in panel.TABLES:
                path = os.path.join(an.panel["sf_dir"], f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            for q in PANEL_QUERIES:
                con.execute(an.panel["specs"][q].oracle).fetchdf()
            con.close()
        prev = a
    return n_steps / (time.monotonic() - start)


# -- metrics -------------------------------------------------------------------


def closing_sends(stamps: dict) -> dict[int, float]:
    """t -> end of the send that closed t: the last chunk of t+1, or close."""
    last = {int(k): v for k, v in stamps["last_send_end"].items()}
    out = {}
    for t in range(stamps["close_t"] + 1):
        out[t] = last[t + 1] if t + 1 in last else stamps["close_end"]
    return out


def end_to_end(an: Analysis, stamps: dict, setup_s: float, rss: RssSampler) -> tuple[dict, tuple]:
    closes = closing_sends(stamps)
    fb = {int(k): v for k, v in stamps["feedback"].items()}
    tail = an.wl["tail_pct"]
    sends_ms = [(e - s) * 1e3 for _t, _r, s, e in stamps["sends"]]
    lo = min(s for _t, _r, s, _e in stamps["sends"])
    hi = max(end for _s, end in an.calls.values())
    interval = hi - lo
    steps = len(an.calls)
    insight = [(an.calls[t][0] - closes[t]) * 1e3 for t in an.calls if t in closes]
    rtt = [(fb[t][0] - closes[t]) * 1e3 for t in fb if t in closes]
    # panel_s: one analysis pass is one callback; on steering_loop the
    # query panel takes most of it
    passes = [end - start for start, end in an.calls.values()]
    m = {
        "setup_s": (setup_s, "s"),
        "throughput_mb_s": (steps * an._step_bytes() / MB / interval, "MB/s"),
        "steps_per_s": (steps / interval, "1/s"),
        "sim_send_ms.p50": (pct(sends_ms, 50), "ms"),
        "sim_send_ms.tail": (pct(sends_ms, tail), "ms"),
        "insight_latency_ms.p50": (pct(insight, 50), "ms"),
        "insight_latency_ms.tail": (pct(insight, tail), "ms"),
        "feedback_rtt_ms.p50": (pct(rtt, 50), "ms"),
        "feedback_rtt_ms.tail": (pct(rtt, tail), "ms"),
        "panel_s": (statistics.median(passes), "s"),
        "peak_rss_mb": (rss.peak(lo, hi) / MB, "MB"),
    }
    return m, (lo, hi)


def per_layer(an: Analysis, tr: Tracer, stamps: dict, interval: tuple, chunk_dir: str,
              fb_dir: str, jobs: tuple[int, int, int], failed_frac: float, floor: float) -> dict:
    lo, hi = interval
    rows = self_times(tr.spans)

    def total(name: str) -> float:
        return rows.get(name, {}).get("total_s", 0.0)

    def count(name: str) -> int:
        return int(rows.get(name, {}).get("count", 0))

    sends = [(s, e) for _t, _r, s, e in stamps["sends"]]
    gets = stamps["gets"]
    payload = len(sends) * an._chunk_bytes()
    disk = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(chunk_dir)
        for f in files
        if f.endswith(".parquet") and not f.startswith(".")
    )
    passes = [s for s in tr.of("engine.pass") if s["end"] > lo and s["start"] < hi]
    pass_ids = {s["id"] for s in passes}
    callbacks = [c for c in tr.of("dispatch.callback") if c["parent"] in pass_ids]
    busy = pass_ids & {c["parent"] for c in callbacks}
    steps = max(len(an.calls), 1)
    n_jobs, n_tasks = jobs[1] - jobs[0], jobs[2]
    m = {
        "bridge.send_calls": (len(sends), "count"),
        "bridge.send_s": (sum(e - s for s, e in sends), "s"),
        "bridge.disk_bytes_per_payload_byte": (disk / payload, "ratio"),
        "bridge.get_calls": (len(gets), "count"),
        "bridge.get_s": (sum(e - s for _t, s, e, _h in gets), "s"),
        "bridge.get_hit_ratio": (sum(h for *_x, h in gets) / max(len(gets), 1), "ratio"),
        "engine.passes": (len(passes), "count"),
        "engine.empty_passes": (len(passes) - len(busy), "count"),
        "engine.files_per_pass": ((len(sends) + 1) / max(len(busy), 1), "count"),
        "engine.pass_s": (sum(s["end"] - s["start"] for s in passes), "s"),
        "engine.pass_self_s": (
            sum(s["end"] - s["start"] for s in passes)
            - sum(c["end"] - c["start"] for c in callbacks),
            "s",
        ),
        "engine.poll_wait_s": (total("engine.poll_wait"), "s"),
        "dispatch.boundaries": (len(an.calls), "count"),
        "dispatch.callback_calls": (sum(cfg.calls for cfg in an.engine.callbacks), "count"),
        "dispatch.callback_s": (total("dispatch.callback"), "s"),
        "dataplane.to_numpy_calls": (count("dataplane.to_numpy"), "count"),
        "dataplane.to_numpy_s": (total("dataplane.to_numpy"), "s"),
        "dataplane.to_numpy_mb": (sum(s["mb"] for s in tr.of("dataplane.to_numpy")), "MB"),
        "lazy.computes": (count("lazy.compute"), "count"),
        "lazy.compute_s": (total("lazy.compute"), "s"),
        "feedback.set_calls": (count("feedback.set"), "count"),
        "feedback.set_s": (total("feedback.set"), "s"),
        "feedback.files": (sum(f.endswith(".parquet") for f in os.listdir(fb_dir)), "count"),
        "sink.writes": (count("sink.to_zarr"), "count"),
        "sink.write_s": (total("sink.to_zarr"), "s"),
        "sink.mb": (sum(s["mb"] for s in tr.of("sink.to_zarr")), "MB"),
        "spark.jobs_per_step": (n_jobs / steps, "count"),
        "spark.tasks_per_step": (n_tasks / steps, "count"),
        "failed_frac": (failed_frac, "ratio"),
        "floor.steps_per_s": (floor, "1/s"),
    }
    for q in PANEL_QUERIES:
        m[f"panel.{q}_s"] = (total(f"panel.{q}") / max(count(f"panel.{q}"), 1), "s")
    return m


# -- one run -----------------------------------------------------------------------


def warm_up(name: str, seed: int, spark, work: str, panel_ctx: dict | None) -> None:
    """Untimed: the whole workload pipeline over a few timesteps, so JIT,
    Python workers and the streaming source are warm before timing."""
    from deisa_ray_spark.streaming import InSituEngine

    wl = {**WORKLOADS[name], "lookahead": None}
    chunk_dir, fb_dir = os.path.join(work, "warm-chunks"), os.path.join(work, "warm-fb")
    bridges = gen.make_bridges(wl, chunk_dir, fb_dir)
    for t in range(wl["warmup_steps"]):
        for r, b in enumerate(bridges):
            for arr in wl["arrays"]:
                b.send(arr, gen.make_chunk(wl, seed + 1_000_000, t, r), t)
    bridges[0].close(wl["warmup_steps"] - 1)
    engine = InSituEngine(spark, chunk_dir, feedback_dir=fb_dir)
    Analysis(name, seed, spark, engine, Tracer(False), os.path.join(work, "warm"), panel_ctx)
    engine.run(os.path.join(work, "warm-ckpt"), max_files_per_trigger=None, timeout_sec=150)


def run(args, work: str) -> dict:
    name, seed = args.workload, args.seed
    tracer = Tracer(bool(args.trace))
    rss = RssSampler()
    rss.start()
    chunk_dir, fb_dir = os.path.join(work, "chunks"), os.path.join(work, "feedback")
    go, stamps_path = os.path.join(work, "go"), os.path.join(work, "stamps.json")
    generator = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", name, "--seed", str(seed),
         "--seconds", str(args.seconds), "--chunk-dir", chunk_dir, "--feedback-dir", fb_dir,
         "--go-file", go, "--out", stamps_path],
        stdout=subprocess.DEVNULL,
    )
    rss.exclude = generator.pid
    spark = None
    try:
        panel_ctx = None
        if WORKLOADS[name].get("queries"):
            from deisa_ray_spark.registry import load_all

            sf_dir = os.path.join(work, "tables")
            panel.write_tables(sf_dir, seed)
            specs = load_all()
            panel_ctx = {"sf_dir": sf_dir, "specs": specs,
                         "oracle": panel.oracle_digests(sf_dir, PANEL_QUERIES, specs)}
            log("panel tables and oracle digests ready")
        t_setup = time.monotonic()
        from deisa_ray_spark.session import get_session
        from deisa_ray_spark.streaming import InSituEngine

        spark = get_session(
            app_name=f"perfbench-{name}",
            shuffle_partitions=8,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        log("session started")
        warm_up(name, seed, spark, work, panel_ctx)
        engine = InSituEngine(spark, chunk_dir, feedback_dir=fb_dir)
        an = Analysis(name, seed, spark, engine, tracer, work, panel_ctx)
        setup_s = time.monotonic() - t_setup
        log(f"warmed up; setup_s={setup_s:.2f}")

        sc = spark.sparkContext
        jobs0 = job_ids(sc) if args.trace else 0
        if args.trace:
            engine.drain_available = tracer.wrap(engine.drain_available, "engine.pass")
        open(go, "w").close()
        engine.run(os.path.join(work, "ckpt"), max_files_per_trigger=None,
                   timeout_sec=args.seconds + 90)
        generator.wait(timeout=90)
        if generator.returncode != 0:
            raise RuntimeError(f"generator exited with {generator.returncode}")
        with open(stamps_path) as f:
            stamps = json.load(f)
        rss.stop()
        log("measured run done")

        attempted, failed, reasons = check_run(an, stamps)
        for r in reasons[:20]:
            print(f"check failed: {r}", file=sys.stderr)
        metrics, interval = end_to_end(an, stamps, setup_s, rss)
        env = environment(spark)
        log(f"checked: {failed} of {attempted} operations failed")
        if args.trace:
            jobs1 = job_ids(sc, jobs0)
            jobs = (jobs0, jobs1, tasks_of_jobs(sc, jobs0, jobs1))
            passes = sorted(tracer.of("engine.pass"), key=lambda s: s["start"])
            for a, b in zip(passes, passes[1:]):
                tracer.add("engine.poll_wait", a["end"], b["start"])
            for t, _r, s, e in stamps["sends"]:
                tracer.add("bridge.send", s, e, t=t)
            for t, s, e, hit in stamps["gets"]:
                tracer.add("bridge.get", s, e, t=t, hit=hit)
            floor = floor_steps_per_s(an, chunk_dir, stamps["close_t"] + 1)
            e2e = metrics
            metrics = per_layer(an, tracer, stamps, interval, chunk_dir, fb_dir, jobs,
                                failed / attempted, floor)
            out_dir = os.path.join(ROOT, "perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{name}-seed{seed}.jsonl")
            tracer.write(path, {
                "workload": name, "seed": seed, "interval": list(interval),
                "interval_s": interval[1] - interval[0],
                "end_to_end": {k: v for k, (v, _u) in e2e.items()},
                "per_layer": {k: v for k, (v, _u) in metrics.items()},
            })
            summarize(path, out=sys.stderr)
        return {
            "env": env,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }
    finally:
        if generator.poll() is None:
            generator.kill()
            generator.wait()
        if rss.is_alive():
            rss.stop()
        if spark is not None:
            stop_spark(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import deisa_ray_spark
    except ImportError as exc:
        print(f"perfbench: no engine package in {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(deisa_ray_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine package imported from outside {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        pin_environment(work)
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"env": out["env"]}))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
