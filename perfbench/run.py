#!/usr/bin/env python3
"""Benchmark of the engine's user paths, timed from outside.

    python3 perfbench/run.py --workload ingest|dashboard|mixed \
        --seed N --seconds S --trace 0|1

Run from the repository root. Each run makes its inputs from the seed,
starts the engine in its own process (perfbench/server.py), drives it for
S seconds the way its users do, checks the answers, and prints every
metric by name and unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones. With --trace 1 the run measures S/2 seconds
untraced, S seconds with spans at the layer calls and S/2 seconds
untraced again, then times one call into each layer the workload's loop
does not reach; the metrics are the per-layer ones, and the spans go to
.perfbench_out/. See perfbench/README.md for every metric.

Workloads:
- ingest: the acquisition daemon over the plc_sim source, free-running,
  one poll sweep of a seeded 64-PLC x 64-tag fleet per micro-batch.
- dashboard: two closed-loop Grafana clients over a seeded ~1.5M-point
  table, read-only.
- mixed: the same readers plus one open-loop writer POSTing line protocol.

Everything else the run writes goes under .perfbench_work/ in the
checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "iot_system_plc_data_to_influxdb_spark"
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from spans import self_times  # noqa: E402

READERS = 2
# One write of 512 points every WRITE_PERIOD_S seconds: a rate the
# gateway sustains beside the two readers without a growing backlog.
WRITE_PERIOD_S = 4.0
SETTLE_SWEEPS = 6
WARM_S = 6.0
SERVER_TIMEOUT_S = 150


T_START = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# -- the server process -----------------------------------------------------


class EngineProcess:
    """server.py in its own session, with its process tree's memory
    sampled while it lives."""

    def __init__(self, work: str, cfg: dict):
        self.work = work
        cfg_path = os.path.join(work, f"server-{cfg['mode']}.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        for d in ("spark-local", "tmp", "cwd"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        tmp = os.path.join(work, "tmp")
        cpus = str(len(os.sched_getaffinity(0)))
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=cpus,
            # get_spark defaults to a 48g heap; keep far below host RAM
            SPARK_DRIVER_MEM="2g",
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            # the plc_sim DataSource is imported by Spark's Python workers
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            PYTHONUNBUFFERED="1",
        )
        self.stderr = open(os.path.join(work, f"server-{cfg['mode']}.log"), "w")
        self.t_launch = time.monotonic()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), cfg_path],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.stderr,
            cwd=os.path.join(work, "cwd"),
            env=env,
            text=True,
            start_new_session=True,
        )
        self.events: queue.Queue = queue.Queue()
        self.peak_rss = 0
        self.in_window = False  # set while the workload is measured
        self.window_rss: list[int] = []
        self._alive = True
        threading.Thread(target=self._read, daemon=True).start()
        threading.Thread(target=self._sample_rss, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@PB "):
                self.events.put(json.loads(line[5:]))
        self.events.put({"event": "eof"})

    def _sample_rss(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while self._alive:
            rss = 0
            for pid in process_tree(self.proc.pid):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        rss += int(f.read().split()[1]) * page
                except OSError:
                    pass
            self.peak_rss = max(self.peak_rss, rss)
            if self.in_window:
                self.window_rss.append(rss)
            time.sleep(0.25)

    def wait_event(self, name: str, timeout: float = SERVER_TIMEOUT_S) -> dict:
        deadline = time.monotonic() + timeout
        while True:
            try:
                ev = self.events.get(timeout=max(0.01, deadline - time.monotonic()))
            except queue.Empty:
                raise RuntimeError(f"engine gave no {name!r} within {timeout} s") from None
            if ev["event"] == "eof":
                raise RuntimeError(f"engine exited while waiting for {name!r}; see {self.stderr.name}")
            if ev["event"] == name:
                if ev.get("ok") is False:
                    raise RuntimeError(f"engine {name} failed: {ev['error']}")
                return ev

    def ready(self) -> tuple[float, dict]:
        ev = self.wait_event("ready")
        log(f"engine ready: {ev}")
        return time.monotonic() - self.t_launch, ev

    def call(self, cmd: str, timeout: float = SERVER_TIMEOUT_S, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self.wait_event(cmd, timeout)

    def close(self, spans_path: str | None = None) -> list[dict]:
        """Ask the engine to exit (writing its spans), then make sure its
        whole process tree has ended. Later calls do nothing."""
        spans: list[dict] = []
        if not self._alive:
            return spans
        if spans_path and self.proc.poll() is None:
            try:
                self.call("exit", spans=spans_path, timeout=60)
                self.proc.wait(timeout=30)
                with open(spans_path) as f:
                    spans = json.load(f)
            except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
                log(f"engine did not exit cleanly: {e}")
        self._alive = False
        kill_tree(self.proc)
        self.stderr.close()
        return spans


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def kill_tree(proc: subprocess.Popen) -> None:
    """SIGKILL a child that has not been waited for and all its
    descendants, then wait until every one of them has ended."""
    pids = process_tree(proc.pid)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{p}") and _state(p) != "Z" for p in pids
    ):
        time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def run_client(work: str, plan: dict, name: str) -> dict:
    plan_path = os.path.join(work, f"{name}-plan.json")
    out_path = os.path.join(work, f"{name}-out.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "client.py"), plan_path, out_path],
        cwd=work,
    )
    try:
        rc = proc.wait(timeout=plan["seconds"] + 170)
    except BaseException:
        kill_tree(proc)
        raise
    if rc != 0:
        raise RuntimeError(f"client exited with {rc}")
    with open(out_path) as f:
        return json.load(f)


# -- workloads --------------------------------------------------------------


class Run:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.report: dict[str, tuple[float, str]] = {}  # every metric printed
        self.layers: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.spans_reads: list[dict] = []  # client requests matched to spans
        self.engine: EngineProcess | None = None

    def fail(self, n: int, msgs: list[str]) -> None:
        self.failed += n
        self.problems.extend(msgs)

    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (value, unit)

    def probe(self, write_path: bool, stream: int | None) -> None:
        """Layer probes on this seed's fleet and a write batch; the write
        path and a ``stream``-batch acquisition stream only when asked."""
        fleet_xml = os.path.join(self.work, "probe-fleet.xml")
        gen.write_fleet_xml(gen.fleet(self.seed), fleet_xml)
        body, _ = gen.write_batch(self.seed, 10**6, gen.history_series(), gen.T0)
        scratch = os.path.join(self.work, "probe")
        os.makedirs(scratch, exist_ok=True)
        res = self.engine.call("probe", fleet_xml=fleet_xml, write_body=body, scratch=scratch,
                               write_path=write_path, stream=stream)
        progress = res.pop("stream_progress", None)
        for k in ("event", "ok"):
            res.pop(k)
        self.layers.update(res)
        if progress is not None:
            self.layers.update(stream_layers(progress))

    def table_layers(self, table: str, when: str) -> None:
        files, size = gen.table_stats(table)
        self.layers[f"table.files_{when}"] = files
        self.layers[f"table.bytes_{when}"] = size


def stream_layers(progress: list[dict]) -> dict:
    out = {}
    for key in ("latestOffset", "addBatch", "queryPlanning", "walCommit", "commitOffsets"):
        snake = "".join("_" + c.lower() if c.isupper() else c for c in key)
        vals = [p["durationMs"].get(key, 0) for p in progress]
        # Spark reports whole milliseconds; a mean keeps the digits
        out[f"stream.{snake}_ms"] = statistics.fmean(vals)
    return out


def windows(r: Run) -> list[tuple[float, bool]]:
    """(seconds, traced) of each measured window. A traced run puts its
    traced window between two untraced halves, so the difference between
    them, the tracing overhead, is not a warming trend."""
    if not r.trace:
        return [(r.seconds, False)]
    return [(r.seconds / 2, False), (r.seconds, True), (r.seconds / 2, False)]


def sweep_stats(progress: list[list[dict]], points_per_sweep: int):
    """Sweep latencies (trigger start to commit) and points committed per
    second of the windows' batches."""
    lat: list[float] = []
    busy = 0.0
    for prog in progress:
        if prog:
            ms = [p["durationMs"]["triggerExecution"] for p in prog]
            lat += ms
            busy += prog[-1]["start_s"] + ms[-1] / 1000 - prog[0]["start_s"]
    if len(lat) < 2:
        raise RuntimeError(f"only {len(lat)} sweeps committed in the measured windows")
    return lat, len(lat) * points_per_sweep / busy


def ingest(r: Run) -> None:
    fleet = gen.fleet(r.seed)
    xml = os.path.join(r.work, "fleet.xml")
    gen.write_fleet_xml(fleet, xml)
    points_per_sweep = sum(
        1 for _ip, dt, _a, _ad, _al, active in fleet if active and dt in gen.DECODABLE
    )
    table = os.path.join(r.work, "points")
    r.engine = EngineProcess(r.work, {
        "mode": "ingest", "fleet_xml": xml, "table": table,
        "checkpoint": os.path.join(r.work, "checkpoint"), "trace": r.trace,
    })
    r.put("setup_s", r.engine.ready()[0], "s")
    measured = []
    r.engine.in_window = True
    for i, (seconds, traced) in enumerate(windows(r)):
        # the first sweeps after the first commit still run colder code;
        # let SETTLE_SWEEPS more commit before the first window opens
        w = r.engine.call("measure", seconds=seconds, trace=traced,
                          settle=SETTLE_SWEEPS if i == 0 else 0,
                          timeout=seconds + SERVER_TIMEOUT_S)
        measured.append((traced, w["progress"]))
    r.engine.in_window = False
    stop = r.engine.call("stop_ingest")
    if not stop["clean"]:
        r.fail(1, [f"stream did not stop between batches: {stop['error']}"])
    lat, pps = sweep_stats([p for t, p in measured if not t], points_per_sweep)
    r.attempted += len(stop["committed"])
    r.put("sweep_p50_ms", quantile(lat, 0.5), "ms")
    r.put("sweep_p90_ms", quantile(lat, 0.9), "ms")
    r.put("ingest_points_per_s", pps, "1/s")
    r.put("sweeps", len(lat), "count")
    r.e2e = {"latency_ms": kind_gmean({"sweep": lat}), "throughput_per_s": pps}
    from check import check_ingest

    r.fail(*check_ingest(table, fleet, stop["committed"], r.seed))
    if r.trace:
        traced = [p for t, p in measured if t]
        r.layers["trace.overhead_ms"] = statistics.fmean(sweep_stats(traced, 1)[0]) - statistics.fmean(lat)
        r.layers.update(stream_layers(traced[0]))
        r.table_layers(table, "end")
        r.layers["table.files_start"] = 0
        r.layers["table.bytes_start"] = 0
        # one request of each statement kind against the ingested table
        series = [(ip, al) for ip, dt, _a, _ad, al, act in fleet if act and dt in gen.DECODABLE]
        stmts = gen.statements(r.seed, series, gen.T0, gen.T0 + max(stop["committed"]) + 1)
        port = r.engine.call("serve", table=table)["port"]
        r.engine.call("trace", on=True)
        traced_kinds(r, port, stmts, [])
        r.engine.call("trace", on=False)
        r.probe(write_path=True, stream=None)


def traced_kinds(r: Run, port: int, stmts: dict, reads: list[dict]) -> None:
    """Traced requests for the per-kind layer metrics: the traced window's
    reads, plus one request of each kind the window did not complete."""
    missing = [v[0] for k, v in stmts.items() if k not in {x["kind"] for x in reads}]
    if missing:
        out = run_client(r.work, {"port": port, "deck": missing, "readers": 1,
                                  "seconds": 150, "once": True}, "traced-kinds")
        bad = [x for x in out["reads"] if x["status"] != 200 or '"error"' in x["body"]]
        r.attempted += len(out["reads"])
        r.fail(len(bad), [f"{x['kind']}: HTTP {x['status']} {x['body'][:200]}" for x in bad])
        reads = reads + out["reads"]
    r.spans_reads = reads


def gateway(r: Run, writes: bool) -> None:
    table = os.path.join(r.work, "points")
    n_points = gen.write_history(r.seed, table)
    series = gen.history_series()
    t_hi = gen.T0 + gen.HISTORY_HOURS * 3600
    stmts = gen.statements(r.seed, series, gen.T0, t_hi)
    by_sid = {s["sid"]: s for v in stmts.values() for s in v}
    deck = gen.deck(r.seed, stmts, 5000)
    r.put("table_points", n_points, "count")
    plan_windows = [(WARM_S, None)] + windows(r)
    # write batch 0 is the set-up write; the writer sends 1, 2, ...
    n_batches = 1 + sum(math.ceil(s / WRITE_PERIOD_S) for s, _t in plan_windows) if writes else 1
    batches = [gen.write_batch(r.seed, k, series, t_hi) for k in range(n_batches)]
    r.engine = EngineProcess(r.work, {
        "mode": "gateway", "table": table, "trace": r.trace,
        # every distinct statement, one of each kind first: the first run
        # of a statement compiles its plan, and a variant first seen in a
        # window took about twice as long as its repeats
        "warm": [v[i]["q"] for i in range(gen.VARIANTS) for v in stmts.values() if i < len(v)],
        "warm_clients": READERS,
        "warm_writes": [batches[0][0]] if writes else [],
    })
    setup_s, ready = r.engine.ready()
    port = ready["port"]
    r.put("setup_s", setup_s, "s")
    files0, bytes0 = gen.table_stats(table)
    # Under load the first seconds still run code the JVM is compiling.
    # The readers and the writer run WARM_S seconds untimed before the
    # windows open; their answers are checked like the rest. traced is
    # None for that window.
    runs = []
    next_read, next_write = 0, 1
    for seconds, traced in plan_windows:
        r.engine.in_window = traced is not None
        if r.trace and traced is not None:
            r.engine.call("trace", on=traced)
        plan = {"port": port, "deck": deck[next_read:], "readers": READERS, "seconds": seconds}
        if writes:
            plan["writer"] = {"bodies": [b for b, _ in batches[next_write:]],
                              "period_s": WRITE_PERIOD_S}
        out = run_client(r.work, plan, f"client-{len(runs)}")
        for x in out["writes"]:
            x["k"] += next_write
        # each window starts at the head of a refresh cycle, so windows of
        # one length hold nearly the same mix of kinds on every run
        next_read = -(-(next_read + len(out["reads"])) // len(gen.CYCLE)) * len(gen.CYCLE)
        next_write += len(out["writes"])
        runs.append((traced, out))
    r.engine.in_window = False
    all_reads = [x for _t, o in runs for x in o["reads"]]
    all_writes = [x for _t, o in runs for x in o["writes"]]
    r.attempted += len(all_reads) + len(all_writes)
    plain = [o for t, o in runs if t is False]
    q_lat, w_lat, qps = op_stats(plain)
    r.put("query_p50_ms", quantile(q_lat, 0.5), "ms")
    r.put("query_p90_ms", quantile(q_lat, 0.9), "ms")
    r.put("queries_per_s", qps, "1/s")
    r.put("queries", len(q_lat), "count")

    from check import QueryOracle, check_reads

    log("measured; checking answers")
    oracle = QueryOracle(os.path.join(table, "hour-*.parquet"))
    fleet_last_ok = None
    if writes:
        lag = [(x["start"] - x["due"]) * 1000 for o in plain for x in o["writes"]]
        span = sum(max(x["end"] for x in o["writes"]) - o["t_begin"] for o in plain)
        r.put("write_p50_ms", quantile(w_lat, 0.5), "ms")
        r.put("write_p90_ms", quantile(w_lat, 0.9), "ms")
        r.put("write_points_per_s", len(w_lat) * len(series) / span, "1/s")
        r.put("write_lag_ms", quantile(lag, 0.5), "ms")
        r.put("writes", len(w_lat), "count")
        bad_w = [x for x in all_writes if x["status"] != 204]
        r.fail(len(bad_w), [f"write {x['k']}: HTTP {x['status']} {x['body'][:200]}" for x in bad_w[:5]])
        acked = [{"k": 0, "start": 0.0, "end": 0.0}] + [x for x in all_writes if x["status"] == 204]
        points = {k: pts for k, (_b, pts) in enumerate(batches)}
        fleet_last_ok = fleet_last_checker(oracle, acked, points)
    by_kind: dict[str, list[float]] = {"write": w_lat} if writes else {}
    for o in plain:
        for x in o["reads"]:
            by_kind.setdefault(x["kind"], []).append((x["end"] - x["start"]) * 1000)
    r.e2e = {"latency_ms": kind_gmean(by_kind), "throughput_per_s": qps}
    r.fail(*check_reads(all_reads, by_sid, oracle, fleet_last_ok))
    if writes:
        r.fail(*read_back(port, acked, points, t_hi))
        r.attempted += 1
    if r.trace:
        traced_out = next(o for t, o in runs if t)
        traced_kinds(r, port, stmts, traced_out["reads"])
        r.engine.call("trace", on=False)
        t_q, t_w, _ = op_stats([traced_out])
        r.layers["trace.overhead_ms"] = statistics.fmean(t_q + t_w) - statistics.fmean(q_lat + w_lat)
        r.layers["table.files_start"], r.layers["table.bytes_start"] = files0, bytes0
        r.table_layers(table, "end")
        if writes:
            r.layers["write.files_added"] = (r.layers["table.files_end"] - files0) / (len(acked) - 1)
        r.probe(write_path=not writes, stream=3)


def kind_gmean(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's geometric-mean
    latency. Every kind weighs the same however many of it a window
    held, so the figure does not move with where a window cut the
    statement cycle; and it uses every sample, where a median over a few
    dozen operations of kinds 4x apart in latency jumps between kinds."""
    return math.exp(statistics.fmean(
        statistics.fmean(math.log(x) for x in xs) for xs in by_kind.values()
    ))


def op_stats(outs: list[dict]):
    """Query latencies, write latencies (from when each write was due)
    and queries answered per second of the client windows."""
    q_lat = [(x["end"] - x["start"]) * 1000 for o in outs for x in o["reads"]]
    w_lat = [(x["end"] - x["due"]) * 1000 for o in outs for x in o["writes"]]
    if len(q_lat) < 2:
        raise RuntimeError(f"only {len(q_lat)} queries answered in the measured windows")
    busy = sum(max(x["end"] for x in o["reads"]) - o["t_begin"] for o in outs if o["reads"])
    return q_lat, w_lat, len(q_lat) / busy


def fleet_last_checker(oracle, acked: list[dict], write_points: dict):
    """fleet_last while writes land: each series' answer is its newest
    point among the history and the writes acked by then, or a point of
    a write still in flight."""
    base = oracle.expected({"kind": "fleet_last"})
    by_series: dict = {}
    for x in acked:
        for ip, alias, ts, v in write_points[x["k"]]:
            by_series.setdefault((ip, alias), []).append((x["start"], x["end"], ts, v))

    def ok(read: dict, got: dict):
        if set(got) != set(base):
            return f"{len(got)} series, expected {len(base)}"
        for key, rows in got.items():
            # candidates: the newest write acked before the read began,
            # or the history if there is none, plus writes in flight
            done = [w for w in by_series.get(key, []) if w[1] <= read["start"]]
            newest = max(done, key=lambda w: w[2], default=None)
            allowed = {newest[3]} if newest else {base[key][0][0]}
            allowed |= {
                w[3] for w in by_series.get(key, [])
                if w[0] < read["end"] and (newest is None or w[2] > newest[2])
            }
            if rows not in ([[v]] for v in allowed):
                return f"series {key}: {rows} is none of the newest acked values {sorted(allowed)}"
        return None

    return ok


def read_back(port: int, acked: list[dict], write_points: dict, t_lo: int):
    """Every acked point is readable through the gateway at the end."""
    from check import series_of
    from client import query_path, request

    want: dict = {}
    for x in acked:
        for ip, alias, _ts, v in write_points[x["k"]]:
            c, s = want.get((ip, alias), (0, 0.0))
            want[(ip, alias)] = (c + 1, s + v)
    q = (f"SELECT count(\"value\"), sum(\"value\") FROM \"points\" WHERE "
         f"time >= {t_lo}s GROUP BY \"plc_ip\", \"alias\"")
    status, body = request(port, "GET", query_path(q))
    got, err = series_of(body.decode()) if status == 200 else (None, f"HTTP {status}")
    if err:
        return 1, [f"read-back failed: {err}"]
    have = {k: (int(v[0][0]), v[0][1]) for k, v in got.items()}
    if have != want:
        diff = [k for k in set(have) | set(want) if have.get(k) != want.get(k)]
        return 1, [f"read-back differs on {len(diff)} series, e.g. {diff[:1]}: "
                   f"{have.get(diff[0])} != {want.get(diff[0])}"]
    return 0, []


# -- per-layer metrics from spans -----------------------------------------


def span_layers(r: Run, spans: list[dict]) -> list[dict]:
    """Per-kind query layers from the traced requests. Each client request
    becomes a span whose time interval holds the server's InfluxAPI.query
    span; that span and its children take the client request's id.
    Returns every span, client spans included."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    roots = [s for s in spans if s["name"] == "streaming.http_api.query"]
    per: dict = {k: {} for k in gen.KINDS}
    client_spans = []
    for read in r.spans_reads:
        root = next((s for s in roots if s["start"] >= read["start"]
                     and s["end"] <= read["end"] and s["rid"] > 0), None)
        if root is None:
            continue
        rid = -1 - len(client_spans)
        client_spans.append({"id": rid, "name": "client.query", "parent": None, "rid": rid,
                             "start": read["start"], "end": read["end"], "kind": read["kind"]})
        todo = [root]
        root["parent"] = rid
        while todo:
            s = todo.pop()
            s["rid"] = rid
            todo.extend(kids.get(s["id"], []))
        ch = kids.get(root["id"], [])
        dur = root["end"] - root["start"]
        for name, value in (
            ("query", dur * 1000),
            ("transport", (read["end"] - read["start"] - dur) * 1000),
            ("compile", 1000 * sum(c["end"] - c["start"] for c in ch
                                   if c["name"] == "functions.influxql.compile")),
            ("collect", 1000 * sum(c["end"] - c["start"] for c in ch
                                   if c["name"] == "streaming.http_api.collect")),
            ("rows", sum(c.get("rows", 0) for c in ch if c["name"] == "streaming.http_api.collect")),
            ("bytes", len(read["body"])),
        ):
            per[read["kind"]].setdefault(name, []).append(value)
    for kind, p in per.items():
        if not p:
            raise RuntimeError(f"no traced request of kind {kind}")
        med = {k: statistics.median(v) for k, v in p.items()}
        r.layers[f"functions.influxql.{kind}.compile_ms"] = med["compile"]
        r.layers[f"streaming.http_api.{kind}.collect_ms"] = med["collect"]
        r.layers[f"streaming.http_api.{kind}.query_ms"] = med["query"]
        r.layers[f"streaming.http_api.{kind}.transport_ms"] = med["transport"]
        r.layers[f"{kind}.rows_returned"] = med["rows"]
        r.layers[f"{kind}.response_bytes"] = med["bytes"]
    writes = [s for s in spans if s["name"] == "streaming.http_api.write"]
    if writes:
        r.layers["streaming.http_api.write_ms"] = statistics.median(
            (s["end"] - s["start"]) * 1000 for s in writes
        )
    return client_spans + spans


def self_time_table(spans: list[dict]) -> dict[str, tuple[int, float]]:
    """Span name -> (spans, median self time in ms)."""
    selfs = self_times(spans)
    by_name: dict = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(selfs[s["id"]] * 1000)
    return {k: (len(v), statistics.median(v)) for k, v in sorted(by_name.items())}


# -- entry point ------------------------------------------------------------

WORKLOADS = {
    "ingest": ingest,
    "dashboard": lambda r: gateway(r, writes=False),
    "mixed": lambda r: gateway(r, writes=True),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "api.py")):
        log(f"the engine package {PKG}/ is not in {ROOT}; run from a full checkout")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    r = Run(args, work)
    spans: list[dict] = []
    try:
        WORKLOADS[args.workload](r)
        log("checked")
        spans = r.engine.close(os.path.join(work, "spans.json") if r.trace else None)
        r.put("peak_rss_mb", r.engine.peak_rss / 2**20, "MB")
        r.put("rss_mb", statistics.median(r.engine.window_rss) / 2**20, "MB")
        if r.trace:
            spans = span_layers(r, spans)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(spans, f)
    except Exception:
        for name in sorted(os.listdir(work)):
            if name.endswith(".log"):
                with open(os.path.join(work, name)) as f:
                    log(f"--- tail of {name}:\n" + "".join(f.readlines()[-40:]))
        raise
    finally:
        if r.engine is not None:
            r.engine.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for name, (value, unit) in r.report.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} failed_ratio = {r.failed / max(1, r.attempted):.6g} (failed {r.failed} of {r.attempted})")
    for msg in r.problems:
        print(f"{args.workload} FAILED: {msg}")
    if r.trace:
        for name, (n, ms) in self_time_table(spans).items():
            print(f"{args.workload} span {name}: {n} spans, median self time {ms:.6g} ms")
        for name, value in sorted(r.layers.items()):
            print(f"{args.workload} layer {name} = {value:.6g} {layer_unit(name)}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in r.layers.items()}
    else:
        r.e2e["setup_s"] = r.report["setup_s"][0]
        r.e2e["rss_mb"] = r.report["rss_mb"][0]
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in r.e2e.items()}
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0


E2E_UNITS = {"setup_s": "s", "latency_ms": "ms", "throughput_per_s": "1/s", "rss_mb": "MB"}


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_per_reading", "_per_file", "_per_batch")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
