"""The engine under test, in its own process.

Started by run.py with a JSON config path. It builds a Spark session and
an ``IoTEngine``, then either runs the acquisition daemon over the
``plc_sim`` source (``mode: ingest``) or serves the InfluxDB 1.x gateway
over a points table (``mode: gateway``). It prints ``@@PB <json>`` lines
on stdout and reads one JSON command per line on stdin.

The sink hook is wrapped so the stream can stop between two batches:
once a stop is asked for, the next batch raises before it writes, so the
table holds exactly the committed sweeps.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.monotonic()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), ROOT]

from client import query_path, request  # noqa: E402
from gen import table_stats  # noqa: E402
from spans import Tracer  # noqa: E402

from iot_system_plc_data_to_influxdb_spark import api as engine_api  # noqa: E402
from iot_system_plc_data_to_influxdb_spark.functions import influxql  # noqa: E402
from iot_system_plc_data_to_influxdb_spark.session import get_spark  # noqa: E402
from iot_system_plc_data_to_influxdb_spark.streaming import (  # noqa: E402
    http_api,
    influx,
    sinks,
)

STOP_MARK = "perfbench-stop-between-batches"


def emit(**msg) -> None:
    sys.stdout.write("@@PB " + json.dumps(msg) + "\n")
    sys.stdout.flush()


class StopBetweenBatches(RuntimeError):
    pass


class Server:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.tracer = Tracer()
        self.stop_stream = threading.Event()
        orig_write = sinks.write_points_batch

        def gated_write(batch_df, batch_id, table_path):
            if self.stop_stream.is_set():
                raise StopBetweenBatches(f"{STOP_MARK} before batch {batch_id}")
            return orig_write(batch_df, batch_id, table_path)

        sinks.write_points_batch = gated_write
        if cfg.get("trace"):
            self._install_spans()
        self.spark = get_spark("perfbench")
        self.t_session = time.monotonic() - T_START
        self.engine = None
        self.query = None
        self.gateway = None
        self.port = None

    def _install_spans(self) -> None:
        t = self.tracer
        t.wrap(http_api.InfluxAPI, "query", "streaming.http_api.query", root=True,
               note=lambda a, k, r: {"q": a[1]})
        t.wrap(http_api.InfluxAPI, "write", "streaming.http_api.write", root=True,
               note=lambda a, k, r: {"points": r})
        t.wrap(http_api, "df_to_series_list", "streaming.http_api.collect",
               note=lambda a, k, r: {"rows": sum(len(s["values"]) for s in r)})
        t.wrap(influxql, "compile_statement", "functions.influxql.compile")
        t.wrap(influxql, "compile_show", "functions.influxql.compile")
        t.wrap(influx, "parse_line_protocol", "streaming.influx.parse")

    # -- ingest -----------------------------------------------------------
    def start_ingest(self) -> dict:
        t0 = time.monotonic()
        self.engine = engine_api.IoTEngine(self.spark, config_path=self.cfg["fleet_xml"])
        t1 = time.monotonic()
        self.query = self.engine.start_acquisition(self.cfg["table"], self.cfg["checkpoint"])
        while self.query.lastProgress is None:
            if not self.query.isActive:
                raise RuntimeError(f"stream ended before its first batch: {self.query.exception()}")
            time.sleep(0.02)
        return {"config_read_s": t1 - t0}

    def measure(self, seconds: float, trace: bool, settle: int = 0) -> dict:
        """Progress of the batches that start within the next ``seconds``,
        after ``settle`` more batches have committed."""
        target = self.query.lastProgress["batchId"] + settle
        while self.query.isActive and self.query.lastProgress["batchId"] < target:
            time.sleep(0.01)
        self.tracer.enabled = trace
        w0 = time.time()
        time.sleep(seconds)
        w1 = time.time()
        last = self.query.lastProgress["batchId"]
        while self.query.isActive and self.query.lastProgress["batchId"] == last:
            time.sleep(0.01)
        progress = []
        for p in self.query.recentProgress:
            p = json.loads(p.json)
            p["start_s"] = _epoch(p["timestamp"])
            if w0 <= p["start_s"] < w1:
                progress.append(p)
        return {"progress": progress}

    def _stop_between_batches(self, query) -> str | None:
        """Stop ``query`` at its next batch boundary; None when it ended
        there, else what ended it."""
        self.stop_stream.set()
        error = "stream did not stop within 120 s"
        try:
            if query.awaitTermination(120):
                error = "stream ended without reaching the next batch"
        except Exception as e:  # noqa: BLE001 — classified below
            error = str(e)
        query.stop()
        self.stop_stream.clear()
        return None if STOP_MARK in error else error[:2000]

    def stop_ingest(self) -> dict:
        error = self._stop_between_batches(self.query)
        commits = os.path.join(self.cfg["checkpoint"], "commits")
        committed = sorted(int(f) for f in os.listdir(commits) if f.isdigit())
        return {"clean": error is None, "error": error, "committed": committed}

    # -- gateway ------------------------------------------------------------
    def start_gateway(self, table: str) -> dict:
        if self.engine is None:
            self.engine = engine_api.IoTEngine(self.spark)
        self.gateway, self.port = self.engine.serve_influx_api(table)
        # Readiness: every warm-up statement has been answered, sent by as
        # many clients as the workload has readers, then each warm-up write
        # has been acked.
        def ask(q):
            return (q, *request(self.port, "GET", query_path(q)))

        with ThreadPoolExecutor(self.cfg.get("warm_clients", 1)) as pool:
            answers = list(pool.map(ask, self.cfg.get("warm", [])))
        for q, status, body in answers:
            if status != 200 or b'"error"' in body:
                raise RuntimeError(f"warm-up statement failed ({status}): {q}: {body[:500]!r}")
        for body in self.cfg.get("warm_writes", []):
            status, resp = request(self.port, "POST", "/write?precision=s", body.encode())
            if status != 204:
                raise RuntimeError(f"warm-up write failed ({status}): {resp[:500]!r}")
        return {"port": self.port}

    def stop_gateway(self) -> dict:
        if self.gateway is not None:
            self.gateway.shutdown()
            self.gateway.server_close()
            self.gateway = None
        return {}

    # -- layer probes -----------------------------------------------------
    def probe(self, p: dict) -> dict:
        """Time one call into each layer on this run's seeded inputs
        (median of a few calls), for the layers the workload's own loop
        does not pass through with a span."""
        from iot_system_plc_data_to_influxdb_spark.sources.config import read_config
        from iot_system_plc_data_to_influxdb_spark.sources.plc import (
            READING_SCHEMA,
            PLCSimStreamReader,
        )
        from iot_system_plc_data_to_influxdb_spark.streaming.pipeline import decode_readings
        from pyspark.sql import functions as F

        spark = self.spark
        out: dict = {}
        rows = read_config(spark, p["fleet_xml"]).filter(F.col("active")).collect()
        out["sources.config.read_ms"] = _median_ms(
            lambda: read_config(spark, p["fleet_xml"]).filter(F.col("active")).collect(), 5
        )
        tags = [[r["plc_ip"], r["data_type"], r["data_area"], r["address"], r["alias"]] for r in rows]
        reader = PLCSimStreamReader({"tags": json.dumps(tags), "pollsPerBatch": "1"})
        out["sources.plc.sweep_read_ms"] = _median_ms(lambda: list(reader.read({"poll": 7})[0]), 5)
        sweep = list(reader.read({"poll": 7})[0])
        raw = spark.createDataFrame(sweep, READING_SCHEMA).cache()
        n_raw = raw.count()
        out["functions.decode.decode_ms"] = _median_ms(lambda: decode_readings(raw).count(), 5)
        decoded = decode_readings(raw).cache()
        n_points = decoded.count()
        out["functions.decode.points_per_reading"] = n_points / n_raw
        sink_dir = os.path.join(p["scratch"], "sink")
        out["streaming.sinks.write_ms"] = _median_ms(
            lambda: sinks.write_points_batch(decoded, 0, sink_dir), 3
        )
        files = table_stats(sink_dir)[0] / 3
        out["streaming.sinks.files_per_batch"] = files
        out["streaming.sinks.points_per_file"] = n_points / files
        lines = spark.createDataFrame(
            [(ln,) for ln in p["write_body"].splitlines() if ln], "line string"
        ).cache()
        lines.count()
        out["streaming.influx.parse_ms"] = _median_ms(
            lambda: influx.parse_line_protocol(lines, precision="s").count(), 5
        )
        raw.unpersist()
        decoded.unpersist()
        lines.unpersist()
        if p.get("write_path"):
            wdir = os.path.join(p["scratch"], "writes")
            gw = http_api.InfluxAPI(spark, lambda _m: spark.read.parquet(wdir), write_dir=wdir)
            out["streaming.http_api.write_ms"] = _median_ms(
                lambda: gw.write(p["write_body"], precision="s"), 3
            )
            out["write.files_added"] = table_stats(wdir)[0] / 3
        if p.get("stream"):
            out.update(self._probe_stream(p))
        return out

    def _probe_stream(self, p: dict) -> dict:
        """A short acquisition stream on the run's fleet, for workloads
        whose own loop runs no stream."""
        eng = engine_api.IoTEngine(self.spark, config_path=p["fleet_xml"])
        q = eng.start_acquisition(
            os.path.join(p["scratch"], "stream"), os.path.join(p["scratch"], "stream_ckpt")
        )
        try:
            while (q.lastProgress or {}).get("batchId", -1) < p["stream"]:
                if not q.isActive:
                    raise RuntimeError(f"probe stream ended: {q.exception()}")
                time.sleep(0.02)
        finally:
            self._stop_between_batches(q)
        # batch 0 is the cold first batch
        return {"stream_progress": [json.loads(x.json) for x in q.recentProgress][1:]}


def _epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _median_ms(fn, n: int) -> float:
    times = []
    for _ in range(n):
        t = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    srv = Server(cfg)
    if cfg["mode"] == "ingest":
        info = srv.start_ingest()
    else:
        info = srv.start_gateway(cfg["table"])
    emit(event="ready", t=time.monotonic() - T_START, session_s=srv.t_session, **info)
    for line in sys.stdin:
        cmd = json.loads(line)
        name = cmd.pop("cmd")
        try:
            if name == "measure":
                res = srv.measure(**cmd)
            elif name == "stop_ingest":
                res = srv.stop_ingest()
            elif name == "serve":
                res = srv.start_gateway(cmd["table"])
            elif name == "trace":
                srv.tracer.enabled = cmd["on"]
                res = {}
            elif name == "probe":
                res = srv.probe(cmd)
            elif name == "exit":
                if srv.query is not None and srv.query.isActive:
                    srv.stop_ingest()
                srv.stop_gateway()
                with open(cmd["spans"], "w") as f:
                    json.dump(srv.tracer.spans, f)
                srv.spark.stop()
                emit(event="exit")
                return 0
            else:
                raise ValueError(f"unknown command {name!r}")
            emit(event=name, ok=True, **res)
        except Exception as e:  # noqa: BLE001 — reported to the harness
            import traceback

            traceback.print_exc()
            emit(event=name, ok=False, error=f"{type(e).__name__}: {e}"[:2000])
    return 0


if __name__ == "__main__":
    sys.exit(main())
