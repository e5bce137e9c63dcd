"""Correctness checks, made independently of the engine.

The points tables are read with DuckDB straight from their parquet files;
the simulator's buffers are decoded with ``struct.unpack``. Each check
returns the number of operations it found wrong and a list of messages.
"""

from __future__ import annotations

import json
import math
import struct

import duckdb

from gen import T0


def _glob(table: str) -> str:
    return f"read_parquet('{table}/**/*.parquet', hive_partitioning = true)"


def _decode(data_type: str, buf: bytes, bit: int | None) -> float:
    if data_type == "S7WLReal":
        return struct.unpack(">f", buf[:4])[0]
    if data_type == "S7WLDWord":
        return float(struct.unpack(">I", buf[:4])[0])
    if data_type == "S7WLWord":
        return float(struct.unpack(">h", buf[:2])[0])
    if data_type == "S7WLByte":
        return float(struct.unpack(">B", buf[:1])[0])
    return float((buf[0] >> (bit or 0)) & 1)


def check_ingest(table: str, fleet: list[tuple], committed: list[int], seed: int):
    """The table holds exactly the committed sweeps, each with one point
    per decodable active tag, and sampled values equal an independent
    decode of the simulator's buffer. Returns (failed sweeps, messages)."""
    from iot_system_plc_data_to_influxdb_spark.sources.plc import (
        _address_numbers,
        simulate_buffer,
    )

    from gen import DECODABLE

    tags = {
        (ip, alias): (dt, area, address)
        for ip, dt, area, address, alias, active in fleet
        if active and dt in DECODABLE
    }
    con = duckdb.connect()
    per_batch = dict(
        con.execute(
            f"SELECT batch_id, count(*) FROM {_glob(table)} GROUP BY batch_id"
        ).fetchall()
    )
    msgs = []
    bad = set()
    for b in sorted(set(per_batch) | set(committed)):
        n = per_batch.get(b, 0)
        if b not in committed:
            msgs.append(f"batch {b}: {n} points in the table, but the batch was not committed")
        elif n != len(tags):
            msgs.append(f"batch {b}: {n} points, expected {len(tags)}")
        else:
            continue
        bad.add(b)
    # one poll sweep per batch: batch b read poll b, stamped T0 + b
    rows = con.execute(
        f"SELECT plc_ip, alias, batch_id, epoch(ts)::BIGINT, value FROM {_glob(table)} "
        f"USING SAMPLE 400 ROWS (reservoir, {seed % 100000})"
    ).fetchall()
    for ip, alias, b, ts, value in rows:
        spec = tags.get((ip, alias))
        if spec is None:
            bad.add(b)
            msgs.append(f"{ip}/{alias}: not a decodable active tag")
            continue
        dt, area, address = spec
        nums = _address_numbers(address)
        bit = (nums[2] if len(nums) > 2 else None) if area == "S7AreaDB" else (
            nums[1] if len(nums) > 1 else None
        )
        expect = _decode(dt, simulate_buffer(dt, alias, b), bit)
        if ts != T0 + b or value != expect:
            bad.add(b)
            msgs.append(f"{ip}/{alias} poll {b}: ({ts}, {value}) != ({T0 + b}, {expect})")
    return len(bad), msgs[:20]


class QueryOracle:
    """Expected answers for the dashboard statement kinds, from DuckDB
    over the historic points table."""

    def __init__(self, files: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE pts AS SELECT epoch_ms(ts) AS t, plc_ip, alias, value "
            f"FROM read_parquet('{files}')"
        )

    def expected(self, stmt: dict):
        kind = stmt["kind"]
        if kind == "panel_1h":
            return self._buckets(stmt, 60, "previous", [stmt["alias"]])
        if kind == "panel_tags_8h":
            return self._buckets(stmt, 300, "null", None)
        if kind == "template_tags":
            rows = self.con.execute(
                "SELECT DISTINCT alias FROM pts WHERE plc_ip = ? ORDER BY alias",
                [stmt["plc_ip"]],
            ).fetchall()
            return {(): [[a, "float"] for (a,) in rows]}
        if kind == "fleet_last":
            # the engine answers a selector without GROUP BY time() with
            # the value only, no time column (its documented shape)
            rows = self.con.execute(
                "SELECT plc_ip, alias, arg_max(value, t) FROM pts GROUP BY 1, 2"
            ).fetchall()
            return {(ip, a): [[v]] for ip, a, v in rows}
        if kind == "wide_p95":
            # nearest rank: the ceil(p/100 * n)-th smallest value
            rows = self.con.execute(
                "SELECT t // 3600000 * 3600000 AS b, "
                "list_sort(list(value))[greatest(ceil(? / 100 * count(*))::BIGINT, 1)] "
                "FROM pts WHERE t >= ? AND t < ? GROUP BY 1 ORDER BY 1",
                [stmt["pct"], stmt["lo"] * 1000, stmt["hi"] * 1000],
            ).fetchall()
            return {(): [[b, v] for b, v in rows]}
        raise ValueError(kind)

    def _buckets(self, stmt: dict, every: int, fill: str, alias: list | None):
        where = "plc_ip = ? AND t >= ? AND t < ?"
        params = [stmt["plc_ip"], stmt["lo"] * 1000, stmt["hi"] * 1000]
        if alias:
            where += " AND alias = ?"
            params += alias
        rows = self.con.execute(
            f"SELECT alias, t // {every * 1000} * {every * 1000} AS b, avg(value) "
            f"FROM pts WHERE {where} GROUP BY 1, 2",
            params,
        ).fetchall()
        by_alias: dict = {}
        for a, b, v in rows:
            by_alias.setdefault(a, {})[b] = v
        grid = range(stmt["lo"] * 1000, stmt["hi"] * 1000, every * 1000)
        out = {}
        for a, vals in by_alias.items():
            series, prev = [], None
            for b in grid:
                v = vals.get(b)
                if v is None and fill == "previous":
                    v = prev
                prev = v
                series.append([b, v])
            out[() if alias else (a,)] = series
        return out


def series_of(body: str) -> tuple[dict | None, str | None]:
    """A /query response as {tag values: rows}, or (None, error)."""
    try:
        doc = json.loads(body)
    except ValueError:
        return None, f"not JSON: {body[:200]}"
    if "error" in doc:
        return None, doc["error"]
    res = doc["results"][0]
    if "error" in res:
        return None, res["error"]
    out = {}
    for s in res.get("series", []):
        key = tuple(s.get("tags", {}).values())
        out[key] = s["values"]
    return out, None


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def same_rows(got: dict, want: dict) -> str | None:
    if set(got) != set(want):
        return f"series {sorted(got)[:3]}... != {sorted(want)[:3]}..."
    for k, rows in want.items():
        g = got[k]
        if len(g) != len(rows):
            return f"series {k}: {len(g)} rows, expected {len(rows)}"
        for x, y in zip(g, rows):
            if len(x) != len(y) or x[0] != y[0] or not all(
                _close(p, q) if not isinstance(q, str) else p == q
                for p, q in zip(x[1:], y[1:])
            ):
                return f"series {k}: row {x} != {y}"
    return None


def check_reads(reads: list[dict], stmts: dict, oracle: QueryOracle, fleet_last_ok=None):
    """Each answer equals the oracle's. ``fleet_last_ok(read, series)``
    replaces the exact check for fleet_last when writes change it during
    the run. Returns (failed, messages)."""
    cache: dict = {}
    failed, msgs = 0, []
    for r in reads:
        if r["status"] == 200:
            got, err = series_of(r["body"])
        else:
            got, err = None, f"HTTP {r['status']}: {r['body'][:200]}"
        if err is None:
            stmt = stmts[r["sid"]]
            if stmt["kind"] == "fleet_last" and fleet_last_ok is not None:
                err = fleet_last_ok(r, got)
            else:
                if r["sid"] not in cache:
                    cache[r["sid"]] = oracle.expected(stmt)
                err = same_rows(got, cache[r["sid"]])
        if err is not None:
            failed += 1
            if len(msgs) < 10:
                msgs.append(f"{r['kind']} #{r['i']}: {err}")
    return failed, msgs
