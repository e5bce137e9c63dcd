"""PLC polling source (SURVEY.md A5) as a PySpark Python DataSource.

The reference polls Siemens S7 PLC memory via snap7 inside hand-rolled
process/thread loops (Linux/InfluxConnector2.py:142-160,197-209,282-302).
Here the same acquisition is a Spark DataSource usable as
``spark.read.format(...)`` (one poll sweep) or ``spark.readStream``
(micro-batch per poll; offsets = poll sequence numbers, so restart
semantics come from Spark checkpointing instead of the reference's
reconnect loop, A14).

Backends:
- **simulator** (default): deterministic synthetic byte buffers per
  (tag, poll) — CI has no PLC. Values follow simple per-type ramps so
  tests can assert exact decodes.
- **snap7**: the production backend, constructed lazily per partition
  (one connection per PLC group, mirroring A3); import-gated because
  the library is absent in this environment.

Partitioning: the batch readers use one input partition per PLC (A3's
process-per-PLC), so a 1000-PLC fleet fans out across executors with
per-partition connection reuse — the scalable shape of the reference's
multiprocessing scheme. The stream reader is a single partition, read
in the Spark application's main process (a simple stream reader): one
sweep of every PLC per micro-batch.

Each reader builds its per-PLC tag plan once (tags grouped by PLC,
``bit_off`` already parsed from the address), so a sweep does no
address parsing and no scan over other PLCs' tags.
"""

from __future__ import annotations

import json
import struct
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

READING_SCHEMA = (
    "poll bigint, ts timestamp, plc_ip string, alias string, "
    "data_type string, data_area string, address string, bit_off int, buf binary"
)

# Default tag list (mirrors plans.config_plane.CONFIG_ROWS actives).
DEFAULT_TAGS = [
    ("192.168.0.10", "S7WLReal", "S7AreaDB", "DB10.DBD0", "boiler_temp"),
    ("192.168.0.10", "S7WLWord", "S7AreaDB", "DB10.DBW4", "boiler_rpm"),
    ("192.168.0.10", "S7WLBit", "S7AreaPE", "I0.1", "door_open"),
    ("192.168.0.10", "S7WLByte", "S7AreaMK", "M12", "mode_code"),
    ("192.168.0.11", "S7WLReal", "S7AreaPA", "QD16", "valve_pos"),
    ("192.168.0.11", "S7WLBit", "S7AreaDB", "DB5.DBX2.7", "alarm"),
    ("192.168.0.11", "S7WLWord", "S7AreaPE", "IW6", "line_speed"),
    ("192.168.0.12", "S7WLDWord", "S7AreaMK", "MD100", "uptime_s"),
    ("192.168.0.12", "S7WLByte", "S7AreaPA", "QB3", "out_flags"),
]

_EPOCH_BASE = 1704067200  # 2024-01-01T00:00:00Z — deterministic poll clock


def simulate_buffer(data_type: str, alias: str, poll: int) -> bytes:
    """Deterministic snap7-style big-endian buffer for (tag, poll).

    Ramps chosen so every decoded value is exactly representable and
    easy to assert: Real = seed + poll/4, Word = (seed*7 + poll) wrap
    signed, DWord crosses 2³¹, Byte wraps 0..255, Bit alternates.
    """
    seed = sum(ord(c) for c in alias)
    if data_type == "S7WLReal":
        return struct.pack(">f", float(seed) + poll * 0.25)
    if data_type == "S7WLDWord":
        return struct.pack(">I", (2147483000 + seed * 1000 + poll) % (2**32))
    if data_type == "S7WLWord":
        return struct.pack(">H", (seed * 7 + poll * 3) % (2**16))
    if data_type == "S7WLByte":
        return struct.pack(">B", (seed + poll) % 256)
    if data_type == "S7WLBit":
        return struct.pack(">B", 0b10101010 if (poll + seed) % 2 else 0b01010101)
    # Counter/Timer: reference never decodes these — emit junk the
    # null gate (A9) must drop.
    return b"\x00\x00"


@dataclass
class _PlcPartition(InputPartition):
    plc_ip: str
    polls: Sequence[int]


class PLCSimBatchReader(DataSourceReader):
    def __init__(self, options):
        self.plan = _tag_plan(_tags_from_options(options))
        self.n_polls = int(options.get("polls", "3"))

    def partitions(self):
        return [_PlcPartition(ip, range(self.n_polls)) for ip in self.plan]

    def read(self, partition: _PlcPartition) -> Iterator[tuple]:
        ip = partition.plc_ip
        yield from _poll_rows(ip, self.plan[ip], partition.polls)


class PLCSimStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch poll loop: offset = poll counter; each read() is one
    sweep over every tag of every PLC (the reference's update_items)."""

    def __init__(self, options):
        self.plan = _tag_plan(_tags_from_options(options))
        self.polls_per_batch = int(options.get("pollsPerBatch", "1"))

    def initialOffset(self):
        return {"poll": 0}

    def read(self, start: dict):
        end = start["poll"] + self.polls_per_batch
        return self.readBetweenOffsets(start, {"poll": end}), {"poll": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        polls = range(start["poll"], end["poll"])
        rows = []
        for ip, tags in self.plan.items():
            rows.extend(_poll_rows(ip, tags, polls))
        return iter(rows)


def _tags_from_options(options) -> list[tuple]:
    raw = options.get("tags")
    if raw:
        return [tuple(t) for t in json.loads(raw)]
    return list(DEFAULT_TAGS)


def _address_numbers(address: str) -> list[int]:
    import re

    return [int(x) for x in re.findall(r"[0-9]+", address)]


def _bit_offset(data_area: str, address: str):
    nums = _address_numbers(address)
    if data_area == "S7AreaDB":
        return nums[2] if len(nums) > 2 else None
    return nums[1] if len(nums) > 1 else None


def _tag_plan(tags) -> dict[str, list[tuple]]:
    """PLC ip (sorted) → its tags in config order, each as
    ``(alias, data_type, data_area, address, bit_off)``."""
    plan: dict[str, list[tuple]] = {ip: [] for ip in sorted({t[0] for t in tags})}
    for ip, data_type, data_area, address, alias in tags:
        plan[ip].append(
            (alias, data_type, data_area, address, _bit_offset(data_area, address))
        )
    return plan


def _poll_rows(plc_ip: str, tags, polls) -> Iterator[tuple]:
    """READING_SCHEMA rows of one PLC's planned ``tags`` for each poll."""
    import datetime

    for poll in polls:
        ts = datetime.datetime.utcfromtimestamp(_EPOCH_BASE + poll)
        for alias, data_type, data_area, address, bit_off in tags:
            yield (
                poll,
                ts,
                plc_ip,
                alias,
                data_type,
                data_area,
                address,
                bit_off,
                simulate_buffer(data_type, alias, poll),
            )


class PLCSimDataSource(DataSource):
    """format("plc_sim") — registered via spark.dataSource.register."""

    @classmethod
    def name(cls):
        return "plc_sim"

    def schema(self):
        return READING_SCHEMA

    def reader(self, schema: StructType):
        return PLCSimBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType):
        return PLCSimStreamReader(self.options)


def try_snap7_backend():
    """Production backend hook: returns the snap7 module or None.

    Resolved through ``sys.modules`` at call time so tests can inject a
    fake module and exercise the production read path without a PLC.
    """
    try:
        import snap7  # type: ignore

        return snap7
    except ImportError:
        return None


# snap7 protocol constants (public libsnap7 API). Area codes select
# the memory region; the reference hard-codes DB's 132 == 0x84
# (Linux/InfluxConnector2.py:142) and passes the S7WL* word-length
# constant as read_area's 4th argument (:142-160).
S7_AREA_CODES = {
    "S7AreaPE": 0x81,  # process inputs
    "S7AreaPA": 0x82,  # process outputs
    "S7AreaMK": 0x83,  # flags / merker
    "S7AreaDB": 0x84,  # data blocks (== 132)
    "S7AreaCT": 0x1C,  # counters (untested in reference, README.md:49)
    "S7AreaTM": 0x1D,  # timers
}
S7_WORD_LEN = {
    "S7WLBit": 0x01,
    "S7WLByte": 0x02,
    "S7WLWord": 0x04,
    "S7WLDWord": 0x06,
    "S7WLReal": 0x08,
    "S7WLCounter": 0x1C,
    "S7WLTimer": 0x1D,
}


def s7_read_plan(data_type: str, data_area: str, address: str):
    """Map one tag to its exact ``read_area`` argument tuple:
    ``(area_code, db_number, start, word_len, bit_off)`` — or ``None``
    when the reference would skip the tag.

    Mirrors Linux/InfluxConnector2.py:139-170 exactly:
    - DB area consumes digit runs as (db_number, byte_offset[, bit]);
      requires ≥2 numbers, and a Bit REQUIRES exactly 3 (DB5.DBX2.7).
    - PE/PA/MK consume (byte_offset[, bit]); ≥1 number, Bit requires
      exactly 2 (I0.1).
    - Counter/Timer areas and malformed addresses yield None — the
      null gate (A9) drops them downstream.
    """
    nums = _address_numbers(address)
    if data_area not in S7_AREA_CODES or data_type not in S7_WORD_LEN:
        return None
    if data_area == "S7AreaDB":
        if len(nums) < 2:
            return None
        if data_type == "S7WLBit" and len(nums) != 3:
            return None
        db, start = nums[0], nums[1]
        bit = nums[2] if len(nums) > 2 else None
    else:
        if len(nums) < 1:
            return None
        if data_type == "S7WLBit" and len(nums) != 2:
            return None
        db, start = 0, nums[0]
        bit = nums[1] if len(nums) > 1 else None
    return (
        S7_AREA_CODES[data_area],
        db,
        start,
        S7_WORD_LEN[data_type],
        bit,
    )


class Snap7Poller:
    """Production read loop for ONE PLC group (A3: one connection per
    PLC). Batch-sweeps every tag via ``read_area`` with the reference's
    exact argument mapping; on any read error it disconnects,
    reconnects ``(ip, rack=0, slot)``, and abandons the rest of the
    sweep — the next sweep resumes — which is precisely the reference's
    recovery behavior (Linux/InfluxConnector2.py:187-195).

    Designed to run inside one input partition of the DataSource (the
    executor-side body of A5), so a 1000-PLC fleet holds one connection
    per partition.
    """

    def __init__(self, plc_ip: str, slot: int = 1, snap7_module=None):
        snap7 = snap7_module or try_snap7_backend()
        if snap7 is None:
            raise RuntimeError(
                "snap7 backend requested but the snap7 library is not "
                "installed; use the plc_sim simulator backend instead"
            )
        self.plc_ip = plc_ip
        self.slot = slot
        self.client = snap7.client.Client()
        self.client.connect(plc_ip, 0, slot)

    def _reconnect(self):
        self.client.disconnect()
        self.client.connect(self.plc_ip, 0, self.slot)

    def sweep(self, tags, poll: int):
        """One full pass over this PLC's tags → READING_SCHEMA rows."""
        import datetime

        ts = datetime.datetime.utcfromtimestamp(_EPOCH_BASE + poll)
        rows = []
        for ip, data_type, data_area, address, alias in tags:
            if ip != self.plc_ip:
                continue
            plan = s7_read_plan(data_type, data_area, address)
            if plan is None:
                continue
            area, db, start, word_len, bit = plan
            try:
                buf = bytes(self.client.read_area(area, db, start, word_len))
            except Exception:  # noqa: BLE001 — any comms error
                self._reconnect()
                break
            rows.append(
                (poll, ts, ip, alias, data_type, data_area, address, bit, buf)
            )
        return rows


class PLCSnap7BatchReader(DataSourceReader):
    """Batch reader over live PLCs: one partition = one PLC = one
    snap7 connection, ``polls`` sweeps each."""

    def __init__(self, options):
        self.tags = _tags_from_options(options)
        self.n_polls = int(options.get("polls", "1"))
        self.slot = int(options.get("slot", "1"))

    def partitions(self):
        ips = sorted({ip for ip, *_ in self.tags})
        return [_PlcPartition(ip, range(self.n_polls)) for ip in ips]

    def read(self, partition: _PlcPartition) -> Iterator[tuple]:
        poller = Snap7Poller(partition.plc_ip, slot=self.slot)
        for poll in partition.polls:
            yield from poller.sweep(self.tags, poll)


class PLCSnap7DataSource(DataSource):
    """format("plc_s7") — the production backend (requires snap7)."""

    @classmethod
    def name(cls):
        return "plc_s7"

    def schema(self):
        return READING_SCHEMA

    def reader(self, schema: StructType):
        return PLCSnap7BatchReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(PLCSimDataSource)
    spark.dataSource.register(PLCSnap7DataSource)
