"""Seeded inputs for the benchmark workloads.

Everything the engine receives is made here from the workload seed: the
fleet config in the reference XML format, the historic points table, the
Grafana statement mix and the line-protocol write batches. The same seed
gives the same inputs.
"""

from __future__ import annotations

import os
import random
import xml.etree.ElementTree as ET

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# plc_sim stamps poll p at T0 + p seconds; the historic table starts there
# too, so every workload shares one clock.
T0 = 1704067200  # 2024-01-01T00:00:00Z

# Tag kinds of the ingest fleet: (data_type, data_area, address pattern,
# weight). Counter and Timer tags are kept in the config on purpose: the
# null gate must drop them.
_TAG_KINDS = [
    ("S7WLReal", "S7AreaDB", "DB{db}.DBD{off}", 40),
    ("S7WLWord", "S7AreaPE", "IW{off}", 15),
    ("S7WLDWord", "S7AreaMK", "MD{off}", 10),
    ("S7WLByte", "S7AreaPA", "QB{off}", 10),
    ("S7WLBit", "S7AreaDB", "DB{db}.DBX{off}.{bit}", 10),
    ("S7WLBit", "S7AreaPE", "I{off}.{bit}", 10),
    ("S7WLCounter", "S7AreaCT", "C{off}", 3),
    ("S7WLTimer", "S7AreaTM", "T{off}", 2),
]
DECODABLE = {"S7WLReal", "S7WLWord", "S7WLDWord", "S7WLByte", "S7WLBit"}


def plc_ips(n: int) -> list[str]:
    return [f"10.0.{i // 16}.{10 + i % 16}" for i in range(n)]


def fleet(seed: int, n_plcs: int = 64, tags_per_plc: int = 64) -> list[tuple]:
    """Seeded fleet: (plc_ip, data_type, data_area, address, alias, active)."""
    rng = random.Random(seed)
    kinds = [k[:3] for k in _TAG_KINDS]
    weights = [k[3] for k in _TAG_KINDS]
    rows = []
    for ip in plc_ips(n_plcs):
        for j in range(tags_per_plc):
            dt, area, pattern = rng.choices(kinds, weights)[0]
            address = pattern.format(
                db=rng.randint(1, 99), off=4 * j, bit=rng.randint(0, 7)
            )
            alias = f"{dt[4:].lower()}_{j:02d}_{rng.randrange(10**4):04d}"
            active = rng.random() >= 0.05
            rows.append((ip, dt, area, address, alias, active))
    return rows


def write_fleet_xml(rows: list[tuple], path: str) -> None:
    """The reference's config shape: <communication><plc slot>IP<data>…"""
    root = ET.Element("communication")
    plcs: dict[str, ET.Element] = {}
    for ip, dt, area, address, alias, active in rows:
        if ip not in plcs:
            plcs[ip] = ET.SubElement(root, "plc", attrib={"slot": "1"})
            plcs[ip].text = ip
        data = ET.SubElement(plcs[ip], "data")
        for tag, val in (
            ("data_type", dt),
            ("data_area", area),
            ("data_address", address),
            ("data_alias", alias),
            ("active", str(active)),
            ("interval", "min"),
        ):
            ET.SubElement(data, tag).text = val
    ET.ElementTree(root).write(path)


def history_series(n_plcs: int = 16, tags: int = 32) -> list[tuple[str, str]]:
    return [(ip, f"tag_{t:02d}") for ip in plc_ips(n_plcs) for t in range(tags)]


HISTORY_HOURS = 8
HISTORY_STEP_S = 10


def write_history(seed: int, path: str, n_plcs: int = 16, tags: int = 32) -> int:
    """Historic points table, one parquet file per hour, rows sorted by
    (plc_ip, alias, ts): 8 h at 10 s for every series. A quarter of the
    series carry one outage of 3 to 15 minutes, so fill(previous) has gaps
    to fill. Values are multiples of 1/4, so sums are exact. Returns the
    number of points written."""
    rng = np.random.default_rng(seed)
    series = history_series(n_plcs, tags)
    steps = HISTORY_HOURS * 3600 // HISTORY_STEP_S
    per_hour = 3600 // HISTORY_STEP_S
    base = rng.integers(0, 400, size=len(series)) * 1.0
    walk = np.cumsum(rng.integers(-2, 3, size=(len(series), steps)), axis=1) * 0.25
    values = base[:, None] + walk
    keep = np.ones((len(series), steps), dtype=bool)
    outage = rng.random(len(series)) < 0.25
    starts = rng.integers(0, steps - 90, size=len(series))
    lengths = rng.integers(18, 91, size=len(series))
    for s in np.flatnonzero(outage):
        keep[s, starts[s] : starts[s] + lengths[s]] = False
    os.makedirs(path, exist_ok=True)
    ips = pa.array([ip for ip, _ in series])
    aliases = pa.array([a for _, a in series])
    total = 0
    for h in range(HISTORY_HOURS):
        sl = slice(h * per_hour, (h + 1) * per_hour)
        k = keep[:, sl]
        s_idx, t_idx = np.nonzero(k)
        ts = (T0 + (h * per_hour + t_idx) * HISTORY_STEP_S) * 1_000_000
        table = pa.table(
            {
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "plc_ip": ips.take(s_idx),
                "alias": aliases.take(s_idx),
                "value": pa.array(values[:, sl][k]),
            }
        )
        pq.write_table(
            table, os.path.join(path, f"hour-{h:02d}.parquet"), row_group_size=65536
        )
        total += table.num_rows
    return total


def table_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) of a table directory, skipping the
    ``_``/``.`` directories writers keep their temporary files in."""
    files = size = 0
    for d, subdirs, names in os.walk(path):
        subdirs[:] = [s for s in subdirs if not s.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


# -- the Grafana statement mix -------------------------------------------

KINDS = ("panel_1h", "panel_tags_8h", "fleet_last", "template_tags", "wide_p95")
# One dashboard refresh cycle. Narrow panels refresh most, the fleet
# overview and the wide percentile least (weights 3:2:1:1:1). The kinds
# are interleaved in a fixed order, so every window of a run holds nearly
# the same mix; a run of a few dozen queries would otherwise see its
# latency move with how many slow kinds a shuffle put into it.
CYCLE = (
    "panel_1h", "panel_tags_8h", "fleet_last", "panel_1h",
    "template_tags", "panel_tags_8h", "panel_1h", "wide_p95",
)
VARIANTS = 4  # distinct statements per narrow kind; refreshes repeat them


def _rfc(t: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def statements(
    seed: int, series: list[tuple[str, str]], t_lo: int, t_hi: int
) -> dict[str, list[dict]]:
    """Statements per kind over ``series`` in [t_lo, t_hi): VARIANTS for
    the narrow kinds, one for the fleet-wide ones. Each is {"kind", "sid",
    "q", and the parameters the oracle needs}."""
    rng = random.Random(seed * 7919 + 1)
    ips = sorted({ip for ip, _ in series})
    span = t_hi - t_lo
    out: dict[str, list[dict]] = {k: [] for k in KINDS}
    for _ in range(VARIANTS):
        ip, alias = rng.choice(series)
        hour = min(3600, span)
        lo = t_lo + rng.randrange(0, max(1, (span - hour) // 60 + 1)) * 60
        out["panel_1h"].append(
            {
                "kind": "panel_1h",
                "plc_ip": ip,
                "alias": alias,
                "lo": lo,
                "hi": lo + hour,
                "q": (
                    f"SELECT mean(\"value\") FROM \"points\" WHERE "
                    f"\"plc_ip\" = '{ip}' AND \"alias\" = '{alias}' AND "
                    f"time >= '{_rfc(lo)}' AND time < '{_rfc(lo + hour)}' "
                    f"GROUP BY time(1m) fill(previous)"
                ),
            }
        )
        ip = rng.choice(ips)
        out["panel_tags_8h"].append(
            {
                "kind": "panel_tags_8h",
                "plc_ip": ip,
                "lo": t_lo,
                "hi": t_hi,
                "q": (
                    f"SELECT mean(\"value\") FROM \"points\" WHERE "
                    f"\"plc_ip\" = '{ip}' AND time >= '{_rfc(t_lo)}' AND "
                    f"time < '{_rfc(t_hi)}' GROUP BY time(5m), \"alias\" fill(null)"
                ),
            }
        )
        # In the engine's data model a PLC is a measurement and each tag
        # alias is a field key, so the Grafana variable listing a PLC's
        # aliases is SHOW FIELD KEYS FROM "<plc_ip>".
        out["template_tags"].append(
            {
                "kind": "template_tags",
                "plc_ip": ip,
                "q": f'SHOW FIELD KEYS FROM "{ip}"',
            }
        )
    # the fleet-wide kinds have one statement each, which every refresh
    # repeats
    out["fleet_last"].append(
        {
            "kind": "fleet_last",
            "q": 'SELECT last("value") FROM "points" GROUP BY "plc_ip", "alias"',
        }
    )
    out["wide_p95"].append(
        {
            "kind": "wide_p95",
            "pct": 95,
            "lo": t_lo,
            "hi": t_hi,
            "q": (
                f"SELECT percentile(\"value\", 95) FROM \"points\" WHERE "
                f"time >= '{_rfc(t_lo)}' AND time < '{_rfc(t_hi)}' GROUP BY time(1h)"
            ),
        }
    )
    for kind, variants in out.items():
        for i, s in enumerate(variants):
            s["sid"] = f"{kind}/{i}"
    return out


def deck(seed: int, stmts: dict[str, list[dict]], n: int) -> list[dict]:
    """``n`` statements: CYCLE repeated, each slot filled with a seeded
    choice among its kind's variants."""
    rng = random.Random(seed * 104729 + 3)
    return [rng.choice(stmts[CYCLE[i % len(CYCLE)]]) for i in range(n)]


# -- line-protocol write batches -----------------------------------------

WRITE_STEP_S = 10


def write_batch(seed: int, k: int, series: list[tuple[str, str]], t_start: int):
    """Write batch ``k``: one sweep of every series at t_start + k*10 s,
    one line per PLC with one field per tag. Returns (body, points) where
    points is [(plc_ip, alias, ts_s, value)]."""
    rng = random.Random(seed * 31337 + k)
    ts = t_start + k * WRITE_STEP_S
    by_ip: dict[str, list[tuple[str, float]]] = {}
    points = []
    for ip, alias in series:
        v = rng.randrange(-4000, 4000) / 4
        by_ip.setdefault(ip, []).append((alias, v))
        points.append((ip, alias, ts, v))
    lines = [
        f"{ip} " + ",".join(f"{a}={v!r}" for a, v in fields) + f" {ts}"
        for ip, fields in by_ip.items()
    ]
    return "\n".join(lines) + "\n", points
