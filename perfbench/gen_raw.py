"""Seeded raw-zone generator: one nested ``/Posicao`` document per 30 s poll.

Vehicles drive at street speeds along a slowly turning heading, so the
speed layer's rules each see their own traffic:

- first ping of every vehicle (no previous position);
- outages of 21-40 polls (gap > 600 s between pings);
- short outages that end exactly 600 s or 601 s after the last ping, on
  either side of the gap rule (timestamps are whole seconds, so the
  boundary is exact in every engine);
- stale repeats: a vehicle re-reports its previous ping verbatim
  (duplicate timestamp, tempo = 0);
- GPS glitches: one ping displaced by ~5.5 km (> 33 m/s on both pairs);
- slow running below 1.4 m/s (the ``lentidao`` rule).

Speeds stay far from the 1.4 and 33 m/s cut-offs (slow <= 1.0 m/s,
moving >= 3 m/s, glitches >= 90 m/s), so the ground-truth rule counts
do not depend on last-digit float differences between engines.  A
stale repeat copies the previous ping exactly, so pair counts do not
depend on the order equal-timestamp pings are visited in.

A small share of documents is truncated mid-document (corrupt JSON);
their pings are lost and are not part of the ground truth.
"""

from __future__ import annotations

import functools
import json
import math
import os
import random
import time

EARTH_RADIUS_M = 6371000.0
M_PER_DEG = EARTH_RADIUS_M * math.pi / 180.0
POLL_S = 30
MAX_GAP_S = 600
MAX_SPEED_MS = 33.0
SLOW_SPEED_MS = 1.4


@functools.lru_cache(maxsize=4096)
def _iso(epoch: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch))


def _haversine_m(lat1, lon1, lat2, lon2) -> float:
    dlat = (math.radians(lat2) - math.radians(lat1)) / 2
    dlon = (math.radians(lon2) - math.radians(lon1)) / 2
    a = (
        math.sin(dlat) * math.sin(dlat)
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
        * math.sin(dlon) * math.sin(dlon)
    )
    return EARTH_RADIUS_M * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def _lines(n_lines: int) -> list[dict]:
    return [
        {
            "c": f"{8000 + j}-10",
            "cl": 1000 + 7 * j,
            "sl": 1 + j % 2,
            "lt0": f"TERMINAL {j} A",
            "lt1": f"TERMINAL {j} B",
        }
        for j in range(n_lines)
    ]


def simulate(seed: int, polls: int, vehicles: int, n_lines: int):
    """Yield ``(poll_index, poll_epoch, document, corrupt, pings)`` in time
    order; ``pings`` lists the document's ``(vehicle, ta, lat, lon)``."""
    rng = random.Random(seed)
    start = 1709251200 + (seed % 28) * 86400 + 6 * 3600  # 2024-03-01 06:00Z+
    lines = _lines(n_lines)
    fleet = []
    for i in range(vehicles):
        fleet.append(
            {
                "p": 10000 + i,
                "line": i % n_lines,
                "a": i % 3 != 0,
                "lat": -23.55 + rng.uniform(-0.15, 0.15),
                "lon": -46.63 + rng.uniform(-0.15, 0.15),
                "heading": rng.uniform(0, 2 * math.pi),
                "slow": rng.random() < 0.2,
                "speed": 0.0,
                "t": start - POLL_S,
                "off": 0,
                "last": None,  # last REPORTED ping dict (for stale repeats)
                "resume": None,  # ta that ends a boundary outage
            }
        )
    for v in fleet:
        v["speed"] = _draw_speed(rng, v["slow"])
    for k in range(polls):
        poll_epoch = start + k * POLL_S
        by_line: dict[int, list[dict]] = {}
        pings: list[tuple[int, int, float, float]] = []
        for v in fleet:
            if v["off"] > 0:
                v["off"] -= 1
                v["last"] = None
                continue
            resumed = v["resume"] is not None
            u = 1.0 if resumed else rng.random()
            if u < 0.004:
                v["off"] = rng.randint(21, 40)
                v["last"] = None
                continue
            if u < 0.006 and v["last"] is not None:
                # silent for this poll and the next 18; the ping of the poll
                # 600 s after the last one comes 600 s or 601 s after it
                # (601 only when that is not later than the poll itself)
                late = v["t"] < poll_epoch - POLL_S and rng.random() < 0.5
                v["resume"] = v["t"] + MAX_GAP_S + late
                v["off"] = 18
                v["last"] = None
                continue
            if rng.random() < (0.1 if v["slow"] else 0.02):
                v["slow"] = not v["slow"]
                v["speed"] = _draw_speed(rng, v["slow"])
            if v["last"] is not None and rng.random() < 0.03:
                ping = dict(v["last"])  # stale repeat: same ta, same spot
                ta = v["t"]
            else:
                ta = v["resume"] if resumed else poll_epoch - rng.randint(0, 20)
                v["resume"] = None
                dt = ta - v["t"]
                v["t"] = ta
                v["heading"] += rng.uniform(-0.3, 0.3)
                d = v["speed"] * dt
                v["lat"] += d * math.cos(v["heading"]) / M_PER_DEG
                v["lon"] += (
                    d * math.sin(v["heading"])
                    / (M_PER_DEG * math.cos(math.radians(v["lat"])))
                )
                lat, lon = v["lat"], v["lon"]
                if not resumed and rng.random() < 0.01:
                    lat += 0.05  # GPS glitch; the true track carries on
                ping = {
                    "p": v["p"],
                    "a": v["a"],
                    "ta": _iso(ta),
                    "py": round(lat, 6),
                    "px": round(lon, 6),
                }
            v["last"] = ping
            by_line.setdefault(v["line"], []).append(ping)
            pings.append((ping["p"], ta, ping["py"], ping["px"]))
        doc = {
            "hr": time.strftime("%H:%M", time.gmtime(poll_epoch)),
            "l": [
                {**lines[j], "qv": len(vs), "vs": vs}
                for j, vs in sorted(by_line.items())
            ],
        }
        yield k, poll_epoch, doc, rng.random() < 0.02, pings


def _draw_speed(rng: random.Random, slow: bool) -> float:
    return rng.uniform(0.1, 1.0) if slow else rng.uniform(3.0, 15.0)


def poll_relpath(poll_epoch: int, k: int) -> str:
    """``year=/month=/day=/hour=`` key of a poll, as ``write_raw_json``
    lays out the raw zone."""
    t = time.gmtime(poll_epoch)
    return (
        f"year={t.tm_year:04d}/month={t.tm_mon:02d}/day={t.tm_mday:02d}"
        f"/hour={t.tm_hour:02d}/poll-{k:05d}.json"
    )


def serialize(doc: dict, corrupt: bool) -> str:
    text = json.dumps(doc, separators=(",", ":"))
    return text[: len(text) // 2] if corrupt else text


def ground_truth(valid_pings: list[tuple[int, int, float, float]]) -> dict:
    """Rule counts over ``(vehicle, ta, lat, lon)`` pings of the valid
    documents, following ``operators/speed.py`` rule by rule."""
    by_vehicle: dict[int, list[tuple[int, float, float]]] = {}
    for p, ta, lat, lon in valid_pings:
        by_vehicle.setdefault(p, []).append((ta, lat, lon))
    truth = {
        "valid_pings": len(valid_pings),
        "first_ping": len(by_vehicle),
        "gap_gt_600s": 0,
        "tempo_eq_600s": 0,
        "duplicate_ts": 0,
        "jump_gt_33ms": 0,
        "cleaned_pairs": 0,
        "slow_lt_1_4ms": 0,
    }
    for pings in by_vehicle.values():
        pings.sort()
        for (t0, y0, x0), (t1, y1, x1) in zip(pings, pings[1:]):
            tempo = t1 - t0
            truth["tempo_eq_600s"] += tempo == MAX_GAP_S
            if tempo > MAX_GAP_S:
                truth["gap_gt_600s"] += 1
            elif tempo <= 0:
                truth["duplicate_ts"] += 1
            else:
                speed = round(_haversine_m(y0, x0, y1, x1), 2) / tempo
                if speed > MAX_SPEED_MS:
                    truth["jump_gt_33ms"] += 1
                else:
                    truth["cleaned_pairs"] += 1
                    truth["slow_lt_1_4ms"] += speed < SLOW_SPEED_MS
    return truth


def generate(
    out_dir: str, seed: int, polls: int, vehicles: int, n_lines: int,
    hive_layout: bool = True,
) -> dict:
    """Write the polls under ``out_dir`` and return the ground truth.

    ``hive_layout`` writes the ``year=/month=/day=/hour=`` raw zone; without
    it every poll lands flat in ``out_dir`` (the streaming landing set).
    The truth also lists each written file in time order.
    """
    files: list[str] = []
    valid: list[tuple[int, int, float, float]] = []
    corrupt_docs = 0
    zone_bytes = 0
    for k, poll_epoch, doc, corrupt, pings in simulate(seed, polls, vehicles, n_lines):
        rel = poll_relpath(poll_epoch, k) if hive_layout else f"poll-{k:05d}.json"
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        text = serialize(doc, corrupt)
        with open(path, "w") as f:
            f.write(text + "\n")
        zone_bytes += len(text) + 1
        files.append(rel)
        if corrupt:
            corrupt_docs += 1
        else:
            valid.extend(pings)
    truth = ground_truth(valid)
    truth.update(
        corrupt_docs=corrupt_docs, docs=len(files), zone_bytes=zone_bytes,
        files=files,
    )
    return truth
