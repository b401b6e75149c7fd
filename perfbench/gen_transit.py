"""Seeded generator of reference-shaped raw transit and weather files.

Writes what the paper's batch job reads:

- IstDaten: one semicolon CSV per service day, header = the raw
  ``IST_COLMAP`` keys, rows in the column order of ``_ist_row`` in
  ``tests/test_ingest.py``. Day-first timestamps (mostly with seconds,
  some minutes-only), REAL/GESCHAETZT/PROGNOSE statuses, departure-only
  first stops and arrival-only last stops, planted PROGNOSE duplicates,
  rows of other operators and products, and rows with no schedule.
- Weather: one semicolon CSV per station in the ``_wx_row`` column
  order on a 10-minute grid, with ``-`` sentinels, exact and
  conflicting duplicate observations and unparseable timestamps. GVE
  has the full grid and so is the dominant station.
- GTFS: one zip (agency, routes, trips, stop_times, stops, feed_info)
  whose night trips run past 24:00.

Trips per line are skewed like trunk tram lines. The seed changes
values (delays, weather, which rows are duplicated) but never sizes,
so every seed gives the same amount of work.

``generate`` returns the exact counts it planted, so a run can check
silver and gold row counts against them.
"""

from __future__ import annotations

import datetime as dt
import random
import zipfile
from dataclasses import dataclass, field
from pathlib import Path

# raw header orders (schemas.IST_COLMAP / WEATHER_COLMAP keys)
IST_HEADER = [
    "BETRIEBSTAG", "FAHRT_BEZEICHNER", "BETREIBER_ABK", "PRODUKT_ID",
    "LINIEN_TEXT", "HALTESTELLEN_NAME", "BPUIC", "ANKUNFTSZEIT",
    "AN_PROGNOSE", "AN_PROGNOSE_STATUS", "ABFAHRTSZEIT", "AB_PROGNOSE",
    "AB_PROGNOSE_STATUS", "DURCHFAHRT_TF", "ZUSATZFAHRT_TF", "FAELLT_AUS_TF",
]
WX_HEADER = [
    "station_abbr", "reference_timestamp", "tre200s0", "rre150z0",
    "fu3010z0", "fu3010z1", "dkl010z0", "ure200s0", "prestas0",
    "gre000z0", "sre000z0", "tde200s0",
]

# (line, product, stops, trips per service day): five trunk tram lines
# carry most trips, as on the TPG network
LINES = [
    ("12", "Tram", 24, 150), ("14", "Tram", 22, 130), ("15", "Tram", 18, 100),
    ("18", "Tram", 16, 70), ("17", "Tram", 15, 50),
    ("1", "Bus", 20, 40), ("2", "Bus", 18, 36), ("3", "Bus", 17, 32),
    ("5", "Bus", 16, 28), ("7", "Bus", 15, 24), ("8", "Bus", 14, 20),
    ("9", "Bus", 14, 16), ("10", "Bus", 12, 14), ("11", "Bus", 12, 12),
    ("19", "Bus", 10, 10), ("21", "", 10, 8),
]
STATIONS = ["GVE", "COI", "CGI", "DOL"]   # GVE first: the dominant one
START = dt.date(2024, 2, 5)               # a Monday
FEED_VERSION = "2024-02-01"

DUP_SHARE = 0.03        # PROGNOSE duplicates of a kept row
OTHER_OP_SHARE = 0.02   # SBB rows, dropped by the operator filter
ZUG_SHARE = 0.01        # TPG rows with product Zug, dropped
NO_SCHED_SHARE = 0.005  # rows with neither schedule, dropped by features
WX_GAP_SHARE = 0.15     # missing grid points at the non-GVE stations
WX_EXACT_DUP = 0.01
WX_CONFLICT_DUP = 0.005
WX_BOGUS = 0.002
WX_SENTINEL = 0.02


@dataclass
class Planted:
    """Counts the generator planted; the pipeline's outputs must match."""
    raw_rows: int = 0
    filtered_rows: int = 0
    duplicate_rows: int = 0
    no_sched_rows: int = 0
    silver_rows: int = 0          # unique business keys that pass ingest
    features_events_rows: int = 0
    by_stop_line_rows: int = 0
    training_rows: int = 0
    weather_raw_rows: int = 0
    weather_silver_rows: int = 0
    gtfs_routes: int = 0
    gtfs_trips: int = 0
    gtfs_stop_times: int = 0
    gtfs_stops: int = 0
    ist_files: list[str] = field(default_factory=list)
    weather_files: list[str] = field(default_factory=list)
    gtfs_zip: str = ""


def _ts(t: dt.datetime, with_seconds: bool = True) -> str:
    return t.strftime("%d.%m.%Y %H:%M:%S" if with_seconds else "%d.%m.%Y %H:%M")


def _stops() -> list[tuple[str, str, list[str]]]:
    """Per line: (line, product, stop codes); trunk lines share stops."""
    shared = [f"85870{i:02d}" for i in range(12)]
    out, next_code = [], 100
    for line, prod, n_stops, _ in LINES:
        codes = []
        for k in range(n_stops):
            if k % 5 == 2 and prod == "Tram":
                codes.append(shared[(k + len(out)) % len(shared)])
            else:
                codes.append(f"8587{next_code:03d}")
                next_code += 1
        out.append((line, prod, codes))
    return out


def stop_names() -> dict[str, str]:
    names = {f"85870{i:02d}": f"Hub {i}" for i in range(12)}
    for c in range(100, 1000):
        names[f"8587{c:03d}"] = f"Stop {c}"
    return names


def _trip_starts(n_trips: int) -> list[int]:
    """Evenly spaced departures (minutes after midnight) 05:00-22:30."""
    span = 22 * 60 + 30 - 5 * 60
    return [5 * 60 + (span * k) // max(1, n_trips - 1) for k in range(n_trips)]


def _write_ist(out: Path, rng: random.Random, n_days: int, scale: float,
               planted: Planted) -> None:
    names = stop_names()
    network = _stops()
    bins: set[tuple[str, str, dt.datetime]] = set()
    for d in range(n_days):
        day = START + dt.timedelta(days=d)
        date_s = day.strftime("%d.%m.%Y")
        kept: list[list[str]] = []
        for (line, prod, codes), (_, _, _, trips) in zip(network, LINES):
            for k, start_min in enumerate(_trip_starts(max(2, round(trips * scale)))):
                fahrt = f"85:881:{line}:{d}{k:04d}"
                seq = codes if k % 2 == 0 else codes[::-1]
                trip_delay = rng.expovariate(1 / 90.0) - 30.0
                t = dt.datetime.combine(day, dt.time()) + dt.timedelta(minutes=start_min)
                for j, code in enumerate(seq):
                    t += dt.timedelta(minutes=rng.choice((1, 2, 2, 3)))
                    trip_delay += rng.gauss(0, 12)
                    dep = t + dt.timedelta(seconds=30)
                    first, last = j == 0, j == len(seq) - 1
                    status = rng.choices(("REAL", "GESCHAETZT", "PROGNOSE"),
                                         (0.85, 0.1, 0.05))[0]
                    secs = rng.random() > 0.05
                    a_sched = "" if first else _ts(t, secs)
                    d_sched = "" if last else _ts(dep, secs)
                    has_est = rng.random() > 0.03
                    delay = dt.timedelta(seconds=int(trip_delay))
                    a_est = _ts(t + delay) if has_est and not first else ""
                    d_est = _ts(dep + delay) if has_est and not last else ""
                    row = [date_s, fahrt, "TPG", prod, line, names[code], code,
                           a_sched, a_est, status, d_sched, d_est, status,
                           "1" if rng.random() < 0.01 else "0",
                           "0",
                           "true" if rng.random() < 0.005 else "false"]
                    if rng.random() < NO_SCHED_SHARE:
                        row[7] = row[10] = ""
                        planted.no_sched_rows += 1
                    else:
                        sched = dep if not last else t
                        if not secs:
                            sched = sched.replace(second=0)
                        bins.add((line, code, sched.replace(
                            minute=sched.minute - sched.minute % 10, second=0)))
                    kept.append(row)
        rows = list(kept)
        n_dup = round(len(kept) * DUP_SHARE)
        for src in rng.sample(kept, n_dup):
            dup = list(src)
            dup[9] = dup[12] = "PROGNOSE"
            shift = dt.timedelta(minutes=rng.randint(1, 9))
            for i in (8, 11):
                if dup[i]:
                    dup[i] = _ts(dt.datetime.strptime(dup[i], "%d.%m.%Y %H:%M:%S")
                                 + shift)
            rows.append(dup)
        n_other = round(len(kept) * OTHER_OP_SHARE)
        n_zug = round(len(kept) * ZUG_SHARE)
        for src in rng.sample(kept, n_other):
            other = list(src)
            other[1] = "85:11:" + other[1].split(":", 2)[2]
            other[2], other[3] = "SBB", "Zug"
            rows.append(other)
        for src in rng.sample(kept, n_zug):
            zug = list(src)
            zug[1] = "85:881:Z" + zug[1].split(":", 2)[2]
            zug[3] = "Zug"
            rows.append(zug)
        rng.shuffle(rows)
        path = out / f"{day.isoformat()}_istdaten.csv"
        path.write_text("\n".join([";".join(IST_HEADER)]
                                  + [";".join(r) for r in rows]) + "\n",
                        encoding="utf-8")
        planted.ist_files.append(str(path))
        planted.raw_rows += len(rows)
        planted.duplicate_rows += n_dup
        planted.filtered_rows += n_other + n_zug
        planted.silver_rows += len(kept)
    planted.features_events_rows = planted.silver_rows - planted.no_sched_rows
    planted.training_rows = planted.features_events_rows
    planted.by_stop_line_rows = len(bins)


def _wx_values(rng: random.Random, t: dt.datetime, base: float) -> list[str]:
    hour = t.hour + t.minute / 60
    temp = base + 4 * (1 - abs(hour - 14) / 12) + rng.gauss(0, 0.6)
    rain = max(0.0, rng.gauss(-0.3, 0.5))
    wind = abs(rng.gauss(12, 6))
    vals = [f"{temp:.1f}", f"{rain:.1f}", f"{wind:.1f}",
            f"{wind * 1.6 + abs(rng.gauss(0, 4)):.1f}",
            str(rng.randrange(360)), f"{rng.uniform(55, 95):.0f}",
            f"{rng.gauss(970, 6):.1f}",
            f"{max(0.0, 400 * (1 - abs(hour - 13) / 6)):.0f}",
            str(rng.randrange(11)), f"{temp - rng.uniform(1, 6):.1f}"]
    return ["-" if rng.random() < WX_SENTINEL else v for v in vals]


def _write_weather(out: Path, rng: random.Random, n_days: int,
                   planted: Planted) -> None:
    t0 = dt.datetime.combine(START, dt.time())
    n_slots = n_days * 144
    for s, station in enumerate(STATIONS):
        base = 3.0 - s
        rows: list[list[str]] = []
        keys = 0
        for k in range(n_slots):
            if s and rng.random() < WX_GAP_SHARE:
                continue
            t = t0 + dt.timedelta(minutes=10 * k)
            rows.append([station, _ts(t, False), *_wx_values(rng, t, base)])
            keys += 1
        extra: list[list[str]] = []
        for src in rng.sample(rows, round(len(rows) * WX_EXACT_DUP)):
            extra.append(list(src))
        for src in rng.sample(rows, round(len(rows) * WX_CONFLICT_DUP)):
            extra.append([src[0], src[1], *_wx_values(rng, t0, base)])
        for src in rng.sample(rows, round(len(rows) * WX_BOGUS)):
            extra.append([src[0], "bogus", *src[2:]])
        rows += extra
        rng.shuffle(rows)
        path = out / f"weather_{station.lower()}.csv"
        path.write_text("\n".join([";".join(WX_HEADER)]
                                  + [";".join(r) for r in rows]) + "\n",
                        encoding="utf-8")
        planted.weather_files.append(str(path))
        planted.weather_raw_rows += len(rows)
        planted.weather_silver_rows += keys


def _gtfs_clock(minutes: int) -> str:
    return f"{minutes // 60:02d}:{minutes % 60:02d}:00"


def _write_gtfs(out: Path, rng: random.Random, scale: float,
                planted: Planted) -> None:
    names = stop_names()
    network = _stops()
    routes = ["route_id,route_type,route_short_name,route_long_name,agency_id"]
    trips = ["trip_id,route_id,service_id,direction_id,trip_headsign"]
    stop_times = ["trip_id,stop_sequence,stop_id,arrival_time,departure_time"]
    used: set[str] = set()
    for (line, prod, codes), (_, _, _, n) in zip(network, LINES):
        rid = f"tpg-{line}"
        routes.append(f"{rid},{0 if prod == 'Tram' else 3},{line},Line {line},tpg")
        planted.gtfs_routes += 1
        # night trips start after 23:00 and run past 24:00
        starts = _trip_starts(max(2, round(n * scale))) + [23 * 60 + 40, 24 * 60 + 20]
        for k, start in enumerate(starts):
            tid = f"{rid}-{k}"
            trips.append(f"{tid},{rid},wk,{k % 2},Terminus {line}")
            planted.gtfs_trips += 1
            t = start
            for j, code in enumerate(codes if k % 2 == 0 else codes[::-1]):
                t += rng.choice((1, 2, 3))
                stop_times.append(f"{tid},{j + 1},{code},{_gtfs_clock(t)},"
                                  f"{_gtfs_clock(t + 1)}")
                planted.gtfs_stop_times += 1
                used.add(code)
    # another agency's route, trip and stop: removed by the operator filter
    routes.append("sbb-ic1,2,IC1,Intercity,sbb")
    trips.append("sbb-ic1-0,sbb-ic1,wk,0,Zürich")
    stop_times.append("sbb-ic1-0,1,8503000,09:00:00,09:01:00")
    stops = ["stop_id,stop_name,stop_lat,stop_lon"]
    for code in sorted(used):
        stops.append(f"{code},{names[code]},{46.15 + rng.random() / 10:.5f},"
                     f"{6.08 + rng.random() / 10:.5f}")
    stops.append("8503000,Zürich HB,47.378,8.540")
    planted.gtfs_stops = len(used)
    files = {
        "agency.txt": "agency_id,agency_name\n"
                      "tpg,Transports Publics Genevois (TPG)\n"
                      "sbb,Swiss Federal Railways\n",
        "routes.txt": "\n".join(routes) + "\n",
        "trips.txt": "\n".join(trips) + "\n",
        "stop_times.txt": "\n".join(stop_times) + "\n",
        "stops.txt": "\n".join(stops) + "\n",
        "feed_info.txt": f"feed_version\n{FEED_VERSION}\n",
    }
    path = out / f"gtfs_{FEED_VERSION}.zip"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in files.items():
            zf.writestr(name, content)
    planted.gtfs_zip = str(path)


def generate(out_dir: Path, seed: int, n_days: int,
             scale: float = 1.0) -> Planted:
    """Write the raw files for ``n_days`` service days under ``out_dir``.

    ``scale`` multiplies the trips per line; the planted shares stay
    fixed. Returns the counts planted.
    """
    out_dir.mkdir(parents=True, exist_ok=True)
    planted = Planted()
    _write_ist(out_dir, random.Random(f"ist-{seed}"), n_days, scale, planted)
    _write_weather(out_dir, random.Random(f"wx-{seed}"), n_days, planted)
    _write_gtfs(out_dir, random.Random(f"gtfs-{seed}"), scale, planted)
    return planted
