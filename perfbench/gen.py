"""Seeded input generators for the benchmark.

Everything here is pure Python/NumPy/Arrow: nothing calls the engine, so the
ground truth computed here is independent of the program under test.

- ``write_tables`` writes the ten sf0.1-shaped parquet tables the registry
  queries read (same names, schemas, row counts and value distributions as
  the repository's sf0.1 test data in FIXTURES.md: TPC-H-ish star,
  ``events``, ``documents``, ``embeddings``).
- ``PollFeed`` models one Transilien service day: a GTFS feed, a fixed
  station roster whose XML payloads change every poll cycle, and the
  per-station delay statistics the pipeline must reproduce.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 test data described in FIXTURES.md.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "shiny", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "spring", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.choice(len(values), n, p=p), pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int, rows: dict[str, int] = SF01_ROWS) -> dict[str, pa.Table]:
    """The ten registry tables as Arrow tables, deterministic in ``seed``."""
    rng = np.random.default_rng([seed, 0x5F01])
    n = rows
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, part_names, n["part"]),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
            "p_type": _pick(rng, _PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": (9000 + pk % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"]),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], nl).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 10**6 - 60 * 10**6
    offs = np.sort(rng.choice(span_us, ne, replace=False))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": t0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, ne).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": np.minimum(np.round(rng.exponential(50.0, ne), 2), 600.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, nd, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": rng.integers(44, 578, nd).astype(np.int64),
        }
    )
    nv = n["embeddings"]
    x = rng.standard_normal((nv, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, rows: dict[str, int] = SF01_ROWS) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every registry table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, rows).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- poll feed

SERVICE_DAY = "20260102"  # a Friday: WEEKDAY runs, WEEKEND does not
_DAY0 = dt.datetime(2026, 1, 2)
ACTIVE_SERVICES = {"WEEKDAY", "SPECIAL"}  # SPECIAL is added by calendar_dates
STATUS_ETAT = {"on_time": None, "delayed": "Retardé", "cancelled": "Supprimé"}
STOPS_PER_TRIP = 8
TRIPS_PER_START = 5  # trips starting at each station of the ring
PAYLOAD_TRAINS = 30  # trains listed in each station's payload
N_MALFORMED = 4  # truncated payloads per cycle


@dataclass(frozen=True)
class Trip:
    num: int  # train number, the digit run of trip_id
    route: str  # letters only, so the trip_id's first digit run is ``num``
    service: str
    stops: tuple[tuple[int, int], ...]  # (station index, departure s past service midnight)

    @property
    def trip_id(self) -> str:
        return f"SN-{self.num}-{self.route}"


@dataclass
class Cycle:
    """One poll: (station, trip index) -> (status, delay minutes), and the
    stations whose payload comes back malformed."""

    obs: dict[tuple[int, int], tuple[str, int]]
    malformed: frozenset[int] = frozenset()


def uic8(code7: str) -> str:
    """7-digit station code + a checksum digit (the API's 8-digit form)."""
    return code7 + str(sum(int(c) for c in code7) % 10)


def _clock(s: int) -> str:
    return f"{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}"


@dataclass
class PollFeed:
    stations: list[str]  # 7-digit codes; the payload is keyed by uic8(code)
    trips: list[Trip]
    observed: dict[int, list[int]]  # station -> trip indices its payload lists
    last: dict[tuple[int, int], tuple[str, int]] = field(default_factory=dict)

    @classmethod
    def random(cls, seed: int, n_stations: int = 160) -> PollFeed:
        """Trip ``i`` runs along stations ``i % S, i % S + 1, ...`` (a ring),
        so every station is served by ``STOPS_PER_TRIP * TRIPS_PER_START``
        trips. About 5 % of trips start after midnight (GTFS clock >24h) and
        belong to the previous service day; about 5 % run on a service not
        active on the day. Each station's payload lists a fixed subset of
        ``PAYLOAD_TRAINS`` of its active trains."""
        rng = np.random.default_rng([seed, 0x7011])
        codes = rng.choice(np.arange(10_000, 100_000), n_stations, replace=False)
        stations = [f"87{c:05d}" for c in codes]
        n_trips = n_stations * TRIPS_PER_START
        nums = rng.choice(np.arange(100_000, 1_000_000), n_trips, replace=False)
        trips = []
        for i in range(n_trips):
            late = rng.random() < 0.05
            start = int(rng.integers(24 * 60 + 5, 25 * 60 + 30) if late else rng.integers(5 * 60, 23 * 60 + 30)) * 60
            u = rng.random()
            service = "WEEKEND" if u < 0.05 else "SPECIAL" if u < 0.08 else "WEEKDAY"
            stops = tuple(
                ((i + j) % n_stations, start + 180 * j) for j in range(STOPS_PER_TRIP)
            )
            trips.append(Trip(int(nums[i]), "ABCDEFGH"[i % 8], service, stops))
        serving: dict[int, list[int]] = {s: [] for s in range(n_stations)}
        for ti, trip in enumerate(trips):
            if trip.service in ACTIVE_SERVICES:
                for s, _ in trip.stops:
                    serving[s].append(ti)
        observed = {}
        for s, tis in serving.items():
            if len(tis) < PAYLOAD_TRAINS:
                raise ValueError(f"station {s} has only {len(tis)} active trains")
            observed[s] = sorted(int(x) for x in rng.choice(tis, PAYLOAD_TRAINS, replace=False))
        return cls(stations, trips, observed)

    def random_cycle(self, rng: np.random.Generator) -> Cycle:
        """Delays change every cycle: 75 % on time, 20 % delayed 1-20 min,
        5 % cancelled; ``N_MALFORMED`` stations return a truncated payload."""
        obs = {}
        for s, tis in self.observed.items():
            u = rng.random(len(tis))
            d = rng.integers(1, 21, len(tis))
            for ti, ui, di in zip(tis, u, d):
                if ui < 0.75:
                    obs[(s, ti)] = ("on_time", 0)
                elif ui < 0.95:
                    obs[(s, ti)] = ("delayed", int(di))
                else:
                    obs[(s, ti)] = ("cancelled", 0)
        bad = rng.choice(len(self.stations), N_MALFORMED, replace=False)
        return Cycle(obs, frozenset(int(b) for b in bad))

    # ------------------------------------------------------------ rendering

    def write_gtfs(self, gtfs_dir: str) -> None:
        os.makedirs(gtfs_dir, exist_ok=True)
        files = {
            "agency": ["agency_id,agency_name,agency_url,agency_timezone", "SN,SNCF,http://sncf.example,Europe/Paris"],
            "stops": ["stop_id,stop_name,stop_lat,stop_lon"]
            + [f"{c},Gare {c},{48.5 + i * 1e-3:.4f},{2.2 + i * 1e-3:.4f}" for i, c in enumerate(self.stations)],
            "routes": ["route_id,agency_id,route_short_name,route_long_name,route_type"]
            + [f"{r},SN,{r},Ligne {r},2" for r in sorted({t.route for t in self.trips})],
            "trips": ["route_id,service_id,trip_id,trip_headsign"]
            + [f"{t.route},{t.service},{t.trip_id},{t.route}{t.num % 1000}" for t in self.trips],
            "stop_times": ["trip_id,arrival_time,departure_time,stop_id,stop_sequence"]
            + [
                f"{t.trip_id},{_clock(dep - 60)},{_clock(dep)},{self.stations[s]},{seq + 1}"
                for t in self.trips
                for seq, (s, dep) in enumerate(t.stops)
            ],
            "calendar": [
                "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date",
                "WEEKDAY,1,1,1,1,1,0,0,20260101,20261231",
                "WEEKEND,0,0,0,0,0,1,1,20260101,20261231",
                "SPECIAL,0,0,0,0,0,0,0,20260101,20261231",
            ],
            "calendar_dates": [
                "service_id,date,exception_type",
                f"SPECIAL,{SERVICE_DAY},1",
                "WEEKDAY,20260106,2",
            ],
        }
        for name, lines in files.items():
            with open(os.path.join(gtfs_dir, f"{name}.txt"), "w", encoding="utf-8") as f:
                f.write("\n".join(lines) + "\n")

    def payload(self, s: int, cycle: Cycle) -> str:
        code8 = uic8(self.stations[s])
        parts = [f'<?xml version="1.0"?><passages gare="{code8}">']
        for ti in self.observed[s]:
            trip = self.trips[ti]
            status, delay = cycle.obs[(s, ti)]
            dep = dict(trip.stops)[s]
            when = _DAY0 + dt.timedelta(seconds=dep + 60 * delay)
            etat = STATUS_ETAT[status]
            parts.append(
                f'<train><date mode="R">{when:%d/%m/%Y %H:%M}</date><num>{trip.num}</num>'
                f"<miss>{trip.route}{trip.num % 1000}</miss>"
                f"<term>{uic8(self.stations[trip.stops[-1][0]])}</term>"
                + (f"<etat>{etat}</etat>" if etat else "")
                + "</train>"
            )
        parts.append("</passages>")
        text = "".join(parts)
        if s in cycle.malformed:
            return text[: len(text) * 3 // 5]  # truncated mid-document
        return text

    def write_payloads(self, endpoint: str, cycle: Cycle) -> None:
        """One ``<uic8>.xml`` per roster station, overwritten each cycle."""
        os.makedirs(endpoint, exist_ok=True)
        for s, code in enumerate(self.stations):
            with open(os.path.join(endpoint, f"{uic8(code)}.xml"), "w", encoding="utf-8") as f:
                f.write(self.payload(s, cycle))

    def roster(self) -> str:
        return ",".join(uic8(c) for c in self.stations)

    # ---------------------------------------------------------- ground truth

    def apply(self, cycle: Cycle) -> None:
        """Fold one poll into the latest-observation state: a malformed
        payload leaves its station's previous observations in place."""
        for (s, ti), ob in cycle.obs.items():
            if s not in cycle.malformed:
                self.last[(s, ti)] = ob

    def truth(self) -> dict[str, tuple]:
        """Per 7-digit station: (n_passages, n_delayed, n_cancelled,
        avg_delay_s, median_delay_s, max_delay_s) over every stop scheduled
        on the service day, as ``delay_stats(delay_board(...))`` reports it."""
        per: dict[int, list] = {s: [0, 0, 0, []] for s in range(len(self.stations))}
        for ti, trip in enumerate(self.trips):
            if trip.service not in ACTIVE_SERVICES:
                continue
            for s, _ in trip.stops:
                acc = per[s]
                acc[0] += 1
                ob = self.last.get((s, ti))
                if ob is None:
                    continue
                status, delay = ob
                acc[1] += status == "delayed"
                acc[2] += status == "cancelled"
                acc[3].append(60 * delay)
        out = {}
        for s, (n, nd, nc, delays) in per.items():
            if delays:
                arr = np.array(delays, dtype=np.float64)
                out[self.stations[s]] = (
                    n, nd, nc, float(arr.mean()), float(np.percentile(arr, 50)), int(arr.max())
                )
            else:
                out[self.stations[s]] = (n, nd, nc, None, None, None)
        return out
