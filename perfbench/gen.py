"""Seeded inputs and expected outputs for the benchmark's workloads.

Everything here depends only on the seed, so the same seed gives the same
files byte for byte. The engine never sees this module: it reads the files
it writes, and the expectations go to the checks.
"""
import csv
import os
import random
from bisect import bisect_right
from datetime import datetime, timedelta, timezone
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# dashboard: TPC-H-ish tables with the schemas of the repo's testdata
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _cents(rng, lo, hi, n):
    """n doubles with two decimals, uniform in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start, end, n):
    """n midnight timestamps (numpy datetime64[us]) in [start, end]."""
    span = (np.datetime64(end) - np.datetime64(start)).astype("timedelta64[D]")
    d = rng.integers(0, span.astype(int) + 1, n).astype("timedelta64[D]")
    return (np.datetime64(start, "D") + d).astype("datetime64[us]")


def _write(table, path):
    pq.write_table(table, path)


def dashboard_tables(out, seed, sf):
    """Writes region .. events as `<out>/<name>.parquet` at scale `sf`
    (sf 0.1 is 600k lineitem rows), timestamps as TIMESTAMP_MICROS without
    a zone, the encoding the engine's table reader and DuckDB both accept.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}),
        f"{out}/lineitem.parquet")
    # events: increasing timestamps over 30 days, values with two decimals
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + micros.astype("timedelta64[us]")
    value = np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15000 * sf), 1), n_ev), i64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": value,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")


# ---------------------------------------------------------------------------
# ELT feeds (FIXTURES.md section A): per-fetch CSV drops with dirt
# ---------------------------------------------------------------------------

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
ZONES = ["LZ_HOUSTON", "LZ_WEST", "LZ_SOUTH", "LZ_NORTH"]
FM_COLS = ["Coal and Lignite", "Hydro", "Nuclear", "Power Storage", "Solar",
           "Wind", "Natural Gas", "Other"]
FM_RANGES = [(8000, 12000), (100, 400), (5000, 5200), (0, 500), (0, 8000),
             (2000, 20000), (8000, 33000), (50, 150)]
HIST_COLS = ["temperature_2m", "relative_humidity_2m", "dew_point_2m",
             "precipitation", "rain", "snowfall", "cloud_cover",
             "cloud_cover_low", "cloud_cover_mid", "cloud_cover_high",
             "wind_speed_10m", "wind_speed_100m", "wind_direction_10m",
             "wind_direction_100m", "wind_gusts_10m"]
NULL_ROWS, BAD_ROWS, DUP_ROWS = 0.05, 0.02, 0.05
CST = timezone(timedelta(hours=-5))


def _utc(sec):
    return (T0 + timedelta(seconds=sec)).strftime("%Y-%m-%d %H:%M:%S")


def _offset(sec):
    return (T0 + timedelta(seconds=sec)).astimezone(CST).strftime(
        "%Y-%m-%d %H:%M:%S-05:00")


def _num(rng, lo, hi):
    return str(Decimal(rng.randint(lo * 100, hi * 100)).scaleb(-2))


class _Dirt:
    """Per-row dirt at the fixture rates: about 5 % of rows get one empty
    cell, about 2 % one unparseable value, and about 5 % are delivered
    twice (exact duplicates)."""

    def __init__(self, rng):
        self.rng = rng

    def apply(self, row, cols, bad):
        r = self.rng.random()
        if r < NULL_ROWS:
            row[self.rng.choice(cols)] = ""
        elif r < NULL_ROWS + BAD_ROWS:
            row[self.rng.choice(cols)] = bad
        return row

    def dups(self, rows):
        out = []
        for row in rows:
            out.append(row)
            if self.rng.random() < DUP_ROWS:
                out.append(list(row))
        return out


def _ts_or_none(s):
    try:
        return int((datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
                    .replace(tzinfo=timezone.utc) - T0).total_seconds())
    except ValueError:
        return None


def _ts_off_or_none(s):
    try:
        return int((datetime.strptime(s, "%Y-%m-%d %H:%M:%S%z") - T0)
                   .total_seconds())
    except ValueError:
        return None


def _dec_or_none(s):
    """Cast to DECIMAL(10,2) / FLOAT, null on failure; the value is kept as
    its canonical string (every generated number has two decimals)."""
    try:
        Decimal(s)
        return s if s else None
    except Exception:
        return None


def _clean(vals):
    return None if any(v is None for v in vals) else tuple(vals)


class Feeds:
    """Generates drops. A drop covers [start, start + hours) and writes one
    timestamped CSV per feed; it returns the clean-row expectations the ELT
    jobs must produce from it."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.dirt = _Dirt(self.rng)
        self.load_rows = {}  # hour -> row, so a re-delivered hour is identical

    def _csv(self, path, header, rows):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows)

    def drop(self, out, tag, start_h, hours, overlap_h=0, hist=False):
        rng, dirt = self.rng, self.dirt
        s0, s1 = start_h * 3600, (start_h + hours) * 3600
        # a1 load: hourly, re-delivering the previous `overlap_h` hours
        load = []
        for h in range(start_h - overlap_h, start_h + hours):
            if h not in self.load_rows:
                t = h * 3600
                row = [_utc(t), _utc(t), _utc(t + 3600), _num(rng, 30000, 75000)]
                self.load_rows[h] = dirt.apply(row, [0, 3], "not-a-number")
            load.append(list(self.load_rows[h]))
        load = dirt.dups(load)
        # a3 fuel mix: 5-minute cadence
        fm = []
        for t in range(s0, s1, 300):
            row = [_utc(t)] + [_num(rng, lo, hi) for lo, hi in FM_RANGES]
            fm.append(dirt.apply(row, list(range(9)), "garbage"))
        fm = dirt.dups(fm)
        # a4 spp: 15-minute intervals, 4 zones, offset timestamps
        spp = []
        for t in range(s0, s1, 900):
            for z in ZONES:
                row = [z, "LZ", "RTM", _num(rng, -10, 110), _offset(t + 900),
                       _offset(t), _offset(t + 900)]
                spp.append(dirt.apply(row, [3, 5], "garbage"))
        spp = dirt.dups(spp)
        # a5 weather: inside the spp intervals, every 8th on the boundary
        weather = []
        for k, t in enumerate(range(s0, s1, 900)):
            for z in ZONES:
                at = t if k % 8 == 0 else t + rng.randint(1, 899)
                row = [z] + [_num(rng, lo, lo + 60) for lo in
                             (40, 30, 50, 990, 20, 0)] + [_offset(at)]
                weather.append(dirt.apply(row, [1, 2, 3, 4, 5, 6, 7], "garbage"))
        weather = dirt.dups(weather)

        self._csv(f"{out}/load/load_{tag}.csv",
                  ["Time", "Interval Start", "Interval End", "Load"], load)
        self._csv(f"{out}/fm_load/load_{tag}.csv",
                  ["Time", "Interval Start", "Interval End", "Load"], load)
        self._csv(f"{out}/fuel_mix/fuel_mix_{tag}.csv", ["Time"] + FM_COLS, fm)
        self._csv(f"{out}/spp/spp_{tag}.csv",
                  ["Location", "Location Type", "Market", "SPP", "Time",
                   "Interval Start", "Interval End"], spp)
        self._csv(f"{out}/weather/weather_{tag}.csv",
                  ["Location", "Temperature", "Temp_min", "Temp_max",
                   "Pressure", "Humidity", "Wind Speed", "Date"], weather)
        exp = {
            "load_rows": self._load_rows(load),
            "fm_load": self._fm_load(fm, load),
            "spp_weather": self._spp_weather(spp, weather),
        }
        if hist:
            exp["hist_rows"] = self._hist(out, tag, s0, s1)
        return exp

    def _hist(self, out, tag, s0, s1):
        rng, clean = self.rng, 0
        for z in ZONES:
            rows = []
            for t in range(s0, s1, 3600):
                row = [z, _num(rng, 29, 32), _num(rng, -98, -94), _utc(t)] + [
                    _num(rng, 0, 100) for _ in HIST_COLS]
                rows.append(self.dirt.apply(row, list(range(1, 19)), "garbage"))
            rows = self.dirt.dups(rows)
            clean += sum(1 for r in rows if all(
                v is not None for v in [_ts_or_none(r[3])] +
                [_dec_or_none(v) for v in r[1:3] + r[4:]]))
            self._csv(f"{out}/hist_weather/hist_{z}_{tag}.csv",
                      ["zone", "latitude", "longitude", "date"] + HIST_COLS, rows)
        return clean

    @staticmethod
    def _load_clean(load):
        return [c for c in (_clean([_ts_or_none(r[0]), _ts_or_none(r[1]),
                                    _ts_or_none(r[2]), _dec_or_none(r[3])])
                            for r in load) if c]

    def _load_rows(self, load):
        """Distinct clean load rows (singleFolderElt dedups the batch and
        anti-joins it against the lake, so the lake holds the union)."""
        return sorted(set(self._load_clean(load)))

    def _fm_load(self, fm, load):
        """Distinct rows of fuel mix as-of-joined (backward, inner) to the
        load rows of the same drop."""
        loads = sorted(set(self._load_clean(load)))
        times = [l[0] for l in loads]
        out = set()
        for r in fm:
            c = _clean([_ts_or_none(r[0])] + [_dec_or_none(v) for v in r[1:]])
            if not c:
                continue
            i = bisect_right(times, c[0]) - 1
            if i >= 0:
                out.add(c + loads[i][1:])
        return len(out)

    def _spp_weather(self, spp, weather):
        """Distinct rows of weather points joined to the spp intervals that
        contain them (closed bounds, same location); casts null on failure,
        no row drop."""
        ivals = {}
        for r in spp:
            s, e = _ts_off_or_none(r[5]), _ts_off_or_none(r[6])
            if s is None or e is None:
                continue
            ivals.setdefault(r[0], []).append(
                (s, e, _dec_or_none(r[3]), _ts_off_or_none(r[4])))
        out = set()
        for w in weather:
            d = _ts_off_or_none(w[7])
            if d is None:
                continue
            meas = tuple(_dec_or_none(v) for v in w[1:7])
            for s, e, price, t in ivals.get(w[0], []):
                if s <= d <= e:
                    out.add((w[0],) + meas + (d, price, t, s, e))
        return len(out)


def elt_plan(out, seed, ticks, hours, warmups):
    """`warmups` drops for set-up, then `ticks` drops of `hours` each, with
    the lake totals every job must report after each tick of an episode
    (an episode replays the ticks in order on an empty lake)."""
    feeds = Feeds(seed)
    plan = {"warmup": [], "ticks": []}
    h = 0
    for k in range(warmups + ticks):
        tag = f"{(T0 + timedelta(hours=h)):%Y%m%dT%H%M}"
        d = f"warmup/{k:03d}" if k < warmups else f"ticks/{k - warmups:03d}"
        exp = feeds.drop(f"{out}/{d}", tag, h, hours, 1, hist=True)
        (plan["warmup"] if k < warmups else plan["ticks"]).append(
            dict(exp, dir=d))
        h += hours
    # load is a set union over the episode; the merges append every
    # drop's distinct rows; the union job re-reads every historical file
    # delivered so far (it does not archive) and overwrites its table
    for drops, cumulative in ((plan["warmup"], False), (plan["ticks"], True)):
        seen, fm, sw, hist = set(), 0, 0, 0
        for t in drops:
            if not cumulative:
                seen, fm, sw, hist = set(), 0, 0, 0
            seen.update(t.pop("load_rows"))
            fm += t.pop("fm_load")
            sw += t.pop("spp_weather")
            hist += t.pop("hist_rows")
            t.update(load_total=len(seen), fm_total=fm, sw_total=sw,
                     hist_total=hist)
    return plan


# ---------------------------------------------------------------------------
# versioned lake: a keyed table, its per-round changes and logical state
# ---------------------------------------------------------------------------

LAKE_SCHEMA = pa.schema([("event_id", pa.int64()), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64())])


def _lake_rows(rng, ids):
    rows = []
    for i in ids:
        v = None if rng.random() < 0.02 else \
            float(Decimal(rng.randint(1, 50000)).scaleb(-2))
        rows.append((i, rng.randint(0, 1499), rng.choice(EVENT_TYPES), v))
    return rows


def _lake_table(rows):
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    return pa.Table.from_arrays([pa.array(c, t.type) for c, t in
                                 zip(cols, LAKE_SCHEMA)], schema=LAKE_SCHEMA)


class _Summary:
    """What the checks compare, kept up to date as rows change: row count,
    exact value sum, and per event_type (rows, non-null values, sum) as
    the view reports them."""

    def __init__(self):
        self.rows, self.total, self.groups = 0, Decimal(0), {}

    def add(self, row, sign):
        _, _, et, v = row
        g = self.groups.setdefault(et, [0, 0, Decimal(0)])
        g[0] += sign
        self.rows += sign
        if v is not None:
            d = Decimal(repr(v)) * sign
            g[1] += sign
            g[2] += d
            self.total += d

    def json(self):
        return {"rows": self.rows, "value_sum": str(self.total),
                "groups": {k: [a, b, str(s)] for k, (a, b, s) in
                           sorted(self.groups.items()) if a}}


def lake_plan(out, seed, seed_rows, rounds, n_append, n_upsert, n_delete):
    """Seed table, then per round an append of new keys, an upsert that
    rewrites existing keys and adds a few new ones, and a delete of
    existing keys. Keys come from the seed; the logical state after every
    round is replayed here with plain dicts. With `out` None nothing is
    written and the call returns the state after `rounds` rounds, which
    is how the checks recompute it."""
    rng = random.Random(seed)
    write = out is not None
    if write:
        os.makedirs(out, exist_ok=True)
    state = {}
    next_id = 0

    def fresh(n):
        nonlocal next_id
        ids = list(range(next_id, next_id + n))
        next_id += n
        return ids

    summary = _Summary()

    def put(row):
        if row[0] in state:
            summary.add(state[row[0]], -1)
        state[row[0]] = row
        summary.add(row, 1)

    seed_rows_ = _lake_rows(rng, fresh(seed_rows))
    for row in seed_rows_:
        put(row)
    # set-up warms every op on a small scratch table of its own
    warm_seed = _lake_rows(rng, fresh(max(seed_rows // 50, 1)))
    warm = _lake_rows(rng, fresh(n_append))
    if write:
        _write(_lake_table(seed_rows_), f"{out}/seed.parquet")
        _write(_lake_table(warm_seed), f"{out}/warm_seed.parquet")
        _write(_lake_table(warm), f"{out}/warm.parquet")
    plan = {"seed": summary.json(), "rounds": []}
    for r in range(rounds):
        app = _lake_rows(rng, fresh(n_append))
        live = sorted(state)
        upd_keys = rng.sample(live, n_upsert - n_upsert // 4) + fresh(n_upsert // 4)
        ups = _lake_rows(rng, upd_keys)
        for row in app + ups:
            put(row)
        live = sorted(state)
        dels = sorted(rng.sample(live, n_delete))
        for k in dels:
            summary.add(state.pop(k), -1)
        if write:
            _write(_lake_table(app), f"{out}/append_{r:03d}.parquet")
            _write(_lake_table(ups), f"{out}/upsert_{r:03d}.parquet")
            _write(pa.table({"event_id": pa.array(dels, pa.int64())}),
                   f"{out}/delete_{r:03d}.parquet")
            plan["rounds"].append(summary.json())
    return plan if write else state
