"""Seeded input generator and independent oracle for the etl_daily workload.

`generate` writes the five reference-schema CSVs (column lists as in
`src/main/scala/graft/etl/Schemas.scala`) and tallies, in plain Python
from the rows it emitted, the rows the pipeline must write: the three
dimension tables and, per day, `agg_by_card`, `agg_by_route` and
`agg_by_tariff`. `check_day`, `check_dims` and `check_report` compare
what the engine wrote or reported against those tallies, exactly.

Planted cases (FIXTURES.md):
- bus bodies whose messy spellings (`BRT322-B`, `BRT3221_A`, `brt 322`)
  collide after norm_body;
- realisasi dates in ISO and DD/MM/YYYY, plus M/D/YYYY, which the
  date dispatch rejects (NULL);
- `True`/`False` and garbage for to_bool_safe;
- S and F statuses, and unparseable tap timestamps (rejected rows);
- a shelter with no corridor match;
- a realisasi fan-out: some normalized bodies map to two routes;
- an empty day: taps exist, but none with status S.
"""
import csv
import datetime as dt
import random
import re
from collections import Counter, defaultdict
from decimal import Decimal
from pathlib import Path

import pyarrow.parquet as pq

BUS_COLUMNS = ["uuid", "waktu_transaksi", "armada_id_var", "no_body_var",
               "card_number_var", "card_type_var", "balance_before_int", "fare_int",
               "balance_after_int", "transcode_txt", "gate_in_boo",
               "p_latitude_flo", "p_longitude_flo", "status_var",
               "free_service_boo", "insert_on_dtm"]
HALTE_COLUMNS = ["uuid", "waktu_transaksi", "shelter_name_var", "terminal_name_var",
                 "card_number_var", "card_type_var", "balance_before_int", "fare_int",
                 "balance_after_int", "transcode_txt", "gate_in_boo",
                 "p_latitude_flo", "p_longitude_flo", "status_var",
                 "free_service_boo", "insert_on_dtm"]

ALPHA_ROUTES = ["B21", "C12", "D11", "F11", "K22", "L13", "M14"]
CARD_TYPES = ["BRIZZI", "E-Money", "Flazz", "JakCard", "flazz"]
FARES = ["0", "2000", "3500", "20000", "35000"]
GATES = ["True", "False", "True", "False", "garbage"]
CENT = Decimal("0.01")


def _sorted(rows):
    """Sorted tuples; repr orders rows that hold NULLs next to values."""
    return sorted((tuple(r) for r in rows), key=repr)


# ---- reference semantics, in plain Python -------------------------------

def norm_body(s):
    """norm_body: NULL/blank -> NULL; strip non-alphanumerics; first three
    consecutive letters (upper-cased) + '-' + first 1-3 digits left-padded
    to 3; NULL when either part is missing."""
    if s is None or s.strip(" ") == "":
        return None
    cleaned = re.sub(r"[^A-Za-z0-9]", "", s)
    letters = re.search(r"[A-Z]{3}", cleaned.upper())
    digits = re.search(r"[0-9]{1,3}", cleaned)
    if not letters or not digits:
        return None
    return letters.group(0) + "-" + digits.group(0).rjust(3, "0")


def to_bool_safe(s):
    t = (s or "").strip(" ").upper()
    if t in ("TRUE", "T", "1", "Y", "YES", "ON"):
        return True
    if t in ("FALSE", "F", "0", "N", "NO", "OFF"):
        return False
    return None


def norm_date(s):
    """Two-format dispatch: yyyy-MM-dd or dd/MM/yyyy, anything else NULL."""
    t = s.strip(" ")
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", t):
        return dt.date.fromisoformat(t)
    if re.fullmatch(r"\d{2}/\d{2}/\d{4}", t):
        d, m, y = t.split("/")
        return dt.date(int(y), int(m), int(d))
    return None


def tap_date(s):
    try:
        return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").date()
    except ValueError:
        return None


# ---- generator ------------------------------------------------------------

def _body_spellings(rng, letters, num):
    """Raw spellings of one bus body; all normalize to LLL-NNN."""
    n3 = str(num).rjust(3, "0")
    return [f"{letters}{n3}{rng.randint(0, 9)}", f"{letters}{n3}-B", f"{letters}{n3}_A",
            f"{letters.lower()} {n3}"]


def generate(seed, out_dir, days, taps_per_day):
    """Writes the CSVs into `out_dir` and returns the expected outputs.

    `days` is the list of ISO dates of the backfill; the last one is the
    empty day. `taps_per_day` is the number of bus taps and of halte taps
    on each other day."""
    rng = random.Random(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)

    routes = [(str(i), f"Koridor {i}") for i in range(1, 15)] + \
             [(c, f"Rute {c}") for c in ALPHA_ROUTES]
    shelters = [(f"Halte {i:03d}", str(1 + i % 14), f"Koridor {1 + i % 14}") for i in range(74)]
    unknown_shelters = ["Halte Baru 01", "Halte Baru 02"]

    # bodies: (letters, number) pairs; each has one realisasi row, a few
    # percent have a second spelling on another route (fan-out), and a few
    # are absent from realisasi (their taps drop out of agg_by_route)
    ids = set()
    while len(ids) < 400:
        ids.add(("".join(rng.choice("ABCDEFGHJKLMNPRSTUVWXYZ") for _ in range(3)), rng.randint(1, 999)))
    bodies = sorted(ids)
    realisasi = []
    bus_spellings = []
    for k, (letters, num) in enumerate(bodies):
        spell = _body_spellings(rng, letters, num)
        bus_spellings.append(spell)
        if k % 40 == 39:
            continue  # no realisasi row
        route = rng.choice(ALPHA_ROUTES)
        realisasi.append((spell[0], route))
        if k % 25 == 3:  # fan-out: a colliding spelling on a second route
            realisasi.append((spell[1], rng.choice([r for r in ALPHA_ROUTES if r != route])))
    d0 = dt.date.fromisoformat(days[0])

    def realisasi_date(i):
        d = d0 + dt.timedelta(days=i % 9)
        return [d.isoformat(), d.strftime("%d/%m/%Y"), f"{d.month}/{d.day}/{d.year}"][i % 3]
    realisasi_rows = [(realisasi_date(i), b, r) for i, (b, r) in enumerate(realisasi)]

    def write(name, header, rows):
        with open(out / name, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows)

    write("dummy_routes.csv", ["route_code", "route_name"], routes)
    write("dummy_shelter_corridor.csv", ["shelter_name_var", "corridor_code", "corridor_name"], shelters)
    write("dummy_realisasi_bus.csv", ["tanggal_realisasi", "bus_body_no", "rute_realisasi"], realisasi_rows)

    def tap(day, k, status_pool):
        if k % 997 == 0:
            when = "not a time"
        else:
            when = f"{day} {rng.randint(5, 22):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
        fare = rng.choice(FARES)
        return dict(uuid=f"{seed:x}-{k:08x}", waktu_transaksi=when, card_type=rng.choice(CARD_TYPES),
                    fare=fare, gate=rng.choice(GATES), status=rng.choice(status_pool))

    bus_rows, halte_rows = [], []
    bus_taps, halte_taps = [], []
    k = 0
    for i, day in enumerate(days):
        empty = i == len(days) - 1
        pool = ["F"] if empty else ["S"] * 9 + ["F", "s"]
        n = max(1, taps_per_day // 50) if empty else taps_per_day
        for _ in range(n):
            k += 1
            t = tap(day, k, pool)
            body = rng.choice(rng.choice(bus_spellings))
            bus_taps.append((t, body))
            bus_rows.append([t["uuid"], t["waktu_transaksi"], f"B {k % 977}", body,
                             f"{rng.getrandbits(48):012d}", t["card_type"], "50000", t["fare"],
                             "46500", "TX", t["gate"], "-6.2", "106.8", t["status"], "False",
                             f"{day} 23:59:00"])
            k += 1
            t = tap(day, k, pool)
            shelter = unknown_shelters[k % 2] if k % 53 == 0 else rng.choice(shelters)[0]
            halte_taps.append((t, shelter))
            halte_rows.append([t["uuid"], t["waktu_transaksi"], shelter, "Terminal",
                               f"{rng.getrandbits(48):012d}", t["card_type"], "50000", t["fare"],
                               "46500", "TX", t["gate"], "-6.2", "106.8", t["status"], "False",
                               f"{day} 23:59:00"])
    write("dummy_transaksi_bus.csv", BUS_COLUMNS, bus_rows)
    write("dummy_transaksi_halte.csv", HALTE_COLUMNS, halte_rows)

    return _expected(days, routes, shelters, realisasi_rows, bus_taps, halte_taps)


def _expected(days, routes, shelters, realisasi_rows, bus_taps, halte_taps):
    route_name = dict(routes)
    corridor = {name.strip(" "): (int(code) if code.strip(" ") else None) for name, code, _ in shelters}
    routes_of = defaultdict(list)
    for _, body, route in realisasi_rows:
        nb = norm_body(body)
        if nb is not None:
            routes_of[nb].append(route if route in route_name else None)

    card, route, tariff = Counter(), Counter(), Counter()
    card_sum, route_sum = defaultdict(Decimal), defaultdict(Decimal)
    bus_s, halte_s = Counter(), Counter()

    def ok(t):
        d = tap_date(t["waktu_transaksi"])
        return d if d is not None and t["status"].upper() == "S" else None

    def add(d, t, route_keys):
        amount = Decimal(t["fare"]).quantize(CENT)
        gate = to_bool_safe(t["gate"])
        kc = (d, t["card_type"].upper(), gate)
        card[kc] += 1
        card_sum[kc] += amount
        tariff[(d, amount, gate)] += 1
        for rc in route_keys:
            kr = (d, rc, route_name.get(rc) if rc is not None else None, gate)
            route[kr] += 1
            route_sum[kr] += amount

    for t, body in bus_taps:
        d = ok(t)
        if d:
            bus_s[d] += 1
            add(d, t, routes_of.get(norm_body(body), []))
    for t, shelter in halte_taps:
        d = ok(t)
        if d:
            halte_s[d] += 1
            code = corridor.get(shelter)
            rc = str(code) if code is not None and str(code) in route_name else None
            add(d, t, [rc])

    per_day = {}
    for day in days:
        d = dt.date.fromisoformat(day)
        per_day[day] = {
            "bus_rows": bus_s[d], "halte_rows": halte_s[d],
            "agg_by_card": _sorted((ct, g, n, str(card_sum[(dd, ct, g)]))
                                   for (dd, ct, g), n in card.items() if dd == d),
            "agg_by_route": _sorted((rc, rn, g, n, str(route_sum[(dd, rc, rn, g)]))
                                    for (dd, rc, rn, g), n in route.items() if dd == d),
            "agg_by_tariff": _sorted((str(a), g, n) for (dd, a, g), n in tariff.items() if dd == d),
        }
    dims = {
        "routes": _sorted(routes),
        "shelter_corridor": _sorted((n, int(c) if c else None, cn) for n, c, cn in shelters),
        "realisasi_bus": _sorted((norm_date(t), b, r, norm_body(b)) for t, b, r in realisasi_rows),
    }
    return {"days": per_day, "dims": dims,
            "rows_in": len(bus_taps) + len(halte_taps)}


# ---- checks -----------------------------------------------------------------

def check_report(expected, day, info):
    """Counts the engine reports for one day's run against the tallies."""
    e = expected["days"][day]
    dims = expected["dims"]
    want = {"bus_rows": e["bus_rows"], "halte_rows": e["halte_rows"],
            "agg_by_card": len(e["agg_by_card"]), "agg_by_route": len(e["agg_by_route"]),
            "agg_by_tariff": len(e["agg_by_tariff"]),
            "dims": {k: len(v) for k, v in dims.items()}}
    got = {k: info.get(k) for k in want}
    return [f"{k}: engine {got[k]} != expected {want[k]}" for k in want if got[k] != want[k]]


def _read(path):
    if not Path(path).exists():
        return []
    return pq.read_table(path).to_pylist()


def _dec(v):
    return None if v is None else str(v)


def check_day(expected, dwh, day):
    """Exact compare of the three partitions written for `day`, decimals
    (as decimal(18,2)) included."""
    e = expected["days"][day]
    got = {
        "agg_by_card": _sorted((r["card_type"], r["gate_in_boo"], r["pelanggan_count"], _dec(r["amount_sum"]))
                               for r in _read(f"{dwh}/agg_by_card/tanggal={day}")),
        "agg_by_route": _sorted((r["route_code"], r["route_name"], r["gate_in_boo"], r["pelanggan_count"],
                                 _dec(r["amount_sum"])) for r in _read(f"{dwh}/agg_by_route/tanggal={day}")),
        "agg_by_tariff": _sorted((_dec(r["tarif"]), r["gate_in_boo"], r["pelanggan_count"])
                                 for r in _read(f"{dwh}/agg_by_tariff/tanggal={day}")),
    }
    errors = [f"{t}: {len(got[t])} rows differ from the {len(e[t])} expected"
              for t in got if got[t] != e[t]]
    for t in ("agg_by_card", "agg_by_route"):
        p = Path(f"{dwh}/{t}/tanggal={day}")
        if p.exists():
            typ = str(pq.read_schema(next(p.glob("*.parquet"))).field("amount_sum").type)
            if typ != "decimal128(18, 2)":
                errors.append(f"{t}.amount_sum has type {typ}")
    return errors


def check_dims(expected, dwh):
    dims = expected["dims"]
    got = {
        "routes": _sorted((r["route_code"], r["route_name"]) for r in _read(f"{dwh}/routes")),
        "shelter_corridor": _sorted((r["shelter_name_var"], r["corridor_code"], r["corridor_name"])
                                    for r in _read(f"{dwh}/shelter_corridor")),
        "realisasi_bus": _sorted((r["tanggal_realisasi"], r["bus_body_no"], r["rute_realisasi"],
                                  r["bus_body_no_norm"]) for r in _read(f"{dwh}/realisasi_bus")),
    }
    return [f"dim {t} differs from the expected {len(dims[t])} rows"
            for t in got if got[t] != dims[t]]
