"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The program under test receives only these files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime
import json
import os
import random
import sys

import numpy as np

AIRLINE_HEADER = "FlightDate,UniqueCarrier,FlightNum,Origin,Dest,DepTime,DepDelay,ArrDelay"
YEARS = range(1989, 2009)  # 20 years x 12 months = 240 monthly files
ROWS_PER_FILE = 2500

# IATA-like codes; Zipf weights make a few hubs carry most traffic
AIRPORTS = ["ORD", "ATL", "DFW", "LAX", "DEN", "PHX", "IAH", "LAS", "DTW", "MSP",
            "SFO", "EWR", "CLT", "SLC", "BOS", "LGA", "MCO", "JFK", "SEA", "BWI",
            "PHL", "MDW", "SAN", "IAD", "TPA", "DCA", "CVG", "MIA", "STL", "PDX",
            "CLE", "MEM", "OAK", "SMF", "MCI", "SJC", "RDU", "AUS", "BNA", "CMI"]
# legacy carrier codes with parens ride along (README R:183-184)
CARRIERS = ["WN", "AA", "DL", "UA", "US", "NW", "CO", "MQ", "OO", "XE",
            "EV", "AS", "HA", "ML(1)", "PA(1)", "F9"]


def zipf_weights(n, s=1.1):
    return [1.0 / (i + 1) ** s for i in range(n)]


def _zipf_p(n, s=1.1):
    w = np.array(zipf_weights(n, s))
    return w / w.sum()


def _days_in_month(y, m):
    if m == 2:
        return 29 if (y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)) else 28
    return 30 if m in (4, 6, 9, 11) else 31


def gen_airline(seed, out):
    """240 monthly on-time CSVs (1989-2008) plus a trip-planner request
    table, and under warm/ a small twelve-file set of the same shape for
    the warm-up pass."""
    meta = _airline_files(np.random.default_rng([seed, 1]), out, YEARS, ROWS_PER_FILE)
    _airline_files(np.random.default_rng([seed, 4]), f"{out}/warm", [2008], 50)
    return meta


# string tables the vectorised generator indexes into
_NUM = np.array([str(i) for i in range(-100, 4000)], dtype=object)  # _NUM[v + 100]
_HHMM = np.array([f"{h:02d}{m:02d}" for h in range(24) for m in range(60)], dtype=object)


def _airline_files(rng, out, years, rows_per_file):
    """Monthly CSVs for `years` and requests.csv. Dirty cases
    Ingest.readCsv must clean are planted: malformed dates and numbers
    (dropped rows), empty delays and DepTimes, and DepTime hours >= 24."""
    ap_p, ca_p = _zipf_p(len(AIRPORTS)), _zipf_p(len(CARRIERS))
    airports, carriers = np.array(AIRPORTS, dtype=object), np.array(CARRIERS, dtype=object)
    n = rows_per_file
    legs2008 = []
    for y in years:
        os.makedirs(f"{out}/csv/{y}", exist_ok=True)
        for m in range(1, 13):
            dim = _days_in_month(y, m)
            dates = np.array([f"{y:04d}-{m:02d}-{d:02d}" for d in range(1, dim + 1)],
                             dtype=object)
            d = rng.integers(1, dim + 1, n)
            o = rng.choice(len(AIRPORTS), n, p=ap_p)
            dst = rng.choice(len(AIRPORTS), n, p=ap_p)
            c = rng.choice(len(CARRIERS), n, p=ca_p)
            fn = rng.integers(1, 4000, n)
            hh, mm = rng.integers(5, 24, n), rng.integers(0, 60, n)
            dep_delay = np.minimum(rng.exponential(14.0, n).astype(np.int64), 3000) - 8
            arr_delay = dep_delay + rng.integers(-20, 26, n)
            r = rng.random(n)
            pick = rng.integers(0, 4, n)
            date_c, fn_c = dates[d - 1], _NUM[fn + 100]
            dep_c = _HHMM[hh * 60 + mm]
            dd_c, ad_c = _NUM[dep_delay + 100], _NUM[arr_delay + 100]
            bad = r < 0.004
            date_c[bad] = np.array(["2008-13-45", "2008-02-30", "notadate", "notadate"],
                                   dtype=object)[pick[bad]]
            bad = (r >= 0.004) & (r < 0.008)
            dd_c[bad] = np.array(["abc", "1.2.3", "abc", "1.2.3"], dtype=object)[pick[bad]]
            bad = (r >= 0.008) & (r < 0.010)
            fn_c[bad] = np.array(["x12", "12a", "x12", "12a"], dtype=object)[pick[bad]]
            ad_c[(r >= 0.010) & (r < 0.030)] = ""
            dd_c[(r >= 0.030) & (r < 0.040)] = ""
            dep_c[(r >= 0.040) & (r < 0.045)] = ""
            bad = (r >= 0.045) & (r < 0.075)
            dep_c[bad] = np.array(["2400", "2445", "2515", "2525"], dtype=object)[pick[bad]]
            cols = (date_c, carriers[c], fn_c, airports[o], airports[dst], dep_c, dd_c, ad_c)
            with open(f"{out}/csv/{y}/On_Time_{y}_{m}.csv", "w") as f:
                f.write(AIRLINE_HEADER + "\n")
                f.write("\n".join(map(",".join, zip(*cols))) + "\n")
            if y == 2008:
                ok = r >= 0.045
                legs2008.append(np.stack([np.full(n, m), d, o, dst, hh])[:, ok])
    # requests: origin->stop before noon, stop->dest two days later
    # after noon, so most requests have both legs; a few are random
    m_, d_, o_, dst_, hh_ = np.concatenate(legs2008, axis=1)
    by_origin_day = {}
    for m, d, o, dst, hh in zip(m_.tolist(), d_.tolist(), o_.tolist(), dst_.tolist(),
                                hh_.tolist()):
        if hh >= 12:
            by_origin_day.setdefault((m, d, o), []).append(dst)
    morning = np.flatnonzero(hh_ < 12)
    reqs = set()
    for i in rng.choice(morning, 600).tolist():
        m, d, o, stop = int(m_[i]), int(d_[i]), int(o_[i]), int(dst_[i])
        day2 = datetime.date(2008, m, d) + datetime.timedelta(days=2)
        cands = by_origin_day.get((day2.month, day2.day, stop), [])
        if cands and stop != o:
            dest = cands[int(rng.integers(len(cands)))]
            if dest != stop:
                reqs.add((AIRPORTS[o], AIRPORTS[stop], AIRPORTS[dest], f"2008-{m:02d}-{d:02d}"))
        if len(reqs) >= 200:
            break
    for _ in range(20):
        a, b, c = (AIRPORTS[i] for i in rng.choice(len(AIRPORTS), 3, replace=False))
        reqs.add((a, b, c, f"2008-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}"))
    with open(f"{out}/requests.csv", "w") as f:
        f.write("origin,stop,dest,request_date\n")
        for r in sorted(reqs):
            f.write(",".join(r) + "\n")
    return {"rows": len(years) * 12 * n + len(reqs), "files": len(years) * 12 + 1}


SERVING_PATTERN = ["lookup", "lookup", "upsert", "lookup", "lookup", "delete"]
SERVING_AIRPORTS = [f"A{i:03d}" for i in range(40)]
SERVING_CARRIERS_PER_AIRPORT = 8


def gen_serving(seed, out, n_rounds=80):
    """The initial keyed table (airport, carrier) rows and a closed-loop
    op sequence: rounds of SERVING_PATTERN with Zipf-skewed airports.

    The seed picks the airports, carriers and values; the shape of the
    work is the same for every seed. With a shape drawn at random (3 to
    16 rows per airport, 1 to 3 upserted and 1 to 2 deleted rows per op)
    two seeds' round walls differed by about a tenth over repeated runs on
    a 4-core host, more than the run-to-run spread of one seed.
    Every airport starts with SERVING_CARRIERS_PER_AIRPORT
    rows. Every upsert updates one existing row and inserts one new one;
    every delete removes one existing row, never a partition's last, and
    every fourth also names an absent id, which must delete nothing. The
    generator tracks the table state to keep to that."""
    rnd = random.Random(seed * 1000003 + 2)
    ap_w = zipf_weights(len(SERVING_AIRPORTS), 0.9)
    table = {}
    for a in SERVING_AIRPORTS:
        for c in rnd.sample(CARRIERS, SERVING_CARRIERS_PER_AIRPORT):
            table[(a, c)] = (rnd.randint(10, 5000), rnd.randint(-500, 4000) / 100.0)
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/keyed.csv", "w") as f:
        f.write("airport,carrier,flights,avg_dep_delay\n")
        for (a, c), (n, v) in sorted(table.items()):
            f.write(f"{a},{c},{n},{v}\n")
    state = dict(table)

    def present(a):
        return sorted(c for (x, c) in state if x == a)

    def airport(ok):
        while True:
            a = rnd.choices(SERVING_AIRPORTS, ap_w)[0]
            if ok(present(a)):
                return a

    ops = []
    for r in range(n_rounds):
        for kind in SERVING_PATTERN:
            if kind == "lookup":
                ops.append({"op": "lookup", "airport": airport(lambda p: True)})
            elif kind == "upsert":
                a = airport(lambda p: 0 < len(p) < len(CARRIERS))
                have = present(a)
                rows = []
                for c in (rnd.choice(have), rnd.choice([c for c in CARRIERS if c not in have])):
                    v = (rnd.randint(10, 5000), rnd.randint(-500, 4000) / 100.0)
                    rows.append([a, c, v[0], v[1]])
                    state[(a, c)] = v
                ops.append({"op": "upsert", "airport": a, "rows": rows})
            else:
                a = airport(lambda p: len(p) >= 2)
                have = present(a)
                pick = [rnd.choice(have)]
                if r % 4 == 3:
                    pick.append(rnd.choice([c for c in CARRIERS if c not in have] or ["ZZ"]))
                for c in pick:
                    state.pop((a, c), None)
                ops.append({"op": "delete", "airport": a, "carriers": sorted(pick)})
    with open(f"{out}/ops.json", "w") as f:
        json.dump(ops, f, sort_keys=True)
    return {"rows": len(table), "ops": len(ops), "files": 2}


def generate(workload, seed, out):
    if workload == "airline_etl":
        return gen_airline(seed, out)
    if workload == "airline_serving":
        return gen_serving(seed, out)
    raise SystemExit(f"unknown workload {workload}")


def input_bytes(out):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(out) for f in fs)


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(w, s, o)))
