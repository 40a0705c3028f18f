"""Untimed output checks of the airline_etl workload, against DuckDB over
the same generated CSVs.

Each of the eight query results the program wrote keyed is compared with
a DuckDB twin. The twins mirror the project's airline oracle SQL
(AirlineEntries.oracleSql); readCsv's DROPMALFORMED cleaning is
re-expressed as try_cast filters, as in the a09_csv_ingest twin. Row
order is ignored and doubles are compared at 12 significant digits.
"""
import datetime
import glob
import math
import os

import duckdb

CLEAN = """
CREATE TABLE flights AS
SELECT try_cast(FlightDate AS DATE) AS FlightDate, UniqueCarrier AS carrier,
  try_cast(FlightNum AS BIGINT) AS flightnum, Origin AS origin, Dest AS dest,
  try_cast(DepTime AS INTEGER) AS deptime,
  try_cast(DepDelay AS DOUBLE) AS depdelay, try_cast(ArrDelay AS DOUBLE) AS arrdelay
FROM read_csv('{csv}', header=true, all_varchar=true, delim=',')
WHERE (FlightDate IS NULL OR try_cast(FlightDate AS DATE) IS NOT NULL)
  AND (FlightNum IS NULL OR try_cast(FlightNum AS INTEGER) IS NOT NULL)
  AND (DepDelay IS NULL OR try_cast(DepDelay AS DOUBLE) IS NOT NULL)
  AND (ArrDelay IS NULL OR try_cast(ArrDelay AS DOUBLE) IS NOT NULL);
CREATE TABLE legs AS
SELECT FlightDate, carrier, flightnum, origin, dest,
  make_timestamp((
    CAST(epoch(CAST(FlightDate AS TIMESTAMP)) AS BIGINT)
    + ((deptime // 100) // 24) * 86400
    + (((deptime // 100) % 24) * 60 + deptime % 100) * 60
    - CAST(depdelay AS BIGINT) * 60) * 1000000) AS sched_dep,
  arrdelay
FROM flights
WHERE EXTRACT(year FROM FlightDate) = 2008 AND arrdelay IS NOT NULL
  AND depdelay IS NOT NULL AND deptime IS NOT NULL;
CREATE VIEW traffic AS
SELECT airport, COUNT(*) AS cnt FROM (
  SELECT origin AS airport FROM flights UNION ALL SELECT dest FROM flights)
WHERE airport IS NOT NULL GROUP BY airport;
CREATE TABLE reqs AS
SELECT origin AS r_origin, stop AS r_stop, dest AS r_dest,
  CAST(request_date AS DATE) AS request_date
FROM read_csv('{requests}', header=true, all_varchar=true, delim=',');
"""


def _mins(ts):
    return f"(EXTRACT(hour FROM {ts})*60 + EXTRACT(minute FROM {ts}))"


def _leg_pick(n, join, noon):
    return f"""l{n} AS (SELECT r.r_origin, r.r_stop, r.r_dest, r.request_date,
  l.carrier, l.flightnum, l.origin AS lo, l.dest AS ld, l.sched_dep, l.arrdelay,
  row_number() OVER (PARTITION BY r.r_origin, r.r_stop, r.r_dest, r.request_date
    ORDER BY l.arrdelay, l.carrier, l.flightnum, l.sched_dep) AS rn
FROM reqs r JOIN legs l ON {join} WHERE {noon})"""


def _leg_out(n):
    return (f"r{n}.carrier AS leg{n}_carrier, r{n}.flightnum AS leg{n}_flightnum, "
            f"r{n}.lo AS leg{n}_origin, r{n}.ld AS leg{n}_dest, "
            f"strftime(r{n}.sched_dep, '%H:%M %d/%m/%Y') AS leg{n}_sched_dep, "
            f"printf('%.2f', r{n}.arrdelay) AS leg{n}_arr_delay")


def _ranked(group, key, value, src_col, cond):
    keys = ", ".join(group + [key])
    return f"""SELECT {keys}, {value}, rnk FROM (
  SELECT {keys}, {value}, row_number() OVER (PARTITION BY {", ".join(group)}
    ORDER BY {value} ASC, {key} ASC) AS rnk
  FROM (SELECT {keys}, AVG({src_col}) AS {value} FROM flights
        WHERE {cond} GROUP BY {keys})) WHERE rnk <= 10"""


# query -> (expected SQL, the program's output columns in the same order)
AIRLINE = {
    "top10Airports": (
        "SELECT airport, cnt FROM traffic ORDER BY cnt DESC, airport LIMIT 10",
        ["airport", "cnt"]),
    "top10AirlinesOnTime": (
        """SELECT carrier, AVG(arrdelay) FROM flights
           WHERE arrdelay IS NOT NULL AND carrier IS NOT NULL GROUP BY carrier
           ORDER BY 2 ASC, carrier ASC LIMIT 10""",
        ["UniqueCarrier", "avg_arr_delay"]),
    "top10CarriersPerAirport": (
        _ranked(["origin"], "carrier", "avg_dep_delay", "depdelay", "depdelay IS NOT NULL"),
        ["Origin", "UniqueCarrier", "avg_dep_delay", "rank"]),
    "top10DestPerAirport": (
        _ranked(["origin"], "dest", "avg_dep_delay", "depdelay", "depdelay IS NOT NULL"),
        ["Origin", "Dest", "avg_dep_delay", "rank"]),
    "top10CarriersPerRoute": (
        _ranked(["origin", "dest"], "carrier", "avg_arr_delay", "arrdelay",
                "arrdelay IS NOT NULL"),
        ["Origin", "Dest", "UniqueCarrier", "avg_arr_delay", "rank"]),
    "sortedFrequencies": ("SELECT cnt FROM traffic", ["cnt"]),
    "legCandidates": (
        "SELECT FlightDate, carrier, flightnum, origin, dest, sched_dep, arrdelay FROM legs",
        ["FlightDate", "UniqueCarrier", "FlightNum", "Origin", "Dest", "sched_dep",
         "ArrDelay"]),
    "bestLegs": (
        f"""WITH {_leg_pick(1, "l.origin = r.r_origin AND l.dest = r.r_stop AND "
                               "l.FlightDate = r.request_date",
                            f"{_mins('l.sched_dep')} < 720")},
        {_leg_pick(2, "l.origin = r.r_stop AND l.dest = r.r_dest AND "
                      "l.FlightDate = r.request_date + 2",
                   f"{_mins('l.sched_dep')} >= 720")}
        SELECT r1.r_origin, r1.r_stop, r1.r_dest, r1.request_date, {_leg_out(1)}, {_leg_out(2)}
        FROM l1 r1 JOIN l2 r2 ON r1.r_origin = r2.r_origin AND r1.r_stop = r2.r_stop
          AND r1.r_dest = r2.r_dest AND r1.request_date = r2.request_date
        WHERE r1.rn = 1 AND r2.rn = 1""",
        ["origin", "stop", "dest", "request_date"] +
        [f"leg{n}_{c}" for n in (1, 2) for c in
         ("carrier", "flightnum", "origin", "dest", "sched_dep", "arr_delay")]),
}


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (int, str)) or v is None:
        return v
    return str(v)


def _rows(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def _spark_out(con, path, cols):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return None
    listing = ", ".join(f"'{f}'" for f in files)
    sel = ", ".join(f'"{c}"' for c in cols)
    return con.sql(f"SELECT {sel} FROM read_parquet([{listing}], hive_partitioning=true, "
                   "hive_types_autocast=false)").fetchall()


def _connect(tmp):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='4GB'")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    return con


def airline(in_dir, out_dir, tmp):
    """{query: error or None} for the eight airline results."""
    con = _connect(tmp)
    for stmt in CLEAN.format(csv=f"{in_dir}/csv/*/*.csv",
                             requests=f"{in_dir}/requests.csv").split(";"):
        if stmt.strip():
            con.execute(stmt)
    verdict = {}
    for q, (sql, cols) in AIRLINE.items():
        try:
            got = _spark_out(con, os.path.join(out_dir, q), cols)
            want = con.sql(sql).fetchall()
            if got is None:
                verdict[q] = "no output"
            elif len(got) != len(want):
                verdict[q] = f"rows {len(got)} != {len(want)}"
            elif _rows(got) != _rows(want):
                verdict[q] = "values differ"
            else:
                verdict[q] = None
        except Exception as e:  # a check that cannot run is a failed check
            verdict[q] = f"check error: {e}"
    return verdict
