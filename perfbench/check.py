"""Output checks for the benchmark, run after the timed passes.

* Registry ops (llm_curation): every op's output is dumped to
  parquet and hash-compared against its DuckDB oracle SQL over the same
  input tables, by the repository's `tools/check_oracle.py`.
* climate_medallion, on the seeded inputs: the KPI and station tables are
  compared with values parsed independently from the raw text; the fact
  and extremes tables are checked for their row count, station sample,
  baseline formula and |z| >= 2.5 labelling; each CSV export must be one
  file with the parquet table's rows.
* climate_medallion, on a fixed check fixture: each gold table's row count
  and order-independent fingerprint must equal the values in
  `expected.json`, recorded once from the engine (see README.md).

`run_checks` returns {name: reason} for every failed check.
"""
import glob
import json
import math
import os
import re
import statistics
import subprocess
import sys

import duckdb
import numpy as np

CHECK_SEED = 20240
CHECK_CLIMATE = (1998, 2004, 12)  # first year, last year, stations
GOLD = ("kpis", "dim", "fact", "extremes")


def run_checks(rec, work, data, here, root):
    if rec["workload"] != "climate_medallion":
        return oracle_checks(rec, work, data, root)
    failures = climate_checks(work, data)
    failures.update(fingerprint_checks(os.path.join(work, "dump"), here))
    return failures


def oracle_checks(rec, work, data, root):
    dump = os.path.join(work, "dump")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                        data, dump], capture_output=True, text=True, timeout=120)
    verdict = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):?( .*)?$", line)
        if m:
            verdict[m.group(2)] = (m.group(1), (m.group(3) or "").strip())
    failures = {}
    for n in names:
        status, why = verdict.get(n, ("FAIL", "no oracle verdict"))
        if status != "PASS":
            failures[n] = why
    for n in rec["dump_failed"]:
        failures[n] = "output dump failed"
    return failures


def fingerprint(con, path):
    """(rows, order-independent hash) of a parquet directory; doubles are
    rounded to 6 decimals so the last bits of a float sum cannot flip it."""
    src = f"read_parquet('{path}/*.parquet')"
    cols = sorted(con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall())
    exprs = []
    for name, typ, *_ in cols:
        q = f'"{name}"'
        if typ in ("DOUBLE", "FLOAT"):
            exprs.append(f"round({q}::DOUBLE, 6)")
        else:
            exprs.append(q)
    rows, fp = con.sql(
        f"SELECT count(*), coalesce(sum(hash({', '.join(exprs)})::HUGEINT), 0) "
        f"% 18446744073709551616 FROM {src}").fetchone()
    return [int(rows), str(fp)]


def fingerprint_checks(dump, here):
    con = duckdb.connect()
    got = {t: fingerprint(con, os.path.join(dump, t)) for t in GOLD}
    with open(os.path.join(here, "expected.json")) as f:
        expected = json.load(f)["climate_medallion"]
    return {f"fixture.{t}": f"rows/fingerprint {got[t]} != recorded {expected[t]}"
            for t in GOLD if got[t] != expected[t]}


def _int(tok):
    return int(tok) if tok is not None and re.fullmatch(r"[+-]?\d+", tok) else None


def _float32(tok):
    try:
        return float(np.float32(float(tok)))
    except (TypeError, ValueError):
        return None


def parse_berkeley(path):
    """(year, month, day, anomaly) rows as the silver layer must keep them."""
    rows = []
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if line.startswith("%"):
                continue
            tok = line.strip(" ").split()
            get = lambda i: tok[i] if i < len(tok) else None  # noqa: E731
            year, month, anom = _int(get(1)), _int(get(2)), _float32(get(5))
            if year is None or month is None or anom is None:
                continue
            rows.append((year, month, _int(get(3)), anom))
    return rows


def parse_stations(path):
    """{station_id: latitude} of the rows the silver layer must keep."""
    out = {}
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            sid, lat, lon = line[0:11].strip(" "), _float32(line[12:20].strip(" ")), \
                _float32(line[21:30].strip(" "))
            if lat is not None and lon is not None:
                out[sid] = lat
    return out


def climate_checks(work, data):
    gold = os.path.join(work, "gold")
    con = duckdb.connect()
    pq = lambda t: f"read_parquet('{gold}/{t}/*.parquet')"  # noqa: E731
    failures = {}
    berkeley = parse_berkeley(os.path.join(data, "berkeley_daily.txt"))
    stations = parse_stations(os.path.join(data, "ghcnd_stations.txt"))

    # kpis: yearly avg/max/min/stddev of the anomaly, rounded to 4 places
    by_year = {}
    for y, _, _, a in berkeley:
        by_year.setdefault(y, []).append(a)
    got = {r[0]: r[1:] for r in con.sql(
        f"SELECT year, avg_global_anomaly, max_anomaly, min_anomaly, "
        f"std_dev_anomaly, station_count FROM {pq('kpis')}").fetchall()}
    if sorted(got) != sorted(by_year):
        failures["kpis"] = f"years {len(got)} != {len(by_year)}"
    else:
        for y, xs in by_year.items():
            exp = (math.fsum(xs) / len(xs), max(xs), min(xs), statistics.stdev(xs))
            g = got[y]
            if any(abs(a - round(b, 4)) > 1.01e-4 for a, b in zip(g[:4], exp)) \
                    or g[4] != len(stations):
                failures["kpis"] = f"year {y}: {g} != {exp}, {len(stations)}"
                break

    # stations_dim: exactly the stations with an id and both coordinates
    dim = dict(con.sql(f"SELECT station_id, latitude FROM {pq('dim')}").fetchall())
    if set(dim) != set(stations):
        failures["dim"] = f"{len(dim)} stations != {len(stations)}"

    # fact: the first 50 stations by id x every day from 2000 on
    sample = sorted(stations)[:50]
    days = sum(1 for r in berkeley if r[0] >= 2000)
    rows, ids, bad_base, bad_rc = con.sql(
        f"SELECT count(*), count(DISTINCT station_id), "
        f"sum(CASE WHEN abs(baseline_temperature - round(30 - 0.5 * abs(latitude::DOUBLE), 2))"
        f" > 0.0051 THEN 1 ELSE 0 END), sum(CASE WHEN record_count <> 30 THEN 1 ELSE 0 END)"
        f" FROM {pq('fact')}").fetchone()
    got_ids = sorted(r[0] for r in con.sql(
        f"SELECT DISTINCT station_id FROM {pq('fact')}").fetchall())
    if rows != len(sample) * days or got_ids != sample or bad_base or bad_rc:
        failures["fact"] = (f"rows {rows} (want {len(sample) * days}), stations {ids}, "
                            f"bad baselines {bad_base}, bad record_count {bad_rc}")

    # extremes: the fact rows with |z| >= 2.5, labelled by the sign of z
    n_ext, n_bad = con.sql(
        f"SELECT count(*), sum(CASE WHEN (z_score > 0) <> (event_type = 'EXTREME_HEAT')"
        f" THEN 1 ELSE 0 END) FROM {pq('extremes')}").fetchone()
    n_want = con.sql(f"SELECT count(*) FROM {pq('fact')} WHERE abs(z_score) >= 2.5").fetchone()[0]
    if n_ext != n_want or n_bad:
        failures["extremes"] = f"rows {n_ext} (want {n_want}), mislabelled {n_bad}"

    # CSV exports: one file each, header plus the parquet table's rows
    for t in GOLD:
        files = glob.glob(f"{gold}/{t}_csv/*.csv")
        want = con.sql(f"SELECT count(*) FROM {pq(t)}").fetchone()[0]
        if len(files) != 1:
            failures[f"{t}_csv"] = f"{len(files)} files"
            continue
        with open(files[0], "rb") as f:
            lines = sum(1 for _ in f) - 1
        if lines != want:
            failures[f"{t}_csv"] = f"rows {lines} != {want}"
    return failures
