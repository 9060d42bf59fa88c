"""Seeded raw inputs of the climate pipeline, a pure function of
(seed, years, stations): the real 6-token Berkeley Earth daily TAVG text and
the GHCND fixed-width station inventory, including the malformed rows the
silver layer must drop (short rows, non-numeric tokens, blank coordinates).
"""
import datetime
import os

import numpy as np


def berkeley_text(rng, first_year, last_year):
    """Berkeley Earth daily TAVG text: `%` comment header, then rows of
    `date-number year month day day-of-year anomaly`, plus malformed rows."""
    lines = ["% Berkeley Earth daily TAVG (synthetic, seeded)",
             "% date-number  year  month  day  day-of-year  anomaly"]
    d = datetime.date(first_year, 1, 1)
    end = datetime.date(last_year, 12, 31)
    n = (end - d).days + 1
    anomalies = rng.normal(0.0, 1.0, n)
    for a in anomalies:
        doy = d.timetuple().tm_yday
        lines.append(f"  {d.year}.{doy:03d}  {d.year}  {d.month:2d}  {d.day:2d}  {doy:3d}  {a:.3f}")
        d += datetime.timedelta(days=1)
    # malformed: a short row (token 5 missing), a non-numeric year, and a
    # non-numeric anomaly; all three must be dropped by the silver layer
    lines.append(f"  {last_year}.001  {last_year}  1")
    lines.append("  bad.row  YEAR  1  1  1  0.5")
    lines.append(f"  {first_year}.002  {first_year}  1  2  2  n/a")
    return "\n".join(lines) + "\n"


def stations_text(rng, n):
    """GHCND station inventory, fixed width (id 1-11, lat 13-20, lon 22-30,
    elevation 32-37, state 39-40, name 42-71), plus malformed rows."""
    states = ["NY", "CA", "TX", "WA", "CO", "FL", "IL", "AZ"]
    ids = rng.choice(100_000, n, replace=False)
    rows = []
    for i, sid in enumerate(ids):
        lat = rng.uniform(25.0, 50.0)
        lon = rng.uniform(-125.0, -65.0)
        elev = float(rng.integers(0, 3000))
        state = "  " if i % 5 == 4 else states[int(rng.integers(0, len(states)))]
        rows.append(f"{'USW000%05d' % sid:<11s} {lat:8.4f} {lon:9.4f} {elev:6.1f} {state:>2s} {'STATION_%d' % i:<30s}")
    # malformed: blank coordinates (cast to null, dropped) and a short line
    rows.append(f"USW00100000 {' ' * 8} {' ' * 9}  100.0 NY {'BLANK_COORDS':<30s}")
    rows.append("USW00100001")
    return "\n".join(rows) + "\n"


def write_climate(out_dir, seed, first_year=1980, last_year=2024, n_stations=200):
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "berkeley_daily.txt"), "w") as f:
        f.write(berkeley_text(rng, first_year, last_year))
    with open(os.path.join(out_dir, "ghcnd_stations.txt"), "w") as f:
        f.write(stations_text(rng, n_stations))
    return out_dir
