"""Seeded input generators for the benchmark.

Every function is a pure function of its arguments: the same seed gives
byte-identical files, and a different seed changes values but never sizes
(row counts, file counts, column layout).

- `etl_fleet`: Weather Underground `;`-CSV files (one per station-day,
  latin-1, with the units row and the summary row the pipeline drops) plus
  one nested Infoclimat JSON, with a seeded, known number of out-of-range
  and unparseable (null) values injected. Returns the reports the pipeline
  must reproduce.
- `tables`: the TPC-H-ish star schema plus `events`, in the sf0.1 shapes
  of TESTDATA.md. The lane workload uses one fixed seed so its outputs can be
  checked against recorded goldens.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101          # fixed: lane goldens are recorded on these tables
DAYS = [f"2024-10-0{d}" for d in range(1, 8)]
FLEET = dict(stations=20, rows_per_file=3370, json_stations=20, json_records=1090)
NUMERIC = ["temperature_c", "humidite_pct", "pression_hpa", "vent_vitesse_ms",
           "pluie_accum_mm"]
# out-of-range replacement per constrained field, in the CSV's own units
ANOMALY = {"temperature_c": "140,0 °F", "humidite_pct": "130 %",
           "pression_hpa": "35,50 in", "vent_vitesse_ms": "150,0 mph"}
CSV_COL = {"temperature_c": 1, "humidite_pct": 3, "pression_hpa": 7,
           "vent_vitesse_ms": 5, "pluie_accum_mm": 9}
HEADER = ("Time;Temperature;Dew Point;Humidity ;Wind;Speed;Gust;Pressure;"
          "Precip. Rate.;Precip. Accum. ;UV;Solar\n")
UNITS = "(°F);(°F);(%);;(mph);(mph);(in);(in);(in);;(w/m²)\n"
WINDS = ["N", "NNE", "NE", "E", "SE", "S", "SSW", "SW", "W", "NW"]
TENTHS = [f"{v // 10},{v % 10}" for v in range(1000)]
HUNDREDTHS = [f"{v // 100},{v % 100:02d}" for v in range(4000)]


def _clock(minute):
    h, m = divmod(minute, 60)
    return f"{(h % 12) or 12}:{m:02d} {'AM' if h < 12 else 'PM'}"


def etl_fleet(out_dir, seed, stations=FLEET["stations"],
              rows_per_file=FLEET["rows_per_file"],
              json_stations=FLEET["json_stations"],
              json_records=FLEET["json_records"]):
    """Write the fleet under `out_dir`; return (manifest, expected).

    manifest: list of (station, date, path) for the CSV files, plus the
    JSON path. expected: the IntegrityReport / QualityReport fields the
    pipeline must reproduce.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_csv = stations * len(DAYS) * rows_per_file
    # distinct row slots, first `n_anom` become out-of-range values and the
    # rest unparseable ones; each slot also draws the field it corrupts
    n_anom = int(rng.integers(200, 400))
    n_null = int(rng.integers(200, 400))
    slots = rng.choice(n_csv, size=n_anom + n_null, replace=False)
    anom_fields = list(ANOMALY)
    inject = {}
    anomalies = dict.fromkeys(anom_fields, 0)
    nulls = dict.fromkeys(NUMERIC, 0)
    for j, s in enumerate(slots.tolist()):
        if j < n_anom:
            f = anom_fields[int(rng.integers(len(anom_fields)))]
            inject[s] = (CSV_COL[f], ANOMALY[f])
            anomalies[f] += 1
        else:
            f = NUMERIC[int(rng.integers(len(NUMERIC)))]
            inject[s] = (CSV_COL[f], "--")
            nulls[f] += 1

    minutes = [(i * 1440) // rows_per_file for i in range(rows_per_file)]
    clocks = [_clock(m) for m in minutes]
    manifest, keys = [], []
    slot = 0
    for st in range(stations):
        station = f"st{st:04d}"
        for date in DAYS:
            temp = (rng.integers(300, 850, rows_per_file)).tolist()  # tenths of °F
            dew = rng.integers(0, 60, rows_per_file).tolist()
            hum = rng.integers(20, 100, rows_per_file).tolist()
            wind = rng.integers(0, len(WINDS), rows_per_file).tolist()
            speed = rng.integers(0, 250, rows_per_file).tolist()      # tenths of mph
            gust = rng.integers(0, 50, rows_per_file).tolist()
            pres = rng.integers(2950, 3050, rows_per_file).tolist()   # hundredths of inHg
            acc = rng.integers(0, 200, rows_per_file).tolist()        # hundredths of in
            solar = rng.integers(0, 800, rows_per_file).tolist()
            rows = [[clocks[i], TENTHS[t] + " °F", TENTHS[t - d] + " °F", f"{h} %",
                     WINDS[w], TENTHS[v] + " mph", TENTHS[v + g] + " mph",
                     HUNDREDTHS[p] + " in", "0,00 in", HUNDREDTHS[a] + " in", "0",
                     f"{so} w/m²"]
                    for i, t, d, h, w, v, g, p, a, so in zip(
                        range(rows_per_file), temp, dew, hum, wind, speed, gust,
                        pres, acc, solar)]
            for i in range(rows_per_file):
                hit = inject.get(slot + i)
                if hit is not None:
                    rows[i][hit[0]] = hit[1]
            slot += rows_per_file
            lines = [";".join(r) + "\n" for r in rows]
            lines.insert(1, UNITS)        # physical row 2: dropped by the pipeline
            lines.insert(0, HEADER)
            keys.extend((f"{date} {c}", station) for c in clocks)
            lines.append("Summary;;;;;;;;;;;\n")
            path = os.path.join(out_dir, f"wu-{station}-{date}.csv")
            with open(path, "wb") as f:
                f.write("".join(lines).encode("latin-1"))
            manifest.append((station, date, path))

    ladder = ['"pluie_1h": "{a}", "pluie_3h": "{b}"', '"pluie_1h": "", "pluie_3h": "{b}"',
              '"pluie_3h": "{b}"']
    json_parts = []
    for st in range(json_stations):
        sid = f"{70000 + st:05d}"
        temp = rng.integers(20, 250, json_records).tolist()
        pres = rng.integers(9900, 10300, json_records).tolist()
        hum = rng.integers(40, 100, json_records).tolist()
        vent = rng.integers(0, 500, json_records).tolist()
        rain = rng.integers(0, 3, json_records).tolist()
        recs = []
        for i in range(json_records):
            ts = f"2024-10-0{1 + (i // 24) % 7} {i % 24:02d}:00:00"
            r = ladder[rain[i]].format(a=f"0.{i % 10}", b=f"{i % 7}.{i % 5}")
            recs.append(
                f'{{"id_station": "{sid}", "dh_utc": "{ts}", '
                f'"temperature": "{temp[i] // 10}.{temp[i] % 10}", '
                f'"pression": "{pres[i] // 10}.{pres[i] % 10}", '
                f'"humidite": "{hum[i]}", "vent_moyen": "{vent[i] // 10}.{vent[i] % 10}", {r}}}')
            keys.append((ts, sid))
        json_parts.append(f'"{sid}": [' + ",".join(recs) + "]")
    json_path = os.path.join(out_dir, "infoclimat.json")
    with open(json_path, "wb") as f:
        f.write(('{"hourly": {\n  ' + ",\n  ".join(json_parts) + "\n}}").encode("utf-8"))

    total = len(keys)
    distinct = {k for k, _ in keys}
    stamps = [dt.datetime.strptime(
        ts, "%Y-%m-%d %H:%M:%S" if ts.count(":") == 2 else "%Y-%m-%d %I:%M %p")
        for ts in distinct]
    expected = {
        "rows": total,
        "dup_by_date": total - len(distinct),
        "dup_by_date_station": total - len(set(keys)),
        "min_date": min(stamps).strftime("%Y-%m-%d %H:%M:%S"),
        "max_date": max(stamps).strftime("%Y-%m-%d %H:%M:%S"),
        "anomalies": anomalies,
        "nulls": nulls,
        "injected_anomalies": n_anom,
        "injected_nulls": n_null,
    }
    return {"csv": manifest, "json": json_path}, expected


def _ts(days_from, n_days, rng, n):
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def tables(out_dir, seed=TABLE_SEED, sf=0.1):
    """Write the star schema + events at `sf` (sf0.1 shapes)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    built = {}
    built["region"] = lambda: {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    built["nation"] = lambda: {
        "n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])}
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    built["customer"] = lambda: {
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}
    built["supplier"] = lambda: {
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    adj = ["blue", "red", "green", "small", "large", "hot", "new", "old"]
    noun = ["anvil", "bolt", "widget", "ring", "gear", "spring", "valve", "nut"]
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    built["part"] = lambda: {
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)}
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    built["orders"] = lambda: {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", 2405, rng, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}
    built["lineitem"] = lambda: {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, n_line)}
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    built["events"] = lambda: {
        "event_id": i64(range(n_ev)),
        "ts": np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                      + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, 1500, n_ev)),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    paths = {}
    for name, make in built.items():   # fixed order: the rng stream is shared
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(make()), paths[name])
    return paths


if __name__ == "__main__":
    import sys
    print(json.dumps(tables(sys.argv[1])))
