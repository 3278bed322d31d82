"""Seeded input generators for the benchmark.

Two input sets, both pure functions of ``seed`` (the same seed writes the
same bytes):

- :func:`write_landing` writes the medallion landing files (covid CSV,
  users/posts JSON batches, latin-1 telco CSV) plus ``manifest.json``,
  the expected outcome of one pipeline run over them: rows per bronze
  and silver table, ``failed_count`` per data-quality rule and the
  quality score.
- :func:`write_tables` writes the eight parquet tables the TPC-H and
  streaming queries read, with the column types and value domains of
  the project's sf-scaled test tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Reference journal volume (BASELINE.md): 231,744 covid rows, 41 users and
# posts batches, 7,043 telco rows; 5,800 deaths > confirmed rows.
COVID_ROWS = 231_744
JSON_BATCHES = 41
USERS_PER_BATCH = 10
POSTS_PER_BATCH = 100
TELCO_ROWS = 7_043
PLANTED_DEATHS = 5_800
PLANTED_RECOVERED = 224
TELCO_BLANK_TOTALS = 11
COVID_START = dt.date(2020, 1, 22)


def _covid_csv(
    rng: np.random.Generator, days: int, rows: int
) -> tuple[bytes, dict]:
    if rows % days:
        raise ValueError(f"days={days} must divide covid rows={rows}")
    series = rows // days
    start = rng.integers(1, 1_000, series)
    steps = rng.integers(0, 200, (days, series))
    confirmed = start + np.cumsum(steps, axis=0)  # (days, series), >= 1
    d_rate = rng.uniform(0.005, 0.05, series)
    r_rate = rng.uniform(0.3, 0.9, series)
    deaths = np.floor(confirmed * d_rate).astype(np.int64)
    recovered = np.floor(confirmed * r_rate).astype(np.int64)
    # Planted violations, on disjoint rows, with a 2x margin so the
    # 2-decimal rate rounding cannot bring a planted row back to 100 %.
    n_deaths, n_recovered = planted(rows)
    flat = rng.choice(rows, n_deaths + n_recovered, replace=False)
    d_rows, r_rows = flat[:n_deaths], flat[n_deaths:]
    deaths.flat[d_rows] = 2 * confirmed.flat[d_rows] + 1
    recovered.flat[r_rows] = 2 * confirmed.flat[r_rows] + 1

    per_country = 12
    lines = ["Date,Country/Region,Province/State,Confirmed,Recovered,Deaths"]
    names = [
        (f"Country_{s // per_country:04d}",
         "" if s % per_country == 0 else f"Province_{s % per_country:02d}")
        for s in range(series)
    ]
    for d in range(days):
        day = (COVID_START + dt.timedelta(days=d)).isoformat()
        c, r, de = confirmed[d], recovered[d], deaths[d]
        lines.extend(
            f"{day},{country},{prov},{c[s]},{r[s]},{de[s]}"
            for s, (country, prov) in enumerate(names)
        )
    return ("\n".join(lines) + "\n").encode(), {
        "series": series,
        "days": days,
        "last_date": (COVID_START + dt.timedelta(days=days - 1)).isoformat(),
    }


def planted(rows: int) -> tuple[int, int]:
    """Planted deaths > confirmed and recovered > confirmed rows, scaled
    from the reference counts to ``rows`` covid rows."""
    return (PLANTED_DEATHS * rows // COVID_ROWS,
            PLANTED_RECOVERED * rows // COVID_ROWS)


def _users(rng: np.random.Generator) -> list[dict]:
    out = []
    for i in range(1, USERS_PER_BATCH + 1):
        lat, lng = rng.uniform(-80, 80), rng.uniform(-170, 170)
        out.append({
            "id": i,
            "name": f" User Name{i} ",
            "username": f"user{i}",
            "email": f"User{i}@Example.COM",
            "phone": f"1-770-736-{8000 + i} x{int(rng.integers(10000, 99999))}",
            "website": f"user{i}.example.org",
            "address": {
                "street": f"{i} Main St", "suite": f"Apt {i}",
                "city": "Springfield", "zipcode": f"{90000 + i}",
                "geo": {"lat": f"{lat:.4f}", "lng": f"{lng:.4f}"},
            },
            "company": {
                "name": f"Comp{int(rng.integers(1, 5))}",
                "catchPhrase": "Multi-layered synergy", "bs": "harness markets",
            },
        })
    return out


_WORDS = ["alpha", "beta", "gamma", "delta", "good", "bad", "great", "poor",
          "data", "quality", "pipeline", "report", "https://ex.org/x"]


def _posts(rng: np.random.Generator) -> list[dict]:
    out = []
    for i in range(1, POSTS_PER_BATCH + 1):
        words = rng.choice(_WORDS, int(rng.integers(5, 30)))
        out.append({
            "userId": int(rng.integers(1, USERS_PER_BATCH + 1)),
            "id": i,
            "title": f"Post title {i}",
            "body": " ".join(words[:5]) + "\n" + " ".join(words[5:]),
        })
    return out


_TELCO_HEADER = (
    "customerID,gender,SeniorCitizen,Partner,Dependents,tenure,PhoneService,"
    "MultipleLines,InternetService,OnlineSecurity,OnlineBackup,"
    "DeviceProtection,TechSupport,StreamingTV,StreamingMovies,Contract,"
    "PaperlessBilling,PaymentMethod,MonthlyCharges,TotalCharges,Churn"
)
_PAYMENT = ["Electronic check", "Mailed check", "Bank transfer",
            "Crédit card (automatic)"]
_CONTRACT = ["Month-to-month", "One year", "Two year"]


def _telco_csv(rng: np.random.Generator) -> bytes:
    blank = set(rng.choice(TELCO_ROWS, TELCO_BLANK_TOTALS, replace=False).tolist())
    yn = ("Yes", "No")
    lines = [_TELCO_HEADER]
    for i in range(TELCO_ROWS):
        tenure = int(rng.integers(0, 73))
        monthly = round(float(rng.uniform(18.0, 120.0)), 2)
        total = "" if i in blank else f"{monthly * max(tenure, 1):.2f}"
        # the first row carries a latin-1 byte, so the reader's encoding
        # probe must pick ISO-8859-1
        pay = _PAYMENT[3] if i == 0 else _PAYMENT[int(rng.integers(0, 4))]
        flags = [yn[int(b)] for b in rng.integers(0, 2, 10)]
        lines.append(",".join([
            f"{i:04d}-{int(rng.integers(0, 99999)):05d}",
            ("Female", "Male")[int(rng.integers(0, 2))],
            str(int(rng.integers(0, 2))), flags[0], flags[1], str(tenure),
            flags[2], flags[3], ("DSL", "Fiber optic", "No")[int(rng.integers(0, 3))],
            flags[4], flags[5], flags[6], flags[7], flags[8], flags[9],
            _CONTRACT[int(rng.integers(0, 3))], yn[int(rng.integers(0, 2))],
            pay, f"{monthly:.2f}", total, yn[int(rng.integers(0, 2))],
        ]))
    return ("\n".join(lines) + "\n").encode("latin-1")


def write_landing(
    out_dir: str, seed: int, days: int, covid_rows: int = COVID_ROWS
) -> dict:
    """Write the landing files into ``out_dir`` and their manifest beside
    it (``<out_dir>/../manifest.json``); return the manifest.

    ``days`` sets how the covid rows split into series x days; the bronze
    and silver covid writes make one directory per day.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    covid, covid_meta = _covid_csv(rng, days, covid_rows)
    with open(os.path.join(out_dir, "covid_20240301120000.csv"), "wb") as fh:
        fh.write(covid)
    users = _users(rng)
    for b in range(JSON_BATCHES):
        stamp = f"202403{1 + b // 24:02d}{b % 24:02d}0000"
        with open(os.path.join(out_dir, f"users_{stamp}.json"), "w") as fh:
            json.dump(users, fh, indent=1)
        with open(os.path.join(out_dir, f"posts_{stamp}.json"), "w") as fh:
            json.dump(_posts(rng), fh, indent=1)
    with open(
        os.path.join(out_dir, "Telco-Customer-Churn_20240301120000.csv"), "wb"
    ) as fh:
        fh.write(_telco_csv(rng))

    n_deaths, n_recovered = planted(covid_rows)
    n_users = USERS_PER_BATCH * JSON_BATCHES
    n_posts = POSTS_PER_BATCH * JSON_BATCHES
    failed = {
        "users_id_not_null": 0, "users_email_not_null": 0,
        "covid_date_not_null": 0, "covid_country_not_null": 0,
        "users_email_format": 0, "covid_date_range": 0, "posts_user_fk": 0,
        "covid_no_negatives": 0,
        "covid_deaths_lte_confirmed": n_deaths,
        "covid_rate_bounds": n_deaths + n_recovered,
        "users_freshness": 0, "covid_freshness": 0,
    }
    passed = sum(1 for v in failed.values() if v == 0)
    manifest = {
        "seed": seed,
        "covid": covid_meta,
        "landed_rows": n_users + n_posts + covid_rows + TELCO_ROWS,
        "landed_bytes": sum(
            os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
        ),
        "bronze": {"users": n_users, "posts": n_posts, "covid": covid_rows,
                   "telco": TELCO_ROWS},
        "silver": {"clean_users": USERS_PER_BATCH, "clean_posts": n_posts,
                   "clean_covid": covid_rows, "clean_telco": TELCO_ROWS},
        "dq_failed": failed,
        "quality_score": round(100.0 * passed / len(failed), 2),
    }
    with open(os.path.join(out_dir, "..", "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


# ---------------------------------------------------------------- tables

_EPOCH_DAY = dt.date(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - _EPOCH_DAY).days


def _ts_days(rng, n, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _strs(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region, nation, customer, supplier, part, orders, lineitem and
    events parquet files at scale ``sf``; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _strs(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    a, b = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adj[x]} {noun[y]}" for x, y in zip(a, b)],
        "p_brand": [f"Brand#{x}" for x in rng.integers(1, 26, n_part)],
        "p_type": _strs(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _strs(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _strs(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _strs(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _strs(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    # events: ts uniform over January 2024 (microseconds), event_id ranks ts
    lo = _days(dt.date(2024, 1, 1)) * 86_400_000_000
    ts = np.sort(rng.integers(lo, lo + 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": _strs(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    return {name: table.num_rows for name, table in t.items()}
