"""Seeded inputs: an s1-size parquet tree and dated crime CSVs.

The library only ever sees the files written here. The tree comes from
`tools/gen_soak.py`'s generators, imported unchanged; the CSVs follow
`CRIME_RAW_SCHEMA` with a header row and every field double-quoted,
like the reference's `create&Load.sql` load.
"""

from __future__ import annotations

import csv
import datetime as dt
import importlib.util
import os

import numpy as np
import pyarrow.parquet as pq

#: documents/embeddings rows of the s1 tier (gen_soak.TIERS["s1"]).
S1_DOCS, S1_EMBEDDINGS = 5000, 2000


def _gen_soak(repo: str):
    path = os.path.join(repo, "tools", "gen_soak.py")
    spec = importlib.util.spec_from_file_location("gen_soak", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_tree(repo: str, out: str, seed: int) -> None:
    """The ten tables every registered key reads, at the s1 tier."""
    gen = _gen_soak(repo)
    os.makedirs(out, exist_ok=True)
    tables = gen.gen_relational("s1", seed)
    tables["documents"] = gen.gen_documents(S1_DOCS, seed)
    tables["embeddings"] = gen.gen_embeddings(S1_EMBEDDINGS, seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


PRIMARY_TYPES = [
    "ARSON", "ASSAULT", "BATTERY", "BURGLARY", "CRIMINAL DAMAGE",
    "CRIMINAL TRESPASS", "DECEPTIVE PRACTICE", "GAMBLING", "HOMICIDE",
    "INTERFERENCE WITH PUBLIC OFFICER", "INTIMIDATION", "KIDNAPPING",
    "LIQUOR LAW VIOLATION", "MOTOR VEHICLE THEFT", "NARCOTICS",
    "OFFENSE INVOLVING CHILDREN", "OTHER OFFENSE", "PROSTITUTION",
    "PUBLIC PEACE VIOLATION", "ROBBERY", "SEX OFFENSE", "STALKING",
    "THEFT", "WEAPONS VIOLATION",
]
DESCRIPTIONS = ["SIMPLE", "AGGRAVATED", "$500 AND UNDER", "OVER $500",
                "FORCIBLE ENTRY", "TO VEHICLE", "POSS: CANNABIS", "OTHER"]
LOCATIONS = ["STREET", "RESIDENCE", "APARTMENT", "SIDEWALK", "ALLEY",
             "PARKING LOT", "SCHOOL", "RESTAURANT", "SMALL RETAIL STORE"]
FBI_CODES = ["01A", "02", "03", "04A", "04B", "05", "06", "07", "08A",
             "08B", "10", "11", "14", "15", "16", "17", "18", "20", "26"]
HEADER = [
    "id", "case_number", "date_value", "block_value", "iucr",
    "primary_type", "description_value", "local_description", "arrest",
    "domestic", "beat", "district", "ward", "community_area", "fbi_code",
    "x_coordinate", "y_coordinate", "year", "updated_on", "latitude",
    "longitude", "location",
]


def _ts(day: dt.date, secs: np.ndarray) -> list[str]:
    base = dt.datetime(day.year, day.month, day.day)
    return [
        (base + dt.timedelta(seconds=int(s))).strftime("%m/%d/%Y %I:%M:%S %p")
        for s in secs
    ]


def crime_rows(day: dt.date, first_id: int, n: int, rng) -> list[list[str]]:
    """`n` raw crime rows reported on `day`; `arrest` mixes 'True',
    'False' and empty so `repair`'s NULL handling runs."""
    ids = np.arange(first_id, first_id + n)
    lat = rng.uniform(41.64, 42.02, n)
    lon = rng.uniform(-87.94, -87.52, n)
    cols = {
        "id": ids.astype(str),
        "case_number": [f"J{i:08d}" for i in ids],
        "date_value": _ts(day, rng.integers(0, 86400, n)),
        "block_value": [
            f"{b:03d}XX {s}" for b, s in zip(
                rng.integers(0, 140, n),
                np.array(["N STATE ST", "W MADISON ST", "S HALSTED ST",
                          "E 63RD ST", "W NORTH AVE"])[rng.integers(0, 5, n)],
            )
        ],
        "iucr": np.char.zfill(rng.integers(100, 5200, n).astype(str), 4),
        "primary_type": np.array(PRIMARY_TYPES)[
            rng.integers(0, len(PRIMARY_TYPES), n)
        ],
        "description_value": np.array(DESCRIPTIONS)[
            rng.integers(0, len(DESCRIPTIONS), n)
        ],
        "local_description": np.array(LOCATIONS)[
            rng.integers(0, len(LOCATIONS), n)
        ],
        "arrest": np.array(["True", "False", ""])[
            rng.choice(3, n, p=[0.25, 0.7, 0.05])
        ],
        "domestic": np.array(["True", "False"])[rng.integers(0, 2, n)],
        "beat": np.char.zfill(rng.integers(111, 2536, n).astype(str), 4),
        "district": np.char.zfill(rng.integers(1, 26, n).astype(str), 3),
        "ward": rng.integers(1, 51, n).astype(str),
        "community_area": rng.integers(1, 78, n).astype(str),
        "fbi_code": np.array(FBI_CODES)[rng.integers(0, len(FBI_CODES), n)],
        "x_coordinate": rng.integers(1_100_000, 1_205_000, n).astype(str),
        "y_coordinate": rng.integers(1_810_000, 1_952_000, n).astype(str),
        "year": np.full(n, str(day.year)),
        "updated_on": _ts(day + dt.timedelta(days=1), rng.integers(0, 86400, n)),
        "latitude": [f"{v:.9f}" for v in lat],
        "longitude": [f"{v:.9f}" for v in lon],
        "location": [f"({a:.9f}, {b:.9f})" for a, b in zip(lat, lon)],
    }
    return [list(r) for r in zip(*(cols[h] for h in HEADER))]


def write_crime_days(
    out: str, seed: int, days: int, rows_per_day: int
) -> list[tuple[str, str]]:
    """One quoted, headered CSV per dated day; returns (date, path)."""
    rng = np.random.default_rng([seed, 0xC51])
    start = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 300)))
    os.makedirs(out, exist_ok=True)
    files = []
    for i in range(days):
        day = start + dt.timedelta(days=i)
        path = os.path.join(out, f"crimes_{day.isoformat()}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f, quoting=csv.QUOTE_ALL)
            w.writerow(HEADER)
            w.writerows(crime_rows(day, 1 + i * rows_per_day, rows_per_day, rng))
        files.append((day.isoformat(), path))
    return files
