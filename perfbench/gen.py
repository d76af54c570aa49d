"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical files, and different seeds keep the same sizes, value
domains and key distributions, so per-seed runs stay comparable. The
program under test only ever sees the files written here.

- ``capstone_staging``: the reference ETL's raw inputs, shaped per
  FIXTURES.md sections 1-3 (28-column immigration Parquet with exact
  duplicates, invalid and null states and SAS dates; temperature and
  airport-code CSVs whose rounded coordinates overlap, with a few
  coordinates claimed by two states so the argmax has work to do).
- ``relational_tables``: the TPC-H-like tables the analyst queries read,
  with the column types, value ranges and uniform key distributions of
  the engine's testdata (``sf`` scales row counts like TPC-H).
- ``curation_corpus``: ``documents`` and ``embeddings`` shaped like the
  testdata corpus: 30-word vocabulary, 5% of documents a near-duplicate
  (another document plus one word), 41% English. The vocabulary is a
  per-seed letter permutation and ids start at a per-seed offset.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from harness import tree_bytes_files

US_STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DC", "DE", "FL", "GA",
    "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD",
    "MA", "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ",
    "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA", "RI", "SC",
    "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY",
]
_SAS_EPOCH = np.datetime64("1960-01-01")


def _codes(rng: np.random.Generator, n: int, lengths: tuple[int, ...]) -> list[str]:
    """``n`` distinct upper-case codes with lengths drawn from ``lengths``."""
    out: set[str] = set()
    letters = np.array(list(string.ascii_uppercase))
    while len(out) < n:
        k = int(rng.choice(lengths))
        out.add("".join(rng.choice(letters, k)))
    return sorted(out)


def _pick(rng, values, n, null_share=0.0):
    arr = np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]
    if null_share:
        arr[rng.random(n) < null_share] = None
    return arr


def capstone_staging(out_dir: str, seed: int, n_imm: int) -> dict:
    """Write ``i94_parquet/``, ``temperature.csv`` and ``airport_codes.csv``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    # Coordinate grid cells: each cell has one dominant state; every
    # valid state owns at least one cell so fact_temp covers all 51.
    n_cells = 160
    flat = rng.choice(24 * 52, n_cells, replace=False)
    cell_lat, cell_lon = 25 + flat // 52, 70 + flat % 52
    cell_state = np.array(
        US_STATES + list(rng.choice(US_STATES, n_cells - len(US_STATES))), dtype=object
    )

    # --- immigration_raw (FIXTURES.md section 1) ---
    ports = _codes(rng, 314, (3,))
    airlines = _codes(rng, 622, (2, 3))
    n_base = n_imm - n_imm // 50
    arr_days = (np.datetime64("2016-04-01") - _SAS_EPOCH).astype(int) + rng.integers(0, 61, n_base)
    arrdate = arr_days.astype(float)
    arrdate[rng.random(n_base) < 0.01] = np.nan
    depdate = arrdate + rng.integers(0, 30, n_base)
    depdate[rng.random(n_base) < 0.1] = np.nan
    addr = _pick(rng, US_STATES + ["99", "XX"], n_base, null_share=0.03)
    nulls = lambda n, share=0.95: _pick(rng, ["A", "B", "Z"], n, null_share=share)  # noqa: E731
    cols = {
        "cicid": np.arange(1689141, 1689141 + n_base, dtype=float),
        "i94yr": np.full(n_base, 2016.0),
        "i94mon": np.where(arr_days < arr_days.min() + 30, 4.0, 5.0),
        "i94cit": rng.integers(100, 999, n_base).astype(float),
        "i94res": rng.integers(100, 999, n_base).astype(float),
        "i94port": _pick(rng, ports, n_base, null_share=0.01),
        "arrdate": arrdate,
        "i94mode": rng.integers(1, 5, n_base).astype(float),
        "i94addr": addr,
        "depdate": depdate,
        "i94bir": rng.integers(0, 95, n_base).astype(float),
        "i94visa": rng.choice([1.0, 2.0, 3.0], n_base, p=[0.15, 0.7, 0.15]),
        "count": np.ones(n_base),
        "dtadfile": np.array([f"2016{m:02d}{d:02d}" for m, d in zip(rng.integers(4, 6, n_base), rng.integers(1, 29, n_base))], dtype=object),
        "visapost": nulls(n_base),
        "occup": nulls(n_base),
        "entdepa": nulls(n_base, 0.1),
        "entdepd": nulls(n_base, 0.1),
        "entdepu": nulls(n_base),
        "matflag": nulls(n_base, 0.1),
        "biryear": rng.integers(1920, 2011, n_base).astype(float),
        "dtaddto": np.array([f"{m:02d}{d:02d}2016" for m, d in zip(rng.integers(6, 13, n_base), rng.integers(1, 29, n_base))], dtype=object),
        "gender": _pick(rng, ["M", "F"], n_base, null_share=0.1),
        "insnum": nulls(n_base),
        "airline": _pick(rng, airlines, n_base, null_share=0.02),
        "admnum": rng.integers(10**10, 10**11, n_base).astype(float),
        "fltno": np.array([f"{v:05d}" for v in rng.integers(1, 99999, n_base)], dtype=object),
        "visatype": _pick(rng, ["WT", "B2", "WB", "B1", "F1"], n_base),
    }
    # exact 28-column duplicates exercise dropDuplicates (etl.py:111)
    dup = rng.integers(0, n_base, n_imm - n_base)
    # from_pandas: NaN becomes a Parquet null, as in the SAS export
    table = pa.table({k: pa.array(np.concatenate([v, v[dup]]), from_pandas=True) for k, v in cols.items()})
    imm_dir = os.path.join(out_dir, "i94_parquet")
    os.makedirs(imm_dir, exist_ok=True)
    pq.write_table(table, os.path.join(imm_dir, "part-00000.parquet"))

    # --- temperature_raw (section 2): daily readings for April-May of
    # several years at 1-3 cities per cell, plus null and non-US rows ---
    city_cell = np.concatenate([np.arange(n_cells), rng.integers(0, n_cells, n_cells)])
    n_city = len(city_cell)
    city_lat = cell_lat[city_cell] + rng.uniform(-0.45, 0.45, n_city)
    city_lon = cell_lon[city_cell] + rng.uniform(-0.45, 0.45, n_city)
    days = np.concatenate(
        [np.arange(np.datetime64(f"{y}-04-01"), np.datetime64(f"{y}-06-01")) for y in (2011, 2012, 2013)]
    )
    ci = np.repeat(np.arange(n_city), len(days))
    dt = np.tile(days, n_city)
    temp = np.round(rng.normal(18, 7, len(ci)), 3).astype(str).astype(object)
    temp[rng.random(len(ci)) < 0.02] = None
    n_t = len(ci)
    country = np.full(n_t, "United States", dtype=object)
    country[rng.random(n_t) < 0.05] = "Canada"
    temperature = pa.table({
        "dt": dt.astype(str),
        "AverageTemperature": temp,
        "AverageTemperatureUncertainty": np.round(rng.uniform(0.1, 2.0, n_t), 3).astype(str),
        "City": np.array([f"City{c}" for c in ci], dtype=object),
        "Country": country,
        "Latitude": np.char.add(np.char.mod("%.2f", city_lat[ci]), "N"),
        "Longitude": np.char.add(np.char.mod("%.2f", city_lon[ci]), "W"),
    })
    pacsv.write_csv(temperature, os.path.join(out_dir, "temperature.csv"))

    # --- airport_codes_raw (section 3): 1-4 airports per cell in the
    # cell's state; every fifth cell also gets fewer airports of a
    # rival state so the argmax picks by count ---
    a_cell = rng.integers(0, n_cells, 4 * n_cells)
    a_state = cell_state[a_cell].copy()
    rival = (a_cell % 5 == 0) & (rng.random(len(a_cell)) < 0.3)
    a_state[rival] = "NJ"
    n_a = len(a_cell)
    region = np.array([f"US-{s}" for s in a_state], dtype=object)
    region[rng.random(n_a) < 0.03] = "US-U-A"
    iso = np.full(n_a, "US", dtype=object)
    iso[rng.random(n_a) < 0.05] = "CA"
    a_lat = cell_lat[a_cell] + rng.uniform(-0.45, 0.45, n_a)
    a_lon = cell_lon[a_cell] + rng.uniform(-0.45, 0.45, n_a)
    airports = pa.table({
        "ident": np.array([f"K{i:05d}" for i in range(n_a)], dtype=object),
        "type": _pick(rng, ["small_airport", "heliport", "medium_airport"], n_a),
        "name": np.array([f"Airport {i}" for i in range(n_a)], dtype=object),
        "elevation_ft": rng.integers(0, 5000, n_a).astype(str),
        "continent": np.full(n_a, "NA", dtype=object),
        "iso_country": iso,
        "iso_region": region,
        "municipality": np.array([f"Town{c}" for c in a_cell], dtype=object),
        "gps_code": _pick(rng, _codes(rng, 50, (4,)), n_a, null_share=0.3),
        "iata_code": _pick(rng, ports, n_a, null_share=0.8),
        "local_code": _pick(rng, _codes(rng, 50, (3,)), n_a, null_share=0.3),
        "coordinates": np.char.add(np.char.add(np.char.mod("-%.4f", a_lon), ", "), np.char.mod("%.4f", a_lat)),
    })
    pacsv.write_csv(airports, os.path.join(out_dir, "airport_codes.csv"))

    return {"rows": n_imm + n_t + n_a, "bytes": tree_bytes_files(out_dir)[0]}


def relational_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write region, nation, customer, supplier, orders, lineitem and
    events as ``<name>.parquet`` (row counts follow TPC-H at ``sf``)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    cents = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    ts = lambda lo, hi, n: (np.datetime64(lo) + rng.integers(0, (np.datetime64(hi) - np.datetime64(lo)).astype(int) + 1, n)).astype("datetime64[us]")  # noqa: E731

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": cents(-999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": cents(-999.99, 9999.99, n_supp),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": cents(1000.0, 500000.0, n_ord),
            "o_orderdate": ts("1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, int(200_000 * sf), n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": cents(900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": ts("1995-01-02", "2001-11-04", n_li),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(ts("2024-01-01", "2024-01-30", n_ev) + rng.integers(0, 86_400_000_000, n_ev).astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": cents(0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    rows = 0
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows += t.num_rows
    return {"rows": rows, "bytes": tree_bytes_files(out_dir)[0]}


_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def curation_corpus(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet``."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    perm = dict(zip(string.ascii_lowercase, rng.permutation(list(string.ascii_lowercase))))
    vocab = np.array(["".join(perm[c] for c in w) for w in _WORDS], dtype=object)
    dup_word = "".join(perm[c] for c in "dup")
    base = 1000 * (seed % 1000)

    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 101)))]) for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " " + dup_word
    ids = np.arange(base, base + n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, ["en"] * 41 + ["de"] * 14 + ["es"] * 15 + ["fr"] * 15 + ["zh"] * 15, n_docs),
        "source": np.array([f"src{i % 20}" for i in range(n_docs)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_vec = max(1, int(n_docs * 0.4)) if n_docs > 500 else n_docs
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": ids[:n_vec],
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"rows": n_docs + n_vec, "bytes": tree_bytes_files(out_dir)[0]}
