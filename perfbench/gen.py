"""Seeded input generators for the benchmark, with pure-Python expectations.

Two inputs, both a function of ``seed`` alone:

- ``write_star_tables``: the ten parquet tables the registry queries read
  (``region`` .. ``embeddings``). Row counts, key ranges, distinct keys per
  join and partition column, category sets and frequencies, money and
  date ranges, events per user (1,500 users over 30 days at sf0.1), the
  31-token document vocabulary with ~2.5% near-duplicate and ~0.16% exact
  duplicate documents, and unit-norm 64-d embeddings follow the project's
  sf0.1 test tables, which are themselves uniform random draws.
- ``bronze_document`` / ``revision_batches``: one USGS-style GeoJSON
  FeatureCollection (the bronze layer) and the latest-wins revision
  micro-batches merged after each pipeline pass. ``expected_medallion``
  computes what the pipeline and the upsert table must produce from the
  same seed, without Spark.

Nothing here imports pyspark or the package under test.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

DAY_MS = 86_400_000
HOUR_MS = 3_600_000
# the bronze window ends here (fixed, so a seed always gives the same bytes)
_BRONZE_END_MS = 1_735_689_600_000  # 2025-01-01T00:00:00Z

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_ADJ = "large hot blue old cold new red small".split()
_NOUN = "ring bolt plate gear widget rod anvil pipe".split()
_P_TYPES = "LARGE MEDIUM ECONOMY PROMO SMALL STANDARD".split()
_SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = "signup purchase view click error".split()
_REGIONS = "AFRICA AMERICA ASIA EUROPE".split() + ["MIDDLE EAST"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _write(table: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(table), path)


def write_star_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten star-schema tables at scale ``sf`` into ``out_dir``;
    returns the row count of each."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": _REGIONS,
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part),
            "p_name": np.char.add(
                np.char.add(rng.choice(_ADJ, n_part), " "), rng.choice(_NOUN, n_part)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(_P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
        },
        "events": _events(rng, n_ev, max(10, int(15_000 * sf))),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, cols in tables.items():
        _write(cols, f"{out_dir}/{name}.parquet")
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


def _events(rng: np.random.Generator, n: int, n_users: int) -> dict:
    span_us = 30 * DAY_MS * 1000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, span_us, n)
    ).astype("timedelta64[us]")
    return {
        "event_id": np.arange(n),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random 10-100 token texts; ~2.5% near-duplicates (an earlier text plus
    one token) and ~0.16% exact copies, so the dedup queries find pairs."""
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.025:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < 0.0266:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    import pyarrow as pa

    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


# --------------------------------------------------------------------------
# Medallion inputs
# --------------------------------------------------------------------------

_TOWNS = "Ovalle Hualien Ridgecrest Kodiak Jayapura Ica Kaikoura Naha Petrolia".split()
_COUNTRIES = "Chile Taiwan CA Alaska Indonesia Peru New Zealand Japan".split()
_DIRS = "N NE E SE S SW W NW NNE SSW".split()
_OTHER_TYPES = ["quarry blast", "explosion", "ice quake"]


def _place(rng: np.random.Generator) -> str:
    town = _TOWNS[int(rng.integers(len(_TOWNS)))]
    country = _COUNTRIES[int(rng.integers(len(_COUNTRIES)))]
    km = int(rng.integers(1, 300))
    shape = int(rng.integers(0, 10))
    if shape == 0:
        return f"{town} region"  # no comma
    if shape == 1:
        return f"{km}km {_DIRS[shape]} of {town}, {town} Province, {country}"
    return f"{km}km {_DIRS[shape]} of {town}, {country}" + ("  " if shape == 2 else "")


def bronze_document(seed: int, n_features: int) -> dict:
    """One GeoJSON FeatureCollection of ``n_features`` features.

    ~10% of the features are revisions of an earlier id (a later
    ``updated``, a new magnitude), ~1% fail validation, ~5% are not
    earthquakes. Magnitudes straddle every category boundary and
    ``tsunami`` rises with magnitude, so the classifier sees both labels.
    """
    rng = np.random.default_rng([seed, 2])
    features = []
    last_updated: dict[str, int] = {}  # revisions never tie on `updated`
    n_ids = 0
    for _ in range(n_features):
        revision = n_ids > 0 and rng.random() < 0.10
        if revision:
            base = features[int(rng.integers(len(features)))]
            fid = base["id"]
            props = dict(base["properties"])
            coords = list(base["geometry"]["coordinates"])
            props["updated"] = last_updated[fid] + int(rng.integers(1, 48)) * HOUR_MS
            props["mag"] = round(float(rng.uniform(2.5, 8.0)), 1)
        else:
            fid = f"bx{seed % 1000:03d}{n_ids:06d}"
            n_ids += 1
            t = _BRONZE_END_MS - int(rng.integers(0, 365 * DAY_MS))
            mag = round(float(rng.uniform(2.5, 8.0)), 1)
            ftype = (
                _OTHER_TYPES[int(rng.integers(3))] if rng.random() < 0.05 else "earthquake"
            )
            place = _place(rng)
            props = {
                "mag": mag,
                "place": place,
                "time": t,
                "updated": t + int(rng.integers(1, 30 * 24)) * HOUR_MS,
                "url": f"https://earthquake.usgs.gov/earthquakes/eventpage/{fid}",
                "felt": int(rng.integers(0, 500)),
                "cdi": round(float(rng.uniform(0, 9)), 1),
                "mmi": round(float(rng.uniform(0, 9)), 1),
                "alert": ["green", "yellow", "orange", "red"][int(rng.integers(4))],
                "status": "reviewed",
                "tsunami": int(rng.random() < min(0.9, max(0.02, (mag - 4.5) / 4.0))),
                "sig": int(mag * 100),
                "net": "us",
                "code": fid[-6:],
                "nst": int(rng.integers(5, 200)),
                "dmin": round(float(rng.uniform(0, 20)), 3),
                "rms": round(float(rng.uniform(0.1, 1.5)), 2),
                "gap": round(float(rng.uniform(10, 300)), 1),
                "magType": ["mb", "ml", "mww", "md"][int(rng.integers(4))],
                "type": ftype,
                "title": f"M {mag} - {place}",
            }
            coords = [
                round(float(rng.uniform(-180, 180)), 4),
                round(float(rng.uniform(-90, 90)), 4),
                round(float(rng.uniform(0, 700)), 2),
            ]
        if rng.random() < 0.01:  # invalid row: one field out of range or null
            which = int(rng.integers(4))
            if which == 0:
                props["mag"] = 10.5
            elif which == 1:
                props["mag"] = None
            elif which == 2:
                coords[1] = 95.0
            else:
                coords[2] = -1.0
        last_updated[fid] = props["updated"]
        features.append(
            {"id": fid, "properties": props, "geometry": {"coordinates": coords}}
        )
    return {"type": "FeatureCollection", "features": features}


def _valid(f: dict) -> bool:
    """Python twin of the silver validity predicate."""
    p, (lon, lat, depth) = f["properties"], f["geometry"]["coordinates"]
    mag = p["mag"]
    return (
        f["id"] is not None
        and p["time"] is not None
        and mag is not None
        and -2.0 <= mag <= 10.0
        and -90.0 <= lat <= 90.0
        and -180.0 <= lon <= 180.0
        and 0 <= depth < 1000
    )


def _latest_valid(doc: dict) -> dict[str, dict]:
    """event_id -> the feature of its latest valid revision (silver's dedup)."""
    out: dict[str, dict] = {}
    for f in doc["features"]:
        if not _valid(f):
            continue
        cur = out.get(f["id"])
        p = f["properties"]
        if cur is None or (p["updated"], p["time"]) > (
            cur["properties"]["updated"], cur["properties"]["time"]
        ):
            out[f["id"]] = f
    return out


def silver_latest(doc: dict) -> dict[str, tuple[int, float]]:
    """event_id -> (updated ms, magnitude) of the latest valid revision."""
    return {
        k: (f["properties"]["updated"], f["properties"]["mag"])
        for k, f in _latest_valid(doc).items()
    }


def revision_batches(
    seed: int, silver: dict[str, tuple[int, float]], k: int, share: float = 0.10
) -> list[list[tuple[str, int, float]]]:
    """``k`` micro-batches of (event_id, updated ms, magnitude) revisions,
    each touching ``share`` of the silver ids. Batch b is newer than
    silver by b+1 hours except for ~10% stale rows (an hour older than
    silver), which latest-wins must ignore."""
    rng = np.random.default_rng([seed, 3])
    ids = sorted(silver)
    batches = []
    for b in range(k):
        pick = rng.choice(len(ids), int(len(ids) * share), replace=False)
        rows = []
        for i in np.sort(pick):
            eid = ids[int(i)]
            upd, _ = silver[eid]
            bump = -HOUR_MS if rng.random() < 0.10 else (b + 1) * HOUR_MS
            rows.append((eid, upd + bump, round(float(rng.uniform(2.5, 8.0)), 1)))
        batches.append(rows)
    return batches


def upsert_checksum(rows) -> str:
    """Order-insensitive digest of (event_id, updated ms, magnitude) rows."""
    acc = 0
    for eid, upd, mag in rows:
        h = hashlib.blake2b(f"{eid}|{int(upd)}|{float(mag)!r}".encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % (1 << 64)
    return f"{acc:016x}"


def expected_medallion(doc: dict, batches: list[list[tuple[str, int, float]]]) -> dict:
    """Everything a medallion pass must reproduce from ``doc`` and the
    revision ``batches``, computed without Spark."""
    latest = _latest_valid(doc)
    silver = silver_latest(doc)
    final = dict(silver)
    for batch in batches:
        for eid, upd, mag in batch:
            if upd > final[eid][0]:
                final[eid] = (upd, mag)
    return {
        "n_flattened": len(doc["features"]),
        "n_valid": sum(_valid(f) for f in doc["features"]),
        "silver_rows": len(silver),
        # the model scores every silver earthquake (features are never null)
        "ml_rows": sum(f["properties"]["type"] == "earthquake" for f in latest.values()),
        "upsert_rows": len(final),
        "upsert_checksum": upsert_checksum((e, u, m) for e, (u, m) in final.items()),
    }
