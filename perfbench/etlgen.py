"""Seeded generator of the `etl_daily` workload's input, with its ground truth.

It writes D daily batches of timestamped staging CSVs, one directory per
day (`day01/<table>/<table>_<yyyymmdd>_000000.csv`), for the five tables
the operational load reads. Each batch holds
  - new keys,
  - a fixed share of rows repeating a key of the same batch, and
  - a fixed share of rows re-extracting a key of an earlier day.
A repeated key always carries the same row, so which copy a dedup keeps
does not change any count. `truth.json` holds, for every day, the rows
the incremental load must add, the store's row counts after the load and
the row count of every mart table after the rebuild.
"""
import csv
import json
import os
import random
from datetime import datetime, timedelta

DAYS = 2
ROWS = {"places": 100, "reviews": 1500, "tweets": 1500,
        "pemasukan": 400, "pengeluaran": 400}
DUP_SHARE = 0.10
REEXTRACT_SHARE = 0.10
UNKNOWN_PLACE_SHARE = 0.10
FIRST_DAY = datetime(2024, 3, 1)

COLUMNS = {
    "places": ["place_id", "name", "rating_search", "name_detail",
               "phone_number", "opening_hours_text", "types_detail",
               "lat_detail", "lng_detail"],
    "reviews": ["id_review", "timestamp_review", "place_id", "author_url",
                "review_text", "rating"],
    "tweets": ["id_tweet", "place_id_source", "keyword_search",
               "created_at_tweet", "text_tweet", "id_author_twitter",
               "author_location", "tweet_geo_place_id"],
    "pemasukan": ["id_transaksi_original", "timestamp", "id_proyek",
                  "nama_proyek", "sektor_pariwisata", "id_penyumbang",
                  "nama_penyumbang", "jenis_penyumbang", "jenis_pemasukan",
                  "jumlah", "bukti"],
    "pengeluaran": ["id_transaksi_original", "timestamp", "id_proyek",
                    "nama_proyek", "sektor_pariwisata", "id_vendor",
                    "nama_vendor", "id_departemen", "nama_departemen",
                    "jenis_kebutuhan", "jumlah", "bukti"],
}
# Timestamp column of each table that feeds dim_waktu.
TS_COLUMN = {"reviews": "timestamp_review", "tweets": "created_at_tweet",
             "pemasukan": "timestamp", "pengeluaran": "timestamp"}
WORDS = ["indah", "bagus", "pantai", "candi", "ramai", "bersih", "mahal",
         "murah", "sejuk", "macet", "ombak", "sunset", "kuliner", "museum"]
SECTORS = ["pantai", "candi", "museum", "taman", "desa"]


def _ts(rng, day):
    t = FIRST_DAY + timedelta(days=day - 1, seconds=rng.randrange(86400))
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _text(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _row(rng, table, key, day, places):
    if table == "places":
        return [key, f"Place {key}", f"{rng.randint(10, 50) / 10:.1f}",
                f"Place {key} detail", f"08{rng.randrange(10**9):09d}",
                "Mon 09-17 | Tue 09-17", rng.choice(SECTORS),
                f"{-8 - rng.random():.6f}", f"{115 + rng.random():.6f}"]
    if table == "reviews":
        return [key, _ts(rng, day), rng.choice(places),
                f"http://maps/u{rng.randrange(300)}", _text(rng, 8),
                f"{rng.randint(1, 5)}.0"]
    if table == "tweets":
        place = (f"unknown{rng.randrange(50)}"
                 if rng.random() < UNKNOWN_PLACE_SHARE else rng.choice(places))
        user = rng.randrange(400)
        return [key, place, rng.choice(WORDS), _ts(rng, day), _text(rng, 6),
                f"u{user}", f"city{user % 17}", f"g{rng.randrange(30)}"]
    proyek = rng.randrange(40)
    common = [key, _ts(rng, day), f"pr{proyek}", f"Proyek {proyek}",
              SECTORS[proyek % len(SECTORS)]]
    if table == "pemasukan":
        donor = rng.randrange(120)
        return common + [f"d{donor}", f"Donor {donor}",
                         ["pemerintah", "swasta"][donor % 2], "dana",
                         str(rng.randrange(10**5, 10**8)), f"b{key}"]
    vendor, dept = rng.randrange(80), rng.randrange(12)
    return common + [f"v{vendor}", f"Vendor {vendor}", f"dep{dept}",
                     f"Departemen {dept}", rng.choice(["alat", "iklan", "jasa"]),
                     str(rng.randrange(10**5, 10**8)), f"b{key}"]


def _mart_truth(store):
    ts = set()
    for t, c in TS_COLUMN.items():
        i = COLUMNS[t].index(c)
        ts.update(r[i] for r in store[t].values())

    def distinct(table, col):
        i = COLUMNS[table].index(col)
        return {r[i] for r in store[table].values()}
    place_keys = set(store["places"])
    return {
        "dim_waktu": len(ts),
        "dim_place": len(store["places"]),
        "dim_user": len(distinct("tweets", "id_author_twitter")),
        "dim_vendor": len(distinct("pengeluaran", "id_vendor")),
        "dim_departemen": len(distinct("pengeluaran", "id_departemen")),
        "dim_proyek": len(distinct("pemasukan", "id_proyek") |
                          distinct("pengeluaran", "id_proyek")),
        "dim_penyumbang": len(distinct("pemasukan", "id_penyumbang")),
        "fact_maps": len(store["reviews"]),
        "fact_twitter": sum(1 for r in store["tweets"].values()
                            if r[1] in place_keys),
        "fact_pengeluaran": len(store["pengeluaran"]),
        "fact_pemasukan": len(store["pemasukan"]),
    }


def generate(seed, out_dir, days=DAYS, rows=ROWS):
    """Write the batches under `out_dir` and return the ground truth
    (also written to `out_dir/truth.json`)."""
    rng = random.Random(seed)
    store = {t: {} for t in COLUMNS}      # key -> row, as loaded so far
    places_seen = []
    truth = {"seed": seed, "days": [], "rows_staged": 0, "staged_bytes": 0}
    for day in range(1, days + 1):
        batch = {}
        for table in sorted(COLUMNS):
            n = rows[table]
            n_re = int(n * REEXTRACT_SHARE) if day > 1 else 0
            n_dup = int(n * DUP_SHARE)
            n_new = n - n_re - n_dup
            fresh = [f"{table[:3]}{seed}d{day}n{i}" for i in range(n_new)]
            if table == "places":
                places_seen.extend(fresh)
            made = {k: _row(rng, table, k, day, places_seen or ["none"])
                    for k in fresh}
            earlier = sorted(store[table])
            keys = (fresh + [rng.choice(fresh) for _ in range(n_dup)] +
                    [rng.choice(earlier) for _ in range(n_re)])
            rng.shuffle(keys)
            batch[table] = [made.get(k) or store[table][k] for k in keys]
            batch[table + "/new"] = made
        # places are loaded first within a day, so tweets of the day may
        # refer to them; every table's new keys join the store
        loaded = {}
        for table in sorted(COLUMNS):
            made = batch.pop(table + "/new")
            loaded[table] = len(made)
            store[table].update(made)
        stamp = (FIRST_DAY + timedelta(days=day - 1)).strftime("%Y%m%d")
        for table, body in batch.items():
            d = os.path.join(out_dir, f"day{day:02d}", table)
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"{table}_{stamp}_000000.csv")
            with open(path, "w", newline="") as f:
                w = csv.writer(f, lineterminator="\n")
                w.writerow(COLUMNS[table])
                w.writerows(body)
            truth["rows_staged"] += len(body)
            truth["staged_bytes"] += os.path.getsize(path)
        truth["days"].append({
            "loaded": loaded,
            "store": {t: len(store[t]) for t in COLUMNS},
            "mart": _mart_truth(store),
        })
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth
