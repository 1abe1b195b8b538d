"""Seeded inputs for the hdb_etl workload, in the reference's raw shapes.

Per run-date it writes one multiLine JSON array per scrape source
(Propnex: 25 string fields, SRX: 31), plus one historical resale CSV
directory (data.gov.sg shape: several files, sales from
`historical_from_year` to 2024) and the four dimension
tables as parquet. Values carry the reference's dirt: "None" sentinels,
"$550,000" prices, "1,184 sqft (110 sqm)" areas, "3+1" bedrooms, CEA ids
inside free text, emoji and non-ASCII names. A share of each day's SRX
listings duplicates Propnex listings (same block, street and price), so
the merge-dedup step has cross-source work to do.

The same seed and sizes give byte-identical files. The manifest records
input rows and bytes and the digests the pipeline's outputs must have
(see `scraped_digest` and `historical_digest`).
"""
import csv
import datetime
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TOWNS = ["ANG MO KIO", "BEDOK", "BISHAN", "BUKIT BATOK", "BUKIT MERAH",
         "BUKIT PANJANG", "BUKIT TIMAH", "CENTRAL AREA", "CHOA CHU KANG",
         "CLEMENTI", "GEYLANG", "HOUGANG", "JURONG EAST", "JURONG WEST",
         "KALLANG/WHAMPOA", "MARINE PARADE", "PASIR RIS", "PUNGGOL",
         "QUEENSTOWN", "SEMBAWANG", "SENGKANG", "SERANGOON", "TAMPINES",
         "TOA PAYOH", "WOODLANDS", "YISHUN", "LIM CHU KANG", "TENGAH"]
STREET_WORDS = ["upper serangoon", "bishan", "tampines", "jurong west",
                "ang mo kio", "bedok north", "hougang", "yishun", "woodlands",
                "punggol", "sengkang east", "toa payoh lorong", "clementi",
                "bukit batok west", "pasir ris", "choa chu kang", "marsiling",
                "compassvale", "rivervale", "canberra"]
STREET_TYPES = ["ave", "st", "rd", "dr", "cres", "way"]
FLAT_TYPES = ["2 ROOM", "3 ROOM", "4 ROOM", "5 ROOM", "EXECUTIVE",
              "MULTI GENERATION"]
FLAT_MODELS = ["Improved", "New Generation", "Model A", "Standard",
               "Simplified", "Premium Apartment", "Maisonette", "DBSS"]
FURNISHING = ["Partially Furnished", "Fully Furnished", "Unfurnished",
              "Bare"]
SRX_FURNISH = ["Not Furnished", "Partially Furnished", "Fully Furnished"]
BEDROOMS = ["Studio", "3+1", "4", "3", "None", "n/a"]
FACILITIES = ["pool", "gym", "bbq", "playground", "tennis", "sauna"]
EMOJI = ["\U0001F600", "\U0001F3E0", "✨"]
REGIONS = ["CCR", "RCR", "OCR", "CCR, RCR", "RCR, OCR"]
LETTERS = "ABCDEFGHJKLMNPQRSTUVWXYZ"

SCRAPE_START = datetime.date(2024, 11, 1)


def initcap(s):
    """Spark's initcap: each space-separated word capitalised."""
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.split(" "))


def digest(lines):
    """Order-independent digest of a multiset of text lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def tree_bytes(path):
    """Bytes of a file, or of every file under a directory."""
    return (os.path.getsize(path) if os.path.isfile(path) else
            sum(tree_bytes(os.path.join(path, c)) for c in os.listdir(path)))


def run_dates(days):
    return [(SCRAPE_START + datetime.timedelta(d)).isoformat()
            for d in range(days)]


def _dims(rng, out):
    """The four dimension tables (FIXTURES.md A4 shapes)."""
    sectors = [f"{s:02d}" for s in range(1, 82)]
    sector_district = {s: (i % 28) + 1 for i, s in enumerate(sectors)}
    zones = [initcap(t) for t in TOWNS]
    tables = {
        "district_code": pa.table({
            "district": pa.array([sector_district[s] for s in sectors],
                                 pa.int8()),
            "postal_sector": pa.array(sectors, pa.string()),
            "zone": pa.array([zones[sector_district[s] - 1] for s in sectors],
                             pa.string())},
            schema=pa.schema([("district", pa.int8()),
                              pa.field("postal_sector", pa.string(), False),
                              ("zone", pa.string())])),
        "district_region": pa.table({
            "district": pa.array(range(1, 29), pa.int8()),
            "region": [REGIONS[d % len(REGIONS)] for d in range(1, 29)]}),
        "town_district": pa.table({
            "general_location": [initcap(t) for t in TOWNS],
            "district": pa.array(range(1, 29), pa.int64())}),
        "agency_id": pa.table({
            "agency": [f"AGENCY {i} REALTY PTE LTD" for i in range(57)],
            "agency_id": [f"L{rng.randrange(10**6, 10**7)}"
                          f"{rng.choice(LETTERS)}" for _ in range(57)]}),
    }
    for name, t in tables.items():
        os.makedirs(f"{out}/dims/{name}", exist_ok=True)
        pq.write_table(t, f"{out}/dims/{name}/part-0.parquet")
    return sector_district, tables["agency_id"].column("agency_id").to_pylist()


def _listing(rng, key_used):
    """A clean listing whose (block, street, price) key is unused."""
    while True:
        blk = f"{rng.randrange(1, 999)}{rng.choice(['', '', 'A', 'B'])}"
        street = (f"{rng.choice(STREET_WORDS)} {rng.choice(STREET_TYPES)}"
                  f" {rng.randrange(1, 80)}")
        price = rng.randrange(250, 1500) * 1000 + rng.choice([0, 500, 888])
        key = (blk, street, price)
        if key not in key_used:
            key_used.add(key)
            break
    sqm = rng.randrange(40, 160)
    return {
        "blk": blk, "street": street, "price": price, "sqm": sqm,
        "sector": rng.randrange(1, 82), "top": rng.randrange(1970, 2022),
        "town": rng.choice(TOWNS[:26]), "rooms": rng.randrange(2, 6),
        "bath": rng.randrange(1, 4),
        "agent": f"R{rng.randrange(10**5, 10**6)}{rng.choice(LETTERS)}",
        "phone": f"9{rng.randrange(10**6, 10**7)}",
        "name": f"Agent {rng.randrange(10**4)}",
        "fac": ",".join(rng.sample(FACILITIES, rng.randrange(1, 5))),
    }


def _money(v, dirty):
    return "None" if dirty < 0.02 else f"${v:,}"


def _propnex(rng, day, i, ls, sector_district):
    sqft = round(ls["sqm"] * 10.7639)
    district = sector_district[f"{ls['sector']:02d}"]
    town = initcap(ls["town"])
    dirt = rng.random()
    return {
        "url": f"https://www.propnex.com/listing/{day}/{i}",
        "location": f"Blk {ls['blk']} {ls['street']}",
        "price": _money(ls["price"], dirt),
        "price_psf": "None",
        "street_town_district":
            f"{initcap(ls['street'])}\n" +
            (f"(D{district:02d})" if dirt > 0.95 else
             f"{town} (D{district:02d})"),
        "num_bedroom": str(ls["rooms"]), "num_bathroom": str(ls["bath"]),
        "floor_area_sqft": f"{sqft:,} sqft ({ls['sqm']} sqm)",
        "agent_name": ls["name"],
        "agent_id": "None" if 0.02 <= dirt < 0.03 else f"agent#{ls['agent']}",
        "agent_email": (f"{ls['name'].replace(' ', '.')}@PropNex.com"
                        if dirt < 0.8 else "agent@other.com"),
        "agent_phone_num": f"+65 {ls['phone']}",
        "listing_type": "sale", "property_group": "hdb",
        "property_type": "None", "district": f"D{district:02d}",
        "total_floor_area": str(sqft), "top": str(ls["top"]),
        "furnishing": rng.choice(FURNISHING), "tenure": "99-year",
        "floor": rng.choice(["high floor", "mid floor", "low floor"]),
        "post_code": f"{ls['sector']:02d}{rng.randrange(1000, 10000)}",
        "street_name": ls["street"],
        "description": (f"bright {ls['rooms']}-room flat "
                        f"{rng.choice(EMOJI)} near amenities"
                        if dirt < 0.7 else "None"),
        "facilities": ls["fac"] if dirt < 0.9 else "None",
    }


def _srx(rng, day, i, ls, agency_ids):
    dirt = rng.random()
    return {
        "url": f"https://www.srx.com.sg/listings/{day}/{i}",
        "location": "None", "floor_size_psf": "x",
        "price": _money(ls["price"], dirt),
        "num_bedroom": str(ls["rooms"]), "num_bathroom": str(ls["bath"]),
        "description": f"great view {rng.choice(EMOJI)}",
        "agent_name": ls["name"] + (" ☆" if dirt > 0.9 else ""),
        "agent_id": ("None" if 0.02 <= dirt < 0.03 else
                     f"CEA: {ls['agent']} / {rng.choice(agency_ids)}"),
        "agent_phone_num": f"tel:{ls['phone']}",
        "address": f"{ls['blk']} {initcap(ls['street'])} "
                   f"({ls['sector']:02d}{rng.randrange(1000, 10000)})",
        "property_name": ls["street"],
        "property_type": f"HDB {ls['rooms']} Rooms",
        "model": rng.choice(FLAT_MODELS),
        "bedrooms": rng.choice(BEDROOMS), "bathrooms": str(ls["bath"]),
        "furnish": rng.choice(SRX_FURNISH),
        "floor_level": rng.choice(["Low", "Mid", "High"]),
        "tenure": "99 yrs", "developer": "HDB",
        "built_year": str(ls["top"]), "hdb_town": initcap(ls["town"]),
        "asking": "x", "size": f"{ls['sqm']} sqm",
        "psf": f"${round(ls['price'] / (ls['sqm'] * 10.7639))} psf",
        "tenancy_status": "x", "date_listed": "x",
        "facilities": ls["fac"], "train_stations": "Some MRT",
        "schools": "Some Primary", "shopping_mall/markets": "Some Mall",
    }


def _scraped_key(row):
    """The (location, price) the pipeline keeps, or None if it drops the
    row for a missing agent id or price."""
    if row["price"] == "None" or row["agent_id"] == "None":
        return None
    price = int(row["price"].lstrip("$").replace(",", ""))
    if "address" in row:
        raw = row["address"].split(" (")[0]
    else:
        raw = row["location"][len("Blk "):]
    toks = initcap(raw).split(" ")
    return f"{toks[0].upper()} {' '.join(toks[1:])}|{price}"


def _write_json(path, rows):
    """One JSON array over many lines, one listing per line."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("[\n" + ",\n".join(json.dumps(r, ensure_ascii=False)
                                   for r in rows) + "\n]\n")


def generate(seed, out, days, listings, dup_share, historical_rows,
             historical_files, historical_from_year):
    """Writes the inputs under `out` and returns the manifest."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    sector_district, agency_ids = _dims(rng, out)
    manifest = {"seed": seed, "days": [], "rows": {}, "bytes": {}}
    pn_rows = srx_rows = 0
    for d, date in enumerate(run_dates(days)):
        used = set()
        pn_clean = [_listing(rng, used) for _ in range(listings)]
        n_dup = int(listings * dup_share)
        srx_clean = (rng.sample(pn_clean, n_dup) +
                     [_listing(rng, used) for _ in range(listings - n_dup)])
        rng.shuffle(srx_clean)
        pn = [_propnex(rng, d, i, ls, sector_district)
              for i, ls in enumerate(pn_clean)]
        srx = [_srx(rng, d, i, ls, agency_ids)
               for i, ls in enumerate(srx_clean)]
        paths = {s: f"{out}/{s}/{date}.json" for s in ("propnex", "srx")}
        for s, rows in (("propnex", pn), ("srx", srx)):
            os.makedirs(f"{out}/{s}", exist_ok=True)
            _write_json(paths[s], rows)
        keys = {k for k in map(_scraped_key, pn + srx) if k is not None}
        manifest["days"].append({
            "date": date, **paths, "scraped_rows": len(keys),
            "scraped_digest": digest(keys)})
        pn_rows += len(pn)
        srx_rows += len(srx)
    hist_dir = f"{out}/historical"
    os.makedirs(hist_dir, exist_ok=True)
    header = ["month", "town", "flat_type", "block", "street_name",
              "storey_range", "floor_area_sqm", "flat_model",
              "lease_commence_date", "resale_price"]
    lines = []
    per_file = -(-historical_rows // historical_files)
    for f_no in range(historical_files):
        with open(f"{hist_dir}/resale-{f_no}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            for _ in range(min(per_file, historical_rows - f_no * per_file)):
                month = (f"{rng.randrange(historical_from_year, 2025)}-"
                         f"{rng.randrange(1, 13):02d}")
                street = (f"{rng.choice(STREET_WORDS)} "
                          f"{rng.choice(STREET_TYPES)} {rng.randrange(1, 80)}")
                sqm = rng.randrange(35, 180)
                price = rng.randrange(50, 1400) * 1000
                storey = rng.randrange(1, 40, 3)
                w.writerow([month, rng.choice(TOWNS[:26]),
                            rng.choice(FLAT_TYPES), str(rng.randrange(1, 999)),
                            street.upper(),
                            f"{storey:02d} TO {storey + 2:02d}", str(sqm),
                            rng.choice(FLAT_MODELS),
                            str(rng.randrange(1966, 2020)), str(price)])
                lines.append(f"{month}-01|{initcap(street)}|{price}|{sqm}")
    manifest.update({
        "historical": hist_dir, "dims": f"{out}/dims",
        "historical_digest": digest(lines),
        "rows": {"propnex": pn_rows, "srx": srx_rows,
                 "historical": historical_rows},
    })
    manifest["bytes"] = {s: tree_bytes(f"{out}/{s}")
                         for s in ("propnex", "srx", "historical")}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
