"""Seeded generator for the 50-column sales feed (FIXTURES.md §1).

One ``Feed`` holds the rows of a sequence of source files. The same
rows can be written in the two shapes the benchmark lands (the
``produce_jsonl`` landing is made by the package's own producer from
the CSVs):

* ``write_csv``       — ``MOCK_DATA``-style CSVs with every reference
  quirk: UTF-8 BOM, quoted multiline ``product_description`` (~68% of
  rows), spaces in file names, ~50% empty postal codes, ~84% empty
  ``store_state``, ``M/d/yyyy`` dates (364 distinct, all 2021) and
  383 distinct stores and suppliers;
* ``write_capture``   — one ``kafkadump`` capture file per source file
  (the reference producer's JSON values, empty fields kept as ``""``),
  landed atomically: written under a ``_`` prefix, then renamed.

Key shape: the reference topology — ``id`` and the customer, seller and
product ids restart at 1 in every file, so later files overwrite
earlier ones. ``id`` is the row's position in its file, so the oracle
can recover arrival order from the data alone.

Everything runs in one process from ``random.Random(seed)``: the same
arguments give byte-identical files.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import random
from dataclasses import dataclass

# The reference CSV header, in file order (FIXTURES.md §1).
FIELDS = [
    "id",
    "customer_first_name", "customer_last_name", "customer_age",
    "customer_email", "customer_country", "customer_postal_code",
    "customer_pet_type", "customer_pet_name", "customer_pet_breed",
    "seller_first_name", "seller_last_name", "seller_email",
    "seller_country", "seller_postal_code",
    "product_name", "product_category", "product_price",
    "product_quantity", "sale_date", "sale_customer_id",
    "sale_seller_id", "sale_product_id", "sale_quantity",
    "sale_total_price", "store_name", "store_location", "store_city",
    "store_state", "store_country", "store_phone", "store_email",
    "pet_category", "product_weight", "product_color", "product_size",
    "product_brand", "product_material", "product_description",
    "product_rating", "product_reviews", "product_release_date",
    "product_expiry_date", "supplier_name", "supplier_contact",
    "supplier_email", "supplier_phone", "supplier_address",
    "supplier_city", "supplier_country",
]

N_STORES = 383
N_SUPPLIERS = 383
SEQ_STRIDE = 1 << 32
MULTILINE_SHARE = 0.68
POSTAL_EMPTY_SHARE = 0.5
STORE_STATE_EMPTY_SHARE = 0.84

_FIRST = ["Ann", "Bo", "Cal", "Dee", "Eli", "Fay", "Gus", "Hal", "Ida", "Jo",
          "Kai", "Liv", "Max", "Nia", "Otto", "Pia", "Quin", "Rae", "Sol", "Tess",
          "Uma", "Vik", "Wes", "Xia", "Yul", "Zoe", "Émile", "Søren"]
_LAST = ["Abbot", "Brook", "Crane", "Dunn", "Ervin", "Frost", "Gale", "Hart",
         "Irwin", "Joyce", "Kerr", "Lund", "Moss", "Nash", "Orr", "Pike",
         "Quill", "Rowe", "Stone", "Tate", "Vance", "Webb", "York", "Zell", "O'Hara"]
_COUNTRIES = ["China", "Indonesia", "Russia", "Brazil", "Philippines", "France",
              "Portugal", "Sweden", "Poland", "Japan", "Peru", "Canada", "Greece",
              "Nigeria", "Ukraine", "Colombia", "Czech Republic", "United States"]
_CITIES = ["Akron", "Bergen", "Cusco", "Dalian", "Essen", "Fargo", "Gdańsk",
           "Hilo", "Izmir", "Jena", "Kobe", "Lyon", "Mosul", "Nice", "Oulu"]
_PETS = ["cat", "dog", "bird", "fish", "hamster", "rabbit"]
_PET_NAMES = ["Rex", "Mia", "Bub", "Coco", "Zip", "Lola", "Milo", "Nala"]
_BREEDS = ["Siamese", "Beagle", "Parakeet", "Goldfish", "Dwarf", "Lop", "Corgi"]
_PET_CATEGORIES = ["Cats", "Dogs", "Birds", "Fish", "Reptiles"]
_PRODUCTS = ["Dog Food", "Cat Toy", "Bird Cage", "Aquarium", "Leash",
             "Litter", "Collar", "Scratcher", "Chew Bone", "Pet Bed"]
_CATEGORIES = ["Food", "Toys", "Cages", "Accessories", "Hygiene"]
_COLORS = ["Red", "Blue", "Green", "Puce", "Teal", "Khaki", "Mauv"]
_SIZES = ["Small", "Medium", "Large"]
_BRANDS = ["Skinix", "Quatz", "Zoomdog", "Yodel", "Tagfeed", "Voonyx"]
_MATERIALS = ["Plastic", "Steel", "Wood", "Cotton", "Rubber", "Glass"]
_WORDS = ["lorem", "ipsum", "dolor", "sit", "amet", "nulla", "facilisi",
          "cras", "non", "velit", "nec", "nisi", "vulputate", "nonummy"]


def _mdy(d: dt.date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


def _cycled(rng: random.Random, pool: list, n: int) -> list:
    """``n`` draws covering the whole pool once per ``len(pool)`` draws
    (shuffled cycles), so every value appears once the feed is long
    enough — the reference's fixed 383/383/364 cardinalities."""
    out: list = []
    while len(out) < n:
        cycle = list(pool)
        rng.shuffle(cycle)
        out.extend(cycle)
    return out[:n]


@dataclass
class Feed:
    """Rows of ``n_files`` source files, in producer send order."""

    files: list[list[dict[str, str]]]
    names: list[str]

    @property
    def n_rows(self) -> int:
        return sum(len(f) for f in self.files)


def csv_name(i: int, n_files: int) -> str:
    """Reference file naming: ``MOCK_DATA (1).csv`` … and a bare
    ``MOCK_DATA.csv`` last — the space sorts before ``.``, so the bare
    file is the last one the producer sends."""
    return "MOCK_DATA.csv" if i == n_files - 1 else f"MOCK_DATA ({i + 1:03d}).csv"


def generate(seed: int, n_files: int, rows_per_file: int) -> Feed:
    """The feed's rows, a pure function of the arguments."""
    rng = random.Random(seed)
    dates = [dt.date(2021, 1, 1) + dt.timedelta(days=k) for k in range(365)]
    dates.pop(rng.randrange(365))  # 364 distinct sale dates in 2021
    stores = [f"Store {k:03d} {rng.choice(_LAST)}" for k in range(N_STORES)]
    suppliers = [f"Supplier {k:03d} {rng.choice(_LAST)}" for k in range(N_SUPPLIERS)]
    total = n_files * rows_per_file
    date_seq = _cycled(rng, dates, total)
    store_seq = _cycled(rng, stores, total)
    supplier_seq = _cycled(rng, suppliers, total)

    files: list[list[dict[str, str]]] = []
    g = 0
    for _ in range(n_files):
        cust = list(range(1, rows_per_file + 1))
        sell = list(range(1, rows_per_file + 1))
        prod = list(range(1, rows_per_file + 1))
        rng.shuffle(cust)
        rng.shuffle(sell)
        rng.shuffle(prod)
        rows = []
        for r in range(rows_per_file):
            first, last = rng.choice(_FIRST), rng.choice(_LAST)
            sfirst, slast = rng.choice(_FIRST), rng.choice(_LAST)
            desc = " ".join(rng.choices(_WORDS, k=rng.randint(4, 12)))
            if rng.random() < MULTILINE_SHARE:
                desc += "\n" + " ".join(rng.choices(_WORDS, k=rng.randint(3, 9)))
                if rng.random() < 0.2:
                    desc += '\n"quoted" end'
            qty = rng.randint(1, 10)
            rows.append({
                "id": str(r + 1),
                "customer_first_name": first,
                "customer_last_name": last,
                "customer_age": str(rng.randint(18, 80)),
                "customer_email": f"{first.lower()}.{last.lower()}{rng.randint(1, 999)}@example.com",
                "customer_country": rng.choice(_COUNTRIES),
                "customer_postal_code": "" if rng.random() < POSTAL_EMPTY_SHARE else str(rng.randint(10000, 99999)),
                "customer_pet_type": rng.choice(_PETS),
                "customer_pet_name": rng.choice(_PET_NAMES),
                "customer_pet_breed": rng.choice(_BREEDS),
                "seller_first_name": sfirst,
                "seller_last_name": slast,
                "seller_email": f"{sfirst.lower()}{rng.randint(1, 999)}@shop.example",
                "seller_country": rng.choice(_COUNTRIES),
                "seller_postal_code": "" if rng.random() < POSTAL_EMPTY_SHARE else str(rng.randint(10000, 99999)),
                "product_name": rng.choice(_PRODUCTS),
                "product_category": rng.choice(_CATEGORIES),
                "product_price": f"{rng.randint(100, 99999) / 100:.2f}",
                "product_quantity": str(rng.randint(1, 500)),
                "sale_date": _mdy(date_seq[g]),
                "sale_customer_id": str(cust[r]),
                "sale_seller_id": str(sell[r]),
                "sale_product_id": str(prod[r]),
                "sale_quantity": str(qty),
                "sale_total_price": f"{rng.randint(100, 999999) / 100:.2f}",
                "store_name": store_seq[g],
                "store_location": f"{rng.randint(1, 9999)} {rng.choice(_LAST)} Street",
                "store_city": rng.choice(_CITIES),
                "store_state": "" if rng.random() < STORE_STATE_EMPTY_SHARE else rng.choice(["CA", "TX", "NY", "WA"]),
                "store_country": rng.choice(_COUNTRIES),
                "store_phone": f"{rng.randint(100, 999)}-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}",
                "store_email": f"store{rng.randint(1, 9999)}@retail.example",
                "pet_category": rng.choice(_PET_CATEGORIES),
                "product_weight": f"{rng.randint(10, 5000) / 100:.2f}",
                "product_color": rng.choice(_COLORS),
                "product_size": rng.choice(_SIZES),
                "product_brand": rng.choice(_BRANDS),
                "product_material": rng.choice(_MATERIALS),
                "product_description": desc,
                "product_rating": f"{rng.randint(10, 50) / 10:.1f}",
                "product_reviews": str(rng.randint(0, 1000)),
                "product_release_date": _mdy(dt.date(2015, 1, 1) + dt.timedelta(days=rng.randrange(2000))),
                "product_expiry_date": _mdy(dt.date(2022, 1, 1) + dt.timedelta(days=rng.randrange(2000))),
                "supplier_name": supplier_seq[g],
                "supplier_contact": f"{rng.choice(_FIRST)} {rng.choice(_LAST)}",
                "supplier_email": f"sales{rng.randint(1, 9999)}@supply.example",
                "supplier_phone": f"{rng.randint(100, 999)}-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}",
                "supplier_address": f"{rng.randint(1, 999)} {rng.choice(_LAST)} Road",
                "supplier_city": rng.choice(_CITIES),
                "supplier_country": rng.choice(_COUNTRIES),
            })
            g += 1
        files.append(rows)
    names = [csv_name(i, n_files) for i in range(n_files)]
    order = sorted(range(n_files), key=lambda i: names[i])
    return Feed([files[i] for i in order], [names[i] for i in order])


def csv_bytes(rows: list[dict[str, str]]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(FIELDS)
    for row in rows:
        w.writerow([row[f] for f in FIELDS])
    return "\ufeff".encode() + buf.getvalue().encode("utf-8")


def write_csv(feed: Feed, out_dir: str) -> list[str]:
    """The feed as reference-style CSV files; returns their paths in
    send (sorted-name) order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, rows in zip(feed.names, feed.files):
        path = os.path.join(out_dir, name)
        with open(path, "wb") as fh:
            fh.write(csv_bytes(rows))
        paths.append(path)
    return paths


def capture_bytes(rows: list[dict[str, str]]) -> bytes:
    """A kafkadump capture file: the producer's JSON values, one per line."""
    return "".join(json.dumps(row, separators=(",", ":")) + "\n" for row in rows).encode("utf-8")


def write_capture(feed: Feed, rank: int, out_dir: str) -> str:
    """Land source file ``rank`` as one capture file, atomically: the
    source skips ``_``-prefixed names, so readers never see a partial
    file."""
    os.makedirs(out_dir, exist_ok=True)
    name = f"sales-{rank:05d}.jsonl"
    tmp = os.path.join(out_dir, "_" + name)
    with open(tmp, "wb") as fh:
        fh.write(capture_bytes(feed.files[rank]))
    final = os.path.join(out_dir, name)
    os.rename(tmp, final)
    return final
