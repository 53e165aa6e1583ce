#!/usr/bin/env python3
"""Builds the reference-shaped seed tables under
src/test/resources/reference_seed/: customers.csv, merchants.csv,
products.csv and transactions.csv, with the reference's schemas and
volumes (FIXTURES.md section A: 1,804 / 14 / 12 / 1,000 rows).

The rows are drawn by the rules of the reference's transaction generator
(postgresql_setup.sql:97-111, summarised in FIXTURES.md and SURVEY.md):
customer, product and merchant sampled independently and uniformly;
quantity floor(random * 7 + 1); total_price = quantity * price; one of
four cards; Purchase when random < 0.8, else Refund; time as HH24:MI:SS.
Seed rows carry UUID ids and dates over the seed's year (2023-09-15 to
2024-09-14). The dimensions follow FIXTURES.md: the 14 named merchants,
two in each of 7 categories; 12 products over the same categories with
one Food product, priced 347.40 - 1381.01; customers aged 18 - 90.

Deterministic: one seeded random.Random drives every draw, so a rerun
rewrites byte-identical files. No field holds a comma or a quote, so the
files parse as plain comma-separated text.

    python3 tools/build_reference_seed.py [out_dir]

The specs read these files unless GRAFT_REFERENCE_CSV names a directory
holding the reference's own CSVs (graft.sources.ReferenceCsv.seedDir).
Dev-only tool; the shipped library never depends on Python.
"""
import datetime
import os
import random
import sys
import uuid

SEED = 20240915
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                   "src", "test", "resources", "reference_seed")

CUSTOMERS = 1804
TRANSACTIONS = 1000
FIRST_DAY = datetime.date(2023, 9, 15)
DAYS = 366

MERCHANTS = [  # (name, category): two per category
    ("Amazon", "Retail"), ("Walmart", "Retail"),
    ("Apple", "Tech"), ("Microsoft", "Tech"),
    ("Whole Foods", "Produce"), ("Trader Joe's", "Produce"),
    ("Starbucks", "Food"), ("McDonald's", "Food"),
    ("Nike", "Fashion"), ("Adidas", "Fashion"),
    ("Walgreens", "Pharmacy"), ("CVS", "Pharmacy"),
    ("Netflix", "Entertainment"), ("Spotify", "Entertainment"),
]
PRODUCTS = [  # (name, category): one Food product
    ("Toiletries", "Pharmacy"), ("Laptop", "Tech"), ("Coffee", "Food"),
    ("Smartphone", "Tech"), ("Sneakers", "Fashion"), ("Jacket", "Fashion"),
    ("Vitamins", "Pharmacy"), ("Avocados", "Produce"), ("Apples", "Produce"),
    ("Backpack", "Retail"), ("Cookware", "Retail"),
    ("Concert Tickets", "Entertainment"),
]
MIN_PRICE, MAX_PRICE = 347.40, 1381.01
CARDS = ["American Express", "Visa", "Mastercard", "Discover"]
FIRST_NAMES = [
    "Brittany", "James", "Maria", "Robert", "Linda", "Michael", "Susan",
    "David", "Karen", "Daniel", "Nancy", "Joseph", "Lisa", "Thomas", "Betty",
    "Charles", "Sandra", "Matthew", "Ashley", "Anthony", "Emily", "Mark",
    "Donna", "Steven", "Michelle", "Paul", "Carol", "Andrew", "Amanda",
    "Joshua", "Melissa", "Kevin", "Deborah", "Brian", "Stephanie", "George",
    "Rebecca", "Edward", "Laura", "Ronald",
]
LAST_NAMES = [
    "Williams", "Smith", "Johnson", "Brown", "Jones", "Garcia", "Miller",
    "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez",
    "Wilson", "Anderson", "Thomas", "Taylor", "Moore", "Jackson", "Martin",
    "Lee", "Perez", "Thompson", "White", "Harris", "Sanchez", "Clark",
    "Ramirez", "Lewis", "Robinson", "Walker", "Young", "Allen", "King",
    "Wright", "Scott", "Torres", "Nguyen", "Hill", "Flores",
]


def phone(rng):
    """A phone number in one of the free-form shapes the seed carries."""
    a, b, c = rng.randint(200, 999), rng.randint(200, 999), rng.randint(0, 9999)
    shape = rng.randrange(4)
    if shape == 0:
        return f"{a}-{b}-{c:04d}x{rng.randint(100, 99999)}"
    if shape == 1:
        return f"({a}){b}-{c:04d}"
    if shape == 2:
        return f"+1-{a}-{b}-{c:04d}"
    return f"{a}.{b}.{c:04d}"


def customers(rng):
    ids = sorted(rng.sample(range(1, 10000), CUSTOMERS))
    rows = []
    for cid in ids:
        first, last = rng.choice(FIRST_NAMES), rng.choice(LAST_NAMES)
        email = f"{first.lower()}.{last.lower()}@example.com"
        rows.append((cid, first, last, rng.randint(18, 90), email, phone(rng)))
    return rows


def products(rng):
    # the range's two ends are held by the first two products
    prices = [MIN_PRICE, MAX_PRICE] + [
        round(rng.uniform(MIN_PRICE, MAX_PRICE), 2) for _ in PRODUCTS[2:]]
    return [(i + 1, name, cat, price)
            for i, ((name, cat), price) in enumerate(zip(PRODUCTS, prices))]


def transactions(rng, cust, prod, merch):
    price = {p[0]: p[3] for p in prod}
    rows = []
    for _ in range(TRANSACTIONS):
        tx_id = uuid.UUID(int=rng.getrandbits(128), version=4)
        cid = rng.choice(cust)[0]
        pid = rng.choice(prod)[0]
        mid = rng.choice(merch)[0]
        day = FIRST_DAY + datetime.timedelta(days=rng.randrange(DAYS))
        secs = rng.randrange(86400)
        time = f"{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}"
        qty = int(rng.random() * 7 + 1)
        card = rng.choice(CARDS)
        category = "Purchase" if rng.random() < 0.8 else "Refund"
        rows.append((tx_id, cid, pid, mid, day.isoformat(), time, qty,
                     round(qty * price[pid], 2), card, category))
    return rows


def write(out, name, header, rows):
    with open(os.path.join(out, f"{name}.csv"), "w", newline="\n") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            fields = [f"{v:.2f}" if isinstance(v, float) else str(v) for v in r]
            assert not any("," in v or '"' in v for v in fields), r
            f.write(",".join(fields) + "\n")


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else OUT
    os.makedirs(out, exist_ok=True)
    rng = random.Random(SEED)
    cust = customers(rng)
    merch = [(i + 1, n, c) for i, (n, c) in enumerate(MERCHANTS)]
    prod = products(rng)
    tx = transactions(rng, cust, prod, merch)
    write(out, "customers",
          ["customer_id", "firstname", "lastname", "age", "email", "phone_number"], cust)
    write(out, "merchants", ["merchant_id", "merchant_name", "merchant_category"], merch)
    write(out, "products", ["product_id", "product_name", "product_category", "price"], prod)
    write(out, "transactions",
          ["transaction_id", "customer_id", "product_id", "merchant_id",
           "transaction_date", "transaction_time", "quantity", "total_price",
           "transaction_card", "transaction_category"], tx)
    print(f"wrote {len(cust)} / {len(merch)} / {len(prod)} / {len(tx)} rows to {out}")


if __name__ == "__main__":
    main()
