#!/usr/bin/env python3
"""Seeded synthetic Superstore CSV in the shape of the reference's
`Sample - Superstore.csv`, plus the ground truth the benchmark checks the
built warehouse against.

Shape (fixed; only the values move with the seed):
  - 9,994 data rows x 21 columns, windows-1252, RFC-4180 quoting (product
    names carry doubled quotes, commas, (R) and (TM) -- the latter is 0x99,
    where windows-1252 and latin-1 differ);
  - 8 duplicate (Order ID, Product ID) pairs, as in the reference;
  - 793 customers, 1,894 products over 1,862 product codes (32 codes carry
    two names, as in the reference), 632 locations, 49 states, 4 regions,
    4 ship modes, 3 categories / 17 sub-categories, 5,009 orders, order
    dates 2014-2017.

Usage: gen_superstore.py <seed> <out.csv> <truth.json>
"""
import csv
import datetime as dt
import json
import random
import sys

ROWS = 9994
ORDERS = 5009
CUSTOMERS = 793
PRODUCTS = 1894
SHARED_CODES = 32            # product codes that carry two names
LOCATIONS = 632
DUP_PAIRS = 8

HEADER = ["Row ID", "Order ID", "Order Date", "Ship Date", "Ship Mode",
          "Customer ID", "Customer Name", "Segment", "Country", "City",
          "State", "Postal Code", "Region", "Product ID", "Category",
          "Sub-Category", "Product Name", "Sales", "Quantity", "Discount",
          "Profit"]

REGION_STATES = {
    "West": ["California", "Washington", "Arizona", "Colorado", "Oregon",
             "Utah", "Nevada", "New Mexico", "Idaho", "Montana", "Wyoming"],
    "East": ["New York", "Pennsylvania", "Ohio", "Massachusetts",
             "New Jersey", "Connecticut", "Rhode Island", "Maryland",
             "Delaware", "New Hampshire", "Vermont", "Maine",
             "District of Columbia", "West Virginia"],
    "Central": ["Texas", "Illinois", "Michigan", "Indiana", "Wisconsin",
                "Minnesota", "Missouri", "Oklahoma", "Nebraska", "Iowa",
                "Kansas", "South Dakota", "North Dakota"],
    "South": ["Florida", "North Carolina", "Virginia", "Georgia",
              "Tennessee", "Kentucky", "Alabama", "Mississippi",
              "Louisiana", "Arkansas", "South Carolina"],
}
# New England postal codes start with 0 -- the ETL drops the leading zero
ZERO_PREFIX = {"Massachusetts", "Connecticut", "Rhode Island",
               "New Hampshire", "Vermont", "Maine", "New Jersey"}

SUBCATS = {
    "Furniture": ["Bookcases", "Chairs", "Furnishings", "Tables"],
    "Office Supplies": ["Appliances", "Art", "Binders", "Envelopes",
                        "Fasteners", "Labels", "Paper", "Storage",
                        "Supplies"],
    "Technology": ["Accessories", "Copiers", "Machines", "Phones"],
}
SHIP_DAYS = {"Same Day": (0, 0), "First Class": (1, 3),
             "Second Class": (2, 5), "Standard Class": (4, 7)}
SHIP_WEIGHTS = [0.05, 0.15, 0.2, 0.6]
SEGMENTS = ["Consumer", "Corporate", "Home Office"]
DISCOUNTS = [0.0, 0.0, 0.0, 0.1, 0.15, 0.2, 0.2, 0.3, 0.32, 0.4, 0.45,
             0.5, 0.6, 0.7, 0.8]

BRANDS = ["Acco", "Avery", "Belkin", "Eldon", "Fellowes", "Hon", "Logitech",
          "Xerox", "Global", "Bretford", "Canon", "Samsung", "Wilson Jones",
          "Tenex", "Hewlett-Packard", "Kingston", "Staples", "Cisco",
          "Novimex", "Safco"]
WORDS = ["Heavy-Duty", "Round Ring", "Stacking", "Mesh", "Executive",
         "Wireless", "Desk", "Premium", "Swivel", "Cordless", "Locking",
         "Portable", "Recycled", "Ergonomic", "Colored", "Classic", "Compact",
         "Deluxe", "Adjustable", "Commercial"]
FIRST = ["Aaron", "Beth", "Carl", "Dana", "Erin", "Frank", "Gina", "Hugo",
         "Iris", "Jack", "Kara", "Liam", "Mona", "Nick", "Olga", "Paul",
         "Quinn", "Rosa", "Sean", "Tara", "Uma", "Vic", "Wade", "Yara"]
LAST = ["Adams", "Baker", "Chen", "Diaz", "Evans", "Fox", "Garcia", "Hill",
        "Ito", "Jones", "Khan", "Lopez", "Miller", "Nolan", "O'Brien",
        "Patel", "Reyes", "Smith", "Turner", "Vance", "Wong", "Young"]


def product_name(rng, sub, i):
    brand = rng.choice(BRANDS)
    mark = rng.random()
    if mark < 0.04:
        brand += "®"                  # (R), 0xAE
    elif mark < 0.06:
        brand += "™"                  # (TM), 0x99 in windows-1252 only
    name = f"{brand} {rng.choice(WORDS)} {sub} {1000 + i}"
    shape = rng.random()
    if shape < 0.05:
        name += f', {rng.choice([8, 11, 24, 36])}"'      # doubled quote in CSV
    elif shape < 0.08:
        name = f'"{rng.choice(WORDS)}" {name}'
    elif shape < 0.15:
        name += ", Assorted Colors"
    return name


def generate(seed):
    """Returns (rows, truth); rows are lists in HEADER order, Row-ID ordered."""
    rng = random.Random(seed)

    states = [(s, r) for r, ss in REGION_STATES.items() for s in ss]
    assert len(states) == 49
    # every state has a location; the rest go to a few big states first,
    # as in the reference (California and New York carry a third of it)
    weights = [1 / (k + 1) for k in range(len(states))]
    placed = states + rng.choices(states, weights, k=LOCATIONS - len(states))
    n_zero = sum(1 for s, _ in placed if s in ZERO_PREFIX)
    zero_pcs = iter(rng.sample(range(1001, 10000), n_zero))
    other_pcs = iter(rng.sample(range(10000, 100000), LOCATIONS - n_zero))
    locations = []
    for state, region in placed:
        pc = next(zero_pcs) if state in ZERO_PREFIX else next(other_pcs)
        city = rng.choice(["Spring", "Oak", "Green", "Lake", "Fair", "River",
                           "Mill", "Ash"]) + \
            rng.choice(["field", "ton", "ville", "port", "dale", "wood"])
        if rng.random() < 0.3:
            city += " " + rng.choice(["Heights", "Park", "City"])
        locations.append((f"{pc:05d}", city, state, region))
    # postal codes are unique after the ETL's leading-zero drop
    assert len({int(p) for p, _, _, _ in locations}) == LOCATIONS

    customers = []
    for i in range(CUSTOMERS):
        fn, ln = rng.choice(FIRST), rng.choice(LAST)
        code = f"{fn[0]}{ln[0]}-{10000 + i * 13 + rng.randrange(13)}"
        customers.append((code, f"{fn} {ln}", rng.choice(SEGMENTS)))

    cats = [(c, s) for c, ss in SUBCATS.items() for s in ss]
    products = []
    codes = []
    for i in range(PRODUCTS - SHARED_CODES):
        cat, sub = cats[i % len(cats)] if i < len(cats) else rng.choice(cats)
        code = f"{cat[:3].upper()}-{sub[:2].upper()}-{10000000 + i * 7 + rng.randrange(7)}"
        codes.append((code, cat, sub))
        products.append((code, product_name(rng, sub, i), cat, sub))
    for j, (code, cat, sub) in enumerate(rng.sample(codes, SHARED_CODES)):
        products.append((code, product_name(rng, sub, PRODUCTS + j), cat, sub))
    assert len({(p[0], p[1]) for p in products}) == PRODUCTS

    # items per order: every order has >= 1; the rest spread at random
    item_rows = ROWS - DUP_PAIRS
    per_order = [1] * ORDERS
    for _ in range(item_rows - ORDERS):
        per_order[rng.randrange(ORDERS)] += 1

    d0 = dt.date(2014, 1, 3)
    span = (dt.date(2017, 12, 30) - d0).days
    order_ids = set()
    orders = []
    for i in range(ORDERS):
        od = d0 + dt.timedelta(days=rng.randrange(span + 1))
        while True:
            oid = f"{rng.choice(['CA', 'US'])}-{od.year}-{rng.randrange(100000, 1000000)}"
            if oid not in order_ids:
                order_ids.add(oid)
                break
        mode = rng.choices(list(SHIP_DAYS), SHIP_WEIGHTS)[0]
        lo, hi = SHIP_DAYS[mode]
        sd = od + dt.timedelta(days=rng.randint(lo, hi))
        cust = customers[i] if i < CUSTOMERS else rng.choice(customers)
        loc = locations[i] if i < LOCATIONS else rng.choice(locations)
        orders.append((oid, od, sd, mode, cust, loc))

    # every product appears at least once; products are distinct per order
    bag = list(range(PRODUCTS)) + [rng.randrange(PRODUCTS)
                                   for _ in range(item_rows - PRODUCTS)]
    rng.shuffle(bag)
    lines = []
    k = 0
    for o, n in zip(orders, per_order):
        used = set()
        for _ in range(n):
            p = bag[k]
            k += 1
            while products[p][0] in used:
                p = rng.randrange(PRODUCTS)
            used.add(products[p][0])
            lines.append((o, products[p]))
    # the duplicate pairs: a second line for an existing (order, product code)
    for line in [lines[i] for i in rng.sample(range(len(lines)), DUP_PAIRS)]:
        lines.insert(rng.randrange(len(lines) + 1), line)

    rows = []
    for rid, ((oid, od, sd, mode, cust, loc), prod) in enumerate(lines, 1):
        qty = rng.randint(1, 14)
        disc = rng.choice(DISCOUNTS)
        unit = round(rng.lognormvariate(3.2, 1.2), 2) + 0.5
        sales = round(unit * qty * (1 - disc), 4)
        profit = round(sales * rng.uniform(-0.6 if disc >= 0.3 else -0.1, 0.45), 4)
        rows.append([rid, oid, f"{od.month}/{od.day}/{od.year}",
                     f"{sd.month}/{sd.day}/{sd.year}", mode,
                     cust[0], cust[1], cust[2], "United States",
                     loc[1], loc[2], loc[0], loc[3],
                     prod[0], prod[2], prod[3], prod[1],
                     sales, qty, disc, profit])
    return rows, truth(rows)


def truth(rows):
    """Expected warehouse cardinalities, derived from the rows alone."""
    c = {h: i for i, h in enumerate(HEADER)}

    def date(s):
        m, d, y = map(int, s.split("/"))
        return dt.date(y, m, d)

    def distinct(*cols):
        return len({tuple(r[c[x]] for x in cols) for r in rows})

    pairs = {}
    for r in rows:
        key = (r[c["Order ID"]], r[c["Product ID"]])
        pairs[key] = pairs.get(key, 0) + 1
    merged = sum(n - 1 for n in pairs.values())
    dates = {date(r[c["Order Date"]]) for r in rows} | \
            {date(r[c["Ship Date"]]) for r in rows}
    ym_state = {(date(r[c["Order Date"]]).year, date(r[c["Order Date"]]).month,
                 r[c["State"]]) for r in rows}
    perf = {(r[c["Category"]], r[c["State"]], date(r[c["Order Date"]]).year,
             date(r[c["Order Date"]]).month) for r in rows}
    tables = {
        "Calendar": len(dates),
        "CalendarMonth": len({(d.year, d.month) for d in dates}),
        "Category": distinct("Category"),
        "Customer": distinct("Customer ID", "Customer Name", "Segment"),
        "Item": len(rows) - merged,
        "Location": distinct("Postal Code", "City", "State", "Country", "Region"),
        "OrderM": len(ym_state),
        "Orders": distinct("Order ID"),
        "Product": distinct("Product ID", "Product Name", "Category", "Sub-Category"),
        "ProductPerformance": len(perf),
        "Region": distinct("Region", "Country"),
        "Shipping": distinct("Ship Mode"),
        "ShippingBehavior": distinct("Ship Mode", "Category", "Region"),
        "ShippingBehaviorS": distinct("Ship Mode", "Category", "State"),
        "State": distinct("State", "Region", "Country"),
    }
    return {"rows": len(rows), "duplicate_pairs": sum(1 for n in pairs.values() if n > 1),
            "merged_rows": merged, "sum_quantity": sum(r[c["Quantity"]] for r in rows),
            "tables": tables}


def write(rows, csv_path):
    with open(csv_path, "w", encoding="windows-1252", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(HEADER)
        w.writerows(rows)


def main(argv):
    seed, csv_path, truth_path = int(argv[1]), argv[2], argv[3]
    rows, t = generate(seed)
    write(rows, csv_path)
    with open(truth_path, "w") as f:
        json.dump(t, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main(sys.argv)
