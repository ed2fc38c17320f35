#!/usr/bin/env python3
"""Seeded statement corpus for the pipeline workloads.

Writes, under an output directory:

  mappings.db          vendor_mappings table (the reference schema), written
                       with the stdlib sqlite3 module
  <batch>/stmt_*.pdf   multi-page card statements: Courier text in
                       FlateDecode content streams, the classic-object layout
                       of the test suite's PDF writer (no xref table)
  <batch>/truth.tsv    every report row the pipeline must produce for the
                       batch, with its expected enrichment and match type

Statement pages carry the layout the statement parser reads: a
"Transaction Details" heading, a Trans/Post/Reference/Description/Credits/
Charges header line, one line per transaction, "PAYMENT THANK YOU" rows,
subtotal and page footers, comma amounts, credits right-aligned under the
Credits column (negated by the parser) and charges under Charges. Each
statement ends with a boilerplate page without "Transaction Details" whose
decoy rows are shaped like transactions and must not reach the report.

Vendors come in three kinds: exact (a mapping's vendor string), fuzzy (a run
of words of some mapping's vendor, so only the substring phase matches) and
unmapped. The truth file resolves each with the enrichment rule itself:
exact equality first, else the lowest-id mapping whose lower-cased vendor
contains the lower-cased transaction vendor.

Usage: corpus.py --workload monthly_close|backfill --seed N --out DIR
"""
import argparse
import bisect
import os
import random
import sqlite3
import zlib

# Per workload: statements per batch, batches, mapping rows, and the share
# of exact / fuzzy transactions (the rest are unmapped).
SHAPES = {
    "monthly_close": dict(statements=20, batches=4, mappings=300, exact=0.80, fuzzy=0.15),
    "backfill": dict(statements=300, batches=1, mappings=20000, exact=0.50, fuzzy=0.35),
}
WARM_STATEMENTS = 20  # the untimed warm-up batch: one monthly-sized batch
TXNS_PER_STATEMENT = (80, 100)
CREDIT_SHARE = 0.07

FONT = 9.0
GLYPH = 0.6 * FONT          # Courier advance
X_TRANS, X_POST, X_REF, X_DESC = 40.0, 75.0, 110.0, 165.0
X_CREDITS_RIGHT, X_CHARGES_RIGHT = 430.0, 520.0
MAX_VENDOR = 32             # ends at x <= 338, far left of any credit amount
ROW_STEP = 12.0
Y_FIRST_ROW, Y_LAST_ROW = 560.0, 90.0

PREFIX = ("ACME ALPINE ATLAS BAYVIEW BEACON BIRCH BLUE BRIGHT CANYON CEDAR "
          "CENTRAL CITY CLEAR COASTAL CORNER CRESCENT CROWN DELTA DIAMOND EAGLE "
          "EAST ELM EMPIRE EVERGREEN FAIRVIEW FALCON FIRST FOX FRONTIER GARDEN "
          "GATEWAY GOLDEN GRAND GREEN HARBOR HERITAGE HIGHLAND HILLTOP HUDSON "
          "IRON JADE KEYSTONE LAKESIDE LIBERTY LINCOLN MAPLE MERIDIAN METRO "
          "MIDLAND MISSION NORTH OAK OCEAN ORCHARD PACIFIC PARK PEAK PINE "
          "PIONEER PRAIRIE QUARRY RED RIDGE RIVER ROYAL SAGE SILVER SOUTH "
          "SPRING STAR SUMMIT SUNSET UNION VALLEY VISTA WEST WILLOW").split()
MIDDLE = ("ARTS AUTO BAKERY BOOKS BREW CAFE CARPET CATERING CLEANERS COFFEE "
          "COPY DELI DENTAL DINER ELECTRIC FABRIC FARMS FLORAL FOODS FREIGHT "
          "FUEL GLASS GRILL HARDWARE HEATING KITCHEN LABS LAUNDRY LUMBER MARKET "
          "MEDICAL MOTORS MUSIC NURSERY OFFICE OPTICAL PAINT PAPER PARTS PETS "
          "PHARMACY PIZZA PLUMBING PRINT RADIO ROOFING SEAFOOD SIGNS SPORTS "
          "STEEL SUPPLY TACOS TAILOR TECH TILE TIRES TOOLS TOYS TRAVEL WATER").split()
SUFFIX = ("CO INC LLC GROUP SHOP STORE SERVICES OUTLET DEPOT WORKS CENTER "
          "EXPRESS PARTNERS HOUSE").split()
UNMAPPED = ("ZANTHOR QUIVEL MORBANE TRAXIL VOLDEN PRYNNE JASKO WELMIR "
            "OSTRAVE KELVOR NUMRIC DRAVEN YBARRO HALCYX FENWICK GORLAN "
            "TESSARO BLIMPTON CARVOSK UMBRIX").split()


def money(cents):
    return f"{cents // 100:,}.{cents % 100:02d}"


def pdf_bytes(page_streams):
    """Classic-object PDF: catalog, page tree, one Courier font, one page
    object per content stream, FlateDecode streams."""
    out = bytearray(b"%PDF-1.4\n")
    n = len(page_streams)

    def w(s):
        out.extend(s.encode("latin-1"))

    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    kids = " ".join(f"{4 + i} 0 R" for i in range(n))
    w(f"2 0 obj\n<< /Type /Pages /Kids [ {kids} ] /Count {n} "
      "/MediaBox [ 0 0 612 792 ] >>\nendobj\n")
    w("3 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>\nendobj\n")
    for i in range(n):
        w(f"{4 + i} 0 obj\n<< /Type /Page /Parent 2 0 R /Contents {4 + n + i} 0 R "
          "/Resources << /Font << /F1 3 0 R >> >> >>\nendobj\n")
    for i, cs in enumerate(page_streams):
        body = zlib.compress(cs.encode("latin-1"))
        w(f"{4 + n + i} 0 obj\n<< /Length {len(body)} /Filter /FlateDecode >>\nstream\n")
        out.extend(body)
        w("\nendstream\nendobj\n")
    w("%%EOF\n")
    return bytes(out)


class Page:
    def __init__(self):
        self.ops = []

    def text(self, x, y, s):
        self.ops.append(f"BT /F1 {FONT:g} Tf {x:.2f} {y:.2f} Td ({s}) Tj ET")

    def right(self, x_right, y, s):
        self.text(x_right - len(s) * GLYPH, y, s)

    def stream(self):
        return "\n".join(self.ops) + "\n"


def detail_header(page, y_heading, continued):
    page.text(X_TRANS, y_heading,
              "Transaction Details continued" if continued else "Transaction Details")
    y = y_heading - 15
    page.text(X_TRANS, y, "Trans")
    page.text(X_POST, y, "Post")
    page.text(X_REF, y, "Reference")
    page.text(X_DESC, y, "Description")
    page.right(X_CREDITS_RIGHT, y, "Credits")
    page.right(X_CHARGES_RIGHT, y, "Charges")


def txn_line(page, y, trans, post, ref, desc, cents):
    page.text(X_TRANS, y, trans)
    page.text(X_POST, y, post)
    page.text(X_REF, y, ref)
    page.text(X_DESC, y, desc)
    if cents < 0:
        page.right(X_CREDITS_RIGHT, y, money(-cents))
    else:
        page.right(X_CHARGES_RIGHT, y, money(cents))


def statement_pdf(rng, account, month, lines):
    """`lines`: (trans, post, ref, desc, signed cents) in statement order."""
    pages = []
    rows_per_page = int((Y_FIRST_ROW - Y_LAST_ROW) / ROW_STEP)
    chunks = [lines[i:i + rows_per_page] for i in range(0, len(lines), rows_per_page)]
    for pi, chunk in enumerate(chunks):
        page = Page()
        if pi == 0:
            page.text(X_TRANS, 740, "FIRST COMMUNITY BANK CARD SERVICES")
            page.text(X_TRANS, 725, f"Account ending {account % 10000:04d}")
            page.text(X_TRANS, 710, f"Statement period {month:02d}/01/2024 to {month:02d}/28/2024")
            page.text(X_TRANS, 695, "Previous balance")
            page.right(X_CHARGES_RIGHT, 695, money(rng.randrange(0, 900000)))
            page.text(X_TRANS, 680, "Minimum payment due")
            page.right(X_CHARGES_RIGHT, 680, money(rng.randrange(2500, 40000)))
        detail_header(page, 600, continued=pi > 0)
        y = Y_FIRST_ROW
        for trans, post, ref, desc, cents in chunk:
            txn_line(page, y, trans, post, ref, desc, cents)
            y -= ROW_STEP
        page.text(X_TRANS, y - 6, "Subtotal")
        page.right(X_CHARGES_RIGHT, y - 6, money(sum(abs(l[4]) for l in chunk)))
        page.text(X_TRANS, 40, f"Page {pi + 1} of {len(chunks) + 1}")
        pages.append(page.stream())
    # boilerplate page: no "Transaction Details", decoy transaction-shaped rows
    page = Page()
    page.text(X_TRANS, 740, "Rewards Summary and Important Information")
    y = 700.0
    for _ in range(rng.randrange(3, 7)):
        day = f"{month:02d}/{rng.randrange(1, 28):02d}"
        page.text(X_TRANS, y, day)
        page.text(X_POST, y, day)
        page.text(X_REF, y, f"RW{rng.randrange(10 ** 6):06d}")
        page.text(X_DESC, y, "BONUS POINTS EARNED")
        page.right(X_CHARGES_RIGHT, y, money(rng.randrange(100, 10000)))
        y -= ROW_STEP
    page.text(X_TRANS, y - 20, "Interest charge calculation and billing rights notice")
    page.text(X_TRANS, 40, f"Page {len(chunks) + 1} of {len(chunks) + 1}")
    pages.append(page.stream())
    return pdf_bytes(pages)


def mapping_vendors(rng, n):
    names, seen = [], set()
    while len(names) < n:
        parts = [rng.choice(PREFIX), rng.choice(MIDDLE)]
        if rng.random() < 0.6:
            parts.append(rng.choice(SUFFIX))
        if rng.random() < 0.3:
            parts.append(f"{rng.randrange(10000):04d}")
        name = " ".join(parts)
        if len(name) <= MAX_VENDOR and name not in seen:
            seen.add(name)
            names.append(name)
    return names


def fuzzy_variant(rng, vendor):
    """A shorter run of the vendor's words (>= 4 characters), or None."""
    words = vendor.split()
    for _ in range(8):
        i = rng.randrange(len(words))
        j = rng.randrange(i + 1, len(words) + 1)
        v = " ".join(words[i:j])
        if v != vendor and len(v) >= 4:
            return v
    return None


def write_mappings(path, rng, vendors):
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    con.execute("""
        CREATE TABLE vendor_mappings (
            id INTEGER PRIMARY KEY AUTOINCREMENT,
            vendor TEXT UNIQUE NOT NULL,
            gl_account TEXT,
            location TEXT,
            program TEXT,
            funder TEXT,
            department TEXT,
            created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
            updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
        )""")
    con.execute("CREATE INDEX idx_vendor_name ON vendor_mappings(vendor)")
    rows = []
    for i, v in enumerate(vendors):
        rows.append((v, f"6{rng.randrange(100, 1000)}0", f"LOC{rng.randrange(12)}",
                     None if rng.random() < 0.1 else f"PROG{rng.randrange(8)}",
                     f"FUNDER {chr(65 + rng.randrange(6))}",
                     None if rng.random() < 0.05 else rng.choice(["OPS", "ADMIN", "FIELD", "IT"]),
                     "2024-01-01 10:00:00", "2024-06-30 23:59:59"))
    con.executemany(
        "INSERT INTO vendor_mappings (vendor, gl_account, location, program, funder,"
        " department, created_at, updated_at) VALUES (?,?,?,?,?,?,?,?)", rows)
    con.commit()
    con.close()
    # ids follow insertion order (AUTOINCREMENT from 1)
    return [(i + 1, r[0], tuple("" if x is None else x for x in r[1:6]))
            for i, r in enumerate(rows)]


class Resolver:
    """The enrichment rule over the mappings, for the truth file."""

    def __init__(self, mappings):
        self.exact = {v: (mid, payload) for mid, v, payload in mappings}
        self.by_id = {mid: payload for mid, _, payload in mappings}
        self.starts, parts, pos = [], [], 0
        self.ids = []
        for mid, v, _ in mappings:
            self.starts.append(pos)
            self.ids.append(mid)
            parts.append(v.lower())
            pos += len(v) + 1
        self.text = "\n".join(parts)
        self.memo = {}

    def resolve(self, vendor):
        if vendor in self.exact:
            return "exact", self.exact[vendor][1]
        if vendor not in self.memo:
            key, best, at = vendor.lower(), None, self.text.find(vendor.lower())
            while at >= 0:
                mid = self.ids[bisect.bisect_right(self.starts, at) - 1]
                best = mid if best is None else min(best, mid)
                at = self.text.find(key, at + 1)
            self.memo[vendor] = ("none", ("",) * 5) if best is None else ("fuzzy", self.by_id[best])
        return self.memo[vendor]


def write_batch(path, rng, n_statements, shape, vendors, fuzzies, resolver):
    os.makedirs(path, exist_ok=True)
    truth = []
    for s in range(n_statements):
        month = rng.randrange(1, 13)
        lines = []
        for _ in range(rng.randrange(*TXNS_PER_STATEMENT)):
            r = rng.random()
            if r < shape["exact"]:
                desc = rng.choice(vendors)
            elif r < shape["exact"] + shape["fuzzy"]:
                desc = rng.choice(fuzzies)
            else:
                desc = " ".join(rng.sample(UNMAPPED, rng.randrange(2, 4)))
            cents = rng.randrange(100, 500000) if rng.random() < 0.5 else rng.randrange(100, 10000)
            if rng.random() < CREDIT_SHARE:
                cents = -cents
            day = rng.randrange(1, 27)
            trans = f"{month:02d}/{day:02d}"
            post = f"{month:02d}/{day + rng.randrange(0, 3):02d}"
            ref = f"{rng.randrange(16 ** 8):08X}"
            lines.append((trans, post, ref, desc, cents))
        lines.sort(key=lambda l: l[1])
        pay_at = rng.randrange(len(lines))
        lines.insert(pay_at, (lines[pay_at][0], lines[pay_at][1], f"{rng.randrange(16 ** 8):08X}",
                              "ONLINE PAYMENT THANK YOU", -rng.randrange(10000, 900000)))
        with open(os.path.join(path, f"stmt_{s:05d}.pdf"), "wb") as f:
            f.write(statement_pdf(rng, rng.randrange(10 ** 8), month, lines))
        for _, post, _, desc, cents in lines:
            if "PAYMENT THANK YOU" in desc:
                continue
            kind, payload = resolver.resolve(desc)
            truth.append("\t".join((post, desc, str(cents), desc) + payload + (kind,)))
    with open(os.path.join(path, "truth.tsv"), "w") as f:
        f.write("\n".join(truth) + "\n")


def generate(workload, seed, out):
    shape = SHAPES[workload]
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(out, exist_ok=True)
    vendors = mapping_vendors(rng, shape["mappings"])
    order = vendors[:]
    rng.shuffle(order)                      # ids independent of name order
    mappings = write_mappings(os.path.join(out, "mappings.db"), rng, order)
    resolver = Resolver(mappings)
    fuzzies = [v for v in (fuzzy_variant(rng, x) for x in vendors) if v and v not in resolver.exact]
    write_batch(os.path.join(out, "warm"), rng, WARM_STATEMENTS, shape, vendors, fuzzies, resolver)
    for b in range(shape["batches"]):
        write_batch(os.path.join(out, f"batch{b}"), rng, shape["statements"], shape,
                    vendors, fuzzies, resolver)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
