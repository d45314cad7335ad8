"""Seeded input generator of the etl workload: the messy daily sales
batch of the CSV->DB pipeline, with ground truth for what the database
must hold after loading it.

Everything here is a pure function of its seed: the same seed gives
byte-identical files. The program under test only ever sees the files.
The query workload reads the repository's fixed test tables instead
(``data/``), not generated ones.
"""
import csv
import datetime
import io

import numpy as np

HEADER = ["transaction_id", "customer_id", "product_name", "quantity",
          "unit_price", "transaction_date", "region", "status"]
PRODUCTS = ["Widget", "Gadget", "Gizmo", "Sprocket", "Café crème",
            "Doohickey, large", "Thingamajig", "Über-Bolt", "Flange 10mm",
            "Ratchet Pro"]
REGIONS = ["north", "south", "east", "west", "central"]
STATUSES = ["completed", "pending", "cancelled"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]
EPOCH = datetime.date(2023, 1, 1)

# A dirty row breaks exactly one rule of graft.etl.Validate.
DIRTY_KINDS = ["missing_id", "bad_date", "bad_price", "no_total",
               "bad_status"]
DIRTY_SHARE = 0.08
DUP_SHARE = 0.2  # of dirty rows with an id: reuse a clean row's raw id


SPACES = ["", " "]


def _cased(k, s):
    return s.lower() if k == 0 else s.upper() if k == 1 else s.capitalize()


def _date_texts():
    """Every date of the two-year window in each of the five spellings the
    pipeline parses: [format][day offset]."""
    days = [EPOCH + datetime.timedelta(days=i) for i in range(731)]
    return [[d.isoformat() for d in days],
            [f"{d.year}-{d.month}-{d.day}" for d in days],
            [f"{d.day:02d}/{d.month:02d}/{d.year}" for d in days],
            [f"{d.day}/{d.month}/{d.year}" for d in days],
            [f"{MONTHS[d.month - 1]} {d.day:02d} {d.year}" for d in days]]


def sales_plan(seed, n_rows):
    """Which rows are dirty, how, and under which raw id. Shared by every
    version of the batch, so a re-run meets the same keys. Spaces around
    values are ones the pipeline trims (Spark's trim strips ' ' only)."""
    rng = np.random.default_rng([seed, 1])
    dirty = rng.random(n_rows) < DIRTY_SHARE
    kinds = rng.integers(0, len(DIRTY_KINDS), n_rows)
    # every rule is broken at least once, whatever the seed
    dirty[:len(DIRTY_KINDS)] = True
    kinds[:len(DIRTY_KINDS)] = np.arange(len(DIRTY_KINDS))
    case, lead, trail = (rng.integers(0, k, n_rows) for k in (3, 2, 2))
    blank = rng.random(n_rows) < 0.5
    dup, pick = rng.random(n_rows) < DUP_SHARE, rng.random(n_rows)
    clean_pos = np.flatnonzero(~dirty)
    clean_before = np.cumsum(~dirty) - (~dirty)
    raw_ids = [SPACES[lead[i]] + _cased(case[i], f"txn-{seed % 100000:05d}-{i:07d}")
               + SPACES[trail[i]] for i in range(n_rows)]
    missing = dirty & (kinds == DIRTY_KINDS.index("missing_id"))
    for i in np.flatnonzero(missing):
        raw_ids[i] = "" if blank[i] else "   "
    for i in np.flatnonzero(dirty & ~missing & dup & (clean_before > 0)):
        raw_ids[i] = raw_ids[clean_pos[int(pick[i] * clean_before[i])]]
    return dirty, kinds, raw_ids


BROKEN = {"bad_date": (5, ["not-a-date", "31.12.2024", ""]),
          "bad_price": (4, ["-5.00", "0.00", "n/a"]),
          "no_total": (3, ["two", "", "x"]),
          "bad_status": (7, ["shipped", "REFUNDED", " returned"])}


def sales_csv(seed, n_rows, version):
    """(csv bytes, truth) for one version of the batch. Versions share ids
    and the dirty rows; clean rows get new values per version."""
    dirty, kinds, raw_ids = sales_plan(seed, n_rows)
    rng = np.random.default_rng([seed, 2, version])
    n = n_rows
    cust = rng.integers(1, 50001, n)
    product = rng.integers(0, len(PRODUCTS), n)
    qty = rng.integers(1, 21, n)
    cents = rng.integers(100, 50001, n)
    day = rng.integers(0, 731, n)
    date_fmt = rng.integers(0, 5, n)
    region = rng.integers(0, len(REGIONS), n)
    status = np.where(rng.random(n) < 0.05, -1, rng.integers(0, 3, n))
    pads = rng.integers(0, 2, (6, n))
    cases = rng.integers(0, 3, (2, n))
    broken_pick = rng.integers(0, 3, n)
    dates = _date_texts()
    rows = []
    for i in range(n):
        st = status[i]
        row = [raw_ids[i], str(cust[i]),
               SPACES[pads[0, i]] + PRODUCTS[product[i]] + SPACES[pads[1, i]],
               str(qty[i]), f"{cents[i] // 100}.{cents[i] % 100:02d}",
               dates[date_fmt[i]][day[i]],
               SPACES[pads[2, i]] + _cased(cases[0, i], REGIONS[region[i]])
               + SPACES[pads[3, i]],
               "" if st < 0 else SPACES[pads[4, i]]
               + _cased(cases[1, i], STATUSES[st]) + SPACES[pads[5, i]]]
        if dirty[i]:
            broken = BROKEN.get(DIRTY_KINDS[kinds[i]])
            if broken:
                row[broken[0]] = broken[1][broken_pick[i]]
        rows.append(row)
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(HEADER)
    w.writerows(rows)

    ok = ~dirty
    d = np.array([(EPOCH + datetime.timedelta(days=i)) for i in range(731)])
    ymd = np.array([x.year * 10000 + x.month * 100 + x.day for x in d])
    plen = np.array([len(p) for p in PRODUCTS])
    rlen = np.array([len(r) for r in REGIONS])
    n_clean = int(ok.sum())
    truth = dict(
        n_input=n, n_clean=n_clean, n_rejected=n - n_clean,
        duplicate_ids=n - len(set(raw_ids)),
        clean_rows=n_clean,
        sum_quantity=int(qty[ok].sum()),
        sum_price_cents=int(cents[ok].sum()),
        sum_total_cents=int((qty[ok] * cents[ok]).sum()),
        sum_customer_id=int(cust[ok].sum()),
        sum_date=int(ymd[day[ok]].sum()),
        sum_text_len=int(plen[product[ok]].sum() + rlen[region[ok]].sum()),
        n_completed=int((status[ok] == 0).sum()),
        n_loaded_at=n_clean)
    return out.getvalue().encode("utf-8"), truth
