#!/usr/bin/env python3
"""Seeded synthetic corpus of NHS publications for the `nhs_panels` workload.

Writes, under --out:
  rtt/            RTT wait-time workbooks (incomplete pathway), monthly: the
                  early vintage as legacy .xls (jan07-dec10 column names),
                  the later as .xlsx (apr13+ names, 52-53 band, 104-week
                  total)
  cc/             critical-care monthly .xlsx (sheet "Critical Care Beds",
                  14-row preamble) plus an England summary the reader skips
  successors.csv  org successor edges: mergers, a name change, 3-hop
                  chains, clean splits and a split-from-multiple
  manifest.json   seed, sizes, and the closed-form expected measure sums

Every trust-row measure is an integer count, so sums over any regrouping
are exact in IEEE doubles.

    python3 perfbench/gen/nhs_corpus.py --seed 1 --out DIR [--size smoke]
"""
import argparse
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from workbooks import xls, xlsx  # noqa: E402

SIZES = {
    # trusts, specialties, RTT months (early vintage share 1/3),
    # critical-care months
    "bench": dict(trusts=600, specs=4, rtt_months=6, cc_months=4),
    "smoke": dict(trusts=60, specs=2, rtt_months=3, cc_months=2),
}
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
CC_KEYS = ["adult_critical_care_beds", "paediatric_intensive_care_beds",
           "neonatal_critical_care_cots_or_beds"]


def trust_codes(rng, n):
    alnum = "ABCDEFGHJKLMNPQRSTUVWXYZ0123456789"
    codes = sorted("R" + a + b for a in alnum for b in alnum)
    rng.shuffle(codes)
    return codes[:n]


def org_changes(codes):
    """Successor edges per 50-trust block (by position in the seeded code
    order) and the codes that stop reporting once their change lands."""
    edges, stopped = [], set()
    for b in range(0, len(codes) - 49, 50):
        c = lambda r: codes[b + r]
        block = [
            (c(1), c(0), "2015-04-01"), (c(2), c(0), "2015-04-01"),   # mergers
            (c(3), c(4), "2015-10-01"),                                # single merger
            (c(5), c(6), "2014-04-01"), (c(6), c(7), "2015-04-01"),   # 3-hop chain
            (c(7), c(8), "2016-04-01"),
            (c(10), c(11), "2015-04-01"), (c(10), c(12), "2015-04-01"),  # clean split
            (c(20), c(22), "2015-04-01"), (c(20), c(23), "2015-04-01"),  # split from
            (c(21), c(22), "2015-04-01"), (c(21), c(24), "2015-04-01"),  # multiple
        ]
        edges += block
        stopped |= {c(r) for r in (1, 2, 3, 5, 6, 7, 10, 20, 21)}
    if not edges:
        raise SystemExit("nhs_corpus: need at least 50 trusts for the org-change design")
    return edges, stopped


def reporting(codes, stopped, i, n):
    """Codes with a row in period i of n: changed codes stop at 2/3."""
    return [t for t in codes if t not in stopped or i < (2 * n) // 3]


def write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def fiscal(year, month_idx):
    """NHS fiscal year label ("2012-13") of a calendar month (0-based)."""
    start = year if month_idx >= 3 else year - 1
    return f"{start}-{(start + 1) % 100:02d}"


def generate(seed, out, size):
    p = SIZES[size]
    rng = random.Random(seed)
    codes = trust_codes(rng, p["trusts"])
    names = {t: f"{t} NHS Trust" for t in codes}
    edges, stopped = org_changes(codes)
    sums = {}
    staged_rows = 0
    workbooks = 0

    def add(key, v):
        sums[key] = sums.get(key, 0) + v

    # ---- RTT wait times ----
    specs = [(f"C_{100 + s}", f"Specialty {s}") for s in range(p["specs"])]
    # the incomplete pathway: its adjustment also re-derives percent and median
    pw = "incomplete"
    n_rtt = p["rtt_months"]
    early = n_rtt // 3
    for i in range(n_rtt):
        y, m = 2012 + (i + 3) // 12, (i + 3) % 12
        rows = []
        for t in reporting(codes, stopped, i, n_rtt):
            for tfc, tf in specs:
                b = [rng.randrange(13), rng.randrange(7), rng.randrange(11), rng.randrange(5)]
                tot = sum(b)
                for k, v in zip(["between_0_17", "between_17_18", "between_18_52",
                                 "between_52_plus", "total"], b + [tot]):
                    add(f"rtt.{pw}.{k}", v)
                if i < early:
                    pct = (b[0] + b[1]) / tot if tot else 0.0
                    rows.append([t, names[t], "Q99", tfc, tf] + b + [tot, pct])
                else:
                    rows.append(["Y56", t, names[t], tfc, tf] + b[:3]
                                + [rng.randrange(3), b[3], rng.randrange(2), tot])
        staged_rows += len(rows)
        fname = f"RTT_{pw}_{y}-{m + 1:02d}"
        if i < early:
            header = ["Code", "Provider", "SHA", "Treatment Function Code",
                      "Treatment Function", "0-17", "17-18", "18-52", "52 plus",
                      "Total (all)", "Percent within 18 weeks (column BJ / column BI)"]
            pre = [["Referral to Treatment waiting times"],
                   [f"Period: {MONTHS[m]} {y}"], [None]]
            write(os.path.join(out, "rtt", fname + ".xls"),
                  xls([("Provider", pre + [header] + rows)]))
        else:
            header = ["Region Code", "Provider Code", "Provider Name",
                      "Treatment Function Code", "Treatment Function", "0-17",
                      "17-18", "18-52", "52-53", "Total 52 plus weeks",
                      "Total 104 plus weeks",
                      "Total number of incomplete pathways"]
            pre = [["Referral to Treatment waiting times"], [f"{MONTHS[m]} {y}"],
                   ["Published by NHS England"], ["Experimental statistics"], [None]]
            write(os.path.join(out, "rtt", fname + ".xlsx"),
                  xlsx([("Provider", pre + [header] + rows)]))
        workbooks += 1

    # ---- critical care, monthly ----
    n_cc = p["cc_months"]
    cc_head = ["Code", "Org Name", "Region", "Year", "Month", "Notes",
               "Adult open", "Paediatric open", "Neonatal open",
               "Adult occupied", "Paediatric occupied", "Neonatal occupied",
               "Adult % occupied", "Paediatric % occupied", "Neonatal % occupied",
               "Non-medical transfers"]
    pre14 = [["Critical Care Bed Capacity and Urgent Operations Cancelled"]] + \
            [[f"note {k}"] for k in range(12)] + [[None]]
    for i in range(n_cc):
        y, m = 2012 + (i + 3) // 12, (i + 3) % 12
        fy = fiscal(y, m)
        rows = []
        for t in reporting(codes, stopped, i, n_cc):
            opened = [rng.randrange(0, 40), rng.randrange(0, 10), rng.randrange(0, 20)]
            occ = [rng.randrange(0, o + 1) for o in opened]
            transfers = rng.randrange(4)
            pct = [round(o / a, 2) if a else None for o, a in zip(occ, opened)]
            for k, a, o in zip(CC_KEYS, opened, occ):
                add(f"cc.number_of_{k}_open", a)
                add(f"cc.number_of_{k}_occupied", o)
            add("cc.number_of_non_medical_critical_care_transfers", transfers)
            rows.append([t, names[t], "London", fy, MONTHS[m], None]
                        + opened + occ + pct + [transfers])
        staged_rows += len(rows)
        sheets = [("Notes", [["Definitions"]]),
                  ("Critical Care Beds", pre14 + [cc_head] + rows)]
        write(os.path.join(out, "cc", f"CC_{MONTHS[m]}_{fy}.xlsx"), xlsx(sheets))
        workbooks += 1
    # an England summary in the same drop; the family's file filter skips it
    write(os.path.join(out, "cc", "CC_England_summary.xlsx"),
          xlsx([("Critical Care Beds", pre14 + [["England"], ["total", 1]])]))

    # ---- successor edges ----
    with open(os.path.join(out, "successors.csv"), "w") as f:
        f.write("old_code,new_code,change_date\n")
        f.writelines(f"{a},{b},{d}\n" for a, b, d in edges)

    manifest = dict(seed=seed, size=size, trusts=len(codes), specialties=p["specs"],
                    rtt_months=n_rtt, cc_months=n_cc,
                    workbooks=workbooks, staged_rows=staged_rows,
                    successor_edges=len(edges), sums=sums)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="bench")
    a = ap.parse_args()
    m = generate(a.seed, a.out, a.size)
    print(json.dumps({k: v for k, v in m.items() if k != "sums"}))


if __name__ == "__main__":
    main()
