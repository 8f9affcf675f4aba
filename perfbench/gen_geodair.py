"""Seeded generator of GEODAIR-shaped hourly-average CSV exports.

The shape follows FIXTURES.md section 1: UTF-8 with BOM, `;` separator,
the 23 French headers in file order, one file per pollutant and day named
`polluant-{code}_{YYYY-MM-DD}.csv`, sparse `valeur`/`valeur brute`,
always-empty coverage columns, and CO rows with `validité=-1`.

Two kinds of repeated rows make silver dedup do real work:
  * DUP_RATE of each day's rows are copied verbatim into the next day's
    file of the same pollutant (a re-export overlap);
  * REVISION_RATE of each day's rows reappear in the next day's file
    with the raw (`brute`) value kind, the same (site, hour) key and a
    revised value, so first-row-per-key has to choose.

Neither kind adds a (site, hour) key, so the gold row count is known
before the pipeline runs: the number of sites measured by at least one
pollutant, times days, times 24 hours.
"""

import datetime
import os
import random

HEADERS = [
    "Date de début", "Date de fin", "Organisme", "code zas", "Zas",
    "code site", "nom site", "type d'implantation", "Polluant",
    "type d'influence", "discriminant", "Réglementaire",
    "type d'évaluation", "procédure de mesure", "type de valeur",
    "valeur", "valeur brute", "unité de mesure", "taux de saisie",
    "couverture temporelle", "couverture de données", "code qualité",
    "validité"]

# (code, short name, unit) of Pollutants.default, in its order
POLLUTANTS = [("01", "SO2", "µg-m3"), ("03", "NO2", "µg-m3"),
              ("04", "CO", "mg-m3"), ("08", "O3", "µg-m3"),
              ("12", "NOX", "µg-m3")]

DUP_RATE = 0.04
REVISION_RATE = 0.01
SPARSE_VALUE_RATE = 0.03   # non-CO rows with empty valeur/valeur brute
CO_INVALID_RATE = 0.30     # CO rows with empty values, N quality, -1
SITE_COVERAGE = 0.8        # chance a site measures a given pollutant
FIRST_DAY = datetime.date(2025, 3, 7)

ORGS = [("ATMO SUD", "FR93ZAG01", "ZAG MARSEILLE-AIX"),
        ("AIRPARIF", "FR04ZAG02", "ZAG PARIS"),
        ("ATMO AURA", "FR84ZAG03", "ZAG LYON")]
IMPLANTATIONS = ["Urbaine", "Périurbaine", "Rurale", "Industrielle"]
INFLUENCES = ["Fond", "Trafic", "Industrielle"]


def plan(seed, days, sites):
    """The corpus layout for a seed: which pollutants each site measures.
    Every site measures at least one pollutant."""
    rng = random.Random(seed)
    measured = {}
    for s in range(sites):
        ps = [code for code, _, _ in POLLUTANTS
              if rng.random() < SITE_COVERAGE]
        measured[s] = ps or [POLLUTANTS[s % len(POLLUTANTS)][0]]
    return measured


def expected_gold_rows(seed, days, sites):
    """Gold rows, computed from the plan alone: one per (site, hour) key
    that any pollutant measures."""
    measured = plan(seed, days, sites)
    return sum(1 for s in measured if measured[s]) * days * 24


def _fmt(x):
    return ("%.3f" % x).rstrip("0").rstrip(".")


def generate(out_dir, seed, days, sites):
    """Write the corpus; return (data rows, bytes written)."""
    os.makedirs(out_dir, exist_ok=True)
    measured = plan(seed, days, sites)
    rng = random.Random(seed * 7919 + 1)
    data_rows, nbytes = 0, 0
    for code, short, unit in POLLUTANTS:
        carry = []  # rows of the previous day repeated in this day's file
        for d in range(days):
            day = FIRST_DAY + datetime.timedelta(days=d)
            rows = []
            for s in range(sites):
                if code not in measured[s]:
                    continue
                org, zas_code, zas = ORGS[s % len(ORGS)]
                site = "FR%05d" % (2000 + s)
                for h in range(24):
                    t0 = datetime.datetime(day.year, day.month, day.day, h)
                    t1 = t0 + datetime.timedelta(hours=1)
                    invalid = short == "CO" and rng.random() < CO_INVALID_RATE
                    sparse = not invalid and rng.random() < SPARSE_VALUE_RATE
                    v = rng.gauss(20.0, 8.0) if short != "CO" else rng.gauss(0.3, 0.1)
                    value = "" if invalid or sparse else _fmt(v)
                    raw = "" if invalid or sparse else _fmt(v + rng.gauss(0, 0.05))
                    rows.append([
                        t0.strftime("%Y/%m/%d %H:%M:%S"),
                        t1.strftime("%Y/%m/%d %H:%M:%S"),
                        org, zas_code, zas, site, "Station %d" % s,
                        IMPLANTATIONS[s % len(IMPLANTATIONS)], short,
                        INFLUENCES[s % len(INFLUENCES)],
                        "" if s % 5 == 0 else "A", "Oui",
                        "mesures fixes" if s % 7 else "mesures indicatives",
                        "Auto %s Conf app API %d" % (short, 100 + s % 9),
                        "moyenne horaire validée", value, raw, unit,
                        "", "", "",
                        "N" if invalid else "A",
                        "-1" if invalid else "1"])
            body = carry + rows
            carry = []
            for r in rows:
                u = rng.random()
                if u < DUP_RATE:
                    carry.append(list(r))
                elif u < DUP_RATE + REVISION_RATE and r[15]:
                    rev = list(r)
                    rev[14] = "moyenne horaire brute"
                    rev[15] = _fmt(float(r[15]) + 0.5)
                    carry.append(rev)
            path = os.path.join(out_dir, "polluant-%s_%s.csv" % (code, day.isoformat()))
            text = "\ufeff" + ";".join(HEADERS) + "\n" + \
                "".join(";".join(r) + "\n" for r in body)
            data = text.encode("utf-8")
            with open(path, "wb") as f:
                f.write(data)
            data_rows += len(body)
            nbytes += len(data)
    return data_rows, nbytes
