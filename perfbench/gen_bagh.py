"""Seeded GOB-format BAGH extract generator with independently computed expectations.

Writes two extracts of ``buurt`` / ``pand`` / ``verblijfsobject``
(semicolon CSV, utf-8-sig, camelCase headers, empty string = NULL,
pipe-lists): ``v1`` is loaded into an empty warehouse, ``v2`` replays
it with changed rows, closed versions, new versions and new keys.

Planted at known per-key rates:

- Q2 overlapping validity ranges (warn only);
- Q3 end before begin (row dropped);
- Q5 dangling ``buurt`` FK on ``verblijfsobject`` (row dropped);
- Q6 wrong geometry type for the table (row dropped);
- J3 dangling pand ids inside the ``ligtIn:BAG.PND`` pipe-lists
  (element dropped, row kept).

No Q1 (two open intervals), Q4 (a key missing on replay) or Q7
(duplicate ids) violation is planted: each of those aborts the job.

The expected per-table counts are derived here from the generated rows
with plain Python, not from the program: staged, inserted, updated and
rejected rows per phase, the Q2 warning count (the reference's pairwise
predicate), and the bridge rows after each phase.

Run ``python3 perfbench/gen_bagh.py --seed 1 --out gob`` to write the
extracts the ``bagh_import`` workload runs on (``SCALE``) and print the
expectations.
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import json
import os
import random

BUURT_HEADERS = [
    "identificatie", "volgnummer", "registratiedatum", "beginGeldigheid",
    "eindGeldigheid", "geometrie", "naam", "code", "cbsCode",
    "documentdatum", "documentnummer",
    "ligtIn:GBD.WIJK.identificatie", "ligtIn:GBD.WIJK.volgnummer",
    "ligtIn:GBD.GGW.identificatie", "ligtIn:GBD.GGW.volgnummer",
    "ligtIn:GBD.SDL.identificatie", "ligtIn:GBD.SDL.volgnummer",
]
PAND_HEADERS = [
    "identificatie", "volgnummer", "registratiedatum", "beginGeldigheid",
    "eindGeldigheid", "geometrie", "status", "documentdatum",
    "documentnummer", "aanduidingInOnderzoek", "geconstateerd",
]
VBO_HEADERS = PAND_HEADERS + [
    "oppervlakte", "verdiepingToegang", "hoogsteBouwlaag", "laagsteBouwlaag",
    "aantalKamers", "eigendomsverhouding", "gebruiksdoel",
    "gebruiksdoelWoonfunctie", "gebruiksdoelGezondheidszorgfunctie",
    "toegang", "redenopvoer",
    "heeftIn:BAG.NAG.identificatieHoofdadres",
    "heeftIn:BAG.NAG.volgnummerHoofdadres",
    "heeftIn:BAG.NAG.identificatieNevenadres",
    "heeftIn:BAG.NAG.volgnummerNevenadres",
    "ligtIn:GBD.BRT.identificatie", "ligtIn:GBD.BRT.volgnummer",
    "ligtIn:BAG.PND.identificatie", "ligtIn:BAG.PND.volgnummer",
]

TABLES = ("buurt", "pand", "verblijfsobject")
FILES = {
    "buurt": "GBD_buurt_ActueelEnHistorie.csv",
    "pand": "BAG_pand_ActueelEnHistorie.csv",
    "verblijfsobject": "BAG_verblijfsobject_ActueelEnHistorie.csv",
}
HEADERS = {"buurt": BUURT_HEADERS, "pand": PAND_HEADERS, "verblijfsobject": VBO_HEADERS}
PREFIX = {"buurt": "BU", "pand": "PD", "verblijfsobject": "VB"}
# keys per table at scale 1.0
BASE_KEYS = {"buurt": 600, "pand": 1500, "verblijfsobject": 2500}
# the scale the bagh_import workload runs at (see README.md for why)
SCALE = 2.0

# per-key rates of planted events
RATE_Q2 = 0.06
RATE_Q3 = 0.02
RATE_Q6 = 0.02
RATE_Q5 = 0.03  # verblijfsobject only
RATE_J3 = 0.05  # verblijfsobject only, per row
RATE_CHANGED = 0.08
RATE_NEW_VERSION = 0.05
RATE_NEW_KEY = 0.02

# the value each table's replay rewrites in a changed row
CHANGED_COLUMN = {"buurt": "naam", "pand": "status", "verblijfsobject": "oppervlakte"}

# volgnummers of planted reject rows: never reused by a real version
VOLG_Q3, VOLG_Q6, VOLG_Q5 = 90, 91, 92

DAY0 = dt.date(2005, 1, 1)


def _poly(rng: random.Random) -> str:
    x, y = rng.randint(100000, 130000), rng.randint(480000, 500000)
    w, h = rng.randint(5, 90), rng.randint(5, 90)
    return (
        f"POLYGON(({x} {y}, {x} {y + h}, {x + w} {y + h}, {x + w} {y}, {x} {y}))"
    )


def _mpoly(rng: random.Random) -> str:
    return "MULTIPOLYGON(" + _poly(rng)[len("POLYGON"):] + ")"


def _point(rng: random.Random) -> str:
    return f"POINT({rng.randint(100000, 130000)} {rng.randint(480000, 500000)})"


def _good_geometry(table: str, rng: random.Random) -> str:
    if table == "buurt":
        return _poly(rng) if rng.random() < 0.5 else _mpoly(rng)
    if table == "pand":
        return _poly(rng)
    return _point(rng)


def _bad_geometry(table: str, rng: random.Random) -> str:
    # a valid WKT of a type the table's geotype does not accept
    return _point(rng) if table == "buurt" else _mpoly(rng) if table == "pand" else _poly(rng)


def _date(day: int) -> str:
    return (DAY0 + dt.timedelta(days=day)).isoformat()


def _versions(rng: random.Random, n: int, overlap: bool) -> list[tuple[int, int | None]]:
    """(begin_day, end_day or None) per version; the last one is open."""
    day = rng.randint(0, 2000)
    spans = []
    for i in range(n):
        length = rng.randint(200, 800)
        spans.append((day, None if i == n - 1 else day + length))
        day += length
    if overlap and n >= 2:
        b0, e0 = spans[0]
        spans[0] = (b0, e0 + rng.randint(10, 150))  # runs into version 2
    return spans


class Extract:
    """The rows of one phase, per table, in file order."""

    def __init__(self) -> None:
        self.rows: dict[str, list[dict]] = {t: [] for t in TABLES}
        self.rejects: dict[str, dict[str, set[str]]] = {
            t: {"q3": set(), "q6": set(), "q5": set()} for t in TABLES
        }

    def write(self, out_dir: str) -> dict[str, dict[str, int]]:
        os.makedirs(out_dir, exist_ok=True)
        sizes = {}
        for t in TABLES:
            path = os.path.join(out_dir, FILES[t])
            with open(path, "w", encoding="utf-8-sig", newline="") as fh:
                w = csv.DictWriter(fh, fieldnames=HEADERS[t], delimiter=";", quotechar='"')
                w.writeheader()
                for r in self.rows[t]:
                    w.writerow({h: r.get(h, "") for h in HEADERS[t]})
            sizes[t] = {"rows": len(self.rows[t]), "bytes": os.path.getsize(path)}
        return sizes


def _rid(row: dict) -> str:
    return f"{row['identificatie']}_{int(row['volgnummer']):03d}"


def _base_row(table: str, rng: random.Random, ident: str, volg: int,
              span: tuple[int, int | None]) -> dict:
    b, e = span
    row = {
        "identificatie": ident,
        "volgnummer": str(volg),
        "registratiedatum": f"{_date(b)}T{rng.randint(6, 20):02d}:{rng.randint(0, 59):02d}:00",
        "beginGeldigheid": _date(b),
        "eindGeldigheid": "" if e is None else _date(e),
        "geometrie": "" if rng.random() < 0.03 else _good_geometry(table, rng),
        "documentdatum": _date(b + rng.randint(0, 30)),
        "documentnummer": f"D{rng.randint(0, 10**8):08d}",
    }
    if table == "buurt":
        n = int(ident[2:])
        row.update({"naam": f"Buurt {n}", "code": f"B{n:05d}", "cbsCode": f"BU0363{n:05d}"})
    else:
        row.update({
            "status": rng.choice(["in gebruik", "verbouwing", "bouw gestart"]),
            "aanduidingInOnderzoek": rng.choice(["J", "N", "N", ""]),
            "geconstateerd": rng.choice(["J", "N", "N"]),
        })
    return row


def _vbo_attrs(rng: random.Random, n: int, buurt_ref: tuple[str, str] | None,
               pand_refs: list[tuple[str, str]]) -> dict:
    uses = rng.sample(["woonfunctie", "kantoorfunctie", "winkelfunctie", "industriefunctie"],
                      rng.randint(1, 2))
    neven = rng.random() < 0.15
    return {
        "oppervlakte": str(rng.randint(15, 400)),
        "verdiepingToegang": str(rng.randint(0, 9)),
        "hoogsteBouwlaag": str(rng.randint(0, 12)),
        "laagsteBouwlaag": str(rng.randint(0, 2)),
        "aantalKamers": str(rng.randint(1, 8)),
        "eigendomsverhouding": rng.choice(["Eigendom", "Huur", ""]),
        "gebruiksdoel": "|".join(uses),
        "gebruiksdoelWoonfunctie": "woning" if "woonfunctie" in uses else "",
        "gebruiksdoelGezondheidszorgfunctie": "",
        "toegang": rng.choice(["trap", "lift|trap", ""]),
        "redenopvoer": rng.choice(["nieuwbouw", "splitsing", ""]),
        "heeftIn:BAG.NAG.identificatieHoofdadres": f"NA{n:06d}",
        "heeftIn:BAG.NAG.volgnummerHoofdadres": "1",
        "heeftIn:BAG.NAG.identificatieNevenadres": f"NA{n:06d}|NB{n:06d}" if neven else "",
        "heeftIn:BAG.NAG.volgnummerNevenadres": "1|2" if neven else "",
        "ligtIn:GBD.BRT.identificatie": buurt_ref[0] if buurt_ref else "",
        "ligtIn:GBD.BRT.volgnummer": buurt_ref[1] if buurt_ref else "",
        "ligtIn:BAG.PND.identificatie": "|".join(p for p, _ in pand_refs),
        "ligtIn:BAG.PND.volgnummer": "|".join(v for _, v in pand_refs),
    }


def generate(seed: int, scale: float = 1.0) -> tuple[Extract, Extract]:
    """Build the v1 (load) and v2 (replay) extracts for ``seed``."""
    rng = random.Random(seed)
    v1 = Extract()
    keys = {t: max(20, int(BASE_KEYS[t] * scale)) for t in TABLES}
    accepted_versions: dict[str, list[tuple[str, str]]] = {t: [] for t in TABLES}

    for t in TABLES:
        for n in range(1, keys[t] + 1):
            ident = f"{PREFIX[t]}{n:06d}"
            nv = rng.randint(1, 3)
            spans = _versions(rng, nv, rng.random() < RATE_Q2)
            for i, span in enumerate(spans):
                row = _base_row(t, rng, ident, i + 1, span)
                if t == "verblijfsobject":
                    row.update(_vbo_refs(rng, n, accepted_versions))
                v1.rows[t].append(row)
                accepted_versions[t].append((ident, str(i + 1)))
            last_begin = spans[-1][0]
            # planted rejects are closed, so they never add an open interval
            if rng.random() < RATE_Q3:
                row = _base_row(t, rng, ident, VOLG_Q3, (last_begin + 30, last_begin + 10))
                if t == "verblijfsobject":
                    row.update(_vbo_refs(rng, n, accepted_versions))
                v1.rows[t].append(row)
                v1.rejects[t]["q3"].add(_rid(row))
            if rng.random() < RATE_Q6:
                row = _base_row(t, rng, ident, VOLG_Q6, (last_begin - 400, last_begin - 390))
                row["geometrie"] = _bad_geometry(t, rng)
                if t == "verblijfsobject":
                    row.update(_vbo_refs(rng, n, accepted_versions))
                v1.rows[t].append(row)
                v1.rejects[t]["q6"].add(_rid(row))
            if t == "verblijfsobject" and rng.random() < RATE_Q5:
                row = _base_row(t, rng, ident, VOLG_Q5, (last_begin - 300, last_begin - 290))
                row.update(_vbo_refs(rng, n, accepted_versions))
                row["ligtIn:GBD.BRT.identificatie"] = "BU999999"
                row["ligtIn:GBD.BRT.volgnummer"] = "1"
                v1.rows[t].append(row)
                v1.rejects[t]["q5"].add(_rid(row))

    v2 = Extract()
    v2.rejects = {t: {k: set(s) for k, s in v1.rejects[t].items()} for t in TABLES}
    for t in TABLES:
        rejected = set().union(*v1.rejects[t].values())
        by_key: dict[str, list[dict]] = {}
        for r in v1.rows[t]:
            r2 = dict(r)
            if _rid(r) not in rejected and rng.random() < RATE_CHANGED:
                r2[CHANGED_COLUMN[t]] = _changed_value(t, r[CHANGED_COLUMN[t]])
            v2.rows[t].append(r2)
            if _rid(r) not in rejected:
                by_key.setdefault(r["identificatie"], []).append(r2)
        for ident, versions in by_key.items():
            if rng.random() >= RATE_NEW_VERSION:
                continue
            open_row = next(r for r in versions if r["eindGeldigheid"] == "")
            begin = dt.date.fromisoformat(open_row["beginGeldigheid"])
            new_begin = (begin - DAY0).days + rng.randint(30, 400)
            open_row["eindGeldigheid"] = _date(new_begin)
            new = dict(open_row)
            new.update({
                "volgnummer": str(max(int(r["volgnummer"]) for r in versions) + 1),
                "beginGeldigheid": _date(new_begin),
                "eindGeldigheid": "",
                "registratiedatum": f"{_date(new_begin)}T12:00:00",
            })
            v2.rows[t].append(new)
            accepted_versions[t].append((ident, new["volgnummer"]))
        for n in range(keys[t] + 1, keys[t] + 1 + max(1, int(keys[t] * RATE_NEW_KEY))):
            ident = f"{PREFIX[t]}{n:06d}"
            row = _base_row(t, rng, ident, 1, (rng.randint(3000, 4000), None))
            if t == "verblijfsobject":
                row.update(_vbo_refs(rng, n, accepted_versions))
            v2.rows[t].append(row)
            accepted_versions[t].append((ident, "1"))
    return v1, v2


def _changed_value(table: str, old: str) -> str:
    if table == "buurt":
        return old + " (gewijzigd)"
    if table == "pand":
        return "gesloopt" if old != "gesloopt" else "in gebruik"
    return str(int(old) + 1000)


def _vbo_refs(rng: random.Random, n: int,
              accepted: dict[str, list[tuple[str, str]]]) -> dict:
    buurt_ref = None if rng.random() < 0.05 else rng.choice(accepted["buurt"])
    panden = {}
    while len(panden) < rng.randint(1, 3):
        p, v = rng.choice(accepted["pand"])
        panden.setdefault(p, v)  # one version per pand: no duplicate bridge ids
    refs = list(panden.items())
    if rng.random() < RATE_J3:
        refs.insert(rng.randint(0, len(refs)), ("PD999999", "1"))
    return _vbo_attrs(rng, n, buurt_ref, refs)


def _overlap_rows(rows: list[dict]) -> int:
    """Q2 by the reference's pairwise predicate: rows whose begin lies
    strictly after another version's begin and before its end."""
    by_key: dict[str, list[tuple[str, str]]] = {}
    for r in rows:
        by_key.setdefault(r["identificatie"], []).append(
            (r["beginGeldigheid"], r["eindGeldigheid"])
        )
    n = 0
    for spans in by_key.values():
        for b1, _ in spans:
            if any(b2 < b1 and (e2 == "" or b1 < e2) for b2, e2 in spans):
                n += 1
    return n


def expectations(v1: Extract, v2: Extract) -> dict:
    """Per-phase, per-table counts the job must report and commit."""
    out: dict = {}
    table_ids: dict[str, dict[str, dict]] = {t: {} for t in TABLES}
    for phase, ex in (("load", v1), ("replay", v2)):
        ph: dict = {}
        for t in TABLES:
            rej = ex.rejects[t]
            rejected = set().union(*rej.values())
            staged = [r for r in ex.rows[t] if _rid(r) not in rejected]
            before = table_ids[t]
            inserted = [r for r in staged if _rid(r) not in before]
            updated = [r for r in staged if _rid(r) in before and before[_rid(r)] != r]
            ph[t] = {
                "staged_rows": len(staged),
                "inserted": len(inserted),
                "updated": len(updated),
                "rejected_bad_range": len(rej["q3"]),
                "rejected_geometry": len(rej["q6"]),
                "rejected_fk": len(rej["q5"]),
                "overlap_warnings": _overlap_rows(staged),
            }
            table_ids[t] = {**before, **{_rid(r): r for r in staged}}
            ph[t]["table_rows"] = len(table_ids[t])
        pand_ids = set(table_ids["pand"])
        vbo_ids = set(table_ids["verblijfsobject"])
        bridge = 0
        for r in ex.rows["verblijfsobject"]:
            if _rid(r) not in vbo_ids:
                continue
            ids = r["ligtIn:BAG.PND.identificatie"].split("|")
            volgs = r["ligtIn:BAG.PND.volgnummer"].split("|")
            bridge += sum(f"{i}_{int(v):03d}" in pand_ids for i, v in zip(ids, volgs))
        ph["bridge_rows"] = bridge
        out[phase] = ph
    # the replay's rewritten values, for the committed-value check
    changed = {}
    for t in TABLES:
        col = CHANGED_COLUMN[t]
        old = {_rid(r): r[col] for r in v1.rows[t]}
        changed[t] = {
            _rid(r): r[col] for r in v2.rows[t]
            if _rid(r) in old and old[_rid(r)] != r[col]
            and _rid(r) not in set().union(*v2.rejects[t].values())
        }
    out["changed"] = changed
    out["changed_column"] = CHANGED_COLUMN
    return out


def write_extracts(seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Write ``<out_dir>/v1`` and ``<out_dir>/v2``; return expectations and sizes."""
    v1, v2 = generate(seed, scale)
    exp = expectations(v1, v2)
    exp["sizes"] = {
        "v1": v1.write(os.path.join(out_dir, "v1")),
        "v2": v2.write(os.path.join(out_dir, "v2")),
    }
    return exp


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    exp = write_extracts(args.seed, args.out, SCALE)
    exp.pop("changed")
    print(json.dumps(exp, indent=1))


if __name__ == "__main__":
    main()
