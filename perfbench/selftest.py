"""Self-test of the benchmark's checks, without Spark.

Shows that the query comparator and the BAGH checks accept a correct
output and flag a corrupted cell, a dropped row and a wrong count.

    python3 perfbench/selftest.py

Exits 0 when every check behaves, 1 otherwise.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_bagh  # noqa: E402
import gen_tables  # noqa: E402
import oracle  # noqa: E402

Q05 = """
    SELECT r.r_name, n.n_name, count(*) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
"""

failures: list[str] = []


def expect(label: str, problem, flagged: bool) -> None:
    ok = bool(problem) == flagged
    print(f"{'ok  ' if ok else 'FAIL'} {label}: {problem or 'accepted'}")
    if not ok:
        failures.append(label)


def comparator_cases(tmp: str) -> None:
    data = os.path.join(tmp, "tables")
    gen_tables.write_tables(seed=7, scale=0.02, out_dir=data)
    db = oracle.QueryOracle(data, threads=1)
    want = db.rows(Q05)
    db.close()
    rows = [list(r) for r in want]
    shuffled = [tuple(r) for r in reversed(rows)]
    expect("same rows, other order", oracle.compare_rows(shuffled, want), False)

    flip = [list(r) for r in rows]
    flip[0][3] = round(flip[0][3] + 0.01, 2)  # a ROUND(…, 2) boundary flip
    expect("rounding flip in the last kept digit", oracle.compare_rows(flip, want), False)

    bad = [list(r) for r in rows]
    bad[0][3] = bad[0][3] * 1.001
    expect("corrupted float cell", oracle.compare_rows(bad, want), True)

    # the unit comes from the column (two decimals), not from the cell's
    # own digits: 12.5 printed with one decimal is still 10 units off 12.6
    want2 = [("a", 12.5), ("b", 3.17)]
    expect("trailing-zero value 10 units off",
           oracle.compare_rows([("a", 12.6), ("b", 3.17)], want2), True)
    expect("trailing-zero value one unit off",
           oracle.compare_rows([("a", 12.51), ("b", 3.17)], want2), False)
    want3 = [("a", 40.0), ("b", 7.0)]
    expect("integer-valued float 1 off",
           oracle.compare_rows([("a", 41.0), ("b", 7.0)], want3), True)
    want4 = [("a", 0.412345), ("b", 0.41)]
    expect("six-decimal value 0.01 off",
           oracle.compare_rows([("a", 0.412345), ("b", 0.42)], want4), True)

    bad = [list(r) for r in rows]
    bad[1][1] = "NATION_X"
    expect("corrupted string cell", oracle.compare_rows(bad, want), True)

    expect("dropped row", oracle.compare_rows(rows[1:], want), True)

    bad = [list(r) for r in rows]
    bad[2][2] += 1
    expect("wrong count", oracle.compare_rows(bad, want), True)


def _committed(ex_list) -> dict[str, dict[str, dict]]:
    """What a correct job commits: accepted rows, later phases winning."""
    out: dict[str, dict[str, dict]] = {t: {} for t in gen_bagh.TABLES}
    for ex in ex_list:
        for t in gen_bagh.TABLES:
            rejected = set().union(*ex.rejects[t].values())
            for r in ex.rows[t]:
                if gen_bagh._rid(r) not in rejected:
                    out[t][gen_bagh._rid(r)] = r
    return out


def _write_warehouse(wh: str, tables: dict[str, dict[str, dict]], bridge: list[tuple]) -> None:
    for t, rows in tables.items():
        col = gen_bagh.CHANGED_COLUMN[t]
        d = os.path.join(wh, t, "bucket=0")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({
            "id": list(rows),
            "identificatie": [r["identificatie"] for r in rows.values()],
            "eind_geldigheid": [r["eindGeldigheid"] or None for r in rows.values()],
            col: [r[col] for r in rows.values()],
        }), os.path.join(d, "part-0.parquet"))
    d = os.path.join(wh, "verblijfsobjectpandrelatie")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table({
        "id": [f"{v}_{p}" for v, p in bridge],
        "pand_id": [p for _, p in bridge],
        "verblijfsobject_id": [v for v, _ in bridge],
    }), os.path.join(d, "part-0.parquet"))


def _bridge(ex, tables) -> list[tuple]:
    out = []
    for r in ex.rows["verblijfsobject"]:
        vid = gen_bagh._rid(r)
        if vid not in tables["verblijfsobject"]:
            continue
        ids = r["ligtIn:BAG.PND.identificatie"].split("|")
        volgs = r["ligtIn:BAG.PND.volgnummer"].split("|")
        for i, v in zip(ids, volgs):
            pid = f"{i}_{int(v):03d}"
            if pid in tables["pand"]:
                out.append((vid, pid))
    return out


def bagh_cases(tmp: str) -> None:
    v1, v2 = gen_bagh.generate(seed=3, scale=0.1)
    exp = gen_bagh.expectations(v1, v2)
    before = {t: set(rows) for t, rows in _committed([v1]).items()}
    good = _committed([v1, v2])
    bridge = _bridge(v2, good)

    def check(label, tables, br, flagged):
        wh = tempfile.mkdtemp(dir=tmp)
        _write_warehouse(wh, tables, br)
        problems, _ = oracle.check_warehouse(wh, exp, "replay", before)
        expect(label, "; ".join(problems), flagged)

    check("committed warehouse as expected", good, bridge, False)

    dropped = {t: dict(rows) for t, rows in good.items()}
    dropped["buurt"].pop(next(iter(dropped["buurt"])))
    check("dropped row (a key lost by the replay)", dropped, bridge, True)

    corrupt = {t: dict(rows) for t, rows in good.items()}
    rid = next(iter(exp["changed"]["pand"]))
    corrupt["pand"][rid] = {**corrupt["pand"][rid], "status": "in gebruik?"}
    check("corrupted cell (a changed row without the replay value)", corrupt, bridge, True)

    two_open = {t: dict(rows) for t, rows in good.items()}
    closed = next(r for r in two_open["verblijfsobject"].values() if r["eindGeldigheid"])
    two_open["verblijfsobject"][gen_bagh._rid(closed)] = {**closed, "eindGeldigheid": ""}
    check("second open interval for one key", two_open, bridge, True)

    check("dangling bridge row", good, bridge + [(bridge[0][0], "PD999999_001")], True)

    class Report:
        def __init__(self, table, **counts):
            self.table = table
            self.__dict__.update(counts)

    fields = oracle.REPORT_FIELDS
    reports = [Report(t, **{f: exp["replay"][t][f] for f in fields}) for t in gen_bagh.TABLES]
    expect("job reports as expected", "; ".join(oracle.check_reports(reports, exp, "replay")), False)
    reports[1].updated += 1
    expect("wrong count in a job report",
           "; ".join(oracle.check_reports(reports, exp, "replay")), True)


def main() -> int:
    with tempfile.TemporaryDirectory(dir=os.environ.get("TMPDIR")) as tmp:
        comparator_cases(tmp)
        bagh_cases(tmp)
    print("self-test", "FAILED: " + ", ".join(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
