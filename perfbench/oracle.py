"""Output checks computed apart from the program.

- ``compare_rows``: order-insensitive multiset comparison of two result
  sets. Integers, strings, booleans, dates and NULLs compare exactly.
  Floats compare within ``REL_TOL`` relative, or within one rounding
  unit of their column: the registered queries ROUND floating
  aggregates on both sides, and a sum that is added in another order
  can land on the other side of a rounding boundary. A column's unit is
  ``10**-d`` for the largest decimal count ``d`` over its expected
  values, when ``1 <= d <= ROUND_DIGITS``; a column whose expected
  values are all whole, or carry more decimals than any query rounds
  to, gets the relative tolerance only.
- ``QueryOracle``: runs a query's registered DuckDB ``oracle_sql`` on
  the same parquet files the Spark side reads.
- ``check_warehouse``: reads the committed BAGH parquet warehouse with
  DuckDB and checks it against the generator's expectations and the
  SCD2 properties (one open interval per key, no key lost by the
  replay, the replay's values committed, every bridge row resolving).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re
from decimal import Decimal

import duckdb

REL_TOL = 1e-9
ROUND_DIGITS = 6

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _is_float(v) -> bool:
    return isinstance(v, (float, Decimal))


def _decimals(x: float) -> int:
    s = repr(float(x))
    if "e" in s or "E" in s:
        return 99
    return len(s.split(".")[1].rstrip("0")) if "." in s else 0


def floats_equal(a: float, b: float, unit: float | None = None) -> bool:
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if a == b or abs(a - b) <= REL_TOL * max(abs(a), abs(b)):
        return True
    return unit is not None and abs(a - b) <= unit * (1 + 1e-9)


def _floats_of(v) -> list | None:
    """The floats of a float cell or a list-of-floats cell, else None."""
    if _is_float(v):
        return [v]
    if isinstance(v, (list, tuple)) and v and all(_is_float(x) for x in v):
        return list(v)
    return None


def column_units(rows: list) -> dict[int, float | None]:
    """Per float column, the rounding unit its values show (None: none)."""
    dec: dict[int, int] = {}
    for r in rows:
        for j, v in enumerate(r):
            fl = _floats_of(v)
            if fl is not None:
                dec[j] = max([dec.get(j, 0), *map(_decimals, fl)])
    return {j: 10.0 ** -d if 1 <= d <= ROUND_DIGITS else None for j, d in dec.items()}


def _norm(v):
    """Exact-comparable form of a non-float value."""
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, int):
        return int(v)
    return v


def _split(row) -> tuple[tuple, tuple[float, ...], tuple[int, ...]]:
    """(exact key, float part, the column of each float) of one row."""
    exact, floats, cols = [], [], []
    for j, v in enumerate(row):
        fl = _floats_of(v)
        if fl is None:
            exact.append(_norm(v))
            continue
        exact.append("<float>" if _is_float(v) else f"<floats:{len(fl)}>")
        floats.extend(map(float, fl))
        cols.extend([j] * len(fl))
    return tuple(exact), tuple(floats), tuple(cols)


def _sort_key(v):
    return (v is None, str(type(v)), repr(v))


def compare_rows(got: list, want: list) -> str | None:
    """None when the result sets match, else a one-line description."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    units = column_units(want)
    groups: dict[tuple, list] = {}
    for side, rows in ((0, got), (1, want)):
        for r in rows:
            key, fl, cols = _split(tuple(r))
            groups.setdefault(key, [[], [], cols])[side].append(fl)
    for key, (g, w, cols) in sorted(groups.items(), key=lambda kv: _sort_key(kv[0])):
        if len(g) != len(w):
            return f"rows {key!r}: {len(g)} != expected {len(w)}"
        col_units = [units.get(j) for j in cols]
        for fg, fw in zip(sorted(g), sorted(w)):
            if len(fg) != len(fw) or not all(map(floats_equal, fg, fw, col_units)):
                return f"rows {key!r}: floats {fg[:6]} != expected {fw[:6]}"
    return None


def tables_read(sql: str) -> list[str]:
    """Fixture tables an oracle query names."""
    return [t for t in FIXTURE_TABLES if re.search(rf"\b{t}\b", sql)]


class QueryOracle:
    """DuckDB over the generated parquet copy."""

    def __init__(self, data_dir: str, threads: int):
        self.con = duckdb.connect(config={"threads": threads})
        for t in FIXTURE_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> list[tuple]:
        return self.con.sql(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def _scan(wh: str, table: str) -> str:
    path = os.path.join(wh, table).replace("'", "''")
    if table == "verblijfsobjectpandrelatie":
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"


def check_warehouse(
    wh: str, exp: dict, phase: str, before_ids: dict[str, set[str]] | None = None
) -> tuple[list[str], dict[str, set[str]]]:
    """Problems found in the committed warehouse after ``phase``, and the
    committed ids per table (the replay's ``before_ids``)."""
    problems: list[str] = []
    ids: dict[str, set[str]] = {}
    con = duckdb.connect(config={"threads": 1})
    try:
        for t in ("buurt", "pand", "verblijfsobject"):
            src = _scan(wh, t)
            rows = [r[0] for r in con.sql(f"SELECT id FROM {src}").fetchall()]
            ids[t] = set(rows)
            want = exp[phase][t]["table_rows"]
            if len(rows) != want or len(ids[t]) != want:
                problems.append(
                    f"{phase} {t}: {len(rows)} committed rows, {len(ids[t])} ids != {want}"
                )
            bad_open = con.sql(
                f"SELECT count(*) FROM (SELECT identificatie FROM {src} GROUP BY 1 "
                "HAVING count(*) FILTER (WHERE eind_geldigheid IS NULL) <> 1)"
            ).fetchone()[0]
            if bad_open:
                problems.append(f"{phase} {t}: {bad_open} keys without exactly one open interval")
            if before_ids is not None:
                lost = before_ids[t] - ids[t]
                if lost:
                    problems.append(f"{phase} {t}: {len(lost)} keys lost, e.g. {sorted(lost)[:3]}")
                col = exp["changed_column"][t]
                changed = exp["changed"][t]
                committed = dict(
                    con.sql(f"SELECT id, CAST({col} AS VARCHAR) FROM {src}").fetchall()
                )
                wrong = [i for i, v in changed.items() if committed.get(i) != v]
                if wrong:
                    problems.append(
                        f"{phase} {t}: {len(wrong)} changed rows lack the replay value,"
                        f" e.g. {wrong[0]}: {committed.get(wrong[0])!r} != {changed[wrong[0]]!r}"
                    )
        br = _scan(wh, "verblijfsobjectpandrelatie")
        n, dangling = con.sql(
            f"SELECT count(*), count(*) FILTER (WHERE p.id IS NULL OR v.id IS NULL) "
            f"FROM {br} b LEFT JOIN {_scan(wh, 'pand')} p ON b.pand_id = p.id "
            f"LEFT JOIN {_scan(wh, 'verblijfsobject')} v "
            f"ON b.verblijfsobject_id = v.id"
        ).fetchone()
        if n != exp[phase]["bridge_rows"]:
            problems.append(f"{phase} bridge: {n} rows != {exp[phase]['bridge_rows']}")
        if dangling:
            problems.append(f"{phase} bridge: {dangling} rows do not resolve to both sides")
    finally:
        con.close()
    return problems, ids


REPORT_FIELDS = (
    "staged_rows", "inserted", "updated", "rejected_bad_range",
    "rejected_geometry", "rejected_fk", "overlap_warnings",
)


def check_reports(reports: list, exp: dict, phase: str) -> list[str]:
    """Problems in the job's per-table reports against the expectations."""
    problems = []
    got = {r.table: r for r in reports}
    for t in ("buurt", "pand", "verblijfsobject"):
        if t not in got:
            problems.append(f"{phase} {t}: no report")
            continue
        for f in REPORT_FIELDS:
            if getattr(got[t], f) != exp[phase][t][f]:
                problems.append(
                    f"{phase} {t}.{f}: {getattr(got[t], f)} != {exp[phase][t][f]}"
                )
    return problems
