"""Registry-rotation report: which queries still lack a green driver
correctness row, and what the next round's front block should be.

The external driver verifies registry entries front-to-back within a
per-round budget (~50) and records results in CORRECTNESS_r{N}.json at
the repo root. Run this module (``python -m dso_import_spark.rotation``)
at the start of a round to get:

- every query with a green row (hash_match true) in ANY recorded round,
- the never-verified remainder IN REGISTRY ORDER (the candidates to
  front-load), grouped by module so the front-block edit in queries.py
  is mechanical,
- greens whose defining module changed AFTER the round that verified
  them (``stale_green`` — re-verify these once the never-verified pool
  drains),
- a warning if the current front-50 wastes slots on already-green
  queries.

tests/test_registry_order.py pins the chosen front block; update it,
``ROUND5_FRONT``-style lists, and ``FRONT_CHOSEN_AGAINST_ROUND`` in
queries.py in the same commit when rotating.

Any commit that touches a module a registered query depends on (its
defining module, or an operators/sources/functions/streaming module it
imports transitively) re-stales that query's driver evidence. Append
the rows it re-stales to the current queue (``ROUND14_QUEUE``) in that
same commit: run this CLI after committing the edit, and stage every
stale green it lists that sits outside the front block and the queue.
Round 14 missed this step and left 23 stale greens unstaged.
"""

from __future__ import annotations

import json
import re
import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_ROUND_RE = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def _round_files(repo: Path, max_round: int | None = None) -> list[Path]:
    out = []
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        m = _ROUND_RE.search(f.name)
        if m and (max_round is None or int(m.group(1)) <= max_round):
            out.append(f)
    return out


def green_queries(repo: Path = REPO, max_round: int | None = None) -> set[str]:
    """Names with a fully-green row in any CORRECTNESS_r*.json
    (optionally only rounds <= max_round)."""
    return set(green_rounds(repo, max_round))


def green_rounds(
    repo: Path = REPO, max_round: int | None = None
) -> dict[str, int]:
    """name -> latest round number with a fully-green row."""
    green: dict[str, int] = {}
    for f in _round_files(repo, max_round):
        rnd = int(_ROUND_RE.search(f.name).group(1))
        try:
            data = json.loads(f.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                green[name] = max(green.get(name, 0), rnd)
    return green


_COMMIT_TS_CACHE: dict[tuple[str, str], int | None] = {}
_CACHED_HEAD: dict[str, str] = {}


def _invalidate_caches_on_new_head(repo: Path) -> None:
    """Clear the commit-ts and dep memos when HEAD moved (one
    `git rev-parse` per sweep, called from stale_green): a commit
    landing mid-process would otherwise leave later sweeps reading
    stale timestamps/dep lists for the rest of the process lifetime
    (round-10 advisory)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=repo, capture_output=True, text=True, timeout=30,
        )
        head = out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return
    if not head:
        return
    if _CACHED_HEAD.get(str(repo)) != head:
        _CACHED_HEAD[str(repo)] = head
        _COMMIT_TS_CACHE.clear()
        _DIRECT_DEP_CACHE.clear()


def _module_last_commit_ts(path: Path, repo: Path) -> int | None:
    """Unix ts of the last commit touching `path`, or None if unknown.
    Memoized per (repo, path): the transitive dep walk asks about the
    same shared files (util.py, operator chains) once per query
    module, which un-cached meant hundreds of git subprocesses per
    stale_green sweep (third review pass). Invalidated when HEAD
    moves (see _invalidate_caches_on_new_head)."""
    ck = (str(repo), str(path))
    if ck in _COMMIT_TS_CACHE:
        return _COMMIT_TS_CACHE[ck]
    try:
        out = subprocess.run(
            ["git", "log", "-1", "--format=%ct", "--", str(path)],
            cwd=repo, capture_output=True, text=True, timeout=30,
        )
        ts = int(out.stdout.strip()) if out.stdout.strip() else None
    except (OSError, ValueError, subprocess.SubprocessError):
        ts = None
    _COMMIT_TS_CACHE[ck] = ts
    return ts


def _file_created_commit_ts(path: Path, repo: Path) -> int | None:
    """Unix ts of the commit that ADDED `path` (diff-filter=A), or None.

    The creating commit, not the last one: a later reformat/sweep
    commit touching an old CORRECTNESS artifact would fast-forward its
    apparent age and silently shrink the stale set (round-9 review) —
    the artifact's evidentiary age is when the driver produced it."""
    try:
        out = subprocess.run(
            ["git", "log", "--diff-filter=A", "-1", "--format=%ct",
             "--", str(path)],
            cwd=repo, capture_output=True, text=True, timeout=30,
        )
        return int(out.stdout.strip()) if out.stdout.strip() else None
    except (OSError, ValueError, subprocess.SubprocessError):
        return None


# keyed (repo, file): dep resolution depends on the repo root, and a
# second repo (the synthetic test fixtures) must not reuse the first
# repo's lists. UNCOMMITTED on-disk edits are not invalidated —
# acceptable for a CLI/test process that parses each tree once —
# but a new COMMIT clears this via _invalidate_caches_on_new_head.
_DIRECT_DEP_CACHE: dict[tuple[str, str], list[Path]] = {}


def _direct_dep_files(mod_file: Path, repo: Path) -> list[Path]:
    """Direct `dso_import_spark.*` modules imported by `mod_file`
    (AST walk, so function-local lazy imports count — the round-9
    staleness leak was `stream_tail_ingest`, whose tail-source import
    sits inside the query body). queries_pkg siblings and the registry
    plumbing are excluded — they define OTHER queries' staleness —
    EXCEPT queries_pkg/util.py, which is shared infrastructure (the
    tables() loader) whose edits invalidate every query's evidence
    (review pass 2, round 10). Relative imports never occur in this
    repo's layout (absolute-import lint convention)."""
    import ast

    ck = (str(repo), str(mod_file))
    if ck in _DIRECT_DEP_CACHE:
        return _DIRECT_DEP_CACHE[ck]
    try:
        tree = ast.parse(mod_file.read_text())
    except (OSError, SyntaxError):
        _DIRECT_DEP_CACHE[ck] = []
        return []
    mods: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            mods.add(node.module)
            # `from pkg.mod import name` where name is itself a module
            # doesn't occur in this repo's layout; module path is enough
        elif isinstance(node, ast.Import):
            mods.update(a.name for a in node.names)
    out: list[Path] = []
    for m in sorted(mods):
        if not m.startswith("dso_import_spark."):
            continue
        tail = m.split(".", 1)[1]
        if tail == "queries" or (
            tail.startswith("queries_pkg") and tail != "queries_pkg.util"
        ):
            continue
        f = repo / Path(m.replace(".", "/") + ".py")
        if f.exists():
            out.append(f)
    _DIRECT_DEP_CACHE[ck] = out
    return out


def _module_dep_files(mod_file: Path, repo: Path) -> list[Path]:
    """TRANSITIVE closure of `_direct_dep_files`: a query module that
    imports operators/ann_kernel.py, which itself imports
    operators/similarity.py, must go stale when similarity.py changes
    — first-level-only walking recreated the stream_tail_ingest leak
    class one layer deeper (review pass 2, round 10)."""
    seen: set[Path] = set()
    stack = [mod_file]
    out: list[Path] = []
    while stack:
        f = stack.pop()
        for dep in _direct_dep_files(f, repo):
            if dep not in seen and dep != mod_file:
                seen.add(dep)
                out.append(dep)
                stack.append(dep)
    return out


def stale_green(repo: Path = REPO, max_round: int | None = None) -> list[str]:
    """Green queries whose defining module — or any operators/sources/
    functions/streaming layer module it TRANSITIVELY imports (AST walk
    incl. lazy imports) — was committed AFTER the CORRECTNESS artifact
    that last verified them: the driver evidence is stale even though
    the local differential suite still covers them. Re-verify these
    once never-verified queries run out."""
    from dso_import_spark.queries import REGISTRY

    _invalidate_caches_on_new_head(repo)
    greens = green_rounds(repo, max_round)
    # artifact age = its CREATING commit time, not st_mtime and not the
    # last commit: a fresh machine checkout (every round starts on one)
    # resets every file's mtime to checkout time, which made every
    # artifact look newer than every module commit and silently emptied
    # the stale set (round-9 lesson); and a later sweep commit touching
    # an old artifact would do the same through git (round-9 review).
    # st_mtime only for not-yet-committed artifacts.
    artifact_mtime: dict[int, float] = {}
    for f in _round_files(repo, max_round):
        rnd = int(_ROUND_RE.search(f.name).group(1))
        ts = _file_created_commit_ts(f, repo)
        artifact_mtime[rnd] = float(ts) if ts is not None else f.stat().st_mtime
    mod_ts: dict[str, int | None] = {}
    stale: list[str] = []
    for name, rnd in greens.items():
        spec = REGISTRY.get(name)
        if spec is None or rnd not in artifact_mtime:
            continue
        mod = spec.spark.__module__
        if mod not in mod_ts:
            mod_file = repo / Path(mod.replace(".", "/") + ".py")
            # newest commit across the module AND its operator/source/
            # function-layer imports: an edit one layer down is just as
            # evidence-invalidating as one in the defining module
            tss = [_module_last_commit_ts(mod_file, repo)]
            tss += [_module_last_commit_ts(f, repo)
                    for f in _module_dep_files(mod_file, repo)]
            known = [t for t in tss if t is not None]
            mod_ts[mod] = max(known) if known else None
        ts = mod_ts[mod]
        if ts is not None and ts > artifact_mtime[rnd]:
            stale.append(name)
    return [n for n in REGISTRY if n in set(stale)]  # registry order


def rotation_report(
    budget: int = 50, repo: Path = REPO, max_round: int | None = None
) -> dict:
    from dso_import_spark.queries import REGISTRY

    from dso_import_spark.queries import FORCE_REVERIFY

    names = list(REGISTRY)
    green = green_queries(repo, max_round) & set(names)
    never = [n for n in names if n not in green]
    front = names[:budget]
    # a front slot on a STALE green (module changed after its verifying
    # round) or a FORCE_REVERIFY name (semantics changed below module
    # granularity) is deliberate re-verification, not waste — once the
    # never-verified pool is smaller than the budget, those are exactly
    # what the remaining slots are for. stale_green is a ~30-subprocess
    # git sweep: run it ONCE and reuse below.
    stale_list = stale_green(repo, max_round)
    stale = set(stale_list) | set(FORCE_REVERIFY)
    wasted = [n for n in front if n in green and n not in stale]

    by_module: dict[str, list[str]] = {}
    for n in never:
        mod = REGISTRY[n].spark.__module__.rsplit(".", 1)[-1]
        by_module.setdefault(mod, []).append(n)

    return {
        "total": len(names),
        "green": len(green),
        "never_verified": never,
        "never_by_module": by_module,
        "front_budget": budget,
        "front_wasted_on_green": wasted,
        "stale_green": stale_list,
    }


def next_front(
    budget: int = 50, repo: Path = REPO, max_round: int | None = None
) -> list[str]:
    """The recommended next-round front block: every never-verified
    query in registry order (the staged queue sits right behind the
    current front, so this is the queue plus any newer additions),
    then stale greens (module changed after their verifying round),
    truncated to the driver budget. Paste into queries.py as the next
    ROUND*_FRONT and bump FRONT_CHOSEN_AGAINST_ROUND."""
    r = rotation_report(budget, repo, max_round)
    picks = list(r["never_verified"])
    picks += [n for n in r["stale_green"] if n not in set(picks)]
    return picks[:budget]


def main() -> None:  # pragma: no cover - convenience CLI
    r = rotation_report()
    print(f"registry: {r['total']} queries; driver-green: {r['green']}")
    print(f"never verified: {len(r['never_verified'])}")
    for mod, names in r["never_by_module"].items():
        print(f"  {mod} ({len(names)}): {', '.join(names[:6])}"
              + (" ..." if len(names) > 6 else ""))
    if r["stale_green"]:
        print(f"stale greens (module changed after verification): "
              f"{len(r['stale_green'])}: {', '.join(r['stale_green'][:10])}"
              + (" ..." if len(r["stale_green"]) > 10 else ""))
    if r["front_wasted_on_green"]:
        print(
            f"WARNING: {len(r['front_wasted_on_green'])} of the front-"
            f"{r['front_budget']} already have green rows — rotate: "
            + ", ".join(r["front_wasted_on_green"][:8])
        )
    else:
        print(f"front-{r['front_budget']} contains no already-green queries"
              " — rotation is optimal")
    nf = next_front()
    print(f"recommended next front-{len(nf)}: {', '.join(nf[:8])} ...")


if __name__ == "__main__":
    main()
