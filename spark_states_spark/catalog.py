"""Query/operator catalog — the registry behind ``__spark_entry__``.

Each operator module registers its public queries here with an optional
DuckDB oracle SQL string. ``QUERIES[name](spark, sf_dir) -> DataFrame``;
``ORACLES[name]`` is ANSI SQL over the pre-registered DuckDB views
(region nation customer supplier part orders lineitem events documents
embeddings). Queries without an oracle get the driver's weaker rows-only
check (used for genuinely non-SQL-expressible stateful ops).
"""

from __future__ import annotations

import ast
import functools
import glob
import json
import os
import re
import subprocess
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import lifetime

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Registering module per entry — the module map behind the computed
# verification order (VERDICT r04 #7).
MODULES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and its oracle SQL) to the catalog. The
    entry runs under ``lifetime.scope(name)``: what it pins lives until
    ``lifetime.release(spark, name)`` (clear_shared_memos below)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def entry(*args, **kwargs):
            with lifetime.scope(name):
                return fn(*args, **kwargs)

        QUERIES[name] = entry
        MODULES[name] = fn.__module__
        if oracle is not None:
            ORACLES[name] = oracle
        return entry

    return deco


# Shared materializations: lifetime tag -> the entries that read it. Some
# entries deliberately share one expensive materialization (the funnel
# pair's single drain, the dual-binding wall-clock drain, the CC-label
# reuse between clustering and keep-best), built once per (application,
# fixture generation) through ``lifetime.shared``. Modules declare their
# tags here at import time. The harness's best-of-N re-runs
# (harness.best_of, used by bench.py, scalecheck.py and scaleprobe.py)
# release a tag only for a PARTICIPATING entry, so a shared-result entry
# re-pays its own materialization without other entries' re-runs wiping
# the share.
SHARED_MEMOS: dict[str, set[str]] = {}

# Tags whose value is deterministic INPUT STAGING (a pure function of
# (session, fixture) whose product the entry then operates ON — e.g. the
# restart entry's phase-1 checkpoint snapshot), as opposed to a shared
# RESULT materialization (the funnel/KV drains, where the entry's own
# output reads the memo). The harness's best-of-N re-run clearing exists to
# stop result memos from degenerating a re-run into timing a memo read;
# staging memos have the opposite contract — the measured operation
# re-executes in full against the staged input every run, exactly like
# sources.staged_chunks (also per-session, also never cleared by bench)
# — so clear_shared_memos skips them unless asked (VERDICT r12 #1).
STAGING_MEMO_TAGS: set[str] = set()


def clear_shared_memos(entry: str, include_staging: bool = False) -> None:
    """Release ``entry``'s own lifetime tag, then each shared tag it
    participates in, so the next call re-materializes. Staging tags
    (STAGING_MEMO_TAGS) are skipped unless ``include_staging`` — see the
    note above."""
    lifetime.release(None, entry)
    for tag, entries in SHARED_MEMOS.items():
        if entry in entries and (
            include_staging or tag not in STAGING_MEMO_TAGS
        ):
            lifetime.release(None, tag)


# Import operator modules for their registration side effects.
#
# Registration order rotates between rounds so that any harness which samples
# a prefix of the registry re-verifies every family on a bounded cadence, and
# families with recent code changes or new entries sit inside the sampled
# window. The authoritative gate is local and order-independent: every entry
# with an oracle is verified against DuckDB each test run
# (tests/test_oracle.py), whatever order they register in.
from .operators import relational  # noqa: E402,F401
from .functions import multimodal  # noqa: E402,F401
from .functions import dedup  # noqa: E402,F401
from .streaming import queries as streaming_queries  # noqa: E402,F401
from .streaming import inspect as streaming_inspect  # noqa: E402,F401
from .functions import similarity  # noqa: E402,F401
from .functions import text  # noqa: E402,F401
from .functions import pipeline  # noqa: E402,F401
from .operators import sessionize  # noqa: E402,F401
from .operators import scalars  # noqa: E402,F401
from .operators import asof  # noqa: E402,F401
from .operators import windows  # noqa: E402,F401
from .operators import setops  # noqa: E402,F401
from .operators import timeseries  # noqa: E402,F401
from .sources import bucketing  # noqa: E402,F401
from .sources import partitioned  # noqa: E402,F401
from .sources import compaction  # noqa: E402,F401
from .sources import zorder  # noqa: E402,F401
from .operators import quality  # noqa: E402,F401
from .functions import sketches  # noqa: E402,F401
from .operators import behavior  # noqa: E402,F401
from .operators import orderstats  # noqa: E402,F401
from .operators import graph  # noqa: E402,F401
from .operators import rangejoin  # noqa: E402,F401
from .operators import skyline  # noqa: E402,F401

# --- Computed verification order (VERDICT r04 #7) ---------------------------
#
# The external driver samples a bounded prefix (50 entries/round) of
# ``queries()``. Through round 4 the prefix was a hand-maintained 150-line
# list — the round's most error-prone artifact (a forgotten entry silently
# starves verification). It is now COMPUTED from the two ground truths that
# already live in the repo:
#
#   1. the CORRECTNESS_r{N}.json verdict history at the repo root
#      (never-externally-green entries outrank everything), then
#   2. entries whose registering module changed since the last round
#      boundary (``git diff`` against the newest ``round N:`` commit,
#      mapped through MODULES), then
#   3. everything else, oldest-green-verdict first,
#
# with registration order breaking ties. Failure-isolated: if the history
# files or git are unavailable (driver sandbox, fresh clone), the order
# degrades to registration order — the contract surface never breaks. The
# authoritative correctness gate stays local and order-independent: every
# oracle entry is verified against DuckDB each test run (tests/test_oracle.py)
# regardless of sampling order. Shared-infra changes (functions/skew.py,
# sources/tables.py, streaming/runner.py, …) propagate to dependent entries
# through the package's computed import graph (ADVICE r05 — see
# touched_entries, including its session.py caveat).
# Run ``python -m spark_states_spark.catalog`` to print the freshness table
# (written to VERIFY_ORDER.md per round).

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _verdict_green(rec: dict) -> bool:
    """A driver verdict row counts as green iff it value-matched the oracle
    (or, for rows-only entries, ran to a row count without error)."""
    if not isinstance(rec, dict):
        return False
    if rec.get("err") == "no_oracle":
        return rec.get("spark_rows") is not None
    return bool(
        rec.get("err") is None
        and rec.get("rows_match")
        and rec.get("schema_match")
        and rec.get("hash_match")
    )


def last_green_round(root: str = _ROOT) -> dict[str, int]:
    """Entry -> newest round number with a fully-green driver verdict."""
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            if _verdict_green(rec):
                out[name] = max(out.get(name, 0), rnd)
    return out


def _module_nodes(tree: "ast.Module") -> list["ast.stmt"]:
    """Module statements, flattened through top-level ``if``/``try`` blocks
    (availability-gated entries like the tws TTL bindings live under
    ``if _TWS_AVAILABLE:`` and must still get spans — otherwise their edits
    could never be marked code-touched)."""
    out: list[ast.stmt] = []
    work = list(tree.body)
    while work:
        node = work.pop(0)
        if isinstance(node, ast.If):
            work = node.body + node.orelse + work
        elif isinstance(node, ast.Try):
            work = (
                node.body
                + [s for h in node.handlers for s in h.body]
                + node.orelse
                + node.finalbody
                + work
            )
        else:
            out.append(node)
    return out


def _toplevel_spans(tree: "ast.Module") -> dict[str, tuple[int, int]]:
    """Top-level name -> (first_line, last_line) including decorators."""
    spans: dict[str, tuple[int, int]] = {}
    for node in _module_nodes(tree):
        names: list[str] = []
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        if not names:
            continue
        start = min(
            [node.lineno]
            + [d.lineno for d in getattr(node, "decorator_list", [])]
        )
        for n in names:
            spans[n] = (start, node.end_lineno or node.lineno)
    return spans


def _changed_toplevel_names(root: str, base: str, rel_path: str) -> set[str] | None:
    """Top-level names in ``rel_path`` whose source intersects the diff vs
    ``base``, expanded through intra-module references (a change inside a
    helper touches every top-level def that mentions the helper). Returns
    None when the analysis can't run (unparseable / deleted file) — caller
    falls back to whole-module granularity."""
    abs_path = os.path.join(root, rel_path)
    try:
        with open(abs_path) as fh:
            tree = ast.parse(fh.read())
        proc = subprocess.run(
            ["git", "diff", "-U0", base, "--", rel_path],
            cwd=root, capture_output=True, text=True, timeout=10,
        )
        if proc.returncode != 0:
            # A failed diff is NOT "no hunks" — the caller already knows the
            # file changed; fall back to whole-module granularity.
            return None
        diff = proc.stdout
    except (OSError, SyntaxError, subprocess.SubprocessError, ValueError):
        return None
    spans = _toplevel_spans(tree)
    # new-file-side hunk ranges from @@ -a,b +c,d @@ headers; a pure deletion
    # (d == 0) still marks its anchor line so the enclosing def is credited
    hunks: list[tuple[int, int]] = []
    for m in re.finditer(r"^@@ [^+]*\+(\d+)(?:,(\d+))? @@", diff, re.M):
        start = int(m.group(1))
        count = int(m.group(2)) if m.group(2) is not None else 1
        hunks.append((start, start + max(count, 1) - 1))
    changed = {
        name
        for name, (lo, hi) in spans.items()
        for (a, b) in hunks
        if a <= hi and b >= lo
    }
    # propagate: who references a changed name (transitively, top-level only)
    refs: dict[str, set[str]] = {}
    for node in _module_nodes(tree):
        for owner, (lo, hi) in spans.items():
            if getattr(node, "lineno", None) == lo or (
                lo <= getattr(node, "lineno", -1) <= hi
            ):
                ids = {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}
                refs.setdefault(owner, set()).update(ids & spans.keys())
    frontier = set(changed)
    while frontier:
        frontier = {
            owner
            for owner, ids in refs.items()
            if ids & frontier and owner not in changed
        }
        changed |= frontier
    return changed


def _internal_import_graph(root: str = _ROOT) -> dict[str, set[str]]:
    """Module -> package-internal modules it imports (anywhere in the file,
    including function-level imports). Relative imports are resolved against
    the importing module's package; ``from ..sources import staged_chunks``
    credits both ``..sources`` and ``..sources.staged_chunks`` if the latter
    is a real module (the imported name may be a submodule or an attribute)."""
    pkg_root = os.path.join(root, "spark_states_spark")
    mods: dict[str, str] = {}  # dotted module -> abs path
    is_pkg: set[str] = set()  # modules that are packages (__init__.py)
    for dirpath, _dirs, files in os.walk(pkg_root):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), root)
            mod = rel[:-3].replace(os.sep, ".")
            if mod.endswith(".__init__"):
                mod = mod[: -len(".__init__")]
                is_pkg.add(mod)
            mods[mod] = os.path.join(dirpath, f)
    graph: dict[str, set[str]] = {m: set() for m in mods}
    for mod, path in mods.items():
        try:
            with open(path) as fh:
                tree = ast.parse(fh.read())
        except (OSError, SyntaxError, ValueError):
            continue
        # Package for relative-import resolution: a package's own __init__
        # resolves level=1 against itself, a plain module against its parent.
        pkg = mod if mod in is_pkg else mod.rsplit(".", 1)[0]
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                if node.level:
                    base_parts = pkg.split(".")
                    if node.level > 1:
                        base_parts = base_parts[: -(node.level - 1)]
                    target = ".".join(base_parts + ([node.module] if node.module else []))
                elif node.module and node.module.startswith("spark_states_spark"):
                    target = node.module
                else:
                    continue
                if target in graph:
                    graph[mod].add(target)
                for alias in node.names:
                    sub = f"{target}.{alias.name}"
                    if sub in graph:
                        graph[mod].add(sub)
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name in graph:
                        graph[mod].add(alias.name)
        graph[mod].discard(mod)
    # The registry's own imports are registration plumbing (it imports every
    # registering module for side effects): traversing through it would make
    # every module transitively "depend on" every other. Same for package
    # __init__ re-export hubs that import the registry.
    graph[__name__] = set()
    return graph


def _reaches(graph: dict[str, set[str]], src: str, targets: set[str]) -> bool:
    """True iff ``src`` transitively imports any module in ``targets``."""
    seen: set[str] = set()
    work = [src]
    while work:
        m = work.pop()
        for dep in graph.get(m, ()):
            if dep in targets:
                return True
            if dep not in seen:
                seen.add(dep)
                work.append(dep)
    return False


def touched_entries(
    root: str = _ROOT, modules: dict[str, str] | None = None
) -> set[str]:
    """Entries whose implementation changed since the last round boundary
    (the newest driver 'round N: ...' commit). ``modules`` (entry →
    registering module) defaults to the live registry; injectable so the
    propagation path is testable against a synthetic repo.

    Granularity: diff hunks are mapped to top-level module names via ast
    and propagated through intra-module references, so a change to one
    helper or one entry's decorator touches only the entries that reach
    it — not every entry in a 1700-line module (which would crowd the
    driver's 50-entry sampling window with freshly-verified neighbors).

    Shared-infra propagation (ADVICE r05): a changed package module that
    registers NO entries itself (runner.py, sources/tables.py, windows.py,
    …) marks touched every entry of every registering module that
    transitively imports it — computed from the package's own import
    graph, not a hand-maintained list, so new infra files are covered the
    day they appear. This is deliberately module-coarse on the registering
    side: an infra change can alter behavior through any call path, and
    under-marking starves the driver's re-verification sampling.

    Known limit: a changed module NO registering module imports
    (session.py is the real case — entries receive their session from the
    caller and self-apply confs, so no entry module imports it) marks
    nothing touched. That is correct for driver-checked behavior (the
    driver builds its own session; session.py defaults never reach it)
    but means bench/scalecheck-only harness changes rely on their own
    artifacts, not the sampling window, to surface regressions.

    Falls back to whole-module granularity when the hunk analysis can't
    run, and to the empty set on any git failure; regression safety does
    not depend on this — the local DuckDB gate runs every oracle entry on
    every test run regardless."""
    try:
        base = subprocess.run(
            ["git", "log", "--grep", "^round [0-9]*:", "-n", "1", "--format=%H"],
            cwd=root, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        if not base:
            return set()
        files = subprocess.run(
            ["git", "diff", "--name-only", base],
            cwd=root, capture_output=True, text=True, timeout=10,
        ).stdout.split()
    except (OSError, subprocess.SubprocessError, ValueError):
        return set()
    modules = MODULES if modules is None else modules
    out: set[str] = set()
    registering = set(modules.values())
    infra_changed: set[str] = set()
    for f in files:
        if not f.endswith(".py"):
            continue
        mod = f[:-3].replace("/", ".")
        # Normalize package __init__ files to the package's module name —
        # the import graph keys packages that way, so an un-normalized
        # 'pkg.__init__' in infra_changed would never match any graph edge
        # and a re-export-hub edit would silently mark nothing touched.
        if mod.endswith(".__init__"):
            mod = mod[: -len(".__init__")]
        entries = {n for n, m in modules.items() if m == mod}
        if not entries:
            # THIS module (the registry/ordering itself) carries no query
            # behavior but is imported by every registering module — letting
            # it propagate would saturate the touched signal on any edit to
            # the ordering logic.
            if mod.startswith("spark_states_spark") and mod != __name__:
                infra_changed.add(mod)
            continue
        changed = _changed_toplevel_names(root, base, f)
        if changed is None:
            out |= entries  # fallback: whole module
            continue
        out |= {
            n
            for n in entries
            # Entries without a live QUERIES function (injected synthetic
            # registries) degrade to whole-module granularity.
            if n not in QUERIES or QUERIES[n].__name__ in changed
        }
    if infra_changed:
        graph = _internal_import_graph(root)
        for rmod in registering:
            if _reaches(graph, rmod, infra_changed):
                out |= {n for n, m in modules.items() if m == rmod}
    return out


# The driver samples roughly the first WINDOW rows; TOUCHED_QUOTA of those
# slots are reserved for code-touched entries that staleness alone would
# leave outside the window (ADVICE r06: with touched demoted to a pure
# tie-break, an entry whose behavior changed this round but was green in the
# newest verdict round could sit outside the external sample for several
# rounds). The quota is bounded so an infra-wide touch (which can mark 50+
# entries) still can't crowd the window — at most TOUCHED_QUOTA stale
# entries are displaced, and only by the MOST-STALE touched outsiders.
_DRIVER_WINDOW = 50
_TOUCHED_QUOTA = 5
# When an infra-module edit propagates "touched" to most of the catalog,
# the signal carries no per-entry information — the quota would promote
# essentially arbitrary newest-green entries while displacing genuinely
# stale rows (r12: a tables.py hygiene edit marked all 188 entries touched
# and the quota pushed 2 of the round's 42 stale-rotation targets out of
# the window). Past this saturation fraction the promotion step is skipped
# outright; staleness-first then allocates every slot, which is the
# quota's own documented rationale for infra-wide touches. The fraction is
# of the WHOLE catalog, not of the green set (ADVICE r12): early in a
# round the green set can be tiny, and 2-of-3 greens touched by one
# targeted module edit is exactly the signal the quota exists for — only
# a touch that sweeps most of the catalog is infra-wide noise.
_TOUCHED_SATURATION = 0.5


def verification_order(
    greens: dict[str, int] | None = None,
    touched: set[str] | None = None,
) -> list[str]:
    """All catalog entries, highest verification priority first.

    ``greens``/``touched`` default to recomputing (each spawns git
    subprocesses / re-reads the CORRECTNESS history); pass them in when the
    caller already has them (freshness_table) to avoid paying that twice.
    """
    try:
        greens = last_green_round() if greens is None else greens
        touched = touched_entries() if touched is None else touched
    except Exception:
        return list(QUERIES)

    def rank(item: tuple[int, str]) -> tuple[int, int, int, int]:
        # Never-verified entries outrank everything; after that, STALENESS
        # is primary (oldest external verdict first) and code-touched is
        # only a tie-break within the same verdict round. Rationale: the
        # driver's 50-entry sample is the scarce external resource and
        # staleness-first maximizes its breadth (an entry last checked in
        # r02 is weaker evidence than an r05-green entry whose module was
        # edited this round — the edit is already re-verified locally by
        # the every-run DuckDB gate and the full sf0.1 scale check, while
        # nothing local refreshes EXTERNAL verdict age). The touched signal
        # now includes shared-infra propagation (ADVICE r05), which can mark
        # 50+ entries in one round — tier-above-staleness would let one
        # hygiene edit crowd every window slot with freshly-green entries.
        idx, name = item
        if name not in greens:
            return (0, 0, 0, idx)  # never externally green
        return (1, greens[name], 0 if name in touched else 1, idx)

    order = [n for _, n in sorted(enumerate(QUERIES), key=rank)]
    # Bounded touched-entry quota (see _TOUCHED_QUOTA note above): up to
    # that many window-tail slots go to the code-touched outsiders with
    # the NEWEST green round — precisely the entries the quota exists for
    # (ADVICE r06: a this-round behavior change on a freshest-green entry
    # otherwise waits the longest for an external look; a STALE touched
    # outsider enters the window within a round or two on its own).
    # Victims are the window's least-priority GREEN rows: never-verified
    # entries keep their slots unconditionally (the tier-0 invariant
    # above), staleness order within the window is untouched (victims
    # come off the freshest end), and displaced rows slide just past the
    # window so they lead the next round's candidates. The bounded
    # staleness inversion at the boundary (a fresher touched outsider
    # over the window's freshest row) is the quota's deliberate trade.
    window, rest = order[:_DRIVER_WINDOW], order[_DRIVER_WINDOW:]
    green_names = set(greens) & set(QUERIES)
    # Numerator = touched CATALOG entries, green or not (review r13: a
    # touched∩green numerator is bounded by the green count, so with
    # greens ≤ half the catalog an infra-wide touch could never reach a
    # whole-catalog threshold and the skip silently never fired).
    if green_names and (
        len(touched & set(QUERIES)) > _TOUCHED_SATURATION * len(QUERIES)
    ):
        # Saturated touched signal (infra-wide edit) — see
        # _TOUCHED_SATURATION above: promotion would be noise.
        return order
    promoted = sorted(
        (n for n in rest if n in touched and n in greens),
        key=lambda n: -greens[n],
    )[:_TOUCHED_QUOTA]
    green_window = [n for n in window if n in greens]
    k = min(len(promoted), len(green_window))
    if k:
        promoted = promoted[:k]
        victims = set(green_window[-k:])
        window = [n for n in window if n not in victims] + promoted
        rest = green_window[-k:] + [n for n in rest if n not in set(promoted)]
    return window + rest


def ordered_queries() -> dict[str, QueryFn]:
    """QUERIES in computed verification-priority order.

    Computed lazily (NOT at import time): when a registering module is the
    first import, its ``from ..catalog import register`` re-enters this
    module while the importing module is still partially initialized, so an
    import-time reorder would see an incomplete registry and fail.
    ``__spark_entry__.queries()`` calls this after all registrations exist.
    """
    return {n: QUERIES[n] for n in verification_order()}


def freshness_table() -> str:
    """Markdown freshness report: one row per entry with its status."""
    greens = last_green_round()
    touched = touched_entries()
    order = verification_order(greens, touched)
    newest = max(greens.values(), default=0)
    rows = ["| # | entry | last green | status |", "|---|---|---|---|"]
    for i, name in enumerate(order, 1):
        if name not in greens:
            status = "NEVER-VERIFIED"
            last = "—"
        else:
            last = f"r{greens[name]:02d}"
            if name in touched:
                status = "code-touched"
            elif greens[name] < newest - 1:
                status = "stale"
            else:
                status = "fresh"
        rows.append(f"| {i} | {name} | {last} | {status} |")
    n_never = sum(1 for n in order if n not in greens)
    head = (
        "# VERIFY_ORDER — computed driver-sampling priority\n\n"
        "Generated by `python -m spark_states_spark.catalog` from the\n"
        "CORRECTNESS_r*.json history + git diff vs the last round boundary\n"
        "(see catalog.py). The driver samples the first ~50 rows.\n\n"
        f"Entries: {len(order)} · never-verified: {n_never} · "
        f"code-touched: {len(touched & set(greens))} · newest verdict round: r{newest:02d}\n\n"
    )
    return head + "\n".join(rows) + "\n"


if __name__ == "__main__":
    # `python -m` runs this file as __main__ while the registering modules
    # import the canonical `spark_states_spark.catalog` instance — delegate
    # to that instance or the __main__ copy sees an empty registry.
    from spark_states_spark import catalog as _canonical

    out = os.path.join(_ROOT, "VERIFY_ORDER.md")
    with open(out, "w") as fh:
        fh.write(_canonical.freshness_table())
    print(f"wrote {out}")
    greens = _canonical.last_green_round()
    print(f"{len(_canonical.QUERIES)} entries; never-verified: "
          f"{sorted(n for n in _canonical.QUERIES if n not in greens)}")
