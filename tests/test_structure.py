"""Repo-structure guards.

1. No shadowed top-level defs: two module-level ``def``/``class``
   statements with the same name silently keep the LAST one — the trap
   that produced the r9 ``kmeans_refine`` incident (commit 664985e) and
   the dead ``_split_top`` duplicate the r9 verdict found in
   ``latin/translate.py``. An AST walk over every engine module asserts
   it never happens again. Only DIRECT module-body children are
   checked, so conditional fallbacks (``try:/except ImportError:`` or
   ``if TYPE_CHECKING:`` redefinitions) stay legal.

2. Doc query-count pin: hand-written catalog counts in SCALE.md /
   COVERAGE.md drifted three rounds running (r7 141→151, r9 161→163).
   The docs now carry the literal count; this test fails the moment the
   catalog and the docs disagree.
"""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pig_spark"


def _top_level_dupes(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    seen: dict[str, int] = {}
    dupes = []
    for node in tree.body:  # direct children only — see module docstring
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.name in seen:
                dupes.append(
                    f"{path.relative_to(REPO)}:{node.lineno} shadows "
                    f"{node.name!r} first defined at line {seen[node.name]}"
                )
            else:
                seen[node.name] = node.lineno
    return dupes


def test_no_shadowed_top_level_defs():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        offenders.extend(_top_level_dupes(path))
    assert not offenders, "shadowed top-level definitions:\n" + "\n".join(offenders)


def test_doc_query_counts_match_catalog():
    sys.path.insert(0, str(REPO))
    try:
        from __spark_entry__ import queries
    finally:
        sys.path.pop(0)
    n = len(queries())
    # the SCALE.md header is THE catalog-size claim (the one that
    # drifted r7–r9); it must carry the live count
    header = (REPO / "SCALE.md").read_text().splitlines()[2]
    m = re.search(r"\b(\d+) queries\b", header)
    assert m, f"SCALE.md header lost its query-count claim: {header!r}"
    assert int(m.group(1)) == n, (
        f"SCALE.md header says {m.group(1)} queries but queries() has {n} — "
        "update the doc (this is the r8/r9 verdict drift class)"
    )


def test_gate_window_matches_freshness_plan():
    """The driver gates the FIRST 50 queries() entries; the window is
    now GENERATED from driver-evidence freshness (VERDICT r10 #5),
    not hand-derived. This pins the generated order to the tool's
    plan so a hand edit of _TIER0 or a new CORRECTNESS file can never
    silently desynchronize the two."""
    sys.path.insert(0, str(REPO))
    sys.path.insert(0, str(REPO / "tools"))
    try:
        from freshness import WINDOW, latest_evidence, window_plan

        from pig_spark.queries import _TIER0, QUERIES
    finally:
        sys.path.pop(0)
        sys.path.pop(0)
    names = list(QUERIES)
    plan = window_plan(_TIER0, latest_evidence(names))
    assert names[:WINDOW] == plan, (
        "queries() window diverges from tools/freshness.py plan; "
        f"first diff: {next((a, b) for a, b in zip(names, plan) if a != b)}"
    )
    # tier 0 must lead the window (new/changed queries re-verify first)
    assert names[: len(_TIER0)] == sorted(_TIER0)


def test_no_invalid_escape_sequences():
    """Invalid string escapes (``'\\S'`` in a non-raw literal) are
    DeprecationWarnings today and SyntaxErrors on a future Python
    (the r11 verdict found one in oracles.py:789). Compile every repo
    module with warnings-as-errors so new ones can't accumulate."""
    import warnings

    offenders = []
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO)
        if rel.parts[0] in ("spark-warehouse", ".git"):
            continue
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(), str(path), "exec")
            except (SyntaxError, DeprecationWarning, SyntaxWarning) as e:
                offenders.append(f"{rel}: {e}")
    assert not offenders, "escape-sequence debt:\n" + "\n".join(offenders)


def test_freshness_green_row_definition():
    """The evidence predicate counts only GREEN rows: the r10 file has
    q152 as a crashed row (nulls) — round 10 must never count as q152
    evidence. Asserted against the PINNED r10 artifact only: the
    driver appends a new CORRECTNESS_r{N}.json every round, so any
    assertion over the live artifact glob (the r11 incident: a ``< 10``
    upper bound on latest_evidence) is falsified the moment a later
    round goes green. Structure tests must be invariant to the driver
    appending round artifacts."""
    import json

    sys.path.insert(0, str(REPO / "tools"))
    try:
        from freshness import is_green
    finally:
        sys.path.pop(0)
    r10 = json.loads((REPO / "CORRECTNESS_r10.json").read_text())
    # q152's r10 row is the canonicalizer crash (nulls) — not evidence
    assert not is_green(r10["q152_pq_ann"])
    # a sibling green row in the same artifact IS evidence
    assert is_green(r10["q153_ivfpq_probe"])
    # rows-only queries (no hash computed) still count as green
    assert is_green({"rows_match": True, "hash_match": None})
    # and a hash mismatch is red even when row counts agree
    assert not is_green({"rows_match": True, "hash_match": False})


def test_partition_id_only_in_running_sums():
    """Partition ids must come from ONE evaluation of the layout:
    ``spark_partition_id()`` re-evaluated in two branches of a plan
    names different rows once AQE coalesces each branch's exchange
    read on its own. Only the running-sums primitive may touch it."""
    allowed = {PKG / "operators" / "prefix.py"}
    offenders = [
        f"{path.relative_to(REPO)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        if path not in allowed
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "spark_partition_id(" in line
    ]
    assert not offenders, "spark_partition_id( outside operators/prefix.py:\n" + "\n".join(offenders)
