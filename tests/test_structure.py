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
import json
import os
import re
import subprocess
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


def test_catalog_import_reads_only_the_package(tmp_path):
    """``import pig_spark.queries`` opens no file of the repository
    outside ``pig_spark/``, and the catalog is in name order. The order
    used to be computed at import from round evidence files next to the
    package, so it changed with repository history and the import
    depended on files a packaged install does not ship. Runs in a
    fresh interpreter, from a directory outside the repository, with an
    ``open`` audit hook installed before the import."""
    probe = """
import json, os, sys
opened = []
def hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes)):
        opened.append(os.path.realpath(os.fsdecode(args[0])))
sys.addaudithook(hook)
from pig_spark.queries import QUERIES
print(json.dumps({"opened": opened, "names": list(QUERIES)}))
"""
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp_path, env=env,
        capture_output=True, text=True, check=True,
    )
    seen = json.loads(out.stdout.splitlines()[-1])
    outside = sorted(
        {
            p for p in seen["opened"]
            if Path(p).is_relative_to(REPO) and not Path(p).is_relative_to(PKG)
        }
    )
    assert not outside, "import pig_spark.queries opened files outside the package:\n" + "\n".join(outside)
    assert seen["names"] == sorted(seen["names"])


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


def test_one_bag_comparator():
    """Bags sort through ONE comparator, ``operators.nested.bag_sort``
    (multi-key, null smallest, ``'*'`` for scalar elements): the
    hand-written copies in the Latin translator and ``TOP`` had drifted
    apart — one ignored nulls, one treated null as equal to everything.
    ``array_sort`` with a comparator argument may appear only there;
    the comparator-free form (natural order) stays legal anywhere."""
    allowed = PKG / "operators" / "nested.py"
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not (isinstance(node, ast.Call) and len(node.args) + len(node.keywords) > 1):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name == "array_sort":
                offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not offenders, "array_sort comparator outside operators/nested.py:\n" + "\n".join(offenders)
