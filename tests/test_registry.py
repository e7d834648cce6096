"""Registry hygiene: COVERAGE.md stays in step with the registry and
GRADES.json, no operator module silently rebinds a top-level name, and the
shared built frames stay read-only."""

from __future__ import annotations

import ast
import runpy
from pathlib import Path

import pytest

from tests.conftest import SF_DIR

REPO = Path(__file__).parent.parent
OPERATORS = REPO / "pyspark_ml_features_spark" / "operators"


def test_coverage_md_incorporates_every_grade_file():
    """Staleness guard: the committed COVERAGE.md equals what
    `scripts/gen_coverage.py` renders from the registry and GRADES.json.

    One equality covers three drifts: the rows name exactly the registered
    queries (an operator module dropped from queries.py fails here instead
    of silently removing its queries from the engine), every grade cell
    matches GRADES.json, and each row's oracle kind, tags and summary match
    its registration."""
    gen = runpy.run_path(str(REPO / "scripts" / "gen_coverage.py"),
                         run_name="__check__")
    assert (REPO / "COVERAGE.md").read_text() == gen["render"](), (
        "COVERAGE.md is stale — re-run `python scripts/gen_coverage.py` "
        "and commit")


def _top_level_bindings(tree: ast.Module) -> list[tuple[str, int]]:
    """(name, line) for every name a module binds at top level: defs,
    classes, plain/annotated assignments and imports."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            out.append((node.name, node.lineno))
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        out.append((n.id, node.lineno))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target,
                                                            ast.Name):
            out.append((node.target.id, node.lineno))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name != "annotations":
                    out.append((name, node.lineno))
    return out


def test_no_operator_module_rebinds_a_top_level_name():
    """Operator modules hold many queries each, and two unrelated
    constants can share a name (dedup's N_BANDS vs the OR-banding
    N_BANDS in similarity). A second top-level binding silently shadows
    the first for every function defined above it that reads the name at
    call time — the F811 class no installed linter checks here."""
    clashes = []
    for path in sorted(OPERATORS.glob("*.py")):
        seen: dict[str, int] = {}
        for name, line in _top_level_bindings(ast.parse(path.read_text())):
            if name in seen:
                clashes.append(f"{path.name}: {name} (lines {seen[name]} "
                               f"and {line})")
            seen.setdefault(name, line)
    assert not clashes, "top-level names bound twice:\n" + "\n".join(clashes)


def test_built_frames_refuse_cache_state_changes(built):
    """The shared ``built`` frames are read-only: a consumer that cached
    or unpersisted one would change what every later consumer reads."""
    df, _ = built("a3_parquet_scan", SF_DIR)
    for method in ("persist", "cache", "unpersist"):
        with pytest.raises(AssertionError, match="read-only"):
            getattr(df, method)()
    assert not df.is_cached
