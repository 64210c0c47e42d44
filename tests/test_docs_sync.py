"""Doc-sync gates: README's registry counts and COVERAGE.md's claims and
code references must match the live registry and source tree.

Round-1 VERDICT flagged hand-edited counts drifting twice; this pins them.
When you add/remove a registered query or oracle, update README.md's
``plans/`` blurb — this test tells you the right numbers.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from big_data_occupancy_detection_spark.plans import REGISTRY

README = Path(__file__).resolve().parent.parent / "README.md"


def test_readme_registry_counts_match():
    text = README.read_text()
    m = re.search(r"(\d+) named queries", text)
    assert m, "README must state '<N> named queries'"
    n_queries = int(m.group(1))
    m = re.search(r"\((\d+) oracles", text)
    assert m, "README must state '(<N> oracles'"
    n_oracles = int(m.group(1))

    actual_q = len(REGISTRY)
    actual_o = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    assert (n_queries, n_oracles) == (actual_q, actual_o), (
        f"README says {n_queries} queries / {n_oracles} oracles but the "
        f"registry has {actual_q} / {actual_o} — update README.md"
    )


COVERAGE = Path(__file__).resolve().parent.parent / "COVERAGE.md"

# registry names COVERAGE.md may legitimately mention without implying a
# verification mode ("test:"-style rows); everything cited after an
# "oracle:" / "rows-only" marker is checked against the live registry.
_NAME_RE = re.compile(r"`([a-z0-9_]+)`")


def _coverage_claims() -> list[tuple[str, str, str]]:
    """(claimed_mode, query_name, line) for every oracle:/rows-only claim."""
    claims = []
    for line in COVERAGE.read_text().splitlines():
        for mode, chunk in re.findall(
            r"(oracle|rows-only)[:\s]*((?:`[a-z0-9_]+`(?:,\s*)?)+)", line
        ):
            for name in _NAME_RE.findall(chunk):
                claims.append((mode, name, line))
    return claims


def test_coverage_md_oracle_claims_match_registry():
    """COVERAGE.md's per-query 'oracle:' / 'rows-only' claims must agree
    with the live registry (round-2 VERDICT: `embedding_ivf_topk` drifted
    to rows-only in the doc after gaining a real oracle)."""
    claims = _coverage_claims()
    assert claims, "COVERAGE.md stopped matching the claim pattern"
    checked = 0
    for mode, name, line in claims:
        if name not in REGISTRY:
            continue  # prose mention of a non-query symbol
        has_oracle = REGISTRY[name].oracle is not None
        if mode == "oracle":
            assert has_oracle, (
                f"COVERAGE.md claims `{name}` is oracle-verified but the "
                f"registry has no oracle for it:\n  {line.strip()}"
            )
        else:
            assert not has_oracle, (
                f"COVERAGE.md claims `{name}` is rows-only but the registry "
                f"HAS an oracle — update the doc:\n  {line.strip()}"
            )
        checked += 1
    assert checked >= 10, f"only {checked} COVERAGE.md claims checked"


_ROOT = COVERAGE.parent
_PKG = _ROOT / "big_data_occupancy_detection_spark"
# `path.py`, `path.py:name`, `path.py:name(args)` or `test_x.py::test_name`
_CODE_REF_RE = re.compile(r"`([\w./]+\.py)(?:::?(\w+))?[^`]*`")


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
    return names


def test_coverage_md_code_references_resolve():
    """Every backticked `path.py` / `path.py:name` in COVERAGE.md names a
    file in the package, under the repo root (`scripts/`, `tools/`,
    `__spark_entry__.py`) or in `tests/`, and the named def, class or
    constant is defined at its top level — a deleted module or function
    cannot leave a dangling row behind."""
    refs = _CODE_REF_RE.findall(COVERAGE.read_text())
    assert len(refs) >= 100, f"only {len(refs)} code references matched"
    dangling = []
    for rel, name in sorted(set(refs)):
        path = next(
            (p for p in (_PKG / rel, _ROOT / rel, _ROOT / "tests" / rel) if p.is_file()),
            None,
        )
        if path is None:
            dangling.append(f"{rel}: no such file")
        elif name and name not in _top_level_names(path):
            dangling.append(f"{rel}: `{name}` is not defined there")
    assert not dangling, "COVERAGE.md cites missing code:\n  " + "\n  ".join(dangling)
