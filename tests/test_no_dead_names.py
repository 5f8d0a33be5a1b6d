"""Every top-level function, class and constant of ``osmnightwatch_spark``
has a caller outside the tests, or stays on ``KEEP`` with its reason.

A reference is a ``Name`` or ``Attribute`` load, an import alias or an
identifier string (registries look names up by string) in any non-test
``.py`` file of the repository. References inside the name's own
definition do not count, so a recursive helper is not its own caller.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "osmnightwatch_spark"

# names only tests call: a reference oracle, or the operator a SURVEY.md
# row or the north rule names
KEEP = {
    "operators.pip_join.pip_join_brute": "oracle of pip_join",
    "operators.knn.knn_join_brute": "oracle of knn_join",
    "functions.cells.ring_neighbors": "oracle of ring_cells_col",
    "functions.cells.children_cells": "oracle of parent_cell and compact_cells",
    "functions.geometry.point_in_wkb": "oracle of the PIP refine",
    "operators.sketches.hll_estimate": "oracle of the HLL registers",
    "functions.codecs.LONLAT_SQL": "oracle of the geotag codec",
    "plans.pipeline.flagship_checkpointed": "north rule: checkpoint resume",
    "operators.coastline.crossing_issues_incremental": "SURVEY J6",
    "operators.closure.relation_closure": "SURVEY J2",
    "plans.admin_validator.country_admin_sets": "SURVEY A5",
    "plans.admin_validator.admins_to_country": "SURVEY A6",
    "operators.issues.last_known_good": "SURVEY A8",
    "operators.coverage.geometric_coverage": "SURVEY A9",
    "operators.raster.render_density_tiles": "SURVEY A9",
    "operators.skew.salted_repartition": "north rule and SURVEY §7: salting",
    "plans.analyzers.default_registry": "SURVEY U1",
    "plans.analyzers.write_issues_json": "SURVEY U1",
    "plans.analyzers.names_issues": "SURVEY U1: NamesAnalyzer's row validator",
    "plans.incremental.apply_entity_changesets": "SURVEY ST5 / ST7",
    "plans.incremental.dirty_relation_ids": "SURVEY ST5 / ST7",
    "plans.incremental.incremental_assemble": "SURVEY ST5 / ST7",
}


def _source_files():
    for path in sorted(REPO.rglob("*.py")):
        parts = path.relative_to(REPO).parts
        if any(p.startswith(".") or p == "tests" for p in parts):
            continue
        if parts[-1].startswith("test_") or parts[-1] == "conftest.py":
            continue
        yield path


def _defined(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    return [t.id for t in targets
            if isinstance(t, ast.Name) and not t.id.startswith("__")]


def _referenced(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier():
            out.add(n.value)
    return out


def dead_names() -> list[str]:
    defs = []  # (qualified name, file, name)
    refs = []  # (file, names the statement defines, names it references)
    for path in _source_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        in_package = PACKAGE in path.parents
        mod = ".".join(path.relative_to(PACKAGE).with_suffix("").parts) \
            if in_package else None
        for stmt in tree.body:
            names = _defined(stmt)
            refs.append((path, set(names), _referenced(stmt)))
            if in_package:
                defs += [(f"{mod}.{n}", path, n) for n in names]
    dead = []
    for qual, path, name in defs:
        if not any(name in used and not (p == path and name in own)
                   for p, own, used in refs):
            dead.append(qual)
    return dead


def test_every_package_name_has_a_caller():
    dead = [q for q in dead_names() if q not in KEEP]
    assert not dead, f"names no non-test code references: {dead}"


def test_keep_list_names_live_definitions():
    # a KEEP entry whose name is gone or has gained a caller is stale
    assert sorted(KEEP) == sorted(q for q in dead_names() if q in KEEP)
