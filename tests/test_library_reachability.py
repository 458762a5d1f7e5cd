"""Every top-level library definition is reached from the library itself.

A definition in ``spatialdata_spark/`` whose name appears nowhere in the
library, ``__spark_entry__.py`` or ``bench.py`` outside its own body is
code that only tests, tools or the benchmark reach.  Such a definition
moves into ``tests/`` when a test uses it as the reference for a registry
operator, and is deleted otherwise — unless it mirrors a reference
spatialdata API or is a draft row that ``tests/candidate_oracles.py``
checks against DuckDB (``ALLOWED`` below, one reason each).

The scan is static and transitive: a definition referenced only from the
bodies of other unreached definitions is unreached too.  A name counts
as referenced where it occurs as an identifier, an attribute, an
imported name or an identifier-shaped string constant (``__all__``,
``getattr``).  Names are matched without their module, so two modules
defining the same name keep each other alive.  A name built at run time
(``getattr`` on a formatted string) is not seen.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spatialdata_spark"
ENTRY_POINTS = ("__spark_entry__.py", "bench.py")

ALLOWED = {
    "datasets.blobs": "reference spatialdata.datasets.blobs (datasets.py:37-106)",
    "datasets.raccoon": "reference spatialdata.datasets.raccoon (datasets.py:77-101)",
    "operators.container.transform_to_data_extent":
        "reference transform_to_data_extent (_core/operations/_utils.py:13-141)",
    "operators.raster.build_pyramid": "reference multiscale pyramid construction (SURVEY §1.1)",
    "operators.raster.read_pyramid_level": "reference multiscale level read (SURVEY §1.1)",
    "operators.raster.select_pyramid_level": "reference level-selection heuristic (rasterize.py:439-451)",
    "operators.raster.select_pyramid_level_for_rasterize": "reference rasterize level-selection rule",
    "operators.raster.write_pyramid_store": "reference OME-NGFF multiscale level directories",
    "operators.raster.map_tiles_3d": "reference map_raster on 3D images",
    "operators.rasterize.relabel_by_partition": "reference map.py:159-216 block relabelling",
    "operators.relational.match_table_to_element_ordered":
        "reference match_table_to_element ordering (SURVEY §3.2)",
    "operators.relational.filter_table_by_var_names": "reference var_names table filter",
    "operators.vectorize.circles_to_polygon_shapes": "reference to_polygons on circles (vectorize.py:270-302)",
    "operators.temporal.runs_test_daily": "draft row checked against DuckDB in tests/candidate_oracles.py",
    "pipeline.classify.mcnemar_test": "draft row checked against DuckDB in tests/candidate_oracles.py",
    "pipeline.textstats.topk_mass": "draft row checked against DuckDB in tests/candidate_oracles.py",
    "sources.bucketing.write_bucketed": "writes the bucketed tables the graph ops' pre_partitioned=True expects",
    "sources.bucketing.read_bucketed": "reads back what write_bucketed stores, for pre_partitioned=True",
}


def _names(node) -> Counter:
    out = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.split(".")[-1]] += 1
            if n.asname:
                out[n.asname] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out[n.value] += 1
    return out


def _defined(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [stmt.name]
    elif isinstance(stmt, ast.Assign):
        names = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        names = [stmt.target.id]
    else:
        names = []
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _sources():
    pkg = os.path.join(ROOT, PACKAGE)
    for d, _, files in os.walk(pkg):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                mod = os.path.relpath(path, pkg)[: -len(".py")].replace(os.sep, ".")
                yield mod, path
    for f in ENTRY_POINTS:
        yield None, os.path.join(ROOT, f)


def unreached(allowed=()) -> list[str]:
    """Qualified names (``module.name``) of the library definitions that
    nothing outside their own body reaches, to a fixpoint; ``allowed``
    names count as reached."""
    stmts = []  # (names-used Counter, [qualified names defined])
    for mod, path in _sources():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for stmt in tree.body:
            defined = [f"{mod}.{n}" for n in _defined(stmt)] if mod is not None else []
            stmts.append((_names(stmt), defined))
    dead: set[str] = set()
    while True:
        live_stmts = [(used, d) for used, d in stmts if not d or not set(d) <= dead]
        total = Counter()
        for used, _ in live_stmts:
            total.update(used)
        new = set()
        for used, defined in live_stmts:
            for q in defined:
                name = q.rsplit(".", 1)[1]
                # nothing but the definition itself mentions the name
                if q not in dead and q not in allowed and total[name] <= used[name]:
                    new.add(q)
        if not new:
            return sorted(dead)
        dead |= new


def test_every_library_definition_is_reached_from_the_library():
    dead = unreached(ALLOWED)
    assert not dead, (
        f"reached only from tests/tools/perfbench: {dead} — move a test's "
        "reference implementation into tests/, otherwise delete it"
    )


def test_allowlist_has_no_stale_entry():
    """Every allowlisted name exists and would be flagged without its
    entry."""
    assert sorted(set(ALLOWED) - set(unreached())) == []
