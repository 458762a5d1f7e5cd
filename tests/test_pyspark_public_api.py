"""The library reaches pyspark through its public API only.  No code
in ``spatialdata_spark/`` or ``__spark_entry__.py`` touches the py4j
handles behind a DataFrame, GroupedData, Column or UDF, so a pyspark
upgrade that changes them cannot break a query with an opaque py4j
error, and no pyspark source has to be mirrored here.  Public calls
whose arguments pyspark reads differently from how they look are
pinned here too."""

from __future__ import annotations

import ast
import re
from pathlib import Path

_ROOT = Path(__file__).resolve().parents[1]
_PRIVATE = re.compile(r"\._jdf\b|\._jgd\b|\._jc\b|_judf|\bgrouped\._df\b")
_LIBRARY = [_ROOT / "__spark_entry__.py", *sorted((_ROOT / "spatialdata_spark").rglob("*.py"))]


def test_library_uses_no_private_pyspark_handles():
    hits = [
        f"{path.relative_to(_ROOT)}:{i}: {line.strip()}"
        for path in _LIBRARY
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if _PRIVATE.search(line)
    ]
    assert not hits, "private pyspark handles:\n" + "\n".join(hits)


def test_library_sample_calls_pass_fraction_by_keyword():
    """pyspark's ``DataFrame.sample(0.3, seed=42)`` reads the positional
    float as ``withReplacement``, then shifts the arguments and plans a
    random seed, so a seeded sample written that way is not reproducible.
    A library ``.sample(`` call with a ``seed=`` keyword must pass every
    other argument by keyword too."""
    hits = [
        f"{path.relative_to(_ROOT)}:{node.lineno}: {ast.unparse(node)}"
        for path in _LIBRARY
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "sample"
        and node.args
        and any(k.arg == "seed" for k in node.keywords)
    ]
    assert not hits, "positional arguments next to seed=:\n" + "\n".join(hits)


def _calls_outside(path: Path, attr: str, allowed_def: str | None = None) -> list[str]:
    """``<expr>.<attr>`` uses in one library file, except inside the
    top-level function ``allowed_def``."""
    tree = ast.parse(path.read_text())
    skip = [
        (d.lineno, d.end_lineno)
        for d in tree.body
        if isinstance(d, ast.FunctionDef) and d.name == allowed_def
    ]
    return [
        f"{path.relative_to(_ROOT)}:{node.lineno}: {ast.unparse(node)}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr == attr
        and not any(a <= node.lineno <= b for a, b in skip)
    ]


def test_library_builds_local_frames_through_one_helper():
    """``spark.createDataFrame(list)`` plans a Python-RDD scan (``Scan
    ExistingRDD``), which runs a Python-worker stage on every execution
    and carries no size statistics.  Driver-side rows become a frame
    through ``session.local_frame`` (an Arrow local relation), the only
    place the library calls ``createDataFrame``."""
    hits = [
        hit
        for path in _LIBRARY
        for hit in _calls_outside(
            path, "createDataFrame", "local_frame" if path.name == "session.py" else None
        )
    ]
    assert not hits, "createDataFrame outside session.local_frame:\n" + "\n".join(hits)


def test_library_uses_no_rdd():
    """``DataFrame.rdd`` turns Arrow/Tungsten rows into pickled Python
    rows; the library's Python kernels run through ``mapInPandas`` and
    ``applyInPandas`` instead."""
    hits = [hit for path in _LIBRARY for hit in _calls_outside(path, "rdd")]
    assert not hits, ".rdd in the library:\n" + "\n".join(hits)
