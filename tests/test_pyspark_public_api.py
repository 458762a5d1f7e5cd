"""The library reaches pyspark through its public API only.  No code
in ``spatialdata_spark/`` or ``__spark_entry__.py`` touches the py4j
handles behind a DataFrame, GroupedData, Column or UDF, so a pyspark
upgrade that changes them cannot break a query with an opaque py4j
error, and no pyspark source has to be mirrored here."""

from __future__ import annotations

import re
from pathlib import Path

_ROOT = Path(__file__).resolve().parents[1]
_PRIVATE = re.compile(r"\._jdf\b|\._jgd\b|\._jc\b|_judf|\bgrouped\._df\b")


def test_library_uses_no_private_pyspark_handles():
    files = [_ROOT / "__spark_entry__.py", *sorted((_ROOT / "spatialdata_spark").rglob("*.py"))]
    hits = [
        f"{path.relative_to(_ROOT)}:{i}: {line.strip()}"
        for path in files
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if _PRIVATE.search(line)
    ]
    assert not hits, "private pyspark handles:\n" + "\n".join(hits)
