"""Each registry key is written once.

``queries()`` and ``oracle_sql()`` return dict literals; a repeated key
is silently dropped by Python (the first occurrence fixes the position,
the last one the value), so a copy-pasted line can shadow a query or an
oracle without any other test noticing.  Checked on the source, without
Spark.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

import pytest

ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")


def _returned_dict_keys(fn_name: str) -> list[str]:
    with open(ENTRY) as fh:
        tree = ast.parse(fh.read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == fn_name)
    dicts = [n.value for n in ast.walk(fn) if isinstance(n, ast.Return) and isinstance(n.value, ast.Dict)]
    assert len(dicts) == 1, f"{fn_name}() must return one dict literal"
    return [k.value for k in dicts[0].keys]


@pytest.mark.parametrize("fn_name", ["queries", "oracle_sql"])
def test_registry_dict_has_no_duplicate_keys(fn_name):
    keys = _returned_dict_keys(fn_name)
    assert keys, fn_name
    dups = sorted(k for k, n in Counter(keys).items() if n > 1)
    assert not dups, f"{fn_name}() repeats keys: {dups}"
