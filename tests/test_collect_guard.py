"""Driver-materialization regression guard: every `.collect()` /
`.first()` in the library must stay model-/metadata-sized, and
`.toPandas()` must never appear — the properties the per-round scale
audit checks by hand.  This test pins the CURRENT audited census per
file; a new materialization site anywhere fails loudly and demands
classification (either it is model-sized — add it to the pin with a
rationale below — or it is a distributed-operator bug).

Audited classes behind the pinned counts (round-11 census):
- scalar/1-row reads of an aggregation (`.first()` on agg rows:
  extents, dims, sketch edges, signature length, CC convergence
  checksums, query vectors)
- model-sized collects: k-means centroids (k x dims), PQ/SQ codebooks,
  BPE merge tables (vocabulary-Zipf-bounded), IVF training samples
  (documented fixed-fraction sample), landmark pairs (user-provided,
  tiny by contract), zarr chunk-manifest rows (chunk-count-sized,
  pruned), distinct geometry kinds / scales / region keys
  (cardinality-bounded metadata), HITS/pagerank per-round max-scalars
- NO `.toPandas()` anywhere: Arrow batches flow through
  mapInPandas/pandas_udf inside the plan, never to the driver.
- NO `.take()` anywhere (round-12 spelling-completion: the same
  driver-materialization class has more spellings than the r11 census
  pinned).
- exactly ONE `.toLocalIterator()`: dataloader.py's ImageTilesDataset
  iterator, which STREAMS one crop at a time to the consumer by design
  (prefetchPartitions=True, documented in the module docstring) — the
  sanctioned driver-streaming export, not a bulk materialization.
"""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# {relpath: (collect, toPandas, first, take, toLocalIterator)} —
# update ONLY after classifying
# the new site as model-/metadata-sized (say why in the class list
# above); lowering a count after removing a site is always fine.
PINNED = {
    # r15: pl_knn_cosine's query-vector .first() became a broadcast
    # 1-row subquery inside the plan — one fewer driver materialization
    "__spark_entry__.py": (4, 0, 3, 0, 0),
    "spatialdata_spark/api.py": (0, 0, 1, 0, 0),
    "spatialdata_spark/catalog.py": (1, 0, 0, 0, 0),
    "spatialdata_spark/dataloader.py": (0, 0, 0, 0, 1),
    "spatialdata_spark/functions/zorder.py": (0, 0, 1, 0, 0),
    "spatialdata_spark/models/compat.py": (1, 0, 0, 0, 0),
    "spatialdata_spark/models/schemas.py": (1, 0, 0, 0, 0),
    "spatialdata_spark/operators/aggregate.py": (1, 0, 2, 0, 0),
    "spatialdata_spark/operators/measures.py": (0, 0, 3, 0, 0),
    "spatialdata_spark/operators/raster.py": (0, 0, 1, 0, 0),
    "spatialdata_spark/operators/rasterize.py": (1, 0, 1, 0, 0),
    "spatialdata_spark/operators/relational.py": (1, 0, 1, 0, 0),
    "spatialdata_spark/pipeline/bpe.py": (2, 0, 0, 0, 0),
    "spatialdata_spark/pipeline/classify.py": (0, 0, 1, 0, 0),
    "spatialdata_spark/pipeline/clustering.py": (6, 0, 0, 0, 0),
    "spatialdata_spark/pipeline/dedup.py": (0, 0, 2, 0, 0),
    "spatialdata_spark/pipeline/filters.py": (0, 0, 1, 0, 0),
    "spatialdata_spark/pipeline/graph.py": (2, 0, 0, 0, 0),
    "spatialdata_spark/pipeline/similarity.py": (2, 0, 2, 0, 0),
    "spatialdata_spark/pipeline/textstats.py": (0, 0, 1, 0, 0),
    "spatialdata_spark/sources/zarrio.py": (4, 0, 0, 0, 0),
    "spatialdata_spark/transformations/landmarks.py": (1, 0, 0, 0, 0),
}

METHODS = ("collect", "toPandas", "first", "take", "toLocalIterator")


def _census() -> dict[str, tuple[int, ...]]:  # one count per METHODS entry
    out = {}
    targets = []
    for root, _, files in os.walk(os.path.join(ROOT, "spatialdata_spark")):
        targets += [os.path.join(root, f) for f in files if f.endswith(".py")]
    targets.append(os.path.join(ROOT, "__spark_entry__.py"))
    for path in sorted(targets):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        c = dict.fromkeys(METHODS, 0)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in c
            ):
                c[node.func.attr] += 1
        if any(c.values()):
            out[os.path.relpath(path, ROOT)] = tuple(c[m] for m in METHODS)
    return out


def test_no_new_driver_materialization_sites():
    got = _census()
    new_files = sorted(set(got) - set(PINNED))
    assert not new_files, (
        f"new files with .collect()/.toPandas()/.first(): {new_files} — "
        "classify each site (model-sized? add to PINNED with a rationale; "
        "corpus-sized? the operator is not distributed)"
    )
    # element-wise: a lexicographic tuple compare would let .first()
    # grow while .collect() shrinks in the same file
    grown = {
        f: (got[f], PINNED[f])
        for f in got
        if any(g > p for g, p in zip(got[f], PINNED[f]))
    }
    assert not grown, (
        f"driver-materialization counts grew (got vs pinned): {grown} — "
        "classify the new site before re-pinning"
    )


def test_toPandas_never_appears():
    got = _census()
    offenders = {f: c for f, c in got.items() if c[METHODS.index("toPandas")]}
    assert not offenders, f".toPandas() in library/registry code: {offenders}"


def test_take_never_appears():
    # .take(n) is .collect() with a limit — same driver-materialization
    # class, zero current sites, pinned at zero
    got = _census()
    offenders = {f: c for f, c in got.items() if c[METHODS.index("take")]}
    assert not offenders, f".take() in library/registry code: {offenders}"


def test_pin_is_not_stale():
    """Counts that DROPPED should be re-pinned so the guard stays tight."""
    got = _census()
    stale = {
        f: (got.get(f, (0, 0, 0)), PINNED[f])
        for f in PINNED
        if any(g < p for g, p in zip(got.get(f, (0, 0, 0)), PINNED[f]))
    }
    if stale:
        pytest.fail(f"pinned counts exceed reality, tighten the pin: {stale}")
