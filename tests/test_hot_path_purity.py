"""Guardrails for the repo-wide performance contracts.

The package's standing claim (SCALING.md, round-6 verdict) is that no
operator puts row-at-a-time Python on an executor hot path: Python
appears only behind Arrow batching (mapInPandas / applyInPandasWithState /
transformWithStateInPandas / pandas_udf would be acceptable) or on the
driver. These tests pin that claim so a future convenience `F.udf` can't
slip in unnoticed.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "dbix_batchchunker_spark"


def _sources():
    for p in PKG.rglob("*.py"):
        yield p, p.read_text()


def test_no_row_at_a_time_python_udf():
    offenders = []
    for p, src in _sources():
        # F.udf( / @udf / udf( imported from functions — the row-based API.
        if re.search(r"(?<![\w.])udf\s*\(|@udf\b", src):
            offenders.append(str(p))
    assert not offenders, f"row-based Python UDF in: {offenders}"


def test_no_rdd_map_on_row_path():
    offenders = []
    for p, src in _sources():
        if re.search(r"\.rdd\.(map|flatMap|mapPartitions)\(", src):
            offenders.append(str(p))
    assert not offenders, f"RDD row transform in: {offenders}"


def test_collect_calls_are_all_annotated_bounded():
    """Every executor→driver materialization (.collect() / .toPandas() /
    .toArrow()) in the package must sit within 8 lines of a comment
    explaining its bound — the 'no unbounded driver materialization' rule
    made mechanical. (toLocalIterator is exempt: it streams.)"""
    unexplained = []
    for p, src in _sources():
        lines = src.splitlines()
        for i, ln in enumerate(lines):
            if any(m in ln for m in (".collect()", ".toPandas()", ".toArrow()")):
                ctx = "\n".join(lines[max(0, i - 8) : i + 1])
                if not re.search(
                    r"(?i)#.*(bound|tiny|small|one row per|driver|partitions,"
                    r"|cardinality|gate|demo|k rows|#users)",
                    ctx,
                ):
                    unexplained.append(f"{p}:{i + 1}")
    assert not unexplained, (
        "driver materialization without a bounding comment within 8 lines: "
        f"{unexplained}"
    )


def test_filesystem_primitives_only_in_store_fs():
    """Every store's Hadoop-FileSystem IO goes through one module,
    operators/store_fs.py: no other module opens a FileSystem handle,
    renames, creates-if-absent or reads a whole file — so each store
    primitive (handle, atomic metadata file, checked rename, lease,
    swap) has exactly one implementation."""
    substrate = PKG / "operators" / "store_fs.py"
    offenders = [
        f"{p.relative_to(PKG)}: {pat}"
        for p, src in _sources()
        if p != substrate
        for pat in (
            "getFileSystem(",
            ".rename(",
            "createNewFile(",
            "IOUtils.toByteArray",
        )
        if pat in src
    ]
    assert not offenders, f"filesystem IO outside store_fs.py: {offenders}"
