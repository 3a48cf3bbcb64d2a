"""Constructor validation — mirrors reference t/construct.t:26-130."""

import pytest

from dbix_batchchunker_spark import BatchChunker


def noop(*args):
    pass


def test_unknown_attribute_rejected():
    with pytest.raises(TypeError, match="unknown attribute"):
        BatchChunker(coderef=noop, min_id=1, max_id=10, bogus_attr=1)


def test_stmt_requires_connector():
    with pytest.raises(ValueError, match="dbapi_connector"):
        BatchChunker(stmt="UPDATE t SET x=1 WHERE id BETWEEN ? AND ?")


def test_count_stmt_requires_connector():
    with pytest.raises(ValueError, match="dbapi_connector"):
        BatchChunker(coderef=noop, count_stmt="SELECT 1", min_id=1, max_id=2)


def test_df_requires_id_name():
    with pytest.raises(ValueError, match="id_name"):
        BatchChunker(df=object(), coderef=noop)


def test_range_calc_requirements():
    # connector present but no min/max stmts and no df → cannot range-calc
    with pytest.raises(ValueError, match="Range calculations require"):
        BatchChunker(
            dbapi_connector=lambda: None,
            stmt="UPDATE t SET x=1 WHERE id BETWEEN ? AND ?",
        )


def test_block_execution_requirements():
    with pytest.raises(ValueError, match="Block execution requires"):
        BatchChunker(
            dbapi_connector=lambda: None,
            min_stmt="SELECT MIN(id) FROM t",
            max_stmt="SELECT MAX(id) FROM t",
        )


def test_diy_mode_is_exempt():
    bc = BatchChunker(coderef=noop, min_id=1, max_id=10, target_time=0, chunk_size=5)
    assert bc.chunk_size == 5


def test_target_time_zero_default_chunk_size_warns():
    with pytest.warns(UserWarning, match="chunk_size"):
        BatchChunker(coderef=noop, target_time=0)


def test_probe_mode_validated():
    # probe_mode is gone: every DataFrame probe reads one exact id-count
    # index, and leaving out a count source disables probing
    for mode in ("nope", "off", "count", "histogram"):
        with pytest.raises(TypeError, match="unknown attribute.*probe_mode"):
            BatchChunker(coderef=noop, probe_mode=mode)
