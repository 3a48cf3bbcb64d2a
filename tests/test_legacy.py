"""Legacy ``*_sth`` constructor-argument migration — mirrors t/dbh-legacy.t:
Active processing + sleep (33-92), Query + min_chunk_percent expansion
(95-141), Query single_rows (143-200), DIY + count_sth (205-244), plus the
warn+migrate matrix of BatchChunker.pm:862-910 (fabricated connector from
the first legacy handle, modern attrs win over migrated ones)."""

from __future__ import annotations

import math

import pytest

from dbix_batchchunker_spark import BatchChunker
from tests.helpers import FakeClock, TRACK_IDS, make_track_db

CHUNK = 3


@pytest.fixture()
def db():
    conn = make_track_db()
    yield conn
    conn.close()


class _FakeSth:
    """Driver-wrapper-shaped prepared statement: .connection + .statement
    (the attribute pair _legacy_statement_parts accepts besides a tuple)."""

    def __init__(self, conn, sql):
        self.connection = conn
        self.statement = sql


def test_active_mode_legacy_sth_with_sleep(db):
    """t/dbh-legacy.t:33-92: legacy handles warn, migrate, and drive a full
    Active run; the sleep throttle still honors its bounds."""
    clock = FakeClock()
    with pytest.warns(DeprecationWarning, match="legacy usage"):
        bc = BatchChunker(
            chunk_size=CHUNK,
            min_sth=(db, "SELECT MIN(trackid) FROM track WHERE position = 1"),
            max_sth=(db, "SELECT MAX(trackid) FROM track WHERE position = 1"),
            sth=_FakeSth(
                db, "UPDATE track SET title = 'L' WHERE trackid BETWEEN ? AND ?"
            ),
            target_time=0,
            sleep=0.1,
            verbose=False,
            min_chunk_percent=0,
            time_source=clock,
            sleep_func=clock.sleep,
        )
    # migrated, not retained: the legacy names must not survive as attrs
    assert bc.stmt[0].startswith("UPDATE track")
    assert bc.dbapi_connector() is db

    assert bc.calculate_ranges()
    assert bc.min_id is not None and bc.max_id is not None
    n_chunks = math.ceil((bc.max_id - bc.min_id + 1) / CHUNK)
    t0 = clock()
    bc.execute()
    db.commit()
    elapsed = clock() - t0
    # slept between chunks but not after the last one (t/dbh.t:89-95 idiom)
    assert elapsed >= (n_chunks - 1) * 0.1
    assert elapsed < n_chunks * 0.5
    n = db.execute("SELECT COUNT(*) FROM track WHERE title = 'L'").fetchone()[0]
    assert n == len(TRACK_IDS)


def test_query_mode_legacy_with_expansion(db):
    """t/dbh-legacy.t:95-141: Query processing through legacy handles with a
    min_chunk_percent that forces at least one expansion on the gappy ids."""
    calls, max_end, max_range = [], [0], [0]

    def work(bc, cur):
        calls.append(cur.fetchall())
        ls = bc._ls
        max_end[0] = max(max_end[0], ls.end)
        max_range[0] = max(max_range[0], ls.end - ls.start + 1)

    with pytest.warns(DeprecationWarning, match="legacy usage"):
        bc = BatchChunker(
            chunk_size=CHUNK,
            min_sth=(db, "SELECT MIN(trackid) FROM track WHERE position = 1"),
            max_sth=(db, "SELECT MAX(trackid) FROM track WHERE position = 1"),
            sth=(
                db,
                "SELECT trackid FROM track WHERE position = 1 "
                "AND trackid BETWEEN ? AND ?",
            ),
            count_sth=(
                db,
                "SELECT COUNT(trackid) FROM track WHERE position = 1 "
                "AND trackid BETWEEN ? AND ?",
            ),
            coderef=work,
            target_time=0,
            sleep=0,
            min_chunk_percent=round((CHUNK - 1) / CHUNK, 2) + 0.01,
            verbose=False,
        )
    assert bc.calculate_ranges()
    n_chunks = math.ceil((bc.max_id - bc.min_id + 1) / CHUNK)
    bc.execute()
    assert len(calls) < n_chunks  # fewer calls than fixed-size chunking
    assert max_end[0] == bc.max_id
    assert max_range[0] > CHUNK  # expanded at least once


def test_query_single_rows_legacy(db):
    """t/dbh-legacy.t:143-200: single_rows through a legacy sth — dict rows
    with lowercased keys, one call per matching row."""
    rows = []
    with pytest.warns(DeprecationWarning, match="legacy usage"):
        bc = BatchChunker(
            chunk_size=CHUNK,
            min_sth=(db, "SELECT MIN(trackid) FROM track"),
            max_sth=(db, "SELECT MAX(trackid) FROM track"),
            sth=(
                db,
                "SELECT TrackID, Position FROM track WHERE position = 1 "
                "AND trackid BETWEEN ? AND ?",
            ),
            coderef=lambda bc, row: rows.append(row),
            single_rows=True,
            target_time=0,
            sleep=0,
            min_chunk_percent=0,
            verbose=False,
        )
    bc.calculate_ranges()
    bc.execute()
    want = db.execute(
        "SELECT COUNT(*) FROM track WHERE position = 1"
    ).fetchone()[0]
    assert len(rows) == want
    assert all(set(r) == {"trackid", "position"} for r in rows)  # lowercased
    assert all(r["position"] == 1 for r in rows)


def test_diy_mode_legacy_min_max_count(db):
    """t/dbh-legacy.t:205-244: min/max/count legacy handles with a DIY
    coderef(start, end) — no sth at all."""
    spans = []
    with pytest.warns(DeprecationWarning, match="legacy usage"):
        bc = BatchChunker(
            chunk_size=CHUNK,
            min_sth=(db, "SELECT MIN(trackid) FROM track WHERE position = 1"),
            max_sth=(db, "SELECT MAX(trackid) FROM track WHERE position = 1"),
            count_sth=(
                db,
                "SELECT COUNT(trackid) FROM track WHERE position = 1 "
                "AND trackid BETWEEN ? AND ?",
            ),
            coderef=lambda bc, start, end: spans.append((start, end)),
            target_time=0,
            sleep=0,
            min_chunk_percent=round((CHUNK - 1) / CHUNK, 2) + 0.01,
            verbose=False,
        )
    assert bc.calculate_ranges()
    bc.execute()
    assert spans and spans[-1][1] == bc.max_id
    assert max(e - s + 1 for s, e in spans) > CHUNK


def test_modern_attr_wins_over_legacy(db):
    """BatchChunker.pm:910 (``||=``): an explicitly-passed modern attr is
    NOT overwritten by the migrated legacy one."""
    with pytest.warns(DeprecationWarning):
        bc = BatchChunker(
            min_sth=(db, "SELECT 1"),
            max_sth=(db, "SELECT 2"),
            min_stmt="SELECT MIN(trackid) FROM track",
            stmt="UPDATE track SET title = 'm' WHERE trackid BETWEEN ? AND ?",
            target_time=0, sleep=0, chunk_size=CHUNK,
        )
    assert bc.min_stmt[0] == "SELECT MIN(trackid) FROM track"  # modern won
    assert bc.max_stmt[0] == "SELECT 2"  # legacy migrated where unset


def test_explicit_connector_not_replaced(db):
    """A caller-supplied dbapi_connector is kept; only statements migrate."""
    other = make_track_db()
    try:
        with pytest.warns(DeprecationWarning):
            bc = BatchChunker(
                dbapi_connector=lambda: other,
                min_sth=(db, "SELECT MIN(trackid) FROM track"),
                max_sth=(db, "SELECT MAX(trackid) FROM track"),
                stmt="UPDATE track SET title='y' WHERE trackid BETWEEN ? AND ?",
                target_time=0, sleep=0, chunk_size=CHUNK,
            )
        assert bc.dbapi_connector() is other
    finally:
        other.close()


def test_bare_cursor_rejected(db):
    """A PEP 249 cursor has .connection but no SQL text — the migration must
    fail with an actionable message, not silently fabricate a broken stmt."""
    cur = db.cursor()
    with pytest.raises(TypeError, match="pass \\(cursor.connection, sql\\)"):
        with pytest.warns(DeprecationWarning):
            BatchChunker(
                sth=cur,
                min_stmt="SELECT MIN(trackid) FROM track",
                max_stmt="SELECT MAX(trackid) FROM track",
                target_time=0, sleep=0, chunk_size=CHUNK,
            )


def test_legacy_equivalence_with_modern_args(db):
    """The migrated run must be behavior-identical to the modern-args run
    (t/dbh-legacy.t's whole point): same chunks, same rows touched."""
    modern = make_track_db()
    try:
        seen_legacy, seen_modern = [], []
        with pytest.warns(DeprecationWarning):
            BatchChunker.construct_and_execute(
                sth=(
                    db,
                    "SELECT trackid FROM track WHERE trackid BETWEEN ? AND ?",
                ),
                min_sth=(db, "SELECT MIN(trackid) FROM track"),
                max_sth=(db, "SELECT MAX(trackid) FROM track"),
                coderef=lambda bc, cur: seen_legacy.append(
                    tuple(r[0] for r in cur.fetchall())
                ),
                chunk_size=CHUNK, target_time=0, sleep=0, min_chunk_percent=0,
                verbose=False,
            )
        BatchChunker.construct_and_execute(
            dbapi_connector=lambda: modern,
            stmt="SELECT trackid FROM track WHERE trackid BETWEEN ? AND ?",
            min_stmt="SELECT MIN(trackid) FROM track",
            max_stmt="SELECT MAX(trackid) FROM track",
            coderef=lambda bc, cur: seen_modern.append(
                tuple(r[0] for r in cur.fetchall())
            ),
            chunk_size=CHUNK, target_time=0, sleep=0, min_chunk_percent=0,
            verbose=False,
        )
        assert seen_legacy == seen_modern
    finally:
        modern.close()
