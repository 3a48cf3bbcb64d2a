"""A15 progress/status formatting: CLDR-style grouping, fixed-width status
lines, and the ≥1e9 wide-ID compaction (reference BatchChunker.pm:1676-1745).
No Spark needed — pure formatting."""

from __future__ import annotations

import io

import pytest

from dbix_batchchunker_spark.progress import (
    ProgressPrinter,
    chunk_status_line,
    format_decimal,
    format_int,
    format_percent,
)


def test_format_helpers():
    assert format_int(1234567) == "1,234,567"
    assert format_int(1234567, sep=".") == "1.234.567"
    assert format_decimal(7.5) == "7.50"
    assert format_decimal(0.125, 1) == "0.1"
    assert format_percent(0.85) == "85%"
    assert format_percent(1.2345) == "123%"


def test_status_line_narrow_ids_fixed_width():
    line = chunk_status_line(1, 5000, "processed", 4321, 5000, runtime=1.5)
    assert line == (
        "IDs      1 to   5000 processed,     4,321 rows found"
        " ( 86% of chunk size),  1.50 sec runtime"
    )


def test_status_line_sleep_variant():
    line = chunk_status_line(1, 100, "processed", 100, 100, runtime=2.0, sleep=0.5)
    assert line.endswith(",  2.00+0.50 sec runtime+sleep")
    assert "(100% of chunk size)" in line


def test_status_line_checked_has_no_runtime():
    line = chunk_status_line(1, 100, "checked", 7, 100, runtime=9.9)
    assert "sec runtime" not in line
    assert "rows found" in line


def test_status_line_wide_ids_compacted():
    # ≥1e9 IDs: raw (ungrouped) ids, single-spaced, no padded parens
    line = chunk_status_line(
        10**12, 10**12 + 499, "processed", 500, 500, runtime=0.25
    )
    assert line == (
        "IDs 1000000000000 to 1000000000499 processed, 500 rows found"
        " (100% of chunk size), 0.25 sec runtime"
    )
    assert "  " not in line  # compaction collapsed every space run
    line9 = chunk_status_line(10**9, 10**9 + 1, "checked", 2, 500)
    assert "1000000000" in line9 and "  " not in line9


def test_status_line_unknown_count():
    line = chunk_status_line(1, 100, "checked", None, 100)
    assert "? rows found" in line
    assert "chunk size" not in line


def test_progress_printer_silent_when_not_tty():
    buf = io.StringIO()  # not a TTY → bar suppressed, messages pass through
    p = ProgressPrinter(stream=buf)
    p.on_progress(5, 10)
    assert buf.getvalue() == ""
    p.on_message("hello")
    assert buf.getvalue() == "hello\n"


def test_progress_printer_bar_when_forced():
    buf = io.StringIO()
    p = ProgressPrinter(stream=buf, force=True)
    p.on_progress(10, 10)
    out = buf.getvalue()
    assert "100.0%" in out and "(10/10)" in out


def test_cldr_locale_formatting():
    """The reference's `cldr` attribute is a caller-replaceable CLDR::Number
    (BatchChunker.pm:452-465); the analog is a locale knob over a CLDR
    symbol subset. Symbols per the published CLDR charts: de groups with
    '.', decimals with ',' and gaps the percent sign with U+00A0; fr groups
    with U+202F narrow no-break space."""
    from dbix_batchchunker_spark.progress import (
        NumberLocale,
        chunk_status_line,
        format_decimal,
        format_int,
        format_percent,
    )

    assert format_int(1_234_567) == "1,234,567"
    assert format_int(1_234_567, locale="de") == "1.234.567"
    assert format_int(1_234_567, locale="fr") == "1 234 567"
    assert format_int(1_234_567, sep="_") == "1_234_567"  # pre-locale API
    assert format_decimal(1.5, locale="de") == "1,50"
    assert format_percent(0.85, locale="de") == "85 %"
    assert format_percent(0.85, locale="ja") == "85%"

    line = chunk_status_line(0, 499, "processed", 1500, 500,
                             runtime=1.25, locale="de")
    assert "1.500 rows found" in line
    assert "300 % of chunk size" in line
    assert "1,25 sec runtime" in line

    # custom locale object passes straight through
    custom = NumberLocale("'", ".", "")
    assert format_int(1_234_567, locale=custom) == "1'234'567"

    with pytest.raises(ValueError, match="unknown locale"):
        format_int(1, locale="tlh")


def test_chunker_locale_attr_reaches_status_lines():
    from dbix_batchchunker_spark import BatchChunker

    bc = BatchChunker(
        coderef=lambda bc, s, e: None, min_id=0, max_id=2999,
        chunk_size=1500, target_time=0, sleep=0, verbose=True,
        locale="de",
    )
    bc.execute()
    # de decimal comma in runtimes, de grouping dot in the totals header
    assert any("0,00 sec runtime" in m for m in bc.messages), bc.messages
    assert any("3.000 total ids" in m for m in bc.messages), bc.messages


def test_unknown_locale_rejected_at_construction():
    """Strict-constructor posture: a bad locale must fail at BatchChunker()
    time, not mid-run at the first status line after chunks committed."""
    from dbix_batchchunker_spark import BatchChunker

    with pytest.raises(ValueError, match="unknown locale"):
        BatchChunker(
            coderef=lambda bc, s, e: None, min_id=0, max_id=9,
            chunk_size=10, target_time=0, sleep=0, locale="en-US",
        )


def test_indian_grouping_locale():
    """CLDR non-uniform grouping (pattern #,##,##0): primary group of 3,
    then repeating 2s — the case a uniform '{:,}' replace cannot render."""
    from dbix_batchchunker_spark.progress import format_int

    assert format_int(123456789, locale="hi") == "12,34,56,789"
    assert format_int(1234, locale="en-IN") == "1,234"
    assert format_int(12345, locale="en-IN") == "12,345"
    assert format_int(123456, locale="en-IN") == "1,23,456"
    assert format_int(-9876543, locale="hi") == "-98,76,543"
    assert format_int(7, locale="hi") == "7"
    # uniform locales keep the fast path
    assert format_int(123456789, locale="de") == "123.456.789"
