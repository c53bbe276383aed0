from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    from llm_aided_ocr_spark.session import get_spark

    spark = get_spark(app_name="ocr_spark_tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


# A test may skip only because an external input is missing, and only
# for one of these documented reasons; any other skip fails the session,
# so no invariant passes merely because its test was skipped.
SKIP_OPT_INS = {
    "reference tree": re.compile(r"reference not present"),
    "golden artifacts": re.compile(r"golden"),
    "Iceberg jar": re.compile(r"iceberg-spark-runtime jar"),
    "poppler (the real PDF renderer)": re.compile(
        r"poppler|could not import '(pdf2image|pytesseract)'"
    ),
    "driver testdata": re.compile(r"driver testdata"),
}

_unexplained_skips: list[tuple[str, str]] = []


def _skip_reason(report) -> str:
    longrepr = report.longrepr
    if isinstance(longrepr, tuple) and len(longrepr) == 3:
        return str(longrepr[2])
    return str(longrepr)


def _note_skip(report) -> None:
    if not report.skipped or hasattr(report, "wasxfail"):
        return
    reason = _skip_reason(report)
    if not any(p.search(reason) for p in SKIP_OPT_INS.values()):
        _unexplained_skips.append((report.nodeid, reason))


def pytest_runtest_logreport(report):
    _note_skip(report)


def pytest_collectreport(report):
    _note_skip(report)


def pytest_sessionfinish(session, exitstatus):
    if _unexplained_skips:
        session.exitstatus = pytest.ExitCode.TESTS_FAILED


def pytest_terminal_summary(terminalreporter):
    if _unexplained_skips:
        terminalreporter.section("skips outside the documented opt-ins")
        for nodeid, reason in _unexplained_skips:
            terminalreporter.write_line(f"{nodeid}: {reason}")
