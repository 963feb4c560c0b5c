"""Citation-integrity gate (VERDICT r9 directive #2): every reference
path cited anywhere in the package source — ``src/<file>.py`` or
``sql/<file>.sql``, with or without ``:N`` / ``:N-M`` line suffixes —
must exist under ``/root/reference/``, and any cited line range must
fall inside the cited file's actual length. Round 9 shipped five
citations to files the reference does not have (src/ml_models.py,
src/analysis.py, src/spark_jobs.py); this test makes that class of
drift impossible to reintroduce."""

from __future__ import annotations

import pathlib
import re

import pytest

REFERENCE = pathlib.Path("/root/reference")
PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "smart_water_management_spark"

# src/foo.py, sql/bar.sql, optionally ':12' or ':12-34' right after.
_CITE = re.compile(r"\b((?:src|sql)/[A-Za-z0-9_./-]+\.(?:py|sql))(?::(\d+)(?:-(\d+))?)?")


def _iter_citations():
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        for m in _CITE.finditer(text):
            line_no = text[: m.start()].count("\n") + 1
            yield path, line_no, m.group(1), m.group(2), m.group(3)


@pytest.mark.skipif(
    not REFERENCE.is_dir(),
    reason=f"reference checkout {REFERENCE} is absent; citations cannot be checked",
)
def test_every_cited_reference_path_exists():
    bad = []
    checked = 0
    for src_path, line_no, cited, lo, hi in _iter_citations():
        checked += 1
        ref_file = REFERENCE / cited
        if not ref_file.is_file():
            bad.append(f"{src_path.name}:{line_no} cites nonexistent {cited}")
            continue
        if lo is not None:
            n_lines = ref_file.read_text().count("\n") + 1
            last = int(hi or lo)
            if last > n_lines:
                bad.append(
                    f"{src_path.name}:{line_no} cites {cited}:{lo}"
                    f"{'-' + hi if hi else ''} past EOF ({n_lines} lines)"
                )
    assert checked > 50, "citation scan found suspiciously few citations"
    assert not bad, "fabricated/stale reference citations:\n" + "\n".join(bad)
