"""COVERAGE.md freshness gate.

COVERAGE.md is the hand-maintained audit table mapping SURVEY.md §2
ids to catalog entries. Hand-maintained docs drift: an entry added to
the catalog without a row (or at least a mention) in COVERAGE.md
silently falls out of the audit trail. This test asserts every
catalog entry name appears verbatim somewhere in COVERAGE.md, so the
doc cannot lag the catalog. (Composite entries that ride an existing
row still need their name mentioned on that row — that is the point.)

No SparkSession needed: importing the catalog only registers
callables.
"""

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_catalog_entry_named_in_coverage_md():
    from trisk_datawrangle_spark.catalog import QUERIES

    with open(os.path.join(REPO, "COVERAGE.md")) as fh:
        text = fh.read()

    missing = sorted(n for n in QUERIES if n not in text)
    assert not missing, (
        "catalog entries absent from COVERAGE.md (add a row or mention "
        f"them on the row that exercises them): {missing}"
    )


def test_every_catalog_entry_named_in_survey_or_coverage():
    """Weaker companion: the SURVEY §2 checklist plus COVERAGE.md
    together must reference the whole catalog — catches a rename that
    updates one doc but not the other."""
    from trisk_datawrangle_spark.catalog import QUERIES

    blob = ""
    for doc in ("COVERAGE.md", "SURVEY.md"):
        p = os.path.join(REPO, doc)
        if os.path.exists(p):
            with open(p) as fh:
                blob += fh.read()
    missing = sorted(n for n in QUERIES if n not in blob)
    assert not missing, f"entries unnamed in any audit doc: {missing}"


def _readme_section(text, heading):
    """The body of README.md's ``## heading`` section."""
    start = text.index(f"## {heading}\n")
    end = text.find("\n## ", start + 1)
    return text[start : end if end != -1 else len(text)]


def test_readme_names_only_existing_files():
    """Every path in the first column of README.md's Layout table and
    every ``python <file>`` in its Running block must exist — a
    deleted harness would otherwise keep being advertised."""
    import re

    with open(os.path.join(REPO, "README.md")) as fh:
        text = fh.read()

    layout = _readme_section(text, "Layout")
    named = [
        p
        for row in layout.splitlines()
        if row.startswith("| `")
        for p in re.findall(r"`([^`]+)`", row.split("|")[1])
    ]
    running = _readme_section(text, "Running")
    named += re.findall(r"\bpython3?\s+(?!-)(\S+)", running)

    assert named
    missing = sorted(
        p for p in named if not os.path.exists(os.path.join(REPO, p))
    )
    assert not missing, f"README.md names files that do not exist: {missing}"
