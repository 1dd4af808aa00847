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
    deleted harness would otherwise keep being advertised. So must
    every package module (``llm/<name>.py``, ``plans/<name>.py``, ...)
    cited in the package's sources, comments and docstrings included,
    or in README, COVERAGE, SCALING and SURVEY: a cut module must
    leave no citation behind. The history files (ROADMAP, CHANGES,
    BASELINE) are exempt."""
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

    pkg = os.path.join(REPO, "trisk_datawrangle_spark")
    docs = ("README.md", "COVERAGE.md", "SCALING.md", "SURVEY.md")
    citing = [os.path.join(REPO, d) for d in docs] + [
        os.path.join(d, f)
        for d, _, fs in os.walk(pkg)
        for f in fs
        if f.endswith(".py")
    ]
    module = re.compile(
        r"\b(?:llm|operators|plans|sources|functions|catalog)/\w+\.py\b"
    )
    dangling = set()
    for path in citing:
        with open(path) as fh:
            dangling |= {
                f"{os.path.relpath(path, REPO)}: {m}"
                for m in module.findall(fh.read())
                if not os.path.exists(os.path.join(pkg, m))
            }
    assert not dangling, f"citations of missing modules: {sorted(dangling)}"


def _package_imports():
    """``{module: set of package modules it imports}`` from an AST
    scan of ``trisk_datawrangle_spark/``, function-local imports
    included. Importing ``a.b.c`` also runs ``a/__init__`` and
    ``a/b/__init__``, so parent packages count as imported."""
    import ast

    pkg = "trisk_datawrangle_spark"
    files = {}
    for d, _, fs in os.walk(os.path.join(REPO, pkg)):
        for f in fs:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(d, f), REPO)[:-3]
                mod = rel.replace(os.sep, ".").removesuffix(".__init__")
                files[mod] = os.path.join(d, f)

    def with_parents(mod):
        parts = mod.split(".")
        return {".".join(parts[:i]) for i in range(1, len(parts) + 1)}

    graph = {}
    for mod, path in files.items():
        with open(path) as fh:
            tree = ast.parse(fh.read())
        deps = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                targets = [node.module] + [
                    f"{node.module}.{a.name}" for a in node.names
                ]
            else:
                continue
            for t in targets:
                if t.startswith(pkg):
                    deps |= {m for m in with_parents(t) if m in files}
        graph[mod] = deps
    return graph


def test_every_module_reachable_from_an_entry_point():
    """Every package module must be imported, directly or through
    others, by ``run_workflow``, the catalog or the package
    ``__init__``. A module that outlives its last caller (its catalog
    entries deleted, nothing else importing it) fails here."""
    graph = _package_imports()
    roots = [
        "trisk_datawrangle_spark",
        "trisk_datawrangle_spark.run_workflow",
        "trisk_datawrangle_spark.catalog",
    ]
    seen, todo = set(), list(roots)
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(graph[mod])
    orphans = sorted(set(graph) - seen - {"trisk_datawrangle_spark.__main__"})
    assert not orphans, f"modules no entry point imports: {orphans}"
