"""CI guard (no Spark): every repo file a doc, module, test or script
names exists.

A cited name is either a root artifact (an upper-case name ending in
``.md``, ``.json``, ``.txt`` or ``.jsonl``) or a path under ``tools/``,
``tests/``, ``plans/``, ``perfbench/`` or ``spark_rapids_ml_spark/``.
``{N}`` and ``*`` in a name match anything; a ``::test_name`` suffix is
dropped, and a module path may name an attribute (``plans/profiling.span``)
or leave out ``.py``. A name resolves against the repo root, the citing
file's directory and the package root (``plans/...`` means
``spark_rapids_ml_spark/plans/...``). A name ``.gitignore`` covers is a
generated output and counts as present.

``CHANGES.md``, ``ROADMAP.md`` and a root-level task statement (a ``.md``
file titled ``# NAME <number> ...``) are history and plans: they name
deleted files on purpose and are not scanned.
"""

from __future__ import annotations

import fnmatch
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "spark_rapids_ml_spark")
EXEMPT = {"CHANGES.md", "ROADMAP.md"}
TASK_TITLE = re.compile(r"# [A-Z]+ \d+\b")
SCANNED = (".md", ".py", ".sh")

_NAME = r"[\w.*{}-]"
CITE = re.compile(
    r"(?<![\w./-])("
    rf"[A-Z][A-Z0-9]*(?:_{_NAME}+?)?\.(?:md|jsonl|json|txt)\b"
    rf"|(?:tools|tests|plans|perfbench|spark_rapids_ml_spark)/(?:{_NAME}|/)*[\w*}}]"
    r")"
)


def _ignore_patterns() -> list[str]:
    with open(os.path.join(ROOT, ".gitignore")) as f:
        lines = (ln.strip() for ln in f)
        return [ln for ln in lines if ln and not ln.startswith(("#", "!"))]


def _ignored(rel: str, patterns: list[str]) -> bool:
    parts = rel.split("/")
    for pat in patterns:
        pat = pat.rstrip("/")
        if "/" in pat:
            pat = pat.lstrip("/")
            if fnmatch.fnmatch(rel, pat) or rel.startswith(pat + "/"):
                return True
        elif any(fnmatch.fnmatch(p, pat) for p in parts):
            return True
    return False


def _exempt(rel: str) -> bool:
    if rel in EXEMPT:
        return True
    if "/" in rel or not rel.endswith(".md"):
        return False
    with open(os.path.join(ROOT, rel), encoding="utf-8", errors="replace") as f:
        return bool(TASK_TITLE.match(f.readline()))


def _scanned_files(patterns: list[str]):
    for dirpath, dirnames, filenames in os.walk(ROOT):
        rel_dir = os.path.relpath(dirpath, ROOT).replace(os.sep, "/")
        rel_dir = "" if rel_dir == "." else rel_dir + "/"
        dirnames[:] = [
            d for d in dirnames if d != ".git" and not _ignored(rel_dir + d, patterns)
        ]
        for name in filenames:
            rel = rel_dir + name
            if name.endswith(SCANNED) and not _ignored(rel, patterns) and not _exempt(rel):
                yield rel


def _present(name: str, citing_dir: str, patterns: list[str]) -> bool:
    name = re.sub(r"\{[^}]*\}", "*", name.split("::")[0])
    if _ignored(name, patterns):
        return True
    forms = (name, name + ".py", name.rsplit(".", 1)[0] + ".py")
    return any(
        glob.glob(os.path.join(base, form)) for base in (ROOT, citing_dir, PKG) for form in forms
    )


def missing_citations() -> list[str]:
    patterns = _ignore_patterns()
    out = []
    for rel in sorted(_scanned_files(patterns)):
        path = os.path.join(ROOT, rel)
        with open(path, encoding="utf-8", errors="replace") as f:
            text = f.read()
        for name in sorted(set(CITE.findall(text))):
            if not _present(name, os.path.dirname(path), patterns):
                out.append(f"{rel}: {name}")
    return out


def test_cited_repo_files_exist():
    missing = missing_citations()
    assert not missing, "cited repo files that do not exist:\n" + "\n".join(missing)
