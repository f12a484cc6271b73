"""Regenerate SURVEY.md Appendix A (registry ↔ §2 inventory map) from the
live query registry. Run after any change that moves a registered query::

    python tools/gen_appendix.py

Rewrites only the table body between the Appendix A header and the first
non-table line after it. ``tests/test_guards.py`` renders the same rows
with :func:`appendix_rows` and fails when the committed table differs.
"""

from __future__ import annotations

import inspect
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SURVEY = os.path.join(REPO, "SURVEY.md")
HEADER = "| query | where | what |\n|---|---|---|\n"
WIDTH = 110


def one_liner(doc: str) -> str:
    text = " ".join((doc or "(no docstring)").strip().split())
    text = text.replace("|", "\\|")
    if len(text) > WIDTH:
        text = text[:WIDTH] + "..."
    return text


def appendix_rows() -> list[str]:
    """One ``| query | module:line | docstring |`` row per registered
    query, sorted by name."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from smfg_datawarehouse_spark.queries import all_queries

    rows = []
    for name, fn in sorted(all_queries().items()):
        mod = fn.__module__.replace("smfg_datawarehouse_spark.", "")
        line = inspect.getsourcelines(fn)[1]
        rows.append(f"| `{name}` | `{mod}:{line}` | {one_liner(fn.__doc__)} |")
    return rows


def appendix_span(src: str) -> tuple[int, int]:
    """``(start, end)`` of the Appendix A table in SURVEY.md's text."""
    m = re.search(r"(## Appendix A[^\n]*\n)", src)
    assert m, "Appendix A header not found"
    start = src.index(HEADER.split("\n")[0], m.end())
    # the table ends at its first non-table line; a later section survives
    end = src.find("\n", start)
    while end != -1 and src.startswith("|", end + 1):
        end = src.find("\n", end + 1)
    return start, len(src) if end == -1 else end + 1


def main() -> None:
    rows = appendix_rows()
    with open(SURVEY) as fh:
        src = fh.read()
    start, end = appendix_span(src)
    with open(SURVEY, "w") as fh:
        fh.write(src[:start] + HEADER + "\n".join(rows) + "\n" + src[end:])
    print(f"Appendix A regenerated: {len(rows)} rows")


if __name__ == "__main__":
    main()
