"""Regenerate PARITY.md's query -> operator appendix from the entry file.

Every `queries()` key gets exactly one row: the key plus the first
sentence of its query function's docstring (the operator pointer + what
the oracle checks). Run after adding queries;
tests/test_entry_hygiene.py::test_parity_appendix_covers_every_query
fails the suite if the appendix and `queries()` ever drift.

Usage: python tools/gen_parity_appendix.py
"""

from __future__ import annotations

import ast
import os
import re

# the checkout this script sits in, not whichever one the shell is in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "__spark_entry__.py")
PARITY = os.path.join(ROOT, "PARITY.md")
MARK_BEGIN = "<!-- BEGIN QUERY APPENDIX (generated by tools/gen_parity_appendix.py) -->"
MARK_END = "<!-- END QUERY APPENDIX -->"


def query_pairs() -> list[tuple[str, str]]:
    """(key, function-name) in queries() dict-literal order."""
    tree = ast.parse(open(ENTRY).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "queries":
            for n in ast.walk(node):
                if isinstance(n, ast.Dict):
                    return [
                        (
                            k.value,
                            v.id if isinstance(v, ast.Name) else "",
                        )
                        for k, v in zip(n.keys, n.values)
                    ]
    raise AssertionError("no queries() dict literal found")


def docstring_lead(tree: ast.Module) -> dict[str, str]:
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
            doc = ast.get_docstring(node) or ""
            first = re.sub(r"\s+", " ", doc.split("\n\n")[0]).strip()
            m = re.match(r"(.{20,240}?\.)(\s|$)", first)
            out[node.name] = (m.group(1) if m else first[:240]).strip()
    return out


def build_rows() -> list[str]:
    tree = ast.parse(open(ENTRY).read())
    leads = docstring_lead(tree)
    rows = ["| query | operator / what the oracle checks |", "|---|---|"]
    for key, fn in query_pairs():
        d = leads.get(fn, "").replace("|", "\\|")
        rows.append(f"| `{key}` | {d} |")
    return rows


def main() -> None:
    body = "\n".join(build_rows())
    n = len(query_pairs())
    section = (
        f"{MARK_BEGIN}\n\n"
        f"## Appendix: query -> operator index ({n} oracle-backed queries)\n\n"
        "One row per `queries()` entry, in gate order (first 50 = the\n"
        "driver's frozen correctness window). Regenerate with\n"
        "`python tools/gen_parity_appendix.py`; the hygiene test fails if\n"
        "this table and `queries()` drift.\n\n"
        f"{body}\n\n{MARK_END}"
    )
    text = open(PARITY).read()
    if MARK_BEGIN in text:
        pre = text.split(MARK_BEGIN)[0]
        post = text.split(MARK_END)[1]
        text = pre + section + post
    else:
        text = text.rstrip() + "\n\n" + section + "\n"
    open(PARITY, "w").write(text)
    print(f"wrote {n} appendix rows to PARITY.md")


if __name__ == "__main__":
    main()
