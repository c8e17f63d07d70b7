#!/usr/bin/env python3
"""List the `object` and `def` names of src/main that only tests use.

Usage:
    refcount.py      # run from the repository root

Declarations are the top-level objects and their members (indented at
most two spaces); a name counts as used by another file when it appears
there as a whole word, outside comments. Users are split into the program
(the other files of src/main, and perfbench/scala, whose driver calls the
pipeline's public functions) and the tests (src/test). Printed, one per
line: each name whose only users outside its own file are tests, as
`file:line  kind name  <- test files`, marked `(+ own file)` when its own
file uses it too (a helper exposed for a spec, not dead code).

Not listed: `override`, `private` (unqualified) and `main`/`apply`/`unapply`
members, which other files cannot or do not call by name, and objects that
declare a `main` (entry points, started by name). Matching is by name, so a
common name (`write`, `table`) that another program file uses for something
else hides a test-only member; the list is a lower bound. Exits 0 whether
or not anything is listed.
"""
import os
import re

PROGRAM = ("src/main/scala", "perfbench/scala")
TESTS = ("src/test/scala",)
DECL = re.compile(r"^(?P<indent> {0,2})(?P<mods>(?:[\w\[\]]+[ \t]+)*)(?P<kind>object|def)"
                  r"[ \t]+(?P<name>[A-Za-z_][A-Za-z0-9_]*)", re.M)
ENTRY = re.compile(r"^  def main\(", re.M)
SKIPPED = {"main", "apply", "unapply"}


def strip_comments(text):
    """`text` with `//` and (nested) `/* */` comments blanked, newlines and
    string literals kept, so line numbers and quoted names survive."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if text.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                elif text.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                else:
                    if text[i] == "\n":
                        out.append("\n")
                    i += 1
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            out.append(text[i:end])
            i = end
        elif text[i] == '"':
            end = i + 1
            while end < n and text[end] not in '"\n':
                end += 2 if text[end] == "\\" else 1
            out.append(text[i:end + 1])
            i = end + 1
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def scala_files(roots):
    found = []
    for top in roots:
        for root, _, names in os.walk(top):
            found += [os.path.join(root, f) for f in names if f.endswith(".scala")]
    return sorted(found)


def declarations(text):
    """(line, kind, name) of each object and callable def in `text`."""
    for m in DECL.finditer(text):
        mods = m.group("mods").split()
        if m.group("name") in SKIPPED or "override" in mods or "private" in mods:
            continue
        if m.group("kind") == "object" and not m.group("indent") and ENTRY.search(text):
            continue
        yield text.count("\n", 0, m.start("kind")) + 1, m.group("kind"), m.group("name")


def main():
    if not os.path.isdir("src/main/scala"):
        raise SystemExit("refcount: run from the repository root")
    code = {}
    for f in scala_files(PROGRAM + TESTS):
        with open(f, encoding="utf-8") as fh:
            code[f] = strip_comments(fh.read())
    tests = set(scala_files(TESTS))
    listed = 0
    for f in scala_files(("src/main/scala",)):
        for line, kind, name in declarations(code[f]):
            word = re.compile(r"\b%s\b" % re.escape(name))
            users = [g for g in code if g != f and word.search(code[g])]
            if users and all(g in tests for g in users):
                names = ", ".join(os.path.basename(g) for g in users)
                own = "  (+ own file)" if len(word.findall(code[f])) > 1 else ""
                print(f"{f}:{line}  {kind} {name}  <- {names}{own}")
                listed += 1
    print(f"{listed} test-only name(s)")


if __name__ == "__main__":
    main()
