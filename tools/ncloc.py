#!/usr/bin/env python3
"""Count non-comment, non-blank lines of Scala (or Java) source.

Usage:
    ncloc.py                 # totals for src/main and src/test
    ncloc.py FILE_OR_DIR...  # one row per file (a dir counts its *.scala
                             # and *.java files together), then the total

A line counts when some character of it lies outside a `//` or `/* */`
comment and is not whitespace. String literals ("...", triple-quoted
\"\"\"...\"\"\" and character literals) are skipped while scanning, so a
`//` inside a string does not start a comment; a line inside a multi-line
triple-quoted string counts. Block comments nest, as in Scala. Run it from
the repository root.
"""
import os
import sys

EXTS = (".scala", ".java")


def ncloc(text):
    """Number of lines of `text` holding code outside comments."""
    lines = set()
    i, n, line, depth = 0, len(text), 0, 0
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth:
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif c.isspace():
            i += 1
        else:
            lines.add(line)
            if text.startswith('"""', i):
                end = text.find('"""', i + 3)
                end = n if end < 0 else end + 3
                while end < n and text[end] == '"':  # """...""""" ends late
                    end += 1
            elif c == '"':
                end = i + 1
                while end < n and text[end] not in '"\n':
                    end += 2 if text[end] == "\\" else 1
                end += 1
            elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
                end = text.find("'", i + 2) + 1 or n
            else:
                end = i + 1
            for k in range(i, min(end, n)):
                if text[k] == "\n":
                    line += 1
                    lines.add(line)
            i = end
    return len(lines)


def files_under(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _, names in os.walk(path):
        found += [os.path.join(root, f) for f in names if f.endswith(EXTS)]
    return sorted(found)


def count(path):
    total = 0
    for f in files_under(path):
        with open(f, encoding="utf-8") as fh:
            total += ncloc(fh.read())
    return total


def main(args):
    paths = args or ["src/main", "src/test"]
    total = 0
    for p in paths:
        if not os.path.exists(p):
            raise SystemExit(f"ncloc: no such file or directory: {p}")
        c = count(p)
        total += c
        print(f"{c:7d}  {p}")
    if len(paths) > 1:
        print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
