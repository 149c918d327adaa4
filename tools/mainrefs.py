#!/usr/bin/env python3
"""List main source files that nothing else in the program uses.

Prints every .scala file under src/main/scala that declares top-level
types (class, object, trait) of which none is named, outside comments,
in another src/main/scala or cdcbench/src file. Files with a `def main`
are entry points and are skipped. Prints nothing when every file is
used.

Usage: python3 tools/mainrefs.py    (from the repository root)
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import scala_files  # noqa: E402

TOP_LEVEL = re.compile(
    r"^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*"
    r"(?:class|object|trait)\s+(\w+)", re.M)


def strip_comments(text):
    """`text` without `//` and (nested) `/* */` comments; strings kept."""
    out, i, n, depth = [], 0, len(text), 0
    while i < n:
        if depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text[i] == '"':
            j = text.find('"""', i) if text.startswith('"""', i) else -1
            end = text.find('"""', i + 3) + 3 if j == i else i + 1
            if j != i:
                while end < n and text[end] not in '"\n':
                    end += 2 if text[end] == "\\" else 1
                end += 1
            out.append(text[i:end])
            i = end
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def main():
    def load(root):
        return {f: strip_comments(open(f, encoding="utf-8").read())
                for f in scala_files(root)}
    main_src = load("src/main/scala")
    everyone = {**main_src, **load("cdcbench/src")}
    for f, code in main_src.items():
        if re.search(r"\bdef main\s*\(", code):
            continue
        names = set(TOP_LEVEL.findall(code))
        used = any(re.search(rf"\b{n}\b", other)
                   for n in names for g, other in everyone.items() if g != f)
        if names and not used:
            print(f)


if __name__ == "__main__":
    main()
