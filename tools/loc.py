#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source.

A line counts when anything but whitespace is left on it after removing
`//` line comments and `/* ... */` block comments (Scaladoc included).
Comment markers inside string and character literals are code.

Usage: python3 tools/loc.py <file-or-dir> [...]
Prints one `<count>  <path>` line per .scala file, then the total.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` holding code outside comments."""
    count = 0
    i, n = 0, len(text)
    depth = 0          # block-comment nesting (Scala nests /* */)
    has_code = False   # the current line holds code
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
            has_code = False
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith('"""', i):
            # triple-quoted string: may span lines, each of them code
            has_code = True
            i += 3
            while i < n and not text.startswith('"""', i):
                if text[i] == "\n":
                    count += 1
                i += 1
            i += 3
            while i < n and text[i] == '"':  # `""""` closes on the last 3
                i += 1
        elif c == '"':
            has_code = True
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            if i < n and text[i] == '"':
                i += 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # character literal ('x', '\n', 'A'); a lone ' is a symbol
            has_code = True
            i += 1
            while i < n and text[i] not in "'\n":
                i += 2 if text[i] == "\\" else 1
            if i < n and text[i] == "'":
                i += 1
        else:
            if not c.isspace():
                has_code = True
            i += 1
    return count + has_code


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        out += [os.path.join(root, f) for f in sorted(files)
                if f.endswith(".scala")]
    return out


def main(paths):
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                k = code_lines(fh.read())
            total += k
            print(f"{k:6d}  {f}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
