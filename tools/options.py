#!/usr/bin/env python3
"""Count the settable options of Scala source.

An option is either
  - a default-valued parameter of a public `def` (a parameter written
    `name: Type = value` in a def not marked `private` or `protected`,
    declared in an object, class or trait that is not private either), or
  - a `GRAFT_*` environment switch read through `sys.env` or
    `System.getenv` (each distinct name once).
Comments and string contents are ignored when parsing defs; env switch
names are read out of string literals.

Usage: python3 tools/options.py [-v] <file-or-dir> [...]
Prints one `<count>  <path>` line per .scala file holding options, then
the env switches and the total. `-v` lists each option.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import scala_files  # noqa: E402

ENV = re.compile(r'(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)'
                 r'\s*\(\s*"((?:SPARK_)?GRAFT_[A-Z0-9_]+)"')


def strip(text):
    """`text` with comments removed and string/char literal contents
    blanked, line structure kept."""
    out = []
    i, n, depth = 0, len(text), 0
    while i < n:
        c = text[i]
        if depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                out.append("\n" if c == "\n" else " ")
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append('""' + "\n" * text.count("\n", i, j))
            i = j
        elif c == '"':
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            out.append('""')
            i += 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            i += 1
            while i < n and text[i] not in "'\n":
                i += 2 if text[i] == "\\" else 1
            out.append("' '")
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def matching(s, i):
    """Index just past the bracket group opening at s[i]."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack = [pairs[s[i]]]
    i += 1
    while i < len(s) and stack:
        if s[i] in pairs:
            stack.append(pairs[s[i]])
        elif s[i] == stack[-1]:
            stack.pop()
        i += 1
    return i


def split_top(s):
    """Split a parameter list body on its top-level commas."""
    parts, depth, cur = [], 0, []
    for c in s:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return [p for p in parts if p.strip()]


MOD = r"(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|sealed\s+|abstract\s+|case\s+|lazy\s+)*"
SCOPE = re.compile(r"\b(" + MOD + r")(object|class|trait)\s+(\w+)")
DEF = re.compile(r"\b(" + MOD + r")def\s+([^\s(\[:=]+)")


def private(mods):
    return "private" in mods or "protected" in mods


def scopes(s):
    """(start, end, is_private) of every object/class/trait body."""
    out = []
    for m in SCOPE.finditer(s):
        j = s.find("{", m.end())
        # a body brace must come before the next definition
        nxt = SCOPE.search(s, m.end())
        if j < 0 or (nxt and nxt.start() < j):
            continue
        out.append((j, matching(s, j), private(m.group(1))))
    return out


def options(text):
    """Default-valued parameters of public defs, as (def, param)."""
    s = strip(text)
    scs = scopes(s)
    found = []
    for m in DEF.finditer(s):
        if private(m.group(1)):
            continue
        if any(a <= m.start() < b and p for a, b, p in scs):
            continue
        i = m.end()
        while i < len(s) and s[i] in " \t\n":
            i += 1
        if i < len(s) and s[i] == "[":
            i = matching(s, i)
        while True:
            while i < len(s) and s[i] in " \t\n":
                i += 1
            if i >= len(s) or s[i] != "(":
                break
            j = matching(s, i)
            for p in split_top(s[i + 1:j - 1]):
                depth, eq = 0, -1
                for k, c in enumerate(p):
                    if c in "([{":
                        depth += 1
                    elif c in ")]}":
                        depth -= 1
                    elif (c == "=" and depth == 0 and p[k + 1:k + 2] != ">"
                          and p[k - 1:k] not in "=!<>"):
                        eq = k
                        break
                if eq < 0:
                    continue
                name = p[:eq].split(":")[0].split()[-1]
                found.append((m.group(2), name))
            i = j
    return found


def main(argv):
    verbose = "-v" in argv
    paths = [a for a in argv if a != "-v"]
    if not paths:
        sys.exit(__doc__)
    total, env = 0, set()
    for p in paths:
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
            env |= set(ENV.findall(text))
            opts = options(text)
            if opts:
                total += len(opts)
                print(f"{len(opts):6d}  {f}")
                if verbose:
                    for d, name in opts:
                        print(f"          {d}({name})")
    for e in sorted(env):
        print(f"     1  env {e}")
    total += len(env)
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
