#!/usr/bin/env python3
"""Spec-only census: list each `src/main/scala` definition that only the
tests reach.

A definition is listed when, with comments stripped, its name occurs in
main code only at its own definition sites but does occur in
`src/test/scala`. "Main code" is `src/main/scala`, `src/main/resources`
(the DataSourceRegister service file), the benchmark harness
(`perfbench/harness`) and the shell tools that launch mains
(`tools/*.sh`). `override` members are skipped: Spark calls them.

This is a name-matching heuristic. Two definitions that share a name
hide each other, and a name used only through a spec-only caller still
counts as used. The compiler confirms each case: delete, then compile.

Usage: python3 tools/census_spec_only.py [repo_root]
Prints one `path:line kind name` line per candidate, then a count.
"""
import os
import re
import sys
from collections import Counter

DEF_RE = re.compile(
    r"^[ \t]*((?:(?:private|protected)(?:\[\w+\])?|final|implicit|lazy|"
    r"sealed|abstract|case|override)\s+)*"
    r"(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)",
    re.M)
WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip_comments(src):
    """Blank `//` and `/* */` comments, keeping string literals and
    newlines (so line numbers survive)."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("".join(ch for ch in src[i:j] if ch == "\n"))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def files(root, sub, exts):
    base = os.path.join(root, sub)
    for d, _, names in os.walk(base):
        for name in sorted(names):
            if name.endswith(exts):
                yield os.path.join(d, name)


def words(text):
    return Counter(WORD_RE.findall(text))


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    main_src = {p: strip_comments(open(p).read())
                for p in files(root, "src/main/scala", (".scala",))}
    other_main = [open(p).read() for p in
                  list(files(root, "src/main/resources", ("",))) +
                  list(files(root, "perfbench/harness", (".scala",)))]
    other_main[:0] = [open(p).read() for p in files(root, "tools", (".sh",))]
    test_words = Counter()
    for p in files(root, "src/test/scala", (".scala",)):
        test_words += words(strip_comments(open(p).read()))

    main_words = Counter()
    for text in list(main_src.values()) + [strip_comments(t) for t in other_main]:
        main_words += words(text)

    defs, def_sites = [], Counter()
    for path, text in main_src.items():
        for m in DEF_RE.finditer(text):
            mods, kind, name = m.group(1) or "", m.group(2), m.group(3)
            def_sites[name] += 1
            if "override" in mods.split() or name in ("main", "apply", "unapply"):
                continue
            line = text.count("\n", 0, m.start(2)) + 1
            defs.append((path, line, kind, name))

    hits = [(p, l, k, n) for p, l, k, n in defs
            if main_words[n] <= def_sites[n] and test_words[n] > 0]
    for p, l, k, n in hits:
        print(f"{os.path.relpath(p, root)}:{l} {k} {n}")
    print(f"{len(hits)} spec-only candidate(s)")


if __name__ == "__main__":
    main()
