#!/usr/bin/env python3
"""Count the Scala lines of code under src/main: lines that are not blank
and not comments. A comment line starts with `//`, or lies inside a block
comment that opens at the start of its line (`/* ... */`, scaladoc
included). A line with code before a comment counts as code.

    python3 tools/count_main_lines.py [ROOT]            # one checkout
    python3 tools/count_main_lines.py --git REV [ROOT]  # a commit of ROOT

ROOT defaults to the checkout this script lives in. Prints the total on
the last line; `--files` lists the count of every file first.

`--unreferenced` prints, instead of the total, every `def` and `class`
under src/main whose name occurs in the code of src/main and
omezarr_bench/src (comments left out, string literals kept) only where
it is defined, one `path:line kind name` a line. `override` defs are
skipped: the code that calls them is Spark's or the JVM's. A name that
is only used outside Scala code (a main class run by name, a reflective
lookup) or only by Scala's own desugaring is listed too, so the list is
a starting point for reading, not a verdict.
"""
import argparse
import os
import re
import subprocess
import sys

REF_DIRS = (os.path.join("src", "main"), os.path.join("omezarr_bench", "src"))


def count(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                # code after the closing marker counts
                if s.split("*/", 1)[1].strip():
                    n += 1
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            rest = s[2:]
            if "*/" in rest:
                if rest.split("*/", 1)[1].strip():
                    n += 1
            else:
                in_block = True
            continue
        n += 1
    return n


def strip_comments(text):
    """`text` with its `//` and `/* */` comments blanked out (newlines
    kept, so line numbers hold). String and character literals are kept
    whole, so a `//` inside one is not a comment."""
    out = []
    i, n = 0, len(text)
    depth = 0  # Scala block comments nest
    while i < n:
        c = text[i]
        two = text[i:i + 2]
        if depth:
            if two == "/*":
                depth += 1
                i += 2
            elif two == "*/":
                depth -= 1
                i += 2
            else:
                if c == "\n":
                    out.append(c)
                i += 1
            continue
        if two == "/*":
            depth = 1
            i += 2
        elif two == "//":
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # a literal may end in more quotes
                j += 1
            out.append(text[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 3) if text[i + 1] == "\\" else i + 2
            out.append(text[i:j + 1])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


DEF_RE = re.compile(
    r"^\s*((?:(?:private|protected)(?:\[\w+\])?\s+|(?:final|override|implicit|abstract"
    r"|sealed|case|lazy)\s+)*)(def|class)\s+([A-Za-z_]\w*)", re.M)
WORD_RE = re.compile(r"[A-Za-z_]\w*")


def unreferenced(main_files, ref_files):
    """(path, line, kind, name) of every def or class in `main_files`
    whose name occurs in `ref_files` only at its definitions."""
    uses = {}
    for _, text in ref_files:
        for w in WORD_RE.findall(strip_comments(text)):
            uses[w] = uses.get(w, 0) + 1
    defs = []  # every definition of a name counts, overrides included
    for path, text in main_files:
        code = strip_comments(text)
        for m in DEF_RE.finditer(code):
            line = code.count("\n", 0, m.start(2)) + 1
            defs.append((path, line, m.group(2), m.group(3), "override" in m.group(1)))
    defined = {}
    for _, _, _, name, _ in defs:
        defined[name] = defined.get(name, 0) + 1
    return [(p, l, k, name) for p, l, k, name, ovr in defs
            if not ovr and uses.get(name, 0) <= defined[name]]


def worktree_files(root, base=os.path.join("src", "main")):
    for d, _, names in os.walk(os.path.join(root, base)):
        for name in names:
            if name.endswith(".scala"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, root), fh.read()


def git_files(root, rev, base="src/main"):
    names = subprocess.run(
        ["git", "-C", root, "ls-tree", "-r", "--name-only", rev, base],
        check=True, capture_output=True, text=True).stdout.split()
    for name in names:
        if name.endswith(".scala"):
            yield name, subprocess.run(
                ["git", "-C", root, "show", f"{rev}:{name}"],
                check=True, capture_output=True, text=True).stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("root", nargs="?",
                    default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--git", metavar="REV", help="count the files of this commit")
    ap.add_argument("--files", action="store_true", help="print per-file counts")
    ap.add_argument("--unreferenced", action="store_true",
                    help="list defs and classes whose name is used nowhere else")
    a = ap.parse_args()

    def read(base):
        return list(git_files(a.root, a.git, base) if a.git else worktree_files(a.root, base))

    files = read(REF_DIRS[0])
    if a.unreferenced:
        refs = [f for d in REF_DIRS for f in read(d)]
        for path, line, kind, name in sorted(unreferenced(files, refs)):
            print(f"{path}:{line} {kind} {name}")
        return 0
    total = 0
    for name, text in sorted(files):
        c = count(text)
        total += c
        if a.files:
            print(f"{c:7d} {name}")
    print(total)


if __name__ == "__main__":
    sys.exit(main())
