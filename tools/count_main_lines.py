#!/usr/bin/env python3
"""Count the Scala lines of code under src/main: lines that are not blank
and not comments. A comment line starts with `//`, or lies inside a block
comment that opens at the start of its line (`/* ... */`, scaladoc
included). A line with code before a comment counts as code.

    python3 tools/count_main_lines.py [ROOT]            # one checkout
    python3 tools/count_main_lines.py --git REV [ROOT]  # a commit of ROOT

ROOT defaults to the checkout this script lives in. Prints the total on
the last line; `--files` lists the count of every file first.
"""
import argparse
import os
import subprocess
import sys


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


def worktree_files(root):
    base = os.path.join(root, "src", "main")
    for d, _, names in os.walk(base):
        for name in names:
            if name.endswith(".scala"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, root), fh.read()


def git_files(root, rev):
    names = subprocess.run(
        ["git", "-C", root, "ls-tree", "-r", "--name-only", rev, "src/main"],
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
    a = ap.parse_args()
    files = git_files(a.root, a.git) if a.git else worktree_files(a.root)
    total = 0
    for name, text in sorted(files):
        c = count(text)
        total += c
        if a.files:
            print(f"{c:7d} {name}")
    print(total)


if __name__ == "__main__":
    sys.exit(main())
