#!/usr/bin/env python3
"""Line count of the program sources (`src/main`), and its delta.

Usage: python3 tools/src_lines.py [<rev>]

Without a rev, prints the total line count of every file under
`src/main` in the working tree. With a rev, also counts `src/main` at
that commit (read from git, so the working tree is not touched) and
prints each file whose count differs, with its delta, followed by the
total delta — the figure a change states for its effect on code size.
Lines are newline counts, as `wc -l` gives them.
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "src/main"


def tree_counts():
    counts = {}
    for base, _, files in os.walk(os.path.join(ROOT, SRC)):
        for name in files:
            path = os.path.join(base, name)
            with open(path, "rb") as f:
                counts[os.path.relpath(path, ROOT)] = f.read().count(b"\n")
    return counts


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          stdout=subprocess.PIPE).stdout


def rev_counts(rev):
    names = git("ls-tree", "-r", "--name-only", rev, "--", SRC)
    counts = {}
    for name in names.decode().splitlines():
        counts[name] = git("show", f"{rev}:{name}").count(b"\n")
    return counts


def main(argv):
    if len(argv) > 2:
        sys.exit(__doc__)
    now = tree_counts()
    total = sum(now.values())
    if len(argv) == 1:
        print(f"{SRC}: {total} lines in {len(now)} files")
        return
    rev = argv[1]
    then = rev_counts(rev)
    before = sum(then.values())
    for name in sorted(set(now) | set(then)):
        d = now.get(name, 0) - then.get(name, 0)
        if d:
            print(f"{d:+7d}  {name}")
    print(f"{SRC}: {before} lines at {rev}, {total} now ({total - before:+d})")


if __name__ == "__main__":
    main(sys.argv)
