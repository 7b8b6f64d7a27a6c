#!/usr/bin/env python3
"""Count the non-blank, non-comment Scala lines under src/main.

    python3 tools/loc.py                   # per file, then the total
    python3 tools/loc.py --against HEAD~   # per-file and total delta vs a git ref

A line counts when anything but whitespace is left on it after `//` line
comments and (nested) `/* ... */` block comments are removed. Comment
markers inside string literals ("...", triple-quoted, interpolated) and
character literals are code, not comments.
"""
import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = "src/main"


def strip_comments(src):
    """`src` with every comment removed and every newline kept."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """a"""" ends at the last quote
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            out.append(src[i:j])
            i = j
        elif c == "'":
            # a character literal ('x', '"', '\n', '\u0041'); any
            # other quote (a symbol literal) is plain code
            if src.startswith("\\", i + 1):
                j = src.find("'", i + 3)
                j = i + 1 if j < 0 else j + 1
            elif src.startswith("'", i + 2):
                j = i + 3
            else:
                j = i + 1
            out.append(src[i:j])
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def count(src):
    return sum(1 for line in strip_comments(src).split("\n") if line.strip())


def worktree_counts():
    counts = {}
    for d, _, files in os.walk(os.path.join(REPO, ROOT)):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts[os.path.relpath(p, REPO)] = count(fh.read())
    return counts


def git(*args):
    return subprocess.run(["git", "-C", REPO] + list(args), check=True,
                          capture_output=True, text=True).stdout


def ref_counts(ref):
    paths = git("ls-tree", "-r", "--name-only", ref, "--", ROOT).split()
    return {p: count(git("show", f"{ref}:{p}"))
            for p in paths if p.endswith(".scala")}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--against", metavar="GIT_REF",
                    help="print the per-file and total delta against this ref")
    a = ap.parse_args(argv)
    now = worktree_counts()
    if a.against is None:
        for p in sorted(now):
            print(f"{now[p]:7d} {p}")
        print(f"{sum(now.values()):7d} total")
        return 0
    then = ref_counts(a.against)
    for p in sorted(set(now) | set(then)):
        old, new = then.get(p, 0), now.get(p, 0)
        if old != new:
            print(f"{new - old:+7d} {p} ({old} -> {new})")
    old, new = sum(then.values()), sum(now.values())
    print(f"{new - old:+7d} total ({old} -> {new})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
