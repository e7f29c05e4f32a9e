#!/usr/bin/env python3
"""Count the code lines and total lines of the engine's Scala sources.

Usage: python3 tools/loc.py [--top N] [--rev REV] [DIR]

DIR defaults to src/main. A code line is a non-blank line that, after
leading whitespace, does not start with `//`, `/*` or `*` (so scaladoc
and block-comment bodies do not count; a code line with a trailing
comment does). Prints `code / total` for all `.scala` files under DIR,
then, with --top N, the N files with the most code lines. With --rev
the files are read from that git revision instead of the working tree
(run from inside the repository).
"""
import argparse
import os
import subprocess
import sys


def count(text: str) -> tuple:
    lines = text.splitlines()
    code = 0
    for line in lines:
        s = line.strip()
        if s and not s.startswith(("//", "/*", "*")):
            code += 1
    return code, len(lines)


def worktree_files(root: str):
    for d, _, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                with open(p, encoding="utf-8") as f:
                    yield p, f.read()


def rev_files(rev: str, root: str):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", root],
        check=True, capture_output=True, text=True).stdout.split()
    for p in names:
        if p.endswith(".scala"):
            yield p, subprocess.run(
                ["git", "show", f"{rev}:{p}"],
                check=True, capture_output=True, text=True).stdout


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir", nargs="?", default="src/main")
    ap.add_argument("--top", type=int, default=0,
                    help="also list the N files with the most code lines")
    ap.add_argument("--rev", help="count a git revision, not the work tree")
    a = ap.parse_args()
    files = rev_files(a.rev, a.dir) if a.rev else worktree_files(a.dir)
    per_file = [(p,) + count(t) for p, t in files]
    if not per_file:
        sys.exit(f"no .scala files under {a.dir}")
    code = sum(c for _, c, _ in per_file)
    total = sum(t for _, _, t in per_file)
    print(f"{a.dir}: {code:,} code / {total:,} total lines "
          f"in {len(per_file)} files")
    for p, c, t in sorted(per_file, key=lambda x: (-x[1], x[0]))[:a.top]:
        print(f"{c:8,} {t:8,}  {p}")


if __name__ == "__main__":
    main()
