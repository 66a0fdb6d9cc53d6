#!/usr/bin/env python3
"""Count the lines a change adds and removes, in total and code only.

Usage: python3 tools/net_lines.py <base> <head> [path ...]

Diffs the two git revisions (limited to the paths, if any are given) and
prints the added and removed lines twice: once counting every line, once
counting code only. Code only skips blank lines and lines whose stripped
text starts with `//`, `/*` or `*` (comments and scaladoc). Every
simplicity change reports its net lines this way, so the numbers compare.
"""
import subprocess
import sys

COMMENT = ("//", "/*", "*")


def counts(base, head, paths):
    diff = subprocess.run(
        ["git", "diff", "--no-color", "--no-ext-diff", "-U0", base, head, "--", *paths],
        check=True, capture_output=True, text=True).stdout
    total = {"+": 0, "-": 0}
    code = {"+": 0, "-": 0}
    in_hunk = False
    for line in diff.splitlines():
        if line.startswith("@@"):
            in_hunk = True
        elif line.startswith("diff --git"):
            in_hunk = False
        elif in_hunk and line[:1] in total:
            total[line[0]] += 1
            text = line[1:].strip()
            if text and not text.startswith(COMMENT):
                code[line[0]] += 1
    return total, code


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__.strip())
    total, code = counts(argv[1], argv[2], argv[3:])
    for name, c in (("total", total), ("code only", code)):
        print(f"{name}: +{c['+']}/-{c['-']} (net {c['+'] - c['-']:+d})")


if __name__ == "__main__":
    main(sys.argv)
