#!/usr/bin/env python3
"""Count the lines of main code (src/main/**/*.scala).

Usage (from the root of a checkout):

    python3 tools/main_lines.py            # the working tree
    python3 tools/main_lines.py <git-rev>  # the working tree and <git-rev>

Two counts per tree: all lines, and code-only lines, which leave out
every line that is blank or whose first non-blank characters are `//`,
`*` or `/*` (line comments and scaladoc/block-comment lines). Given a
rev, the files at that rev are read through `git show` and a last row
prints the working tree minus the rev.
"""
import pathlib
import subprocess
import sys

ROOT = "src/main"


def counts(texts):
    total = code = 0
    for text in texts:
        for line in text.splitlines():
            total += 1
            s = line.strip()
            if s and not s.startswith(("//", "*", "/*")):
                code += 1
    return total, code


def working_tree():
    return counts(p.read_text(encoding="utf-8")
                  for p in sorted(pathlib.Path(ROOT).rglob("*.scala")))


def at_rev(rev):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", ROOT],
        check=True, capture_output=True, text=True).stdout.split()
    return counts(
        subprocess.run(["git", "show", f"{rev}:{n}"], check=True,
                       capture_output=True, text=True).stdout
        for n in names if n.endswith(".scala"))


def main(argv):
    if len(argv) > 2:
        sys.exit(__doc__)
    rows = [("working tree", working_tree())]
    if len(argv) == 2:
        rev = argv[1]
        rows.append((rev, at_rev(rev)))
        (t1, c1), (t0, c0) = rows[0][1], rows[1][1]
        rows.append(("change", (t1 - t0, c1 - c0)))
    width = max(len(name) for name, _ in rows)
    print(f"{'':{width}}  {'total':>7}  {'code-only':>9}")
    for name, (total, code) in rows:
        sign = "+" if name == "change" else ""
        print(f"{name:{width}}  {total:>{sign}7,}  {code:>{sign}9,}")


if __name__ == "__main__":
    main(sys.argv)
