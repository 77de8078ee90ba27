#!/usr/bin/env python3
"""Count the lines of the program's source, per package directory.

    python3 tools/loc.py [--dups] [ROOT]

ROOT defaults to `src/main` next to this script's directory. For every
directory under ROOT that holds source files (`*.scala`, `*.java`), prints
its physical lines and its code lines, then the total over ROOT. Code lines
are non-blank lines that, once leading blanks are stripped, do not start
with `//`, `/*` or `*` (comment lines).

With --dups, also prints for each file its repeated lines: the extra copies
of stripped lines longer than 30 characters that appear at least twice in
the file (a line seen n times adds n - 1), largest first, and as its last
line their total over ROOT. It is a measure of copied text, not of clones:
short lines and comments count too.
"""
import os
import sys
from collections import Counter

SOURCE_SUFFIXES = (".scala", ".java")


def code_line(line):
    s = line.strip()
    return bool(s) and not s.startswith(("//", "/*", "*"))


def repeated_lines(lines):
    seen = Counter(s for s in (line.strip() for line in lines) if len(s) > 30)
    return sum(n - 1 for n in seen.values() if n > 1)


def main(argv):
    dups = "--dups" in argv
    args = [a for a in argv if a != "--dups"]
    if len(args) > 1 or any(a.startswith("-") for a in args):
        sys.exit(__doc__)
    here = os.path.dirname(os.path.abspath(__file__))
    root = args[0] if args else os.path.join(here, "..", "src", "main")
    root = os.path.normpath(root)

    per_dir = {}
    per_file = []
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if not f.endswith(SOURCE_SUFFIXES):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            phys, code = per_dir.get(d, (0, 0))
            per_dir[d] = (phys + len(lines), code + sum(map(code_line, lines)))
            per_file.append((repeated_lines(lines), os.path.relpath(path, root)))

    width = max([len(os.path.relpath(d, root)) for d in per_dir] + [5])
    print(f"{'directory':<{width}} {'physical':>9} {'code':>9}")
    for d, (phys, code) in sorted(per_dir.items()):
        print(f"{os.path.relpath(d, root):<{width}} {phys:>9} {code:>9}")
    print(f"{'total':<{width}} {sum(p for p, _ in per_dir.values()):>9} "
          f"{sum(c for _, c in per_dir.values()):>9}")

    if dups:
        print()
        print(f"{'repeated':>9}  file")
        for n, path in sorted(per_file, key=lambda x: (-x[0], x[1])):
            print(f"{n:>9}  {path}")
        print(f"{sum(n for n, _ in per_file):>9}  total")


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except BrokenPipeError:
        # the reader closed stdout early (`... | head`): stop quietly, and
        # point stdout at devnull so the interpreter's final flush cannot
        # raise again
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(1)
