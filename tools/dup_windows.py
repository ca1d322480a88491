#!/usr/bin/env python3
"""Report repeated 6-line windows in src/main.

Usage (from anywhere):

    python3 tools/dup_windows.py

The script reads the Scala sources under ``src/main/scala`` of the
repository that holds it (the parent of this script's directory) and
writes nothing. It takes no options.

Each line is normalized: leading and trailing blanks are dropped and
inner runs of blanks become one space. Lines left with no letter once
numeric literals are taken out are skipped, so blank lines, lone
brackets and the committed fixture tables (rows of numbers) never form a
window. A window is 6 consecutive kept lines of one file. A window seen
more than once, in one file or across files, is a repeat; each copy past
the first counts 1.

The report groups the repeats by the set of files their window occurs
in, largest group first, then prints the total.
"""
import collections
import os
import re

WINDOW = 6
NUMBER = re.compile(r"[-+]?(?:\d[\d_]*\.?\d*|\.\d+)(?:[eE][-+]?\d+)?[LlFfDd]?")
LETTER = re.compile(r"[A-Za-z_]")
BLANKS = re.compile(r"\s+")


def kept_lines(path):
    """The normalized lines of one file that can take part in a window."""
    out = []
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = BLANKS.sub(" ", raw.strip())
            if LETTER.search(NUMBER.sub("", line)):
                out.append(line)
    return out


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(root, "src", "main", "scala")
    where = collections.defaultdict(list)
    for d, _, files in os.walk(src):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(d, name)
            rel = os.path.relpath(path, src)
            lines = kept_lines(path)
            for i in range(len(lines) - WINDOW + 1):
                where[tuple(lines[i:i + WINDOW])].append(rel)
    groups = collections.Counter()
    for files in where.values():
        if len(files) > 1:
            groups[tuple(sorted(set(files)))] += len(files) - 1
    for files, n in sorted(groups.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:5d}  {', '.join(files)}")
    print(f"{sum(groups.values()):5d}  total repeated {WINDOW}-line windows in src/main")


if __name__ == "__main__":
    main()
