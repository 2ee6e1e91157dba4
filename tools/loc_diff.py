#!/usr/bin/env python3
"""Change in non-blank, non-comment Scala lines between two commits.

    python3 tools/loc_diff.py <base> [<head>]

Counts, for every .scala file under src/main/scala at <base> and at
<head> (default HEAD), the lines that still hold code once `//` and
`/* ... */` comments (scaladoc included, nesting honoured) are removed
and blank lines dropped; string and character literals are respected,
so a "//" inside a string is code. Prints one row per file
whose count changed (base, head, delta, path) and a TOTAL row. Deleted
comments therefore do not count as removed code.
"""
import argparse
import subprocess
import sys

PREFIX = "src/main/scala"


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True).stdout


def files_at(rev, prefix):
    out = git("ls-tree", "-r", "--name-only", rev, "--", prefix).decode()
    return {p for p in out.splitlines() if p.endswith(".scala")}


def code_lines(src):
    """Number of lines with code left after stripping comments."""
    lines, has_code = 0, False
    i, n, depth = 0, len(src), 0
    state = "code"  # code | line | block | str | tstr
    while i < n:
        c = src[i]
        if c == "\n":
            if has_code:
                lines += 1
            has_code = False
            if state == "line":
                state = "code"
            i += 1
            continue
        if state == "line":
            i += 1
        elif state == "block":
            if src.startswith("/*", i):
                depth += 1
                i += 2
            elif src.startswith("*/", i):
                depth -= 1
                i += 2
                if depth == 0:
                    state = "code"
            else:
                i += 1
        elif state == "tstr":
            has_code = has_code or not c.isspace()
            if src.startswith('"""', i):
                # a closing run may hold extra quotes: the last three close
                j = i
                while j < n and src[j] == '"':
                    j += 1
                i, state = j, "code"
            else:
                i += 1
        elif state == "str":
            has_code = True
            if c == "\\":
                i += 2
            else:
                if c == '"':
                    state = "code"
                i += 1
        else:  # code
            if src.startswith("//", i):
                state = "line"
                i += 2
            elif src.startswith("/*", i):
                state, depth = "block", 1
                i += 2
            elif src.startswith('"""', i):
                state, has_code = "tstr", True
                i += 3
            elif c == '"':
                state, has_code = "str", True
                i += 1
            elif c == "'" and i + 2 < n and src[i + 1] == "\\":
                # escaped char literal: '\n', '\'', 'A'
                end = src.find("'", i + 3)
                has_code = True
                i = end + 1 if end > 0 else i + 1
            elif c == "'" and i + 2 < n and src[i + 2] == "'":
                has_code = True
                i += 3
            else:
                has_code = has_code or not c.isspace()
                i += 1
    if has_code:
        lines += 1
    return lines


def count(rev, path):
    return code_lines(git("show", f"{rev}:{path}").decode("utf-8"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("head", nargs="?", default="HEAD")
    a = ap.parse_args()
    base_files, head_files = files_at(a.base, PREFIX), files_at(a.head, PREFIX)
    rows, tb, th = [], 0, 0
    for p in sorted(base_files | head_files):
        b = count(a.base, p) if p in base_files else 0
        h = count(a.head, p) if p in head_files else 0
        tb, th = tb + b, th + h
        if b != h:
            rows.append((b, h, h - b, p))
    print(f"{'base':>7} {'head':>7} {'delta':>7}  path")
    for b, h, d, p in rows:
        print(f"{b:7d} {h:7d} {d:+7d}  {p}")
    print(f"{tb:7d} {th:7d} {th - tb:+7d}  TOTAL ({PREFIX})")


if __name__ == "__main__":
    try:
        main()
    except subprocess.CalledProcessError as e:
        sys.exit(e.stderr.decode().strip() or str(e))
