#!/usr/bin/env python3
"""Line counts of Scala sources: total lines and non-comment lines.

A non-comment line holds at least one character of code (string literals
included) outside `//` and `/* */` comments; blank lines and lines that are
only comment do not count.

    python3 tools/loc.py FILE...             # working tree
    python3 tools/loc.py --rev REV FILE...   # REV (via `git show`) -> working tree

With --rev each row reads `rev_total rev_noncomment -> total noncomment`;
a file absent on one side counts 0 there. Stdlib only.
"""
import argparse
import subprocess
import sys


def counts(text):
    """(total lines, non-comment lines) of one Scala source."""
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # a trailing newline ends the last line, it opens none
    code_lines = 0
    depth = 0  # Scala block comments nest
    string = None  # None, '"' or '"""' while inside a string literal
    for line in lines:
        has_code = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif string:
                has_code = True
                if string == '"""' and line.startswith('"""', i):
                    string = None
                    i += 3
                elif string == '"' and c == "\\":
                    i += 2
                elif string == '"' and c == '"':
                    string = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                string, has_code = '"""', True
                i += 3
            elif c == '"':
                string, has_code = '"', True
                i += 1
            elif c == "'" and line.find("'", i + 1, i + 8) > i + 1:
                # a char literal such as '"' or 'A': skip it whole
                has_code = True
                i = line.find("'", i + 2 if line[i + 1] == "\\" else i + 1) + 1
            else:
                has_code = has_code or not c.isspace()
                i += 1
        if string == '"':
            string = None  # single-quoted strings end with their line
        if has_code:
            code_lines += 1
    return len(lines), code_lines


def read_rev(rev, path):
    out = subprocess.run(["git", "show", f"{rev}:./{path}"],
                         capture_output=True, text=True)
    return out.stdout if out.returncode == 0 else None


def read_tree(path):
    try:
        with open(path, encoding="utf-8") as f:
            return f.read()
    except FileNotFoundError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rev", help="git revision to compare the working tree against")
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args()
    rows, missing = [], []
    for p in args.paths:
        now = read_tree(p)
        before = read_rev(args.rev, p) if args.rev else None
        if now is None and before is None:
            missing.append(p)
            continue
        rows.append((p, counts(before or ""), counts(now or "")))
    if missing:
        sys.exit(f"loc.py: not found: {', '.join(missing)}")
    width = max(len(p) for p, _, _ in rows + [("TOTAL", 0, 0)])
    fmt = lambda c: f"{c[0]:6d} {c[1]:6d}"
    head = "total noncomment"
    print(f"{'file':<{width}}  " + (f"{'rev ' + head:>20} -> " if args.rev else "") + head)
    for p, b, a in rows + ([("TOTAL", tuple(map(sum, zip(*[r[1] for r in rows]))),
                             tuple(map(sum, zip(*[r[2] for r in rows]))))]
                           if len(rows) > 1 else []):
        print(f"{p:<{width}}  " + (f"{fmt(b):>20} -> " if args.rev else "") + fmt(a))


if __name__ == "__main__":
    main()
