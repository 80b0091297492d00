#!/usr/bin/env python3
"""Count source lines per file and in total for a source tree.

Prints, for every Scala source file under the given root (default
`src/main/scala`), its total line count and its code-only line count
(lines that are neither blank nor wholly comment), then both totals.

    python3 tools/loc.py [root] [--totals]

A line counts as code if any non-comment character remains on it once
`//` line comments and `/* ... */` block comments (scaladoc included)
are removed. Comment markers inside `"..."` string literals are
honoured, which is enough for this repo's sources (no multi-line raw
strings hold comment markers). `--totals` prints only the totals line.
"""
import argparse
import os
import sys


def code_text(lines):
    """Each line with its comments removed (string literals kept)."""
    in_block = False
    for line in lines:
        out = []
        i = 0
        in_str = False
        while i < len(line):
            c = line[i]
            two = line[i:i + 2]
            if in_block:
                if two == "*/":
                    in_block = False
                    i += 2
                    continue
                i += 1
                continue
            if in_str:
                if c == "\\":
                    out.append(two)
                    i += 2
                    continue
                if c == '"':
                    in_str = False
                out.append(c)
                i += 1
                continue
            if two == "//":
                break
            if two == "/*":
                in_block = True
                i += 2
                continue
            if c == '"':
                in_str = True
            out.append(c)
            i += 1
        yield "".join(out)


def code_lines(lines):
    """Code-only line count: lines left non-blank once comments go."""
    return sum(1 for t in code_text(lines) if t.strip())


def count(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        lines = f.read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    return len(lines), code_lines(lines)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default="src/main/scala")
    ap.add_argument("--totals", action="store_true")
    args = ap.parse_args(argv)
    files = []
    for d, _, names in os.walk(args.root):
        files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    total = code = 0
    for p in sorted(files):
        t, c = count(p)
        total += t
        code += c
        if not args.totals:
            print(f"{t:7d} {c:7d}  {os.path.relpath(p, args.root)}")
    print(f"{total:7d} {code:7d}  total ({len(files)} files)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
