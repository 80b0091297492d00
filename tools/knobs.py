#!/usr/bin/env python3
"""List the `spark.graft.*` configuration keys the program reads.

Prints, for every `spark.graft.*` key read under `src/main/scala`, the
file:line of each read and the files under `src/test` and `perfbench`
that set it; a key that nothing sets is flagged `UNSET`. The last line
is the key count.

    python3 tools/knobs.py [repo-root]

A read is the key as a whole string literal (`"spark.graft.x"`) in
code, comments removed (`tools/loc.py`'s rules): an error message that
names a key is not a read. A file sets a key when its code holds the
same whole literal (Scala) or, outside Scala, names the key at all
(run scripts and property files pass `--conf spark.graft.x=...`).
"""
import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import code_text  # noqa: E402

LITERAL = re.compile(r'"(spark\.graft\.[A-Za-z0-9_.]+)"')
TOKEN = re.compile(r'spark\.graft\.[A-Za-z0-9_]+(?:\.[A-Za-z0-9_]+)*')
SETTER_EXTS = (".scala", ".py", ".sh", ".properties", ".conf", ".json")


def files_under(root, exts):
    out = []
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if x not in ("target", "data", ".git")]
        out += [os.path.join(d, n) for n in names if n.endswith(exts)]
    return sorted(out)


def lines_of(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return f.read().split("\n")


def keys_in(path):
    """Keys a file names: whole literals in Scala code, tokens elsewhere."""
    if path.endswith(".scala"):
        return [(n, LITERAL.findall(t))
                for n, t in enumerate(code_text(lines_of(path)), 1)]
    return [(n, TOKEN.findall(t)) for n, t in enumerate(lines_of(path), 1)]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default=".")
    args = ap.parse_args(argv)
    root = args.root
    reads = {}
    for p in files_under(os.path.join(root, "src/main/scala"), (".scala",)):
        for n, ks in keys_in(p):
            for k in ks:
                reads.setdefault(k, []).append(f"{os.path.relpath(p, root)}:{n}")
    setters = {k: set() for k in reads}
    for sub in ("src/test", "perfbench"):
        for p in files_under(os.path.join(root, sub), SETTER_EXTS):
            for _, ks in keys_in(p):
                for k in ks:
                    if k in setters:
                        setters[k].add(os.path.relpath(p, root))
    for k in sorted(reads):
        print(k)
        print("  read:  " + ", ".join(reads[k]))
        if setters[k]:
            print("  set:   " + ", ".join(sorted(setters[k])))
        else:
            print("  set:   UNSET (nothing under src/test or perfbench sets it)")
    unset = sum(1 for k in reads if not setters[k])
    print(f"{len(reads)} keys, {unset} unset")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
