#!/usr/bin/env python3
"""Compare two graft.Verify output dirs key by key.

    python3 tools/verify_diff.py <outA> <outB>

For every query key present in either dir it compares the row count and
an order-insensitive hash of the rows (each row rendered as text with
columns in sorted order, the per-key parquet reading of tools/check.py),
so rows-only keys are compared as strictly as oracle-gated ones. Prints
one line per key that differs, then a summary; exit 1 if any differs.
"""
import glob
import hashlib
import os
import sys

import pandas as pd


def keys(outdir):
    return {n for n in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, n))}


def fingerprint(outdir, name):
    files = sorted(glob.glob(os.path.join(outdir, name, "*.parquet")))
    df = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    df = df[sorted(df.columns)].astype(str)
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update("\x1f".join(df.columns).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()[:16]


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    ka, kb = keys(a), keys(b)
    differ = 0
    for name in sorted(ka | kb):
        if name not in kb or name not in ka:
            print(f"ONLY  {name}: present in {a if name in ka else b} only")
            differ += 1
            continue
        (na, ha), (nb, hb) = fingerprint(a, name), fingerprint(b, name)
        if (na, ha) != (nb, hb):
            print(f"DIFF  {name}: {na} rows {ha} vs {nb} rows {hb}")
            differ += 1
    print(f"\n{len(ka | kb) - differ} identical, {differ} differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
