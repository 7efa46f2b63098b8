#!/usr/bin/env python3
"""Compare two graft.Verify dumps gate by gate.

Usage: tools/diff_verify.py A B [--noise A2]

A gate is one result directory of a dump (a parquet dataset). Two gates
are identical when their schemas match and their rows hash the same,
ignoring row order. Prints each gate that differs and exits non-zero on
any difference. With --noise A2 (a second dump of the same tree as A),
gates that differ between A and A2 are nondeterministic; they are listed
and left out of the A/B comparison.
"""
import argparse
import hashlib
import os
import sys

import pyarrow.parquet as pq


def gates(dump):
    return sorted(d for d in os.listdir(dump)
                  if os.path.isdir(os.path.join(dump, d)))


def fingerprint(path):
    """(schema text, order-insensitive row hash) of one gate."""
    table = pq.read_table(path)
    rows = sorted(hashlib.sha256(repr(tuple(r.values())).encode()).hexdigest()
                  for r in table.to_pylist())
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return str(table.schema), f"{table.num_rows} rows {digest[:16]}"


def differences(a, b, names):
    """{gate: reason} for the gates that differ between dumps a and b."""
    out = {}
    for g in names:
        pa, pb = os.path.join(a, g), os.path.join(b, g)
        if not os.path.isdir(pa) or not os.path.isdir(pb):
            out[g] = "missing in " + (a if not os.path.isdir(pa) else b)
            continue
        (sa, ha), (sb, hb) = fingerprint(pa), fingerprint(pb)
        if sa != sb:
            out[g] = f"schema differs:\n    {sa!r}\n    {sb!r}"
        elif ha != hb:
            out[g] = f"rows differ: {ha} vs {hb}"
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--noise", help="second dump of A's tree")
    args = ap.parse_args(argv)
    names = sorted(set(gates(args.a)) | set(gates(args.b)))
    noisy = {}
    if args.noise:
        noisy = differences(args.a, args.noise, names)
        for g in sorted(noisy):
            print(f"excluded (differs between {args.a} and {args.noise}): {g}")
    diff = differences(args.a, args.b, [g for g in names if g not in noisy])
    for g, why in sorted(diff.items()):
        print(f"DIFF {g}: {why}")
    print(f"{len(names) - len(noisy) - len(diff)} identical / {len(diff)} differ"
          f" / {len(noisy)} excluded / {len(names)} gates")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
