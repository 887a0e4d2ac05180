#!/usr/bin/env python3
"""Compare two traced-run ledgers: per workload, per layer, per entry.

    python3 perfbench/diff.py <base> <new> [--top N]

<base> and <new> are ledger files written by `run.py --trace 1`, or
directories of them; ledgers are paired by workload. Every delta is
printed with its base value, and every ratio is new / base.
"""
import argparse
import json
import os
import sys


def load(path: str) -> dict:
    """workload -> ledger, from one ledger file or a directory of them."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.endswith(".json")] if os.path.isdir(path) else [path])
    out = {}
    for f in files:
        with open(f) as fh:
            doc = json.load(fh)
        if "workload" in doc and "totals" in doc:
            out[doc["workload"]] = doc
    return out


def ratio(base: float, new: float):
    return new / base if base else None


def rows(base: dict, new: dict, keys) -> list:
    """(key, base, new, delta, ratio) for every key either side has."""
    out = []
    for k in keys:
        b, n = base.get(k), new.get(k)
        if not isinstance(b, (int, float)) or not isinstance(n, (int, float)):
            continue
        out.append((k, b, n, n - b, ratio(b, n)))
    return out


def fmt(r) -> str:
    k, b, n, d, q = r
    qs = f"{q:8.3f}x" if q is not None else "       -"
    return f"  {k:<28} base {b:>14.4f}  new {n:>14.4f}  " \
           f"delta {d:>+13.4f}  ratio {qs}"


def diff(base: dict, new: dict, top: int = 15) -> str:
    lines = []
    for w in sorted(set(base) | set(new)):
        if w not in base or w not in new:
            lines.append(f"== {w}: only in {'new' if w in new else 'base'}")
            continue
        b, n = base[w], new[w]
        lines.append(f"== {w} (base seed {b.get('seed')}, "
                     f"new seed {n.get('seed')})")
        lines.append(" per layer (workload totals):")
        keys = list(b["totals"]) + [k for k in n["totals"]
                                    if k not in b["totals"]]
        lines += [fmt(r) for r in rows(b["totals"], n["totals"], keys)]
        be, ne = b.get("entries", {}), n.get("entries", {})
        common = sorted(set(be) & set(ne))
        only = sorted(set(be) ^ set(ne))
        walls = sorted(rows({e: be[e]["wall_s"] for e in common},
                            {e: ne[e]["wall_s"] for e in common}, common),
                       key=lambda r: -abs(r[3]))
        lines.append(f" per entry wall_s, {min(top, len(walls))} largest "
                     f"moves of {len(common)} common entries:")
        for r in walls[:top]:
            lines.append(fmt(r))
            # the layer seconds that moved most under this entry
            secs = [k for k in be[r[0]] if "." in k and k.endswith("_s")]
            moved = sorted((x for x in rows(be[r[0]], ne[r[0]], secs)
                            if abs(x[3]) >= 0.05), key=lambda x: -abs(x[3]))
            for x in moved[:3]:
                lines.append("    " + fmt(x).strip())
        if only:
            lines.append(f" entries on one side only: {only}")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args(argv)
    base, new = load(a.base), load(a.new)
    if not base or not new:
        print("no ledger found", file=sys.stderr)
        return 2
    print(diff(base, new, a.top))
    return 0


if __name__ == "__main__":
    sys.exit(main())
