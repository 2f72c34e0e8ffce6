"""Compare two traced perfbench runs layer by layer.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 \\
        --trace 1 --out a.json          # on the base commit
    python3 perfbench/run.py ... --out b.json   # on the change
    python3 perfbench/layer_diff.py a.json b.json [--all]

For every operation type and span (layer), prints per-operation count,
busy ms and self ms of both runs and the change of busy and self time;
then the Spark counters per operation type and the flat per-layer
metrics. Rows whose numbers did not move are hidden unless ``--all``.
"""

from __future__ import annotations

import argparse
import json
import sys


def load(path: str) -> dict:
    """A ``--out`` detail file of a traced run."""
    with open(path) as f:
        detail = json.loads(f.readline())
    if not detail.get("layers_by_op"):
        raise SystemExit(f"{path}: not a traced run (made with --trace 0?)")
    return detail


def _pct(a: float, b: float) -> str:
    if a == b:
        return "0%"
    return f"{(b - a) / a * 100:+.0f}%" if a else "new"


def rows(a: dict, b: dict, show_all: bool = False) -> list[tuple]:
    """(op, span, count a, count b, busy a, busy b, busy change,
    self a, self b, self change) per operation type and span, per op."""
    out = []
    la, lb = a["layers_by_op"], b["layers_by_op"]
    for op in sorted(set(la) | set(lb)):
        sa = la.get(op, {}).get("spans", {})
        sb = lb.get(op, {}).get("spans", {})
        for name in sorted(set(sa) | set(sb)):
            x = sa.get(name, {"count": 0, "busy_ms": 0.0, "self_ms": 0.0})
            y = sb.get(name, {"count": 0, "busy_ms": 0.0, "self_ms": 0.0})
            if not show_all and x == y:
                continue
            out.append((op, name, x["count"], y["count"], x["busy_ms"], y["busy_ms"],
                        _pct(x["busy_ms"], y["busy_ms"]), x["self_ms"], y["self_ms"],
                        _pct(x["self_ms"], y["self_ms"])))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("a")
    p.add_argument("b")
    p.add_argument("--all", action="store_true", help="also rows that did not move")
    args = p.parse_args(argv)
    a, b = load(args.a), load(args.b)
    for side, d in (("a", a), ("b", b)):
        m = d["meta"]
        print(f"{side}: {m['workload']} seed={m['seed']} sha={m['git_sha'] or m['source_sha256'][:12]}"
              f" cpus={m['cpus']} {m['timestamp']}")
    if a["meta"]["workload"] != b["meta"]["workload"]:
        print("warning: the runs are of different workloads", file=sys.stderr)
    print(f"\n{'op':<20} {'span':<22} {'count a':>8} {'count b':>8} {'busy a':>10} "
          f"{'busy b':>10} {'':>6} {'self a':>10} {'self b':>10} {'':>6}   (per op, ms)")
    for r in rows(a, b, args.all):
        print(f"{r[0]:<20} {r[1]:<22} {r[2]:>8.2f} {r[3]:>8.2f} {r[4]:>10.2f} {r[5]:>10.2f} "
              f"{r[6]:>6} {r[7]:>10.2f} {r[8]:>10.2f} {r[9]:>6}")
    print(f"\n{'op':<20} {'spark counter (per op)':<26} {'a':>14} {'b':>14}")
    la, lb = a["layers_by_op"], b["layers_by_op"]
    for op in sorted(set(la) | set(lb)):
        ka, kb = la.get(op, {}).get("spark", {}), lb.get(op, {}).get("spark", {})
        for k in sorted(set(ka) | set(kb)):
            x, y = ka.get(k, 0.0), kb.get(k, 0.0)
            if args.all or x != y:
                print(f"{op:<20} {k:<26} {x:>14.2f} {y:>14.2f}")
    print(f"\n{'per-layer metric':<38} {'a':>14} {'b':>14} {'':>6}")
    ma, mb = a["result"]["metrics"], b["result"]["metrics"]
    for k in sorted(set(ma) | set(mb)):
        x = ma.get(k, {}).get("value", 0.0)
        y = mb.get(k, {}).get("value", 0.0)
        if args.all or x != y:
            print(f"{k:<38} {x:>14.4f} {y:>14.4f} {_pct(x, y):>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
