#!/usr/bin/env python3
"""Per-layer deltas between two benchmark trace files.

    python3 perfbench/trace_diff.py OLD.json NEW.json

Trace files are what `run.py --trace 1` writes to
.bench_build/results/trace_<workload>_<seed>.json. Prints, new minus old:
  1. every end-to-end and per-layer metric, grouped by layer;
  2. registry runs: each per-query layer record rolled up by query family;
  3. span totals (count, total ms) per layer and span name, with registry
     query spans rolled up by family and micro-batches by query.
"""
import json
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        return json.load(f)


def row(label, old, new, unit=""):
    if old is None or new is None:
        return f"  {label:<44} {fmt(old):>14} {fmt(new):>14} {'':>14} {'':>8} {unit}"
    delta = new - old
    rel = f"{delta / old:+.1%}" if old else ""
    return f"  {label:<44} {fmt(old):>14} {fmt(new):>14} {delta:>+14.4f} {rel:>8} {unit}"


def fmt(v):
    return "-" if v is None else f"{v:.4f}"


def metrics(doc):
    out = {}
    for section in ("metrics", "layers"):
        for k, v in doc.get(section, {}).items():
            out[k] = (v["value"], v["unit"])
    return out


def family_rollup(doc):
    """{family: {key: sum}} from the per-query records of a registry trace."""
    fam = defaultdict(lambda: defaultdict(float))
    for name, rec in doc.get("info", {}).get("per_query", {}).items():
        for k, v in rec.items():
            fam[name.split("_")[0]][k] += v
    return fam


def span_rollup(doc):
    """{(layer, name, group): [count, total_ms]}"""
    out = defaultdict(lambda: [0, 0.0])
    for s in doc.get("spans", []):
        group = s.get("family") or (s.get("query") or "").rsplit("-", 1)[-1] or ""
        acc = out[(s["layer"], s["name"], group)]
        acc[0] += 1
        acc[1] += s["end_ms"] - s["start_ms"]
    return out


def main(old_path, new_path):
    old, new = load(old_path), load(new_path)
    print(f"old: {old_path} ({old.get('workload')}, seed {old.get('seed')})")
    print(f"new: {new_path} ({new.get('workload')}, seed {new.get('seed')})")
    header = f"  {'':<44} {'old':>14} {'new':>14} {'delta':>14} {'rel':>8}"

    print("\nmetrics by layer")
    print(header)
    mo, mn = metrics(old), metrics(new)
    by_layer = defaultdict(list)
    for k in sorted(set(mo) | set(mn)):
        by_layer[k.split(".")[0] if "." in k else "end_to_end"].append(k)
    for layer in sorted(by_layer):
        print(f" [{layer}]")
        for k in by_layer[layer]:
            unit = (mo.get(k) or mn.get(k))[1]
            print(row(k, mo.get(k, (None,))[0], mn.get(k, (None,))[0], unit))

    fo, fn = family_rollup(old), family_rollup(new)
    if fo or fn:
        print("\nregistry layers rolled up by query family (per pass)")
        print(header)
        for f in sorted(set(fo) | set(fn)):
            print(f" [{f}]")
            keys = sorted(set(fo.get(f, {})) | set(fn.get(f, {})))
            for k in keys:
                print(row(k, fo.get(f, {}).get(k), fn.get(f, {}).get(k)))

    so, sn = span_rollup(old), span_rollup(new)
    print("\nspans: count and total ms per layer / name / family or query")
    print(header)
    for key in sorted(set(so) | set(sn)):
        label = "/".join(p for p in key if p)
        co, tn = so.get(key), sn.get(key)
        print(row(label + " count", co and co[0], tn and tn[0]))
        print(row(label + " ms", co and co[1], tn and tn[1], "ms"))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
