"""Medians, quartiles and pair wins of an alternating A/B of perfbench runs.

    python3 stats.py ingest_live.txt

Each input line is `<leg> <seed> <cpu steal ticks from /proc/stat after the
run> <the run's final JSON line>`, with leg `parent` (the commit before the
delta sink) or `new` (the delta sink). A pair is the two legs of one seed.
"""
import json, sys, statistics as st
rows = {}
for line in open(sys.argv[1]):
    parts = line.split(" ", 3)
    if len(parts) < 4: continue
    leg, seed, steal, js = parts
    try: m = json.loads(js)
    except Exception: print("bad", line[:200]); continue
    rows.setdefault(int(seed), {})[leg] = m
def q(xs, p):
    xs = sorted(xs); k = (len(xs)-1)*p; f = int(k); c = min(f+1, len(xs)-1)
    return xs[f] + (xs[c]-xs[f])*(k-f)
for metric in ("setup_s", "op_p50_ms", "op_p99_ms"):
    pairs = [(r["parent"]["metrics"][metric]["value"], r["new"]["metrics"][metric]["value"])
             for s, r in sorted(rows.items()) if "parent" in r and "new" in r]
    if not pairs: continue
    a = [p for p, _ in pairs]; b = [n for _, n in pairs]
    wins = sum(1 for p, n in pairs if n < p)
    print(f"{metric}: n={len(pairs)} parent median {st.median(a):.3f} [q1 {q(a,.25):.3f} q3 {q(a,.75):.3f}, IQR {q(a,.75)-q(a,.25):.3f}]"
          f" | new median {st.median(b):.3f} [q1 {q(b,.25):.3f} q3 {q(b,.75):.3f}] | change {100*(st.median(b)/st.median(a)-1):+.1f}% | new wins {wins}/{len(pairs)}")
fails = [(s, leg, r[leg]["failed"]) for s, r in rows.items() for leg in r if r[leg]["failed"]]
print("failed runs:", fails)
