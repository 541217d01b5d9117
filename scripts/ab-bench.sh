#!/bin/bash
# A/B one benchmark workload between a parent revision and this checkout.
#
#   scripts/ab-bench.sh <parent-rev> <workload> <seed>...
#
# Runs one pair per seed: `perfbench/run.py` on the parent (exported with
# `git archive`) and on this checkout's working tree (its tracked and
# unignored files), each copied into a fresh temporary directory so both
# sides build and run under the same conditions, alternating which side
# runs first, each for the benchmark's own run_seconds. Prints one line
# per pair, then per end-to-end metric each side's median and quartiles,
# the change's win count and the verdict of the choosing-metrics §8 rule:
# a gain needs at least 10 pairs, wins in at least 9/10 of them and
# medians further apart than the parent's interquartile range. Metrics
# that are not a gain are checked against BENCHMARK.json's bound. For a
# workload whose runs note their latency by kind (`query`), it also prints
# each side's median per-kind latency, so a change shows which kinds moved.
# Reads the benchmark only; raw result lines, each with its run's `# `
# note lines, go to .bench_build/ab-<workload>-<time>.jsonl.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-rev> <workload> <seed>..." >&2
  exit 2
fi
rev="$1"; workload="$2"; shift 2
root="$(cd "$(dirname "$0")/.." && pwd)"
parent="$(mktemp -d)"; change="$(mktemp -d)"
trap 'rm -rf "$parent" "$change"' EXIT
git -C "$root" archive "$rev" | tar -x -C "$parent"
git -C "$root" ls-files -z --cached --others --exclude-standard |
  tar -C "$root" --null --ignore-failed-read -T - -c 2>/dev/null | tar -x -C "$change"

seconds="$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")"
mkdir -p "$root/.bench_build"
out="$root/.bench_build/ab-$workload-$(date +%Y%m%d-%H%M%S).jsonl"
log="${out%.jsonl}.log"
echo "parent $(git -C "$root" rev-parse --short "$rev") vs working tree;" \
  "$workload, ${seconds}s runs; results $out" >&2

# run <side> <dir> <seed> <pair>: one benchmark run; its JSON line is
# appended with the run's `# ` note lines (per-round rates, the traced
# blocking-path remainder, failures) under "notes"
run() {
  local stdout="" line notes
  if stdout="$(cd "$2" && python3 perfbench/run.py --workload "$workload" \
      --seed "$3" --seconds "$seconds" 2>>"$log")" &&
      line="$(printf '%s\n' "$stdout" | tail -1)" && [ -n "$line" ]; then
    :
  else
    line='{"error": "run failed"}'
  fi
  notes="$(printf '%s\n' "$stdout" | python3 -c 'import json, sys
print(json.dumps([l[2:].rstrip("\n") for l in sys.stdin if l.startswith("# ")]))')"
  printf '{"pair": %d, "seed": %d, "side": "%s", "notes": %s, "result": %s}\n' \
    "$4" "$3" "$1" "$notes" "$line" >>"$out"
}

pair=0
for seed in "$@"; do
  if [ $((pair % 2)) -eq 0 ]; then
    run parent "$parent" "$seed" "$pair"; run change "$change" "$seed" "$pair"
  else
    run change "$change" "$seed" "$pair"; run parent "$parent" "$seed" "$pair"
  fi
  pair=$((pair + 1))
done

python3 - "$root/BENCHMARK.json" "$out" <<'EOF'
import json, re, sys

spec = json.load(open(sys.argv[1]))
runs = [json.loads(l) for l in open(sys.argv[2])]
metrics = spec["end_to_end"]
pairs = {}
for r in runs:
    pairs.setdefault(r["pair"], {"seed": r["seed"], "first": None})
    p = pairs[r["pair"]]
    p["first"] = p["first"] or r["side"]
    p[r["side"]] = r["result"]


def value(res, name):
    m = (res or {}).get("metrics", {}).get(name)
    return None if m is None else m["value"]


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between closest ranks."""
    xs = sorted(xs)
    def q(f):
        k = (len(xs) - 1) * f
        lo = int(k)
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
    return q(0.25), q(0.5), q(0.75)


for i in sorted(pairs):
    p = pairs[i]
    cells = []
    for m in metrics:
        a, b = value(p.get("parent"), m["name"]), value(p.get("change"), m["name"])
        cells.append(f"{m['name']} {a}->{b}")
    fails = [f"{s} {p.get(s, {}).get('error') or p.get(s, {}).get('failed', '?')}"
             for s in ("parent", "change")]
    print(f"pair {i} seed {p['seed']} {p['first']}-first | " + " | ".join(cells) +
          f" | failed: {', '.join(fails)}")

print()
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    both = [(value(p.get("parent"), name), value(p.get("change"), name))
            for p in pairs.values()]
    both = [(a, b) for a, b in both if a is not None and b is not None]
    if not both:
        print(f"{name}: no complete pair")
        continue
    pq, cq = quartiles([a for a, _ in both]), quartiles([b for _, b in both])
    wins = sum(1 for a, b in both if (b < a if lower else b > a))
    iqr = pq[2] - pq[0]
    delta = cq[1] - pq[1]
    rel = delta / pq[1] if pq[1] else 0.0
    better = delta < 0 if lower else delta > 0
    if better and wins >= 0.9 * len(both) and abs(delta) > iqr:
        verdict = ("GAIN (section 8 rule met)" if len(both) >= 10
                   else "better, but section 8 needs at least 10 pairs")
    elif (rel if lower else -rel) > m["bound"]:
        verdict = f"WORSE beyond bound {m['bound']}"
    else:
        verdict = f"no gain; within bound {m['bound']}"
    print(f"{name} [{m['unit']}]: parent median {pq[1]:.4g} (q1 {pq[0]:.4g}, q3 {pq[2]:.4g}, "
          f"IQR {iqr:.4g}) | change median {cq[1]:.4g} (q1 {cq[0]:.4g}, q3 {cq[2]:.4g}) | "
          f"change wins {wins}/{len(both)} | median {delta:+.4g} ({rel:+.1%}) | {verdict}")

# per-kind latency from each run's "queries: ... by kind (n, median ms):
# <kind> <n> <ms>, ..." note: per side, the median of the runs' medians
by_kind = {}
for r in runs:
    for n in r.get("notes", []):
        m = re.search(r"by kind \(n, median ms\): (.*)$", n)
        for cell in (m.group(1).split(", ") if m else []):
            kind, _, ms = cell.rsplit(" ", 2)
            by_kind.setdefault(kind, {}).setdefault(r["side"], []).append(float(ms))
if by_kind:
    print()
    print("latency by kind [ms], median of the runs' per-kind medians:")
    for kind in sorted(by_kind):
        a, b = by_kind[kind].get("parent"), by_kind[kind].get("change")
        if not a or not b:
            continue
        pm, cm = quartiles(a)[1], quartiles(b)[1]
        print(f"  {kind}: parent {pm:.0f} | change {cm:.0f} | "
              f"{(cm - pm) / pm if pm else 0.0:+.1%} ({len(a)} vs {len(b)} runs)")
EOF
