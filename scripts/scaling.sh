#!/bin/bash
# Scaling legs for a set of registry queries: one `graft.Bench` run per
# SF dir (a leg), each leg's full metric line (with its per-query map)
# saved as one JSON line, then a log-log fit of seconds against the SF
# dir's on-disk bytes per query.
#
# Usage:
#   scripts/scaling.sh OUT_DIR SF_DIR... -- [NAME=VALUE...] QUERY...
#
# NAME=VALUE assignments are exported to every leg, e.g.
# SPARK_GRAFT_DENSE_CUTOFF=0 (pin the prefix-index dedup branch),
# GRAFT_BENCH_PASSES=1, SPARK_DRIVER_MEM=48g.
#
# Writes OUT_DIR/<n>_<sf dir name>.json (one metric line per leg) and
# OUT_DIR/fit.json (per-query seconds, exponent over all legs, tail
# exponent over the last two, git head). set -e aborts on a failed leg.
set -eu
[ $# -ge 4 ] || { sed -n '2,16p' "$0" >&2; exit 2; }
cd "$(dirname "$0")/.."
OUT=$1; shift
SFS=()
while [ $# -gt 0 ] && [ "$1" != "--" ]; do SFS+=("$1"); shift; done
[ $# -gt 0 ] || { echo "missing -- before the queries" >&2; exit 2; }
shift
ENVS=()
while [ $# -gt 0 ] && [[ "$1" == *=* ]]; do ENVS+=("$1"); shift; done
[ ${#SFS[@]} -gt 0 ] && [ $# -gt 0 ] || { echo "need SF dirs and queries" >&2; exit 2; }
Q="$*"
mkdir -p "$OUT"

LEGS=()
i=0
for sf in "${SFS[@]}"; do
  i=$((i + 1))
  tag="${i}_$(basename "$sf")"
  echo "=== $tag ==="
  # Bench prints the full line (per-query map) and then a compact twin
  # without the map; the leg keeps the full one
  env ${ENVS[@]+"${ENVS[@]}"} SPARK_GRAFT_SF_DIR="$sf" \
    sbt -batch "runMain graft.Bench $Q" 2>&1 \
    | grep -E '^\{"metric"' | grep -v '"compact":true' | tail -n1 > "$OUT/$tag.json"
  [ -s "$OUT/$tag.json" ] || { echo "leg $tag produced no metric line" >&2; exit 1; }
  cat "$OUT/$tag.json"
  LEGS+=("$sf=$OUT/$tag.json")
done

python3 - "$OUT" "${LEGS[@]}" <<'PYEOF'
import json, math, os, statistics, subprocess, sys
out, legs = sys.argv[1], [a.split("=", 1) for a in sys.argv[2:]]
def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)
points = []
for sf, path in legs:
    with open(path) as f:
        points.append((sf, dir_bytes(sf), json.load(f)["queries"]))
fits = {}
print(f"\n--- log-log fits over {' / '.join(sf for sf, _, _ in points)} ---")
for q in sorted(points[0][2]):
    secs = [t[q] for _, _, t in points]
    fit = {"sec": {sf: t[q] for sf, _, t in points}}
    xs = [math.log(b) for _, b, _ in points]
    ys = [math.log(s) for s in secs]
    if len(points) >= 2 and len(set(xs)) > 1:
        mx, my = statistics.mean(xs), statistics.mean(ys)
        fit["exponent"] = round(sum((x - mx) * (y - my) for x, y in zip(xs, ys)) /
                                sum((x - mx) ** 2 for x in xs), 3)
        fit["tail_exponent"] = round((ys[-1] - ys[-2]) / (xs[-1] - xs[-2]), 3)
    fits[q] = fit
    print(f"{q}: {' / '.join(f'{s:.2f}' for s in secs)} s  "
          f"exponent={fit.get('exponent')} tail={fit.get('tail_exponent')}")
git_head = subprocess.run(["git", "rev-parse", "HEAD"],
                          capture_output=True, text=True).stdout.strip()
with open(os.path.join(out, "fit.json"), "w") as f:
    json.dump({"metric": "scaling_fit", "sf_dirs": [sf for sf, _, _ in points],
               "sf_bytes": [b for _, b, _ in points], "queries": fits,
               "git_head": git_head}, f, indent=1)
print(f"\nwrote {out}/fit.json")
PYEOF
