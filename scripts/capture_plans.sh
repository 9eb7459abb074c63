#!/bin/bash
# Capture each query's final (post-AQE) formatted plan, run under the bench's
# session conf, into plans/<tag>/<query>_<suffix>.txt
# Usage: capture_plans.sh <tag> <suffix> <corpusDir> [query...]
#   e.g. capture_plans.sh r14 after <testdata>/sf0.01
# Exits non-zero when any query's plan reads "(no plan recorded)".
set -e
cd "$(dirname "$0")/.."
TAG=${1:?tag}; SUF=${2:?suffix}; DIR=${3:?corpus dir}; shift 3
mkdir -p "plans/$TAG"
OUT=$(mktemp)
trap 'rm -f "$OUT"' EXIT
sbt -batch "runMain graft.Tool plans $DIR $*" 2>/dev/null > "$OUT"
python3 - "$TAG" "$SUF" "$OUT" <<'PY'
import sys, re
tag, suf, out = sys.argv[1:]
parts = re.split(r"^===== plan (\S+) =====$", open(out).read(), flags=re.M)
missing = []
for i in range(1, len(parts), 2):
    plan = parts[i + 1].strip()
    if plan == "(no plan recorded)":
        missing.append(parts[i])
    with open(f"plans/{tag}/{parts[i]}_{suf}.txt", "w") as f:
        f.write(plan + "\n")
print(f"wrote {len(parts) // 2} plans/{tag}/*_{suf}.txt")
if missing:
    sys.exit(f"no plan recorded for: {' '.join(missing)}")
PY
