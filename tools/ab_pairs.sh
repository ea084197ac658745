#!/usr/bin/env bash
# Alternating A/B pairs of the facade benchmark.
#
#   tools/ab_pairs.sh PARENT_REV WORKLOAD SEED...
#
# For each seed, runs `python3 facadebench/run.py --trace 0` on PARENT_REV
# and on the working tree back to back, so both sides of a pair share one
# host window; which side runs first alternates from pair to pair.
# Prints one JSON line per seed (each side's end-to-end metrics, `correct`
# and `failed`), then one JSON line per metric with both medians, the
# parent's quartiles and how many pairs the change won. The same summary
# covers each `*_p50_ms` of the run's `context.detail` (e.g.
# `upsert_p50_ms`), so a claim can name its layer from the same runs.
#
# Both sides run from sibling `git archive` exports in one directory, so
# neither side gains or loses from where its checkout sits (a run from the
# repository itself against an export elsewhere biased cold-JVM `setup_s`
# by about 8%). The change side is the working tree as `git add -A` would
# stage it, written through a temporary index: the exports leave nothing
# registered in .git and the repository's own index untouched. Environment:
#   AB_DIR      where both exports go, as parent-<tree> and change-<tree>
#               (default: a new mktemp dir); an existing export is reused
#   AB_SECONDS  --seconds per run (default 15)
#   AB_OUT      where the raw run outputs go (default: a new mktemp dir)
# Only the benchmark is invoked; no file of the repository is changed.
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 PARENT_REV WORKLOAD SEED..." >&2
  exit 2
fi
rev=$1 workload=$2
shift 2
root=$(git rev-parse --show-toplevel)
dir=${AB_DIR:-$(mktemp -d "${TMPDIR:-/tmp}/ab_pairs.XXXXXX")}
case "$(cd "$dir" && pwd)/" in
  "$root"/*) echo "AB_DIR must lie outside the repository" >&2; exit 2 ;;
esac
index=$(mktemp "${TMPDIR:-/tmp}/ab_index.XXXXXX")
change_tree=$(cd "$root" && cp "$(git rev-parse --git-path index)" "$index" &&
  GIT_INDEX_FILE=$index git add -A && GIT_INDEX_FILE=$index git write-tree)
rm -f "$index"
parent_tree=$(git -C "$root" rev-parse "$rev^{tree}")
export_tree() { # tree dest
  if [ ! -f "$2/build.sbt" ]; then
    mkdir -p "$2"
    git -C "$root" archive "$1" | tar -x -C "$2"
  fi
}
parent=$dir/parent-$parent_tree change=$dir/change-$change_tree
export_tree "$parent_tree" "$parent"
export_tree "$change_tree" "$change"
out=${AB_OUT:-$(mktemp -d "${TMPDIR:-/tmp}/ab_out.XXXXXX")}
mkdir -p "$out"

run() { # checkout side seed
  (cd "$1" && python3 facadebench/run.py --workload "$workload" --seed "$3" \
    --seconds "${AB_SECONDS:-15}" --trace 0) >"$out/$2-$3.out" 2>"$out/$2-$3.err" || true
}
i=0
for seed in "$@"; do
  # which side runs first alternates from pair to pair
  if [ $((i % 2)) -eq 0 ]; then
    run "$parent" parent "$seed"; run "$change" change "$seed"
  else
    run "$change" change "$seed"; run "$parent" parent "$seed"
  fi
  i=$((i + 1))
done

python3 - "$root/BENCHMARK.json" "$out" "$workload" "$@" <<'PY'
import json, statistics, sys

bench, out, workload, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
lower = {m["name"] for m in json.load(open(bench))["end_to_end"] if m["better"] == "lower"}

def result(side, seed):
    """the run's result line with the `*_p50_ms` of its context line's
    detail under "detail", or None if it printed no result"""
    try:
        lines = [l for l in open(f"{out}/{side}-{seed}.out") if l.strip()]
        r = json.loads(lines[-1])
    except (OSError, IndexError, ValueError):
        return None
    if "metrics" not in r:
        return None
    try:
        detail = json.loads(lines[-2])["context"]["detail"]
    except (IndexError, ValueError, KeyError, TypeError):
        detail = {}
    r["detail"] = {k: v for k, v in detail.items()
                   if k.endswith("_p50_ms") and isinstance(v, (int, float))}
    return r

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]

def better(name):
    lower_is_better = name in lower or name.startswith("detail.")
    return (lambda c, p: c < p) if lower_is_better else (lambda c, p: c > p)

pairs = []
for seed in seeds:
    p, c = result("parent", seed), result("change", seed)
    side = lambda r: None if r is None else {
        "correct": r["correct"], "failed": r["failed"],
        **{k: v["value"] for k, v in r["metrics"].items()},
        **{f"detail.{k}": v for k, v in r["detail"].items()}}
    row = {"workload": workload, "seed": int(seed),
           "first": "parent" if seeds.index(seed) % 2 == 0 else "change",
           "parent": side(p), "change": side(c)}
    print(json.dumps(row))
    if p is not None and c is not None:
        pairs.append(row)

names = sorted({k for r in pairs for k in r["parent"] if k not in ("correct", "failed")})
for name in names:
    ps = [r["parent"][name] for r in pairs if name in r["parent"] and name in r["change"]]
    cs = [r["change"][name] for r in pairs if name in r["parent"] and name in r["change"]]
    if not ps:
        continue
    q1, q3 = quartiles(ps)
    won = sum(better(name)(c, p) for c, p in zip(cs, ps))
    print(json.dumps({"workload": workload, "metric": name, "pairs": len(ps),
                      "parent_median": statistics.median(ps),
                      "change_median": statistics.median(cs),
                      "parent_q1": q1, "parent_q3": q3, "change_better": won}))
print(json.dumps({"workload": workload, "runs_dir": out,
                  "all_correct": all(r[s]["correct"] and r[s]["failed"] == 0
                                     for r in pairs for s in ("parent", "change")),
                  "incomplete_seeds": [s for s in seeds
                                       if int(s) not in {r["seed"] for r in pairs}]}))
PY
