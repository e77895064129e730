#!/usr/bin/env python3
"""Regenerate perfbench/workloads.json from the repository state.

Usage (from the repository root): python3 perfbench/tools/make_sample.py [N]

query_first is a family-stratified sample of the q_* registry. A family
is one query module under src/main/scala/graft/queries. Every family gets
at least one query, and the remaining slots follow each family's share of
the graft.Bench wall time in BENCH_QUERIES.json (largest remainder).
Inside a family the queries are taken at evenly spaced ranks of their
wall time, so a family's fast and slow members are both represented.
Required members are always kept. The list order is the base order of
the run (a fixed shuffle). The output is committed: the benchmark never
re-derives it at run time.
"""
import glob, json, os, random, re, sys

N = int(sys.argv[1]) if len(sys.argv) > 1 else 22
REQUIRED = ["q_agg_mad"]
# the untimed warm-up query; sampling it would time a warm query
WARMUP = "q_agg_pricing_summary"

wall = json.load(open("BENCH_QUERIES.json"))["queries"]
family = {}
for f in sorted(glob.glob("src/main/scala/graft/queries/*.scala")):
    mod = os.path.basename(f)[:-len(".scala")]
    for q in re.findall(r'\bQ\(\s*"(q_[a-z0-9_]+)"', open(f).read()):
        family.setdefault(q, mod)
members = {}
for q in sorted(wall):
    if q == WARMUP:
        continue
    members.setdefault(family[q], []).append(q)
total = sum(wall.values())
share = {f: sum(wall[q] for q in qs) / total for f, qs in members.items()}

alloc = {f: 1 for f in members}
spare = N - len(alloc)
want = {f: share[f] * N for f in members}
while spare > 0:
    f = max(members, key=lambda f: (want[f] - alloc[f], f))
    if alloc[f] >= len(members[f]):
        want[f] = -1
        continue
    alloc[f] += 1
    spare -= 1

sample = []
for f in sorted(members):
    qs = sorted(members[f], key=lambda q: (wall[q], q))
    k = alloc[f]
    picked = [q for q in REQUIRED if q in qs][:k]
    rest = [q for q in qs if q not in picked]
    need = k - len(picked)
    if need > 0:
        step = len(rest) / need
        picked += [rest[int(step * i + step / 2)] for i in range(need)]
    sample += [{"query": q, "family": f, "r18_wall_s": round(wall[q], 3)}
               for q in sorted(picked)]

# the committed base order: families interleaved by a fixed shuffle; the
# benchmark seed only permutes queries inside blocks of three
random.Random(0).shuffle(sample)
out = {
    "query_first": sample,
    "family_wall_share": {f: round(share[f], 4) for f in sorted(share)},
}
json.dump(out, open("perfbench/workloads.json", "w"), indent=1)
print(f"query_first: {len(sample)} queries, "
      f"r18 wall {sum(s['r18_wall_s'] for s in sample):.1f} s")
