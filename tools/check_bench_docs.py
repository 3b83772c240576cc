#!/usr/bin/env python3
"""Asserts the BENCH.md headline table matches the committed
BENCH_LOCAL.json, so the narrative docs cannot silently go stale
(round-3 verdict item 5: BENCH.md still described round 2)."""
import json, re, sys, pathlib

root = pathlib.Path(__file__).resolve().parent.parent
d = json.load(open(root / "BENCH_LOCAL.json"))
md = open(root / "BENCH.md").read()

checks = [
    (r"\| local\[2\] \(N\) \| ([\d.]+) MTok/s", "encode_mtok_s_local2"),
    (r"\| local\[8\] \(4N\) \| ([\d.]+) MTok/s", "encode_mtok_s_local8"),
    (r"\| local\[24\] \(box peak\) \| ([\d.]+) MTok/s", "encode_mtok_s_local24"),
    (r"min-based\) \| ([\d.]+) / [\d.]+ \| `scaling_efficiency`", "scaling_efficiency"),
    (r"min-based\) \| [\d.]+ / ([\d.]+) \| `scaling_efficiency`", "scaling_efficiency_minbased"),
    (r"\| Cluster \(2 workers\) \| ([\d.]+) MTok/s", "encode_mtok_s_cluster2"),
    (r"\| Cluster \(8 workers\) \| ([\d.]+) MTok/s", "encode_mtok_s_cluster8"),
    (r"\| \*\*([\d.]+)\*\* / [\d.]+ \| `scaling_efficiency_local_cluster`",
     "scaling_efficiency_local_cluster"),
    (r"\| \*\*[\d.]+\*\* / ([\d.]+) \| `scaling_efficiency_local_cluster`",
     "scaling_efficiency_local_cluster_minbased"),
    (r"\| Decode \| ([\d.]+) MTok/s", "decode_mtok_s_local24"),
    (r"\| Recompress \(policy migration, NO exchange\) \| ([\d.]+) MTok/s",
     "recompress_mtok_s_local24"),
    (r"\| Partition work balance \(tokens max/avg\) \| ([\d.]+)",
     "part_tokens_max_over_avg"),
    (r"\| One-time partition-plan cost \| ([\d.]+) s", "plan_sec"),
    (r"\| Compression ratio \(raw / encoded\) \| ([\d.]+)×", "compression_ratio"),
    (r"\| Shared-dictionary leg .* \*\*([\d.]+)× vs [\d.]+× without\*\*",
     "compression_ratio_zdict"),
    (r"\| Shared-dictionary leg .* \*\*[\d.]+× vs ([\d.]+)× without\*\*",
     "compression_ratio_zdict_off"),
]
bad = []
for pat, key in checks:
    m = re.search(pat, md)
    if not m:
        bad.append(f"pattern not found in BENCH.md: {pat}")
    elif key not in d:
        bad.append(f"{key}: in BENCH.md but missing from BENCH_LOCAL.json "
                   "(cluster section skipped?)")
    elif abs(float(m.group(1)) - float(d[key])) > 1e-9:
        bad.append(f"{key}: BENCH.md says {m.group(1)}, BENCH_LOCAL.json says {d[key]}")
# query-count gate (round-4 verdict item 5): the "N driver queries,
# N oracle-checked" claim must match BOTH the committed bench artifact's
# query map and the SparkEntry oracle catalog, so the count cannot silently
# go stale when a query is added without re-running the bench.
src = open(root / "src/main/scala/graft/SparkEntry.scala").read()
oracle_n = len(set(re.findall(r'"([a-z0-9_]+)" ->',
                              src[src.index("def oracleSql"):])))
bench_n = len(d.get("queries", {}))
m = re.search(r"\*\*(\d+) driver queries, (\d+) oracle-checked", md)
if not m:
    bad.append("BENCH.md query-count claim line not found")
else:
    claimed = int(m.group(1))
    if int(m.group(2)) != claimed:
        bad.append(f"BENCH.md claims {claimed} queries but {m.group(2)} oracle-checked")
    if claimed != oracle_n:
        bad.append(f"BENCH.md claims {claimed} queries, SparkEntry.oracleSql has {oracle_n}")
    if claimed != bench_n:
        bad.append(f"BENCH.md claims {claimed} queries, BENCH_LOCAL.json query map has {bench_n}")
# BASELINE.md citation gate (round-5 verdict item 6): every number the
# "Measured (see BENCH.md / BENCH_LOCAL.json)" column cites must EXIST in
# the cited artifact and match it — round 5 shipped a BASELINE.md pointing
# at a live file that had been clobbered by a gutted driver run (cluster
# fields absent), and only a curated copy saved the evidence. The pointer
# is now enforced mechanically.
bl = open(root / "BASELINE.md").read()
baseline_checks = [
    (r"([\d.]+) \(local\[2\]\)", "encode_mtok_s_local2"),
    (r"/ ([\d.]+) \(local\[8\]\)", "encode_mtok_s_local8"),
    (r"([\d.]+) \(local\[24\] box peak", "encode_mtok_s_local24"),
    (r"multi-JVM: ([\d.]+) \(2 workers\)", "encode_mtok_s_cluster2"),
    (r"/ ([\d.]+) \(8 workers\)", "encode_mtok_s_cluster8"),
    (r"\*\*([\d.]+) multi-JVM local-cluster 2→8 workers\*\*",
     "scaling_efficiency_local_cluster"),
    (r"min-based ([\d.]+)\)", "scaling_efficiency_local_cluster_minbased"),
    (r"local threads 2→8: ([\d.]+) median", "scaling_efficiency"),
    (r"local threads 2→8: [\d.]+ median / ([\d.]+) min-based",
     "scaling_efficiency_minbased"),
    (r"([\d.]+)× overall \(codec mix", "compression_ratio"),
    (r"\*\*([\d.]+)×\*\* with the shared zstd dictionary",
     "compression_ratio_zdict"),
]
for pat, key in baseline_checks:
    m = re.search(pat, bl)
    if not m:
        bad.append(f"BASELINE.md citation pattern not found: {pat}")
    elif key not in d:
        bad.append(f"{key}: cited in BASELINE.md but ABSENT from the cited "
                   "BENCH_LOCAL.json (clobbered by a partial run?)")
    elif abs(float(m.group(1)) - float(d[key])) > 1e-9:
        bad.append(f"{key}: BASELINE.md cites {m.group(1)}, "
                   f"BENCH_LOCAL.json says {d[key]}")
# entry-point gate: every `runMain graft.<Name>` the docs tell a reader to
# run must name an object with a `main` under src/main/scala, so deleting a
# tool cannot leave its usage behind.
mains = set()
for f in (root / "src/main/scala").rglob("*.scala"):
    for obj, body in re.findall(r"^object (\w+)\b(.*?)(?=^object |\Z)",
                                f.read_text(), re.M | re.S):
        if re.search(r"\bdef main\(", body):
            mains.add(obj)
docs = ["README.md", "BENCH.md", "PLANS.md", ".claude/skills/verify/SKILL.md"]
n_runmain = 0
for doc in docs:
    for name in re.findall(r"runMain graft\.(\w+)", open(root / doc).read()):
        n_runmain += 1
        if name not in mains:
            bad.append(f"{doc}: `runMain graft.{name}` names no object with a main "
                       "under src/main/scala")
# knob inventory: every env var and system property the main sources read
# (JVM standard `java.*` properties aside) must be documented in BENCH.md
# or the verify skill, so a switch nobody can find in the docs cannot hide
# in the code.
knob_docs = open(root / "BENCH.md").read() + open(
    root / ".claude/skills/verify/SKILL.md").read()
knob_re = re.compile(r'(?:sys\.(?:env|props)(?:\.(?:get|getOrElse|contains))?'
                     r'|System\.(?:getenv|getProperty))\(\s*"([^"]+)"')
knobs = set()
for f in sorted((root / "src/main").rglob("*.scala")):
    for name in knob_re.findall(f.read_text()):
        if name.startswith("java."):
            continue
        knobs.add(name)
        if name not in knob_docs:
            bad.append(f"{f.relative_to(root)}: reads `{name}`, which neither "
                       "BENCH.md nor the verify skill mentions")
if bad:
    print("STALE BENCH.md/BASELINE.md/entry points/knobs:\n  " + "\n  ".join(bad))
    sys.exit(1)
print(f"BENCH.md matches BENCH_LOCAL.json ({len(checks)} fields, "
      f"{oracle_n} queries); BASELINE.md citations verified "
      f"({len(baseline_checks)} fields); {n_runmain} runMain usages name "
      f"existing mains; {len(knobs)} env/property names documented: "
      f"{', '.join(sorted(knobs))}")
