#!/usr/bin/env python3
"""Roll the Soak JSONL output into a markdown scale report.

Usage: python3 tools/scale_report.py OUT.md base_and_x10.log x30.log

Each log is a `runMain graft.Soak N` capture: JSON lines tagged
corpus=base / corpus=xN. The report quotes every instrumented line
verbatim (candidate accounting, recall, estimate==actual), then builds
one per-query wall-time table covering EVERY SparkEntry query at every
scale point (or its named exclusion), plus a per-family rollup.
"""
import json
import re
import sys
from collections import defaultdict

# queries measured inside composite instrumented lines rather than
# under their own name
COMPOSITE = {
    "sim_bruteforce_topk": "sim_recall (brute_s)",
    "sim_ivf_topk": "sim_recall (ivf_s)",
    "sim_sq_topk": "sim_recall + sim_search_steady (sq8_*)",
    "sim_pq_topk": "sim_recall + sim_search_steady (pq_*)",
    "sim_ivfpq_topk": "sim_search_steady (ivfpq_*)",
    "dd_fuzzy_passjoin": "fuzzy_compare / fuzzy_passjoin_only",
    "dd_fuzzy_levenshtein": "fuzzy_compare (x10) / skipped past 20k names",
}


def parse(path):
    rows = []
    for line in open(path, encoding="utf-8", errors="replace"):
        line = line.strip()
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        if not (line.startswith("{") and '"corpus"' in line):
            continue
        try:
            rows.append(json.loads(line))
        except json.JSONDecodeError:
            # salvage unescaped skip messages
            m = re.match(r'\{"corpus":"([^"]+)","query":"([^"]+)",'
                         r'"(skipped|excluded)":"(.*)"\}$', line)
            if m:
                rows.append({"corpus": m.group(1), "query": m.group(2),
                             m.group(3): m.group(4)})
    return rows


def main():
    out, log10, log30 = sys.argv[1], sys.argv[2], sys.argv[3]
    rows = parse(log10) + [r for r in parse(log30)
                           if r.get("corpus") != "base"]
    scales = ["base", "x10", "x30"]
    per = defaultdict(dict)   # query -> corpus -> row
    extra = defaultdict(dict)  # instrumented lines (non-plain schema)
    for r in rows:
        q, c = r.get("query"), r.get("corpus")
        if q is None or c is None:
            continue
        plain = set(r) <= {"corpus", "query", "rows", "time_s"}
        if "skipped" in r or "excluded" in r or plain:
            per[q][c] = r
        else:
            extra[q][c] = r
            per[q].setdefault(c, r)  # instrumented time counts as covered

    md = []
    md.append(f"# {out.removesuffix('.md')} — measured scale soak "
              "(x10 / x30)\n")
    md.append(
        "Producer: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "
        "\"runMain graft.Soak 10\"` and `... Soak 30` (adversarial "
        "replicated corpora under /tmp/graft_soak — near-dup-heavy "
        "rotations, interleaved keys; see Soak.scala). Wall times are "
        "single-pass on a machine also compiling in between runs — "
        "slopes, not absolutes, are the signal (±25% band). Every "
        "`SparkEntry` query appears in the per-query table below with "
        "a time at each scale point, a composite-line pointer, or a "
        "named exclusion; the auto-coverage sweep runs against the "
        "dims-shadow corpus (replicated facts + fixed-size real "
        "part/nation/region — the realistic lake shape).\n")

    md.append("\n## Instrumented lines (candidate accounting, recall, "
              "estimate==actual) — quoted verbatim\n")
    md.append("```")
    for q in sorted(extra):
        for c in scales:
            if c in extra[q]:
                md.append(json.dumps(extra[q][c], separators=(",", ":")))
    md.append("```\n")

    md.append("\n## Per-query wall times\n")
    md.append("| query | base s | x10 s | x30 s | note |")
    md.append("|---|---|---|---|---|")
    fam_times = defaultdict(lambda: defaultdict(list))
    for q in sorted(per):
        cells, note = [], ""
        for c in scales:
            r = per[q].get(c)
            if r is None:
                cells.append("—")
            elif "excluded" in r:
                cells.append("excl")
                note = "EXCLUDED: " + r["excluded"][:120]
            elif "skipped" in r:
                cells.append("skip")
                note = "skipped: " + r["skipped"][:80]
            elif "time_s" in r:
                cells.append(f"{r['time_s']:.2f}")
                fam_times[q.split("_")[0]][c].append(r["time_s"])
            else:
                cells.append("·")
        if q in COMPOSITE:
            note = (note + " " if note else "") + \
                "also in composite line: " + COMPOSITE[q]
        md.append(f"| {q} | {cells[0]} | {cells[1]} | {cells[2]} | "
                  f"{note} |")
    for q, where in sorted(COMPOSITE.items()):
        if q not in per:
            md.append(f"| {q} | — | — | — | measured inside composite "
                      f"line: {where} |")

    md.append("\n## Per-family rollup (median / max seconds)\n")
    md.append("| family | n | base med/max | x10 med/max | x30 med/max |")
    md.append("|---|---|---|---|---|")

    def mm(v):
        if not v:
            return "—"
        v = sorted(v)
        return f"{v[len(v) // 2]:.2f} / {v[-1]:.2f}"

    for fam in sorted(fam_times):
        t = fam_times[fam]
        n = max(len(t.get(c, [])) for c in scales)
        md.append(f"| {fam} | {n} | {mm(t.get('base'))} | "
                  f"{mm(t.get('x10'))} | {mm(t.get('x30'))} |")

    md.append("\n## Top-10 heaviest at x30\n")
    heavy = sorted(((per[q]['x30']['time_s'], q) for q in per
                    if 'x30' in per[q] and 'time_s' in per[q]['x30']),
                   reverse=True)[:10]
    md.append("| query | x30 s | x10 s | base s |")
    md.append("|---|---|---|---|")
    for t, q in heavy:
        def g(c):
            r = per[q].get(c, {})
            return f"{r['time_s']:.2f}" if "time_s" in r else "—"
        md.append(f"| {q} | {t:.2f} | {g('x10')} | {g('base')} |")

    open(out, "w").write("\n".join(md) + "\n")
    print(f"wrote {out}: {len(per)} queries, {len(extra)} instrumented")


if __name__ == "__main__":
    main()
