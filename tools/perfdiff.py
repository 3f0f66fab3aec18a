#!/usr/bin/env python3
"""Parent-vs-change comparison of perfbench artifacts.

    python3 tools/perfdiff.py PARENT_DIR CHANGE_DIR [--benchmark BENCHMARK.json]

Each directory holds `.bench_build/results/*.json` artifacts written by
`perfbench/run.py`, one per (workload, seed, trace) run. Runs with the
same workload, seed and trace setting on both sides form a pair. For
every workload and every metric (end-to-end metrics from untraced runs,
per-layer metrics from traced runs) the tool prints one Markdown row:

- each side's median and quartiles over its runs;
- the change's median relative to the parent's, and the absolute
  difference of the medians (change − parent, in the metric's unit) —
  the ratio is meaningless for a metric whose parent median sits near
  zero, such as the traced-minus-untraced `trace.overhead_s`;
- the change's wins over pairs (ties count for neither side);
- a verdict by the paired rule: `gain` when there are at least ten
  pairs, the change wins at least nine tenths of them and the medians
  differ, in the better direction, by more than the parent's
  interquartile range; `worse`
  when the change's median is worse than the parent's by more than the
  metric's bound from BENCHMARK.json (end-to-end metrics only);
  `unresolved` when that bound is smaller than the parent's own spread
  (IQR / median) and the change is not better on every run; otherwise
  `-` (no claimable change, within bound).

The direction of each metric ("better": "lower" or "higher") comes from
BENCHMARK.json.

For traced pairs a second table counts Spark jobs per span name, from
the `jobs` field of every span of every traced pass: each side's count
(or its distinct counts with their frequencies when they differ), and
whether both sides' counts repeat exactly across passes and runs.

A third table shows artifact-only fields of the untraced pairs, which
no BENCHMARK.json metric carries: the JVM's peak heap and peak resident
set (`raw.peak_heap_mb`, `raw.peak_rss_mb` — what a run keeps, where
`alloc_mb` counts what it allocates) and the 90th-percentile op time
(`op_p90_s`). Each row gives both sides' medians and the change's wins
(lower is better for all three); a field missing on either side of a
pair leaves that pair out.
"""
import argparse
import glob
import json
import os
import statistics
import sys

MIN_PAIRS = 10


def load_runs(directory):
    """{(workload, seed, traced): artifact} for every artifact in a directory."""
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            art = json.load(f)
        runs[(art["workload"], art["seed"], bool(art["trace"]))] = art
    return runs


def quartiles(values):
    """(q1, median, q3) with inclusive interpolation; one value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def metric_directions(benchmark):
    """{metric: (better, bound or None, section)} from BENCHMARK.json."""
    out = {}
    for m in benchmark["end_to_end"]:
        out[m["name"]] = (m["better"], m.get("bound"), "end_to_end")
    for m in benchmark["per_layer"]:
        out[m["name"]] = (m["better"], None, "per_layer")
    return out


def compare(parent_runs, change_runs, directions):
    """One dict per (workload, metric) with both sides' statistics and the verdict."""
    rows = []
    pairs = sorted(set(parent_runs) & set(change_runs))
    workloads = sorted({w for w, _, _ in pairs})
    for workload in workloads:
        for metric, (better, bound, section) in directions.items():
            traced = section == "per_layer"
            keys = [k for k in pairs if k[0] == workload and k[2] == traced]
            pv, cv = [], []
            for k in keys:
                p = parent_runs[k][section].get(metric)
                c = change_runs[k][section].get(metric)
                if p is None or c is None or p.get("value") is None or c.get("value") is None:
                    continue
                pv.append(float(p["value"]))
                cv.append(float(c["value"]))
            if not pv:
                continue
            sign = 1.0 if better == "lower" else -1.0
            wins = sum(1 for p, c in zip(pv, cv) if sign * (p - c) > 0)
            pq1, pmed, pq3 = quartiles(pv)
            cq1, cmed, cq3 = quartiles(cv)
            iqr = pq3 - pq1
            gain = sign * (pmed - cmed)  # > 0: the change is better
            rel = (cmed - pmed) / pmed if pmed > 0 else None
            if len(pv) >= MIN_PAIRS and wins >= 0.9 * len(pv) and gain > iqr:
                verdict = "gain"
            elif bound is not None and rel is not None and sign * rel > bound:
                verdict = "worse"
            elif (bound is not None and pmed > 0 and iqr / pmed > bound
                  and not all(sign * (p - c) > 0 for p in pv for c in cv)):
                verdict = "unresolved"
            else:
                verdict = "-"
            rows.append({
                "workload": workload, "metric": metric, "section": section,
                "pairs": len(pv), "wins": wins,
                "parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3),
                "rel": rel, "delta": cmed - pmed, "verdict": verdict,
            })
    return rows


def span_jobs(runs, keys):
    """{span name: [jobs of each span instance]} over the traced passes of `keys`."""
    out = {}
    for k in keys:
        for p in runs[k]["raw"]["passes"]:
            if p.get("traced"):
                for s in p["spans"]:
                    out.setdefault(s["name"], []).append(s["jobs"])
    return out


def job_counts(parent_runs, change_runs):
    """One dict per (workload, span name) over the traced pairs: each side's
    job counts per span instance and whether both repeat exactly."""
    rows = []
    pairs = sorted(k for k in set(parent_runs) & set(change_runs) if k[2])
    for workload in sorted({w for w, _, _ in pairs}):
        keys = [k for k in pairs if k[0] == workload]
        pj, cj = span_jobs(parent_runs, keys), span_jobs(change_runs, keys)
        for name in sorted(set(pj) | set(cj)):
            p, c = pj.get(name, []), cj.get(name, [])
            rows.append({"workload": workload, "span": name, "runs": len(keys),
                         "parent": p, "change": c,
                         "exact": len(set(p)) <= 1 and len(set(c)) <= 1})
    return rows


ARTIFACT_FIELDS = ("raw.peak_heap_mb", "raw.peak_rss_mb", "op_p90_s")


def artifact_field(art, dotted):
    """The value at a dotted path of an artifact, or None."""
    value = art
    for part in dotted.split("."):
        value = value.get(part) if isinstance(value, dict) else None
    return value


def artifact_fields(parent_runs, change_runs):
    """One dict per (workload, artifact field) over the untraced pairs:
    both sides' medians and the change's wins (lower is better)."""
    rows = []
    pairs = sorted(k for k in set(parent_runs) & set(change_runs) if not k[2])
    for workload in sorted({w for w, _, _ in pairs}):
        keys = [k for k in pairs if k[0] == workload]
        for field in ARTIFACT_FIELDS:
            values = [(artifact_field(parent_runs[k], field), artifact_field(change_runs[k], field))
                      for k in keys]
            values = [(float(p), float(c)) for p, c in values if p is not None and c is not None]
            if not values:
                continue
            rows.append({"workload": workload, "field": field, "pairs": len(values),
                         "parent": statistics.median(p for p, _ in values),
                         "change": statistics.median(c for _, c in values),
                         "wins": sum(1 for p, c in values if c < p)})
    return rows


def render_fields(rows):
    lines = ["| workload | artifact field | pairs | parent median | change median | change wins |",
             "|---|---|---|---|---|---|"]
    for r in rows:
        lines.append(
            f"| {r['workload']} | {r['field']} | {r['pairs']} | {fmt(r['parent'])} "
            f"| {fmt(r['change'])} | {r['wins']}/{r['pairs']} |")
    return "\n".join(lines)


def fmt_jobs(counts):
    """`13` when every instance ran 13 jobs, else `11×3, 13×17`; `-` for none."""
    if not counts:
        return "-"
    distinct = sorted(set(counts))
    if len(distinct) == 1:
        return str(distinct[0])
    return ", ".join(f"{v}×{counts.count(v)}" for v in distinct)


def render_jobs(rows):
    lines = ["| workload | span | traced pairs | parent jobs | change jobs | repeats exactly |",
             "|---|---|---|---|---|---|"]
    for r in rows:
        lines.append(
            f"| {r['workload']} | {r['span']} | {r['runs']} | {fmt_jobs(r['parent'])} "
            f"| {fmt_jobs(r['change'])} | {'yes' if r['exact'] else 'NO'} |")
    return "\n".join(lines)


def fmt(x):
    return f"{x:.4g}"


def render(rows):
    lines = ["| workload | metric | pairs | parent median [q1, q3] | change median [q1, q3] "
             "| change − parent | change / parent | change wins | verdict |",
             "|---|---|---|---|---|---|---|---|---|"]
    for r in rows:
        p, c = r["parent"], r["change"]
        rel = "n/a" if r["rel"] is None else f"{r['rel'] * 100:+.1f}%"
        lines.append(
            f"| {r['workload']} | {r['metric']} | {r['pairs']} "
            f"| {fmt(p[1])} [{fmt(p[0])}, {fmt(p[2])}] "
            f"| {fmt(c[1])} [{fmt(c[0])}, {fmt(c[2])}] "
            f"| {r['delta']:+.4g} | {rel} | {r['wins']}/{r['pairs']} | {r['verdict']} |")
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        directions = metric_directions(json.load(f))
    parent_runs, change_runs = load_runs(args.parent_dir), load_runs(args.change_dir)
    rows = compare(parent_runs, change_runs, directions)
    if not rows:
        print("perfdiff: no (workload, seed, trace) run present on both sides", file=sys.stderr)
        return 1
    print(render(rows))
    jobs = job_counts(parent_runs, change_runs)
    if jobs:
        print()
        print(render_jobs(jobs))
    fields = artifact_fields(parent_runs, change_runs)
    if fields:
        print()
        print(render_fields(fields))
    return 0


if __name__ == "__main__":
    sys.exit(main())
