#!/usr/bin/env python3
"""Compares two sets of benchmark runs.

    python3 perfbench/diff.py BASE.jsonl NEW.jsonl [--bench BENCHMARK.json]
    python3 perfbench/diff.py RUNS.jsonl          # spread of one set of runs

Each file holds one full record per line, as `perfbench/run.py --out FILE`
appends them. For every workload and metric this prints each side's median
and quartiles, the change of the medians, and a verdict against the
metric's bound in BENCHMARK.json:

  WORSE       worse than BASE by more than the bound
  unresolved  BASE's own spread (IQR / median) is wider than the bound
  better      better than BASE by more than BASE's spread
  ok          otherwise (per-layer metrics have no bound and read "-")

Runs on different hardware or under a different manifest are not hidden:
every differing manifest field is printed as MISMATCH. Exits 1 when any
metric is WORSE, else 0.

Given one file, prints each end-to-end metric's median, quartiles and
spread (IQR / median) per workload, marking spreads at or above a third of
the bound; exits 1 if any spread, setup_s's too, reaches the bound.
"""
import argparse
import json
import sys
from collections import defaultdict
from pathlib import Path

import stats

HARDWARE = ("nproc", "mem_total_mb", "heap_mb", "java_version", "java_vm", "spark_version")
VOLATILE_CONF = ("spark.app.id", "spark.app.startTime", "spark.driver.port",
                 "spark.driver.host", "spark.local.dir", "spark.sql.warehouse.dir")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def manifest_key(rec):
    m = rec["manifest"]
    conf = {k: v for k, v in m.get("conf", {}).items() if k not in VOLATILE_CONF}
    out = {k: m.get(k) for k in HARDWARE}
    out["class_data_sharing"] = (m.get("class_data_sharing") or {}).get("xshare")
    # conf and input size are per workload and trace mode (traced suite
    # runs add queries); input bytes vary with the seed
    key = f"{rec['workload']},trace={rec['trace']}"
    out[f"conf[{key}]"] = json.dumps(conf, sort_keys=True)
    sizes = {k: v for k, v in (m.get("inputs") or {}).items() if k != "bytes"}
    out[f"inputs[{key}]"] = json.dumps(sizes, sort_keys=True)
    return out


def mismatches(base, new):
    """Manifest fields whose value sets differ between (or within) the sides."""
    out = []
    fields = defaultdict(lambda: (set(), set()))
    for side, recs in ((0, base), (1, new)):
        for r in recs:
            for k, v in manifest_key(r).items():
                fields[k][side].add(v if isinstance(v, str) else json.dumps(v))
    for k, (b, n) in sorted(fields.items()):
        if b and n and (b != n or len(b) > 1 or len(n) > 1):
            out.append(f"MISMATCH {k}: base={sorted(b)} new={sorted(n)}")
    return out


def verdict(spec, base_vals, new_vals):
    bq1, bmed, bq3 = stats.quartiles(base_vals)
    nq1, nmed, nq3 = stats.quartiles(new_vals)
    delta = (nmed - bmed) / abs(bmed) if bmed else float("inf") if nmed != bmed else 0.0
    worse = delta if spec.get("better") == "lower" else -delta
    bound = spec.get("bound")
    spread = stats.spread(base_vals)
    if bound is None:
        v = "-"
    elif worse > bound:
        v = "WORSE"
    elif spread > bound:
        v = "unresolved"
    elif -worse > spread:
        v = "better"
    else:
        v = "ok"
    return (bmed, bq1, bq3, nmed, nq1, nq3, delta, v)


def compare(base, new, bench):
    lines = mismatches(base, new)
    regress = False
    groups = defaultdict(lambda: ([], []))
    for side, recs in ((0, base), (1, new)):
        for r in recs:
            groups[(r["workload"], r["trace"])][side].append(r)
    lines.append(f"{'workload':14} {'metric':32} {'base med [q1, q3]':>30} "
                 f"{'new med [q1, q3]':>30} {'delta':>8} {'bound':>6}  verdict")
    for (wl, trace), (b, n) in sorted(groups.items()):
        if not b or not n:
            lines.append(f"{wl:14} trace={trace}: runs on one side only "
                         f"(base {len(b)}, new {len(n)})")
            continue
        specs = bench["per_layer"] if trace else bench["end_to_end"]
        for spec in specs:
            name = spec["name"]
            bv = [r["metrics"][name]["value"] for r in b if name in r["metrics"]]
            nv = [r["metrics"][name]["value"] for r in n if name in r["metrics"]]
            if not bv or not nv:
                lines.append(f"{wl:14} {name:32} missing (base {len(bv)}, new {len(nv)} runs)")
                continue
            bmed, bq1, bq3, nmed, nq1, nq3, delta, v = verdict(spec, bv, nv)
            regress |= v == "WORSE"
            bound = f"{spec['bound']:.2f}" if "bound" in spec else "-"
            lines.append(f"{wl:14} {name:32} {bmed:>12.6g} [{bq1:.4g}, {bq3:.4g}] "
                         f"{nmed:>12.6g} [{nq1:.4g}, {nq3:.4g}] {delta:>+8.1%} {bound:>6}  {v}"
                         f"  (n={len(bv)}/{len(nv)})")
        failed = sum(r["failed"] for r in n)
        if failed:
            regress = True
            lines.append(f"{wl:14} NEW side has {failed} failed ops")
    return lines, regress


def spreads(runs, bench):
    lines, too_wide = [], False
    by_wl = defaultdict(list)
    for r in runs:
        if r["trace"] == 0:
            by_wl[r["workload"]].append(r)
    for wl, recs in sorted(by_wl.items()):
        for spec in bench["end_to_end"]:
            vals = [r["metrics"][spec["name"]]["value"] for r in recs]
            q1, med, q3 = stats.quartiles(vals)
            sp = stats.spread(vals)
            too_wide |= sp >= spec["bound"]
            flag = "" if sp < spec["bound"] / 3 else "  >= bound/3"
            lines.append(f"{wl:14} {spec['name']:16} median {med:<12.6g} [{q1:.6g}, {q3:.6g}] "
                         f"spread {sp:6.2%} bound {spec['bound']:.0%} n={len(vals)}{flag}")
    return lines, too_wide


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--bench", default=str(Path(__file__).resolve().parent.parent / "BENCHMARK.json"))
    a = ap.parse_args()
    bench = json.loads(Path(a.bench).read_text())
    if a.new is None:
        lines, bad = spreads(load(a.base), bench)
        print("\n".join(lines))
        sys.exit(1 if bad else 0)
    lines, regress = compare(load(a.base), load(a.new), bench)
    print("\n".join(lines))
    sys.exit(1 if regress else 0)


if __name__ == "__main__":
    main()
