#!/usr/bin/env python3
"""Build quiet_medians.json from bench_detail.json artifacts.

Usage: make_quiet_medians.py OUT DETAIL[,LABEL] [DETAIL[,LABEL] ...]

Each DETAIL is a bench_detail.json (the bench's full per-query artifact);
the per-query quiet median is the median of that query's value across the
given runs. Only runs taken on a quiet JVM with flat control medians should
be fed in — the file is the REFERENCE the bench's self-healing reread pass
compares against (Bench.RereadFactor / RereadSlackSec), so an inflated
reference would mask real regressions. Provenance (which runs, when) goes
into the `_provenance` key.
"""
import json
import statistics
import sys


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out = sys.argv[1]
    runs = []
    labels = []
    controls = []
    staged = []
    for arg in sys.argv[2:]:
        path, _, label = arg.partition(",")
        with open(path) as f:
            detail = json.load(f)
        runs.append(detail["queries"])
        label = label or path
        # De-duplicate labels (ADVICE r17): two args with the same ,LABEL
        # suffix (or the same path twice) would make the contended-run
        # warning below ambiguous again — suffix repeats with an index so
        # "drop the named run" always names exactly one feed. The suffix
        # loops until the candidate is absent from the labels assigned so
        # far (ADVICE r18): an explicit ",run#2" arg alongside a duplicated
        # "run" must not collide with the generated "run#2".
        base, n = label, 1
        while label in labels:
            n += 1
            label = f"{base}#{n}"
        # Per-run control medians feed the bench's stale-reference guard
        # (Bench.guardVerdict): a run whose control medians are flat
        # against these quiet-era references but trips the reread gate
        # broadly has a STALE medians file, not a contended window.
        # Accumulated as (label, median) PAIRS — a run whose detail lacks a
        # control key is simply absent from that key's pairs, so the
        # contended-run warning below always names the right run
        # (ADVICE r16 #4: parallel lists misattributed when a key was
        # missing from one run but not another).
        # statistics.median (not the upper-middle element) so the per-run
        # statistic matches what Bench.medianOf computes at run time — the
        # two sides of the ControlFlatFactor comparison must be the same
        # statistic (ADVICE r17).
        for key, acc in (("control", controls), ("control_staged", staged)):
            samples = [s for _, s in detail.get(key, [])]
            if samples:
                acc.append((label, statistics.median(samples)))
        labels.append(label)
    # A run with elevated control medians is a CONTENDED run; folding it in
    # inflates the reference and masks real regressions. Flag any run whose
    # control median exceeds 1.3x the best run's (the bench guard's
    # ControlFlatFactor) so the caller drops it deliberately or not at all.
    for key, acc in (("control", controls), ("control_staged", staged)):
        vals = [v for _, v in acc]
        if vals and max(vals) > 1.3 * min(vals):
            bad = [lbl for lbl, v in acc if v > 1.3 * min(vals)]
            print(
                f"WARNING: {key} median elevated >1.3x the quietest run in:"
                f" {', '.join(bad)} — contended run(s); consider dropping",
                file=sys.stderr,
            )
    names = sorted(set().union(*[set(r) for r in runs]))
    medians = {}
    for name in names:
        xs = [r[name] for r in runs if name in r]
        if len(xs) < len(runs):
            # A query missing from a run FAILED there (the bench excludes
            # failed queries) — a reference built on fewer samples (or a
            # single read) is weaker than the file claims, so say so loudly;
            # the caller should fix the failure or drop the bad run.
            print(
                f"WARNING: {name} present in only {len(xs)}/{len(runs)} runs"
                f" — median over the available reads only",
                file=sys.stderr,
            )
        medians[name] = round(statistics.median(xs), 3)
    doc = {"_provenance": "median per query across runs: " + "; ".join(labels)}
    if controls and staged:
        doc["_control_med"] = round(statistics.median([v for _, v in controls]), 3)
        doc["_control_staged_med"] = round(
            statistics.median([v for _, v in staged]), 3)
    doc.update(medians)
    with open(out, "w") as f:
        json.dump(doc, f, indent=0, sort_keys=False)
        f.write("\n")
    print(f"wrote {out}: {len(medians)} queries over {len(runs)} runs")


if __name__ == "__main__":
    main()
