#!/usr/bin/env python3
"""Round-over-round bench adjudication, cpu/bytes FIRST (the round-12 rule),
CALIBRATION-NORMALIZED (r15 VERDICT #6): compare two BENCH_DETAIL.json
sidecars and classify each query's movement.

Every Bench run probes a fixed CPU-bound calibration loop before each query
(`cal_s`). The median ratio of those probes between the two runs is the
BOX-SPEED FACTOR — a VM swap or background contention moves every query's
wall AND cpu by roughly that factor while shuffle bytes stay bit-flat
(round-15 evidence: a continuation VM shifted probes 0.26→0.39 s uniformly
and untouched queries carried a matching 1.2-2x cpu factor; NOTES §14
normalized that comparison by hand — this script now does it). Per-query
deltas are divided by the factor before judging, and a move that the RAW
numbers flag but the NORMALIZED numbers clear is classed box-noise, not
regression.

Classes, checked in order per query:

  poisoned      the NEW run's own contention verdict (the `verdict` object
                Bench writes into the sidecar: fence / unstable / flagged /
                sf1_unstable) names this query — its numbers are
                load-poisoned by the run's own admission; nothing about the
                code can be concluded from them. Re-run idle.
  plan-change   shuffle bytes moved > 10%, or the plan fingerprint changed
                (when both sidecars carry a `fingerprints` map) — a plan
                property changed; adjudicate by reading the plan
  code-change   calibration-normalized cpu_s AND wall moved > 25%/20% with
                bytes flat — the computation itself changed
  cpu-only      normalized cpu_s moved > 25% but wall and bytes are flat —
                burst-concurrency cpu accounting, not work (r17 evidence:
                j_star_chain_bucketed burns 1.5-3x the executor-cpu at 32
                threads vs 8 on a FIXED 40-task plan, run-to-run spread 2x
                on an idle box; the single-query calibration probe
                amortizes per-thread overhead and cannot normalize it).
                Since r18 both sidecars carry a measured `burst_factor`
                (Bench.burstFactor) and cpu ratios are pre-divided by the factor
                ratio, so a pure VM-class swap self-normalizes; residual
                cpu-only rows are within-class burst spread.
                Adjudicate with tools.Trace at SPARK_GRAFT_CPUS=8 vs 32:
                if cpu collapses with thread count, it is the box, not the
                code.
  box-noise     RAW cpu or wall crossed its band but the NORMALIZED value
                is back inside it — the box moved, not the code
  wall-only     normalized wall moved > 20% with cpu and bytes flat (box,
                unless it persists across idle runs)
  flat          none of the above

Usage: bench_diff.py OLD_BENCH_DETAIL.json NEW_BENCH_DETAIL.json
                     [--all] [--json OUT.json]
Prints one line per non-flat query (every query with --all) plus the box
factor; --json writes the full machine-readable classification for the
round-close record.
"""
import json
import statistics
import sys


def ratio(new, old):
    if old in (None, 0) or new is None:
        return None
    return new / old


def main():
    args = []
    json_out = None
    show_all = False
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--all":
            show_all = True
        elif a == "--json":
            json_out = next(it)
        else:
            args.append(a)
    if len(args) != 2:
        sys.exit(__doc__)
    old = json.load(open(args[0]))
    new = json.load(open(args[1]))
    qs = sorted(set(old.get("queries_min", {})) & set(new.get("queries_min", {})))
    only_old = sorted(set(old.get("queries_min", {})) - set(qs))
    only_new = sorted(set(new.get("queries_min", {})) - set(qs))

    # box-speed factor: median calibration-probe ratio over common queries
    cal_ratios = [r for r in (
        ratio(new.get("cal_s", {}).get(q), old.get("cal_s", {}).get(q))
        for q in qs) if r is not None]
    cal = statistics.median(cal_ratios) if cal_ratios else 1.0
    # box-CLASS cpu factor (r17 verdict #4): each sidecar's burst-concurrency
    # accounting factor (Bench.burstFactor: N-wide allocation-heavy burst cpu over
    # N x single-task cpu; honest accounting = 1.0). The calibration probe
    # tracks core SPEED but amortizes per-burst allocator contention, so a
    # VM-class swap moves cpu_s without moving cal_s (NOTES_r17 par3: fixed
    # 40-task plan, 1.5-3.2x cpu at 32 threads vs 8, bytes bit-flat). cpu
    # ratios are additionally divided by the two runs' burst-factor ratio;
    # absent on either side (pre-r18 sidecars) the divisor is 1.
    burst = ratio(new.get("burst_factor"), old.get("burst_factor")) or 1.0
    old_fp = old.get("fingerprints", {})
    new_fp = new.get("fingerprints", {})

    counts = {"poisoned": 0, "plan-change": 0, "code-change": 0,
              "cpu-only": 0, "box-noise": 0, "wall-only": 0, "flat": 0}
    rows = {}

    # the NEW run's own contention verdict: queries it names are poisoned —
    # their numbers carry load, not code (r16: a driver re-run with one
    # query at 46x its committed wall classed itself clean; the verdict
    # object + this class close that blind spot)
    nv = new.get("verdict", {})
    poisoned = set()
    for field in ("fence", "unstable", "flagged", "sf1_unstable"):
        for name in (nv.get(field) or {}):
            poisoned.add(name)
            if name.startswith("sf1:"):
                poisoned.add(name[4:])
    if nv.get("contended"):
        print("*** NEW run self-labels CONTENDED "
              f"(drift={nv.get('cal_drift')}, "
              f"sustained_cal={nv.get('sustained_cal')}, "
              f"steal_pct={nv.get('steal_pct')}, "
              f"fence={sorted(nv.get('fence') or {})}, "
              f"unstable={sorted(nv.get('unstable') or {})}) — "
              "every class below is suspect; re-run on an idle box ***")

    print(f"box factor (median cal ratio): {cal:.3f}x "
          f"({len(cal_ratios)} probes); burst-factor ratio: {burst:.3f}x "
          f"(new {new.get('burst_factor')}, old {old.get('burst_factor')})")
    print(f"{'query':26s} {'class':11s} {'wall':>6} {'cpu':>6} {'bytes':>6} "
          f"{'n.cpu':>6}")
    for q in qs:
        rw = ratio(new["queries_min"].get(q), old["queries_min"].get(q))
        rc = ratio(new.get("cpu_s", {}).get(q), old.get("cpu_s", {}).get(q))
        rb = ratio(new.get("shuffle_bytes", {}).get(q),
                   old.get("shuffle_bytes", {}).get(q))
        nw = rw / cal if rw is not None else None
        nc = rc / (cal * burst) if rc is not None else None
        fp_changed = (q in old_fp and q in new_fp and old_fp[q] != new_fp[q])
        raw_flagged = ((rc is not None and abs(rc - 1) > 0.25) or
                       (rw is not None and abs(rw - 1) > 0.20))
        norm_clear = ((nc is None or abs(nc - 1) <= 0.25) and
                      (nw is None or abs(nw - 1) <= 0.20))
        if q in poisoned:
            cls = "poisoned"
        elif (rb is not None and abs(rb - 1) > 0.10) or fp_changed:
            cls = "plan-change"
        elif nc is not None and abs(nc - 1) > 0.25:
            # cpu moved: wall is the tiebreak between a real computation
            # change and burst-concurrency cpu accounting (see the class
            # table) — with wall flat, cpu-only is the honest label
            cls = ("code-change" if nw is not None and abs(nw - 1) > 0.20
                   else "cpu-only")
        elif raw_flagged and norm_clear:
            cls = "box-noise"
        elif nw is not None and abs(nw - 1) > 0.20:
            cls = "wall-only"
        else:
            cls = "flat"
        counts[cls] += 1
        rows[q] = {"class": cls, "wall_ratio": rw, "cpu_ratio": rc,
                   "bytes_ratio": rb, "norm_cpu_ratio": nc,
                   "norm_wall_ratio": nw,
                   "fingerprint_changed": fp_changed or None}
        if cls != "flat" or show_all:
            def f(r):
                return f"{r:5.2f}x" if r is not None else "    ?"
            print(f"{q:26s} {cls:11s} {f(rw)} {f(rc)} {f(rb)} {f(nc)}")
    print(f"\n{len(qs)} common queries: " +
          ", ".join(f"{k} {v}" for k, v in counts.items()))
    if only_old:
        print(f"dropped since old: {', '.join(only_old)}")
    if only_new:
        print(f"new since old: {', '.join(only_new)}")
    print("adjudicate plan-change by reading the plan, code-change against "
          "the normalized cpu band (SMT inflates ~15%), box-noise is "
          "auto-explained (raw move matches the calibration shift), "
          "wall-only as box noise unless it persists across idle runs; "
          "poisoned queries say nothing about the code — re-run idle.")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"box_factor": cal, "burst_factor_ratio": burst,
                   "n_probes": len(cal_ratios),
                       "classes": counts, "queries": rows,
                       "dropped": only_old, "added": only_new}, f, indent=1)
        print(f"wrote {json_out}")


if __name__ == "__main__":
    main()
