#!/usr/bin/env python3
"""Mechanical round-close gate (r13 VERDICT #1).

Refuses to close a round unless the record is clean:

  1. BENCH_r<N>.json exists, parses, and self-labels clean:
     contended == false, flagged == {}, errors == {}, sf1_unstable == {},
     n_failed == 0. A contended bench is noise — re-run on an idle box
     until clean instead of committing it.
  2. CORRECTNESS_sf1_r<N>.json exists, is COMMITTED, and reports zero
     failures (the r13 NOTES claimed this artifact; it was never in git).
  3. Every repo-artifact filename NOTES_r<N>.md mentions exists in
     `git ls-files` — a NOTES claim of "committed X" where X is not in
     the tree fails the gate.
  4. The working tree is clean (everything the round produced is
     committed), except the BENCH/DETAIL files the driver re-runs
     (BENCH_r<N>.json / BENCH_DETAIL.json — the one allowlist).
  5. (r14 verdict #7) LEAKCHECK.json reports n_hits == 0, COPYCHECK.json
     is FRESH for the round (flagged == [] and no error), and the round's
     bench line carries the plateau-warm methodology fields
     (warm == "plateau", warm_runs > 0) — a bench without them predates
     the r14 measurement fix and must not close a round.
  6. (r16 verdict #4, rounds >= 17) the full-registry scale gate:
     SCALING_r<N>.json (PlanDiffScales sf3->sf10, cpu + exponents for every
     registry query) exists, is committed, and
       a. every query whose 100x cpu >= 20 s has exponent <= 1.3 OR
          carries an "OUTPUT_BOUND:" scaleNote in its QueryDef (the code is
          the source of truth; PlanDiffScales copies the note into the
          SCALING artifact and the gate prints every entry it honors)
          OR is carried in CARRIED_OPEN for THIS round only (expires — the
          next round must re-adjudicate or fix). Thresholds calibrated by
          the r17 same-dir control: two cells over IDENTICAL sf3 data in
          one process read 6.8 vs 15.1 cpu_s (a_entropy) and 4.3 vs 1.9
          (l_incr_agg_retract) — two-point exponents on small cells carry
          ±2x harness variance, so a tighter gate institutionalizes noise;
          1.3 is also the r15 scaling audit's long-standing flag threshold.
       b. every sf3->sf10 plan-flip query (its `differs` list) has a GREEN
          row in the committed CORRECTNESS_sf10_r<N>.json — adaptive plans
          are hash-gated in the regime they actually take at 100x,
          automatically, including flips that appear in future rounds.

Usage: close_round.py <round-number>
Exit 0 = round may close; nonzero prints every violated rule.
"""
import json
import os
import re
import subprocess
import sys


def sh(*args):
    return subprocess.run(args, capture_output=True, text=True, check=False)


def main():
    if len(sys.argv) != 2 or not sys.argv[1].isdigit():
        sys.exit("usage: close_round.py <round-number>")
    n = int(sys.argv[1])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.chdir(root)
    problems = []

    # 1. clean bench
    bench_path = f"BENCH_r{n:02d}.json" if os.path.exists(
        f"BENCH_r{n:02d}.json") else f"BENCH_r{n}.json"
    if not os.path.exists(bench_path):
        problems.append(f"{bench_path} missing — run Bench on an idle box first")
    else:
        try:
            with open(bench_path) as f:
                bench = json.load(f)
            parsed = bench.get("parsed", bench)
            for key, want in [("contended", False), ("flagged", {}),
                              ("errors", {}), ("sf1_unstable", {}),
                              ("n_failed", 0)]:
                got = parsed.get(key)
                if got != want:
                    problems.append(
                        f"{bench_path}: {key} = {got!r} (want {want!r}) — "
                        "a load-poisoned bench is noise; re-run until clean")
            # rule 5c: plateau-warm methodology fields (r14 §8a) present —
            # guards against a future backslide to single-warm windows
            if parsed.get("warm") != "plateau" or not parsed.get("warm_runs"):
                problems.append(
                    f"{bench_path}: warm={parsed.get('warm')!r} "
                    f"warm_runs={parsed.get('warm_runs')!r} — bench must "
                    "self-label plateau warming (warm=plateau, warm_runs>0)")
        except (json.JSONDecodeError, KeyError) as e:
            problems.append(f"{bench_path}: unparseable ({e})")

    # rule 5a/5b: leak + copy checks clean and fresh for this round
    for name, check in [
        ("LEAKCHECK.json", lambda d: [] if d.get("n_hits") == 0 else
         [f"LEAKCHECK.json: n_hits = {d.get('n_hits')!r} (want 0)"]),
        ("COPYCHECK.json", lambda d: (
            ([] if d.get("flagged") == [] else
             [f"COPYCHECK.json: flagged = {d.get('flagged')!r} (want [])"]) +
            ([] if not d.get("error") else
             [f"COPYCHECK.json: error = {d.get('error')!r}"]))),
    ]:
        if not os.path.exists(name):
            problems.append(f"{name} missing — run the round's check first")
            continue
        try:
            with open(name) as f:
                problems.extend(check(json.load(f)))
        except json.JSONDecodeError as e:
            problems.append(f"{name}: unparseable ({e})")

    # split on NEWLINES, not whitespace — filenames may contain spaces
    ls_files = set(
        l for l in sh("git", "ls-files").stdout.splitlines() if l)

    # 2. sf1 correctness committed and green
    sf1 = f"CORRECTNESS_sf1_r{n}.json"
    if not os.path.exists(sf1):
        problems.append(f"{sf1} missing — run the sf1 sweep "
                        "(check.py --json) and commit the artifact")
    else:
        if sf1 not in ls_files:
            problems.append(f"{sf1} exists but is NOT committed")
        try:
            with open(sf1) as f:
                rows = json.load(f)
            # check.py --json shape: name -> {err, rows_match, schema_match,
            # hash_match, spark_rows}. err == "no_oracle" is the rows-only
            # class (by design) — green iff it produced rows; any other err
            # or an explicit False match is a failure
            def bad_row(r):
                if r.get("err") == "no_oracle":
                    return not (r.get("spark_rows") or 0) > 0
                return r.get("err") is not None or any(
                    r.get(k) is False
                    for k in ("rows_match", "schema_match", "hash_match"))
            bad = sorted(name for name, r in rows.items() if bad_row(r))
            if bad:
                problems.append(f"{sf1}: non-green rows: {bad[:10]}")
        except (json.JSONDecodeError, AttributeError) as e:
            problems.append(f"{sf1}: unparseable ({e})")

    # 3. every artifact NOTES claims must be in git
    notes = f"NOTES_r{n}.md"
    if not os.path.exists(notes):
        problems.append(f"{notes} missing")
    else:
        with open(notes) as f:
            text = f.read()
        claimed = set(re.findall(
            r"\b([A-Za-z][A-Za-z0-9_.\-]*\.(?:json|md|scala|py|h5))\b", text))
        # the round's own bench artifacts may be re-run by the driver after
        # the snapshot; everything else named in NOTES must be in the tree
        for name in sorted(claimed):
            if name.startswith(("http", "www")) or "/" in name:
                continue
            # deliberately-ignored artifacts (driver-regenerated per round,
            # e.g. COPYCHECK.json) cannot be committed — rule 5 checks their
            # CONTENT instead
            if sh("git", "check-ignore", "-q", name).returncode == 0:
                continue
            hits = [p for p in ls_files
                    if p == name or p.endswith("/" + name)]
            if not hits and os.path.exists(name):
                problems.append(f"{notes} names {name}: present but UNCOMMITTED")
            elif not hits:
                problems.append(f"{notes} names {name}: not in git ls-files "
                                "— either commit it or stop claiming it")

    # 6. full-registry scale gate (rounds >= 17)
    # The OUTPUT_BOUND allowlist is GENERATED from QueryDef metadata
    # (r17 verdict #8): a query whose cpu exponent is super-linear BY
    # CONTRACT carries a `scaleNote` starting with "OUTPUT_BOUND:" in its
    # QueryDef (the justification lives beside the code), PlanDiffScales
    # copies it into SCALING_r<N>.json, and the gate honors exactly those
    # entries -- printing every one it uses, so the list cannot grow
    # silently. Rounds before 18 predate the metadata; their artifacts are
    # covered by the legacy set below.
    LEGACY_OUTPUT_BOUND = {
        "j6_pairs_in_group", "j7_nearest_in_group",
        "d_semantic_ivfpq_exact", "d_semantic_ivfpq",
        "d_semantic_subset_audit",
    }
    # Round-scoped carries: flagged, adjudication documented but OPEN --
    # each entry names its evidence and EXPIRES with the round (the gate
    # re-fails next round unless re-adjudicated or fixed). NOT a second
    # allowlist: an entry here is a todo with a deadline.
    CARRIED_OPEN = {
        17: {
            # fixed in r18 (GraftSession.frameSortedBy -- metadata-scale
            # sorts sized to the frame, not the directory; FrameSizedSortSpec)
            "l_incr_agg_retract",
        },
    }
    if n >= 17:
        scaling = f"SCALING_r{n}.json"
        sf10 = f"CORRECTNESS_sf10_r{n}.json"
        if not os.path.exists(scaling):
            problems.append(f"{scaling} missing — run PlanDiffScales "
                            "(sf3 sf10, full registry) and commit it")
        else:
            if scaling not in ls_files:
                problems.append(f"{scaling} exists but is NOT committed")
            try:
                with open(scaling) as f:
                    sc = json.load(f)
                qs_sc = sc.get("queries", {})
                carried = CARRIED_OPEN.get(n, set())
                noted = {name for name, r in qs_sc.items()
                         if str(r.get("scale_note") or "")
                         .startswith("OUTPUT_BOUND")}
                output_bound = noted if n >= 18 else (
                    noted | LEGACY_OUTPUT_BOUND)
                if output_bound:
                    print(f"{scaling}: honoring OUTPUT_BOUND notes for: "
                          + ", ".join(sorted(output_bound)))
                hot = sorted(
                    name for name, r in qs_sc.items()
                    if (r.get("cpu_b") or 0) >= 20
                    and r.get("exponent") is not None
                    and r["exponent"] > 1.3
                    and name not in output_bound
                    and name not in carried)
                if hot:
                    problems.append(
                        f"{scaling}: super-linear cpu exponents (> 1.3 at "
                        f">= 20 s) with no OUTPUT_BOUND scaleNote and outside "
                        f"this round's CARRIED_OPEN: {hot[:10]} — fix the "
                        "operator, justify an allowlist entry, or carry "
                        "WITH evidence")
                flips = sc.get("differs", [])
                if not os.path.exists(sf10):
                    if flips:
                        problems.append(
                            f"{sf10} missing but {scaling} lists plan flips "
                            f"{flips[:10]} — hash-gate them at 100x")
                else:
                    if sf10 not in ls_files:
                        problems.append(f"{sf10} exists but is NOT committed")
                    with open(sf10) as f:
                        rows10 = json.load(f)
                    missing = sorted(q for q in flips if q not in rows10)
                    if missing:
                        problems.append(
                            f"{sf10}: sf3->sf10 plan-flip queries not "
                            f"gated: {missing}")
                    def bad10(r):
                        if r.get("err") == "no_oracle":
                            return not (r.get("spark_rows") or 0) > 0
                        return r.get("err") is not None or any(
                            r.get(k) is False for k in
                            ("rows_match", "schema_match", "hash_match"))
                    bad = sorted(q for q, r in rows10.items() if bad10(r))
                    if bad:
                        problems.append(f"{sf10}: non-green rows: {bad[:10]}")
            except (json.JSONDecodeError, AttributeError, TypeError) as e:
                problems.append(f"{scaling}: unparseable ({e})")

    # 4. clean working tree — except the bench artifacts the driver re-runs
    # after the snapshot (the docstring's allowlist, now actually applied)
    allow = {f"BENCH_r{n}.json", f"BENCH_r{n:02d}.json", "BENCH_DETAIL.json"}
    dirty = [l for l in sh("git", "status", "--porcelain").stdout.splitlines()
             if l.strip() and l[3:].strip().strip('"') not in allow]
    if dirty:
        problems.append("working tree not clean:\n    " + "\n    ".join(dirty))

    if problems:
        print(f"ROUND {n} CLOSE: REFUSED ({len(problems)} problem(s))")
        for p in problems:
            print(f"  - {p}")
        sys.exit(1)
    print(f"ROUND {n} CLOSE: OK — bench clean, sf1 correctness committed, "
          f"NOTES claims verified, tree clean")


if __name__ == "__main__":
    main()
