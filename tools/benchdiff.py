#!/usr/bin/env python3
"""Compare a graft.Bench JSON line against BASELINE.md's per-query floor.

Usage: python3 tools/benchdiff.py [bench_out.json] [--baseline BASELINE.md]

Parses the "Per-query best-of floor" table in BASELINE.md (plus the
round-9 addenda queries recorded only in prose), prints per-query
ratios bench/floor sorted worst-first, and flags ratios > 2x. Exits 1
if any query exceeds 2x, so it can gate a round. Queries in the bench
line's "failed" list (a run that threw gives graft.Bench no time
sample) print as FAILED and also exit 1.

Adjudication hint: graft.Bench (round 10+) embeds 1/5/15-min load
averages. Three ambient-load signals feed the verdict (any one fires):

  1. load_timed[0] > 0.25*cpus — heavy competition at timed-sweep start.
  2. load_start[0] > 0.125*cpus — ambient load BEFORE the bench did any
     work. load_timed is partly self-inflicted (the bench's own warmup
     runs between load_start and load_timed — a judge idle run went
     1.66 -> 5.57 on its own), so load_start is the cleaner ambient
     read and gets the lower cutoff. This is the signal that separates
     the round-12 driver run (load_start 5.61 -> flagged 11 queries the
     judge's idle best-of-3 then cleared) from healthy runs
     (r10 2.86, r11 2.57, judge 1.66).
  3. wall_sec > 1.5x expected, where expected = sum(run_totals)
     + run_totals[0] (warmup proxy: the warmup sweep does the same work
     as one timed run) + 30s session-init slack. Historical healthy
     ratios are 1.0-1.2x; something else owning the cores stretches
     wall without showing up in the per-query minima.

When outliers coincide with any signal the verdict says "suspect
ambient; re-run RUNS=3" instead of "treat as real regressions", but the
exit code stays 1 so the round is still gated.

The "treat as real regressions" wording additionally requires a
best-of-N run with N >= 2: per-query minima over multiple sweeps are
what makes a flag load-resistant, and a load ramp that starts mid-sweep
can evade all three signals on a single run. The round-13 driver run
did exactly that (1-min load 2.6 at start ramping to 13.0 by the end:
load_timed 5.97 < 8.0, load_start 2.6 < 4.0, wall 202s < 1.5x expected
260s) and flagged 30 queries "on a quiet host" — every one of which a
judge idle best-of-3 cleared (corpus_curated 18.7x -> 1.17x). load_end
cannot serve as a fourth signal because it is self-inflicted even on
idle runs (the judge's own idle run ended at 12.41). So a runs=1 bench
with outliers and no ambient signal prints the "re-run RUNS=3" branch;
only runs >= 2 can produce the "treat as real regressions" verdict.
The exit code is 1 whenever anything is flagged, regardless of branch.
"""
import json
import re
import signal
import sys

# behave like a normal unix filter under `| head`
signal.signal(signal.SIGPIPE, signal.SIG_DFL)

# Queries whose floor is recorded only in BASELINE.md prose, not in any
# "### Per-query best-of floor" table (the parser takes the LAST table
# value per query, so a newer table supersedes older ones). Empty since
# the round-10 99-query table covers the full suite; add entries here
# for queries newer than the newest table.
ADDENDA = {}

THRESHOLD = 2.0


def parse_floor(baseline_path):
    floor = {}
    in_table = False
    rows_in_table = 0
    with open(baseline_path) as f:
        for line in f:
            if line.startswith("### Per-query best-of floor"):
                in_table = True
                rows_in_table = 0
                continue
            if in_table:
                m = re.match(r"\|\s*([A-Za-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|", line)
                if m:
                    # later tables overwrite earlier ones: newest wins
                    floor[m.group(1)] = float(m.group(2))
                    rows_in_table += 1
                elif rows_in_table and not line.strip().startswith("|"):
                    in_table = False
    floor.update(ADDENDA)
    return floor


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    bench_path = args[0] if args else "/root/repo/bench_out.json"
    baseline_path = "/root/repo/BASELINE.md"
    if "--baseline" in sys.argv:
        baseline_path = sys.argv[sys.argv.index("--baseline") + 1]

    with open(bench_path) as f:
        bench = json.loads(f.readline())
    floor = parse_floor(baseline_path)
    if not floor:
        print(f"ERROR: no floor table parsed from {baseline_path}", file=sys.stderr)
        return 2

    queries = bench["queries"]
    failed = bench.get("failed", [])
    for name in failed:
        print(f"{name:34s} FAILED (a timed run threw; see the bench's stderr)")
    rows, missing = [], []
    for name, sec in queries.items():
        if name in floor:
            rows.append((sec / floor[name] if floor[name] > 0 else float("inf"),
                         name, sec, floor[name]))
        else:
            missing.append(name)
    rows.sort(reverse=True)

    # The first member of each cache family to run in the sweep pays
    # the family's one-time build (shared norm projection + KMeans fit,
    # LSH pair table, boilerplate line-df) that later members reuse —
    # see the attribution notes in BASELINE.md's floor preambles. The
    # bench JSON's query order IS the sweep order, so the first family
    # member present identifies this run's payer; a high ratio there is
    # attribution, not (necessarily) a regression. Mirrors
    # graft.tools.SweepCaches consumer sets.
    CACHE_FAMILIES = {
        "sim (norm projection + quantizer fit)": [
            "dedup_embedding", "dedup_embedding_ivf", "ann_brute_force",
            "ann_label_filtered", "ann_range", "ann_range_ivf", "ann_mrl",
            "ann_ivf", "ann_lsh", "emb_quantize_int8", "ann_int8",
            "ann_ivf_int8", "stream_ann_int8", "stream_ann_ivf_int8",
            "stream_ann_ivf_pq", "stream_index_append",
            "ann_pq", "ann_ivf_pq", "ann_hamming", "ann_cascade",
            "dedup_semantic", "stream_semantic", "ann_recall_probe"],
        "dedup (MinHash signature/pair tables)": [
            "dedup_minhash_lsh", "dedup_clusters", "dedup_near_kept",
            "dedup_cluster_stats",
            "corpus_split_leakage", "dedup_incremental_near", "stream_near_dup"],
        "gram (word-5-gram postings + df tables)": [
            "dedup_ngram_jaccard", "dedup_containment"],
        "corpus (boilerplate line-df)": [
            "corpus_boilerplate", "corpus_strip_boilerplate"],
        "contam (benchmark 4-gram id table)": [
            "contamination", "corpus_curated", "stream_curated"],
    }
    # For each family: the actual payer is the first member in sweep
    # order (checked against `queries`, floor entry or not). When the
    # payer itself is a new query with no floor entry it never appears
    # in `rows`, so the note would be silently dropped and a slow later
    # member would get no family context — in that case the note
    # attaches to the first family member in `rows` that crosses the
    # 1.4x attention threshold, naming the actual payer.
    row_names = {name for _, name, _, _ in rows}
    ratio_of = {name: ratio for ratio, name, _, _ in rows}
    first_payer = {}                # display name -> (family, actual payer)
    for fam, members in CACHE_FAMILIES.items():
        payer = next((n for n in queries if n in members), None)
        if payer is None:
            continue
        display = payer if payer in row_names else next(
            (n for n in queries
             if n in members and ratio_of.get(n, 0.0) > 1.4), None)
        if display is not None:
            first_payer[display] = (fam, payer)

    print(f"{'query':34s} {'bench':>8s} {'floor':>8s} {'ratio':>7s}")
    flagged = []
    payer_notes = []
    for ratio, name, sec, fl in rows:
        mark = "  <-- >%gx" % THRESHOLD if ratio > THRESHOLD else ""
        if ratio > THRESHOLD:
            flagged.append(name)
        if name in first_payer and ratio > 1.4:
            fam, payer = first_payer[name]
            if payer == name:
                payer_notes.append(
                    f"{name} ({ratio:.2f}x) ran first in the {fam} "
                    f"family this sweep and pays its one-time cache build")
            else:
                payer_notes.append(
                    f"{name} ({ratio:.2f}x) is in the {fam} family, whose "
                    f"one-time cache build was paid earlier this sweep by "
                    f"{payer} (a query with no floor entry)")
        print(f"{name:34s} {sec:8.2f} {fl:8.2f} {ratio:6.2f}x{mark}")
    for note in payer_notes:
        print(f"cache-family context: {note}")

    if not rows:
        # Zero shared query names means nothing was compared at all —
        # an "all within 2x" verdict here would mask a wholly-uncompared
        # run (renamed queries, wrong baseline file). Fail loudly.
        print(f"ERROR: no bench query names intersect the floor table "
              f"({len(queries)} bench queries, {len(floor)} floor entries) — "
              f"nothing compared.", file=sys.stderr)
        return 2

    total = sum(queries.values())
    floor_total = sum(fl for _, _, _, fl in rows)
    # rows is non-empty here (the zero-intersection case returned above)
    print(f"\n{'TOTAL (common queries)':34s} {total - sum(queries[m] for m in missing):8.2f} "
          f"{floor_total:8.2f} {((total - sum(queries[m] for m in missing)) / floor_total):6.2f}x")
    if missing:
        print(f"no floor entry (new queries?): {', '.join(sorted(missing))}")

    # Load-context adjudication (present in round-10+ bench lines)
    if "load_timed" in bench:
        l1 = bench["load_timed"][0]
        l_start = bench.get("load_start", [0.0])[0]
        cpus = int(bench.get("cpus", 0)) or 1
        runs = bench.get("runs", 1)
        wall = bench.get("wall_sec", 0.0)
        run_totals = bench.get("run_totals", [])
        runs_auto = bench.get("runs_auto", False)
        ambient1 = bench.get("ambient_run1", -1.0)
        print(f"\nhost context: load(1m) at timed-sweep start = {l1:.2f} on {cpus} cpus"
              f" | start={l_start:.2f} end={bench['load_end'][0]:.2f}"
              f" | wall {wall:.0f}s | best-of-{runs}"
              + (" (auto-escalated: ambient load)" if runs_auto else "")
              + (f" ambient_run1={ambient1:.2f}" if ambient1 >= 0 else "")
              + (f" run_totals={bench['run_totals']}" if runs > 1 else ""))
        # Ambient-load signals (see module docstring): load at sweep
        # start, load BEFORE the bench ran anything, and wall-clock
        # stretch beyond what the measured sweeps + warmup account for.
        signals = []
        if l1 > 0.25 * cpus:
            signals.append(f"load(1m) {l1:.1f} at timed-sweep start > {0.25 * cpus:.1f}")
        if l_start > 0.125 * cpus:
            signals.append(f"pre-bench load(1m) {l_start:.1f} > {0.125 * cpus:.1f}")
        if run_totals and wall:
            expected = sum(run_totals) + run_totals[0] + 30.0
            if wall > 1.5 * expected:
                signals.append(f"wall {wall:.0f}s > 1.5x expected {expected:.0f}s "
                               f"(sum(run_totals) + warmup + 30s init)")
        if flagged and signals:
            print(f"VERDICT: {len(flagged)} queries >{THRESHOLD:g}x floor, but the host "
                  f"shows ambient load ({'; '.join(signals)}) — suspect ambient; "
                  f"re-run with SPARK_GRAFT_BENCH_RUNS=3 on an idle host to confirm.")
        elif flagged and runs >= 2:
            print(f"VERDICT: {len(flagged)} queries >{THRESHOLD:g}x floor on a quiet host "
                  f"(load {l1:.1f}, best-of-{runs} minima) — treat as real "
                  f"regressions: {', '.join(flagged)}")
        elif flagged:
            # A single-run sweep can be poisoned by a load ramp that
            # starts mid-sweep and evades all three ambient signals
            # (the r13 driver run: 2.6 -> 13.0, 30 false flags).
            # Best-of-N minima with N >= 2 are what makes a flag
            # load-resistant, so a best-of-1 run never reaches the
            # "treat as real regressions" wording.
            print(f"VERDICT: {len(flagged)} queries >{THRESHOLD:g}x floor with no ambient "
                  f"signal, but this is a best-of-1 run — a mid-sweep load ramp "
                  f"can evade every signal on a single sweep; re-run with "
                  f"SPARK_GRAFT_BENCH_RUNS=3 on an idle host to confirm.")
        else:
            print("VERDICT: all queries within 2x of the recorded floor.")
    elif flagged:
        print(f"\nVERDICT: {len(flagged)} queries >{THRESHOLD:g}x floor (no load context "
              f"in this bench line): {', '.join(flagged)}")
    else:
        print("\nVERDICT: all queries within 2x of the recorded floor.")
    if failed:
        print(f"FAILED: {len(failed)} queries threw in a timed run: {', '.join(failed)}")
    return 1 if flagged or failed else 0


if __name__ == "__main__":
    sys.exit(main())
