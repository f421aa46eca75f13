#!/usr/bin/env python3
"""Cross-round bench adjudication using per-group host controls.

Usage: python3 tools/bench_compare.py BENCH_rPREV.json BENCH_rCUR.json [--min-ratio 2.0]

For every entry present in both rounds, computes the raw timing ratio
cur/prev and, where both rounds carry `query_controls` (r14+), the
control ratio of the groups each measurement was taken in. The verdict
column applies the adjudication policy from Bench.scala's doc: an entry
whose timing moved WITH its group control is host drift; an entry
regressing against a quiet control is flagged as a plan-change suspect.
Controls are a flag, not a divisor — suspects deserve a quiet-window
re-time before being called regressions.
"""
import json
import sys


def load(path):
    """Accept either a raw Bench line (bench_result.json) or the
    driver's BENCH_r{N}.json wrapper ({... "parsed": <line>})."""
    with open(path) as f:
        d = json.load(f)
    if "queries" in d:
        return d
    if isinstance(d.get("parsed"), dict):
        return d["parsed"]
    sys.exit(f"{path}: no queries and parsed is null (driver tail was "
             "truncated) — use the round's committed bench_result.json")


def main():
    argv = sys.argv[1:]
    min_ratio = 2.0
    args = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--min-ratio"):
            if "=" in a:
                min_ratio = float(a.split("=", 1)[1])
            else:
                i += 1
                min_ratio = float(argv[i])
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        sys.exit(__doc__)
    prev, cur = load(args[0]), load(args[1])
    pq, cq = prev.get("queries", {}), cur.get("queries", {})
    pc, cc = prev.get("query_controls", {}), cur.get("query_controls", {})
    # pre-r14 files carry only the run-level control
    p_run_ctl = prev.get("host_control_sec")
    c_run_ctl = cur.get("host_control_sec")
    rows = []
    for name in sorted(set(pq) & set(cq)):
        tp, tc = pq[name], cq[name]
        if tp is None or tc is None or tp <= 0:
            continue
        ratio = tc / tp
        if ratio < min_ratio and ratio > 1.0 / min_ratio:
            continue
        ctl_p = pc.get(name, p_run_ctl)
        ctl_c = cc.get(name, c_run_ctl)
        ctl_ratio = (ctl_c / ctl_p) if ctl_p and ctl_c else None
        if ctl_ratio is None:
            verdict = "no-controls"
        elif ratio >= min_ratio and ctl_ratio >= 0.75 * ratio:
            verdict = "host-drift"
        elif ratio >= min_ratio and ctl_ratio <= 1.15:
            verdict = "PLAN-SUSPECT"
        elif ratio >= min_ratio:
            verdict = "mixed (re-time)"
        else:
            verdict = "faster"
        rows.append((name, tp, tc, ratio, ctl_ratio, verdict))
    if not rows:
        print(f"no entries moved by >= {min_ratio}x in either direction")
    else:
        w = max(len(r[0]) for r in rows)
        print(f"{'entry':<{w}}  {'prev_s':>8} {'cur_s':>8} {'ratio':>6} "
              f"{'ctl_ratio':>9}  verdict")
        for name, tp, tc, ratio, ctl_ratio, verdict in rows:
            cr = f"{ctl_ratio:9.2f}" if ctl_ratio is not None else "        -"
            print(f"{name:<{w}}  {tp:8.3f} {tc:8.3f} {ratio:6.2f} {cr}  "
                  f"{verdict}")
        n_sus = sum(1 for r in rows if r[5] == "PLAN-SUSPECT")
        print(f"\n{len(rows)} moved >= {min_ratio}x; {n_sus} plan-change "
              f"suspect(s) (regressed against a quiet group control)")
    phase_check(prev, cur, min_ratio)


def entry_of(phase_name, queries):
    """Map a `<entry>.<stage>` phase key to its entry by matching
    against the known queries dict — an entry name containing a dot
    would make a bare rsplit misattribute the phase. Falls back to
    rsplit for phases whose entry is not in the dict (name drift)."""
    cands = [q for q in queries
             if phase_name.startswith(q + ".")]
    if cands:
        return max(cands, key=len)
    return phase_name.rsplit(".", 1)[0]


# r20: Bench now emits the WINNING pass's phases per entry, so a sum
# above 110% of the entry can only mean staleness (phase accumulation
# or a breakdown from a different run than the timing) — tightened
# from the 1.5 that tolerated last-pass-wins attribution.
STALE_PHASE_SLACK = 1.1


def stale_phase_entries(bench, slack=STALE_PHASE_SLACK):
    """Entries whose phase block does NOT reflect their adjudicated
    timing: Bench stores each phase from the LAST pass that ran the
    entry (p1 → p2 → isolated re-run), while the entry timing is the
    min over passes — so when an entry's isolated window hits a
    degraded stretch, its phases can read far above the (clean) entry
    total. Such phases measure the bad window, not the plan; comparing
    them round-over-round manufactures phantom regressions (seen at
    the r18 close: a delete-fold iso window left phases summing to
    ~2.5x the entry's best-pass timing). An entry is stale-phased when
    its phase sum exceeds `slack` x its adjudicated timing."""
    qs, ph = bench.get("queries", {}), bench.get("phases", {})
    sums = {}
    for name, v in ph.items():
        entry = entry_of(name, qs)
        sums[entry] = sums.get(entry, 0.0) + (v or 0.0)
    return {e for e, s in sums.items()
            if e in qs and qs[e] and s > slack * qs[e]}


def phase_check(prev, cur, min_ratio, floor=0.2):
    """Phase-level adjudication (r17+): entries carry stage splits under
    `phases` (`<entry>.<stage>`), so a regression localizes to a stage
    instead of hiding inside a total. The drain-backed entries' split
    (drain_models / drain_stage / drain_commit) exists specifically so
    a model re-resolution regression — the r16 per-micro-batch codebook
    re-read class — surfaces as a named phase: any `*.drain_models`
    growth past the ratio gate is called out as MODEL-RESOLVE-SUSPECT
    regardless of what the entry total did. Sub-`floor`-second phases
    are skipped as timer noise. Phases from a STALE block on either
    side (see stale_phase_entries) are adjudicated as stale-phases
    instead — the reading does not reflect the plan."""
    pp, cp = prev.get("phases", {}), cur.get("phases", {})
    stale = {e: "cur" for e in stale_phase_entries(cur)}
    for e in stale_phase_entries(prev):
        stale[e] = "both" if e in stale else "prev"
    if stale:
        # keep the suppression visible — "none moved" must not read as
        # "every phase was adjudicated"
        print(f"\n{len(stale)} entr{'y' if len(stale) == 1 else 'ies'} "
              f"stale-phased (phase sum > {STALE_PHASE_SLACK}x "
              f"adjudicated timing); their phases excluded: "
              + ", ".join(f"{e}({side})" for e, side in sorted(stale.items())))
    rows = []
    known_queries = {**prev.get("queries", {}), **cur.get("queries", {})}
    for name in sorted(cp):
        tp, tc = pp.get(name), cp[name]
        if tc is None:
            continue
        entry = entry_of(name, known_queries)
        if entry in stale:
            # still surface a from-stale drain_models reading, but
            # named for what it is — a bad-window artifact candidate
            if (tc >= floor and name.endswith(".drain_models")
                    and tp and tc / tp >= min_ratio):
                rows.append((name, tp, tc, tc / tp,
                             f"stale-phases({stale[entry]}) re-time"))
            continue
        if tp is None or tp <= 0:
            # a watched phase that blew past the floor from ~zero (or
            # from absent — first round with the split, name drift) is
            # exactly the from-cold regression a ratio can't express;
            # flag it for the targeted class, skip the rest (genuinely
            # new entries appear every round)
            if tc >= floor and name.endswith(".drain_models"):
                rows.append((name, tp or 0.0, tc, float("inf"),
                             "MODEL-RESOLVE-SUSPECT"))
            continue
        if max(tp, tc) < floor:
            continue
        ratio = tc / tp
        if ratio < min_ratio and ratio > 1.0 / min_ratio:
            continue
        verdict = ("MODEL-RESOLVE-SUSPECT"
                   if name.endswith(".drain_models") and ratio >= min_ratio
                   else "regressed" if ratio >= min_ratio else "faster")
        rows.append((name, tp, tc, ratio, verdict))
    if not rows:
        print(f"phases: none moved >= {min_ratio}x (floor {floor}s)")
        return
    w = max(len(r[0]) for r in rows)
    print(f"\n{'phase':<{w}}  {'prev_s':>8} {'cur_s':>8} {'ratio':>6}  verdict")
    for name, tp, tc, ratio, verdict in rows:
        print(f"{name:<{w}}  {tp:8.3f} {tc:8.3f} {ratio:6.2f}  {verdict}")
    n_mr = sum(1 for r in rows if r[4] == "MODEL-RESOLVE-SUSPECT")
    if n_mr:
        print(f"{n_mr} drain model-resolution suspect(s) — the per-batch "
              "re-read class; see IndexStore.annIndexUpsertDrain")


if __name__ == "__main__":
    main()
