#!/usr/bin/env python3
"""Compare two Bench records (bench/r*.json): per-query warm deltas and
plan-fingerprint changes.

Usage: benchdiff.py <old.json> <new.json> [pct_threshold=30]
       benchdiff.py --allow-scheme-change <old.json> <new.json> [pct]

Exit 1 if any shared query's plan fingerprint changed (a plan regression
is a correctness-of-intent signal, not noise); timing deltas are report
only — wall time in a shared JVM is noisy by nature.

Queries listed in bench/variance_whitelist.json are the ADJUDICATED
same-code variance classes (AQE run-order/build-side, engine RNG):
their fingerprint changes print as VARFP and do not trip the exit-1
gate, so residual PLAN flags are only genuinely new plan changes.
GRAFT_VARIANCE_WHITELIST overrides the path ('' disables).

Exit 2 if the two records use different fingerprint schemes and
--allow-scheme-change was not passed: a scheme transition makes every
plan_fp incomparable, so a real plan regression landing in the same
round as a scheme bump would otherwise pass the gate silently behind a
banner. The flag is the explicit acknowledgement that THIS diff is the
one scheme-transition round and plan continuity is re-established by
the new record itself.

Environment sentinel: records carry `env` (system load average at
start/end, available processors) and per-query `gc_sec`. When the two
records ran under visibly different machine load (>2x difference, or
either end-load far above processor count), a LOUD banner flags that
timing deltas are environment, not code — r8's driver record looked like
a uniform 1.5x regression and cost a judging session to refute.

Fingerprint schemes: `fp_scheme` 9 scrubs the checkout directory from
plan paths, so two checkouts of one commit share fingerprints (scheme-8
records taken in different directories differ on every plan that scans
a store under the checkout's `target/`); 8 scrubs ManifestStore `snap=`
counters; 5-7 scrub codegen stage ids and FileScan Location noise; 4 scrubs the JVM-global
common-subexpression/lambda counters (scheme-3 hashes shifted with
session composition); 3 hashes the truly-finalized adaptive
plan of the execution that was timed (scheme 2 claimed finality but read
an adaptive handle a separate noop-write QueryExecution never executed;
scheme 1 hashed the pre-execution plan, blind to AQE-level changes).
Records with different schemes have incomparable fingerprints — plan
diffs are suppressed with a banner, and the run exits 2 unless
--allow-scheme-change acknowledges the transition.
"""
import sys, json, os

argv = [a for a in sys.argv[1:] if a != "--allow-scheme-change"]
allow_scheme_change = "--allow-scheme-change" in sys.argv[1:]

# Adjudicated same-code variance classes (bench/variance_whitelist.json,
# beside this script's repo): a plan_fp change on a listed query is
# reported as VARFP with its documented class and does NOT trip the
# exit-1 plan gate — residual PLAN flags are genuinely new plan changes.
# Override the path with GRAFT_VARIANCE_WHITELIST; set it empty to
# disable (e.g. to re-audit the whitelist itself).
_wl_path = os.environ.get(
    "GRAFT_VARIANCE_WHITELIST",
    os.path.join(os.path.dirname(os.path.abspath(__file__)),
                 "..", "bench", "variance_whitelist.json"))
try:
    whitelist = json.load(open(_wl_path))["queries"] if _wl_path else {}
except FileNotFoundError:
    whitelist = {}
old_rec = json.load(open(argv[0]))
new_rec = json.load(open(argv[1]))
old, new = old_rec["queries"], new_rec["queries"]
thr = float(argv[2]) if len(argv) > 2 else 30.0

os_, ns = old_rec.get("fp_scheme", 1), new_rec.get("fp_scheme", 1)
fp_comparable = os_ == ns
if not fp_comparable:
    print("=" * 66)
    print(f"!! FINGERPRINT SCHEMES DIFFER (old={os_}, new={ns}) — plan_fp")
    print("!! values are not comparable across schemes; PLAN diffs suppressed.")
    print("=" * 66)


def env_load(rec):
    e = rec.get("env") or {}
    loads = [v for v in (e.get("load_avg_start"), e.get("load_avg_end"))
             if isinstance(v, (int, float)) and v >= 0]
    return (max(loads) if loads else None), e.get("available_processors")


# Host-speed canary guard (r16 verdict item 6): the load gate measures
# contention, not absolute host speed — r16's record passed the gate on
# a uniformly ~1.3-2x slower boot and read as a +34% code regression.
# Records since r17 carry env.canary_cpu_sec / env.canary_spark_sec
# (fixed-size in-memory microbenches). When either differs >25% between
# the two records, wall-time comparison is REFUSED (TIME lines
# suppressed, fingerprints-only mode); plan gates are unaffected.
def canaries(rec):
    e = rec.get("env") or {}
    return {k: e[k] for k in ("canary_cpu_sec", "canary_spark_sec")
            if isinstance(e.get(k), (int, float)) and e[k] > 0}


# Per-canary thresholds: the single-thread cpu loop is tight across
# same-boot takes (<3% spread measured), so 25% means a different host
# class; the parallel spark canary inherits scheduler/GC noise (a 2.7x
# flap was measured on one boot before it grew settle gaps) and gets a
# looser bar — a genuinely slower host (the r16 class: uniformly ~2x)
# moves both.
CANARY_MAX_RATIO = {"canary_cpu_sec": 1.25, "canary_spark_sec": 1.8}
oc, nc = canaries(old_rec), canaries(new_rec)
shared_canaries = sorted(set(oc) & set(nc))
host_differs = any(
    max(oc[k], nc[k]) / min(oc[k], nc[k]) > CANARY_MAX_RATIO[k]
    for k in shared_canaries)
if host_differs:
    print("=" * 66)
    print("!! HOST SPEED DIFFERS (same-work canary): "
          + ", ".join(f"{k} {oc[k]:.3f}s -> {nc[k]:.3f}s" for k in shared_canaries))
    print("!! Wall-time comparison REFUSED — fingerprints-only mode.")
    print("=" * 66)
elif (oc or nc) and not shared_canaries:
    print("-- canary present in only one record: timing deltas are "
          "unguarded by the host-speed canary")

# Tuning-provenance guard (r17 advisor, medium): records since r18 stamp
# the engine-behavior env knobs (SPARK_GRAFT_CONF, gate-partition /
# state-provider / cpu overrides) into env.tuning, and later records also
# the local filesystem's class (fs_file_impl) and whether libhadoop
# loaded (native_io): a local write forks `chmod` unless one of them
# avoids it. Every key is compared the same way. Two records taken
# under different tuning are measuring different engines — wall-time
# comparison is refused (TIME suppressed) with a DIFFERS banner; the
# plan gate stays armed (a tuning-induced plan change is still a plan
# change to adjudicate). A tuning block on only one side prints the
# unguarded note and keeps TIME (pre-r18 records have no block).
def tuning(rec):
    t = (rec.get("env") or {}).get("tuning")
    return t if isinstance(t, dict) else None


# Compared key by key, an absent key reading as unset: a knob added to
# or dropped from the stamp between records is not a tuning difference
# unless it was set.
ot, nt = tuning(old_rec), tuning(new_rec)
diffs = [] if ot is None or nt is None else [
    k for k in sorted(set(ot) | set(nt)) if ot.get(k, "") != nt.get(k, "")]
tuning_differs = bool(diffs)
if tuning_differs:
    print("=" * 66)
    print("!! TUNING DIFFERS: " + "; ".join(
        f"{k} {ot.get(k, '') or '<unset>'!r} -> {nt.get(k, '') or '<unset>'!r}"
        for k in diffs))
    print("!! The records ran different engine tuning — wall-time deltas are")
    print("!! tuning, not code. TIME suppressed; plan gate still armed.")
    print("=" * 66)
elif (ot is None) != (nt is None):
    print("-- tuning stamp present in only one record: timing deltas are "
          "unguarded by the tuning-provenance check")

# Mid-run contention demotion (r17 verdict item 1): a query stamped
# "contended":true sampled load above the gate DURING the take and could
# not be re-run clean — its wall time is environment. Suppress exactly
# those queries' TIME lines (both directions: a contended old baseline
# is as misleading as a contended new number).
contended_q = {q for rec in (old_rec, new_rec)
               for q, v in rec["queries"].items() if v.get("contended")}
# Slow-window demotion (r18 verdict item 1): a query stamped
# "slow_window":true ran > SLOWK x its recorded plan-identical best and
# a drained re-run did not heal it — its wall time is page-cache /
# fs-window state, not code. Same suppression contract as contended.
slow_q = {q for rec in (old_rec, new_rec)
          for q, v in rec["queries"].items() if v.get("slow_window")}
for rec, tag in ((old_rec, "old"), (new_rec, "new")):
    mid = rec.get("contended_mid_run") or []
    if mid:
        print(f"!! MID-RUN CONTENTION in {tag} record: {len(mid)} queries "
              f"self-demoted ({', '.join(sorted(mid))}) — their TIME lines "
              "are suppressed")
    sw = rec.get("slow_window") or []
    if sw:
        print(f"!! SLOW WINDOW in {tag} record: {len(sw)} queries exceeded "
              f"SLOWK x their plan-identical best and did not heal "
              f"({', '.join(sorted(sw))}) — their TIME lines are suppressed")

ol, oprocs = env_load(old_rec)
nl, nprocs = env_load(new_rec)
if ol is not None and nl is not None:
    ratio = max(ol, nl) / max(min(ol, nl), 0.1)
    overload = any(l > 1.5 * (p or 32)
                   for l, p in ((ol, oprocs), (nl, nprocs)))
    if ratio > 2.0 or overload:
        print("=" * 66)
        print("!! ENVIRONMENT DIFFERS: system load old=%.1f new=%.1f" % (ol, nl)
              + (f" (procs {oprocs}/{nprocs})" if oprocs or nprocs else ""))
        print("!! Timing deltas below are likely machine contention, NOT code.")
        print("=" * 66)

plan_changed = []
var_flagged = []
for name in sorted(set(old) & set(new)):
    o, n = old[name], new[name]
    if fp_comparable and o.get("plan_fp") != n.get("plan_fp"):
        if name in whitelist:
            var_flagged.append(name)
            w = whitelist[name]
            print(f"VARFP {name}: {o.get('plan_fp')} -> {n.get('plan_fp')} "
                  f"[{w.get('class')}, whitelisted since {w.get('since')}]")
        else:
            plan_changed.append(name)
            print(f"PLAN  {name}: {o.get('plan_fp')} -> {n.get('plan_fp')}")
    dw = (n["warm"] - o["warm"]) / max(o["warm"], 1e-9) * 100
    if abs(dw) >= thr and not host_differs and not tuning_differs \
            and name not in contended_q and name not in slow_q:
        gc = ""
        if "gc_sec" in n or "gc_sec" in o:
            gc = f" [gc {o.get('gc_sec', 0):.2f}s -> {n.get('gc_sec', 0):.2f}s]"
        print(f"TIME  {name}: warm {o['warm']:.3f}s -> {n['warm']:.3f}s ({dw:+.0f}%){gc}")
for name in sorted(set(new) - set(old)):
    print(f"NEW   {name}: warm {new[name]['warm']:.3f}s")
for name in sorted(set(old) - set(new)):
    print(f"GONE  {name}")
print(f"-- {len(set(old) & set(new))} shared, {len(plan_changed)} plan changes"
      + (f", {len(var_flagged)} whitelisted-variance" if var_flagged else "")
      + ("" if fp_comparable else " (fp schemes differ — plan diff suppressed)")
      + (" (host speed differs — TIME suppressed)" if host_differs else "")
      + (" (tuning differs — TIME suppressed)" if tuning_differs else "")
      + (f" ({len(contended_q)} contended-query TIME suppressed)"
         if contended_q else "")
      + (f" ({len(slow_q)} slow-window-query TIME suppressed)"
         if slow_q else ""))
if not fp_comparable and not allow_scheme_change:
    print("!! exiting 2: pass --allow-scheme-change to acknowledge the "
          "scheme transition")
    sys.exit(2)
sys.exit(1 if plan_changed else 0)
