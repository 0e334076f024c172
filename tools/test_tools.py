#!/usr/bin/env python3
"""Self-tests for the gate-bearing tools — benchdiff's exit codes and
whitelist handling now ADJUDICATE rounds (a wrong exit 0 hides a plan
regression; a wrong exit 1 burns a judging session), so they get the
same regression protection as the engine.

Run: python3 tools/test_tools.py   (exit 0 = all pass)
"""
import json, os, subprocess, sys, tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
FAILS = []


def check(name, cond, detail=""):
    print(("PASS " if cond else "FAIL ") + name + (f" — {detail}" if detail and not cond else ""))
    if not cond:
        FAILS.append(name)


def rec(queries, fp_scheme=9, load=0.5, canary=None, tuning=None,
        contended=(), mid_run=None, slow=(), slow_list=None):
    env = {"load_avg_start": load, "load_avg_end": load,
           "available_processors": 32}
    if canary is not None:
        env["canary_cpu_sec"], env["canary_spark_sec"] = canary
    if tuning is not None:
        env["tuning"] = tuning
    r = {
        "fp_scheme": fp_scheme,
        "env": env,
        "queries": {q: {"warm": w, "plan_fp": fp} for q, (w, fp) in queries.items()},
    }
    for q in contended:
        r["queries"][q]["contended"] = True
    if mid_run is not None:
        r["contended_mid_run"] = mid_run
    for q in slow:
        r["queries"][q]["slow_window"] = True
    if slow_list is not None:
        r["slow_window"] = slow_list
    return r


def run_benchdiff(old, new, extra=None, whitelist_path=None):
    with tempfile.TemporaryDirectory() as d:
        a, b = os.path.join(d, "a.json"), os.path.join(d, "b.json")
        json.dump(old, open(a, "w")); json.dump(new, open(b, "w"))
        env = dict(os.environ)
        env["GRAFT_VARIANCE_WHITELIST"] = whitelist_path or ""
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "benchdiff.py"), a, b] + (extra or []),
            capture_output=True, text=True, env=env)
        return p.returncode, p.stdout


def wl(queries):
    f = tempfile.NamedTemporaryFile("w", suffix=".json", delete=False)
    json.dump({"queries": {q: {"class": "aqe-build-side", "since": "rX",
                               "evidence": "test"} for q in queries}}, f)
    f.close()
    return f.name


# 1. identical records → exit 0, no flags
r0 = rec({"q1": (1.0, "aaa"), "q2": (2.0, "bbb")})
code, out = run_benchdiff(r0, r0)
check("identical records exit 0", code == 0 and "PLAN" not in out, out)

# 2. a plan change on an unlisted query → exit 1 with a PLAN line
r1 = rec({"q1": (1.0, "aaa"), "q2": (2.0, "ccc")})
code, out = run_benchdiff(r0, r1)
check("unlisted plan change exits 1", code == 1 and "PLAN  q2" in out, out)

# 3. the same change whitelisted → VARFP, exit 0
w = wl(["q2"])
code, out = run_benchdiff(r0, r1, whitelist_path=w)
check("whitelisted change exits 0 as VARFP",
      code == 0 and "VARFP q2" in out and "PLAN  q2" not in out, out)
os.unlink(w)

# 4. whitelist must NOT mask a change on an unlisted query
w = wl(["q1"])
code, out = run_benchdiff(r0, r1, whitelist_path=w)
check("whitelist does not mask other queries", code == 1 and "PLAN  q2" in out, out)
os.unlink(w)

# 5. scheme transition without the flag → exit 2 and plan diff suppressed
r5 = rec({"q1": (1.0, "zzz"), "q2": (2.0, "yyy")}, fp_scheme=5)
code, out = run_benchdiff(r5, r0)
check("scheme change exits 2 without flag", code == 2 and "SCHEMES DIFFER" in out, out)
code, out = run_benchdiff(r5, r0, extra=["--allow-scheme-change"])
check("--allow-scheme-change exits 0 and suppresses plan diff",
      code == 0 and not any(l.startswith("PLAN  ") for l in out.splitlines()), out)

# 5b. the scheme-8 -> 9 transition (checkout directory scrubbed) is a
# scheme change like any other: exit 2 unless acknowledged
r8 = rec({"q1": (1.0, "aaa"), "q2": (2.0, "bbb")}, fp_scheme=8)
code, out = run_benchdiff(r8, r0)
check("scheme 8 -> 9 exits 2 without flag",
      code == 2 and "old=8, new=9" in out, out)

# 6. environment banner on >2x load difference
r6 = rec({"q1": (1.0, "aaa"), "q2": (2.0, "bbb")}, load=8.0)
code, out = run_benchdiff(r0, r6)
check("load-differs banner prints", "ENVIRONMENT DIFFERS" in out, out)

# 6b. host-speed canary guard (r16 verdict item 6): canaries differing
# >25% refuse wall-time comparison (TIME suppressed, banner printed);
# the plan gate is unaffected; matching canaries keep TIME lines; a
# canary on only one side prints the unguarded note but keeps TIME.
rc_old = rec({"q1": (1.0, "aaa"), "q2": (2.0, "bbb")}, canary=(0.40, 1.00))
rc_slow = rec({"q1": (2.0, "aaa"), "q2": (4.0, "ccc")}, canary=(0.80, 1.00))
code, out = run_benchdiff(rc_old, rc_slow)
check("canary mismatch refuses wall-time comparison",
      "HOST SPEED DIFFERS" in out and "TIME  " not in out, out)
check("canary mismatch leaves the plan gate armed",
      code == 1 and "PLAN  q2" in out, out)
rc_same = rec({"q1": (2.0, "aaa"), "q2": (2.0, "bbb")}, canary=(0.42, 1.05))
code, out = run_benchdiff(rc_old, rc_same)
check("matching canaries keep TIME lines",
      code == 0 and "TIME  q1" in out and "HOST SPEED DIFFERS" not in out, out)
code, out = run_benchdiff(rc_old, rec({"q1": (2.0, "aaa"), "q2": (2.0, "bbb")}))
check("one-sided canary prints unguarded note, keeps TIME",
      "unguarded" in out and "TIME  q1" in out, out)
# the parallel spark canary gets the LOOSER 1.8x bar (scheduler noise):
# 1.5x spark spread alone keeps TIME; 2x spark spread alone refuses
code, out = run_benchdiff(rc_old,
                          rec({"q1": (2.0, "aaa"), "q2": (2.0, "bbb")}, canary=(0.41, 1.50)))
check("spark canary within 1.8x keeps TIME",
      "TIME  q1" in out and "HOST SPEED DIFFERS" not in out, out)
code, out = run_benchdiff(rc_old,
                          rec({"q1": (2.0, "aaa"), "q2": (2.0, "bbb")}, canary=(0.41, 2.00)))
check("spark canary past 1.8x refuses TIME",
      "HOST SPEED DIFFERS" in out and "TIME  " not in out, out)

# 6c. tuning-provenance guard (r17 advisor): differing env.tuning blocks
# refuse wall-time comparison (banner + TIME suppressed), plan gate still
# armed; identical blocks keep TIME; a block on only one side prints the
# unguarded note and keeps TIME.
T0 = {"SPARK_GRAFT_CONF": "", "SPARK_GRAFT_GATE_PARTITIONS": ""}
T1 = {"SPARK_GRAFT_CONF": "spark.x=1", "SPARK_GRAFT_GATE_PARTITIONS": ""}
rt_old = rec({"q1": (1.0, "aaa"), "q2": (2.0, "bbb")}, tuning=T0)
rt_new = rec({"q1": (2.0, "aaa"), "q2": (2.0, "ccc")}, tuning=T1)
code, out = run_benchdiff(rt_old, rt_new)
check("tuning mismatch refuses TIME, banners, keeps plan gate",
      code == 1 and "TUNING DIFFERS" in out and "TIME  " not in out
      and "PLAN  q2" in out, out)
code, out = run_benchdiff(rt_old, rec({"q1": (2.0, "aaa"), "q2": (2.0, "bbb")},
                                      tuning=T0))
check("identical tuning keeps TIME lines",
      code == 0 and "TIME  q1" in out and "TUNING DIFFERS" not in out, out)
code, out = run_benchdiff(rt_old, rec({"q1": (2.0, "aaa"), "q2": (2.0, "bbb")},
                                      tuning={"SPARK_GRAFT_CONF": "",
                                              "SPARK_GRAFT_MAX_PAIR_BUDGET": ""}))
check("a knob added or dropped while unset is not a tuning difference",
      code == 0 and "TIME  q1" in out and "TUNING DIFFERS" not in out, out)
# the local-filesystem stamps are tuning keys like the env knobs
TF = dict(T0, fs_file_impl="graft.sources.NioLocalFileSystem", native_io="false")
code, out = run_benchdiff(rec({"q1": (1.0, "aaa")}, tuning=TF),
                          rec({"q1": (2.0, "aaa")}, tuning=dict(
                              TF, fs_file_impl="org.apache.hadoop.fs.LocalFileSystem")))
check("a different local filesystem class is a tuning difference",
      "TUNING DIFFERS" in out and "fs_file_impl" in out and "TIME  " not in out, out)
code, out = run_benchdiff(rec({"q1": (1.0, "aaa")}, tuning=TF),
                          rec({"q1": (2.0, "aaa")}, tuning=dict(TF, native_io="true")))
check("native_io flipping is a tuning difference",
      "TUNING DIFFERS" in out and "native_io" in out and "TIME  " not in out, out)
code, out = run_benchdiff(rec({"q1": (1.0, "aaa")}, tuning=TF),
                          rec({"q1": (2.0, "aaa")}, tuning=dict(TF)))
check("identical local filesystem stamps keep TIME lines",
      code == 0 and "TIME  q1" in out and "TUNING DIFFERS" not in out, out)
code, out = run_benchdiff(rt_old, rec({"q1": (2.0, "aaa"), "q2": (2.0, "bbb")}))
check("one-sided tuning prints unguarded note, keeps TIME",
      "unguarded by the tuning-provenance check" in out and "TIME  q1" in out, out)

# 6d. contended-injection (r17 verdict item 1): a query stamped
# "contended":true in EITHER record gets its TIME line suppressed and the
# record's contended_mid_run list banners; clean queries in the same take
# keep their TIME lines; plan gate unaffected.
rc0 = rec({"q1": (1.0, "aaa"), "st9": (1.0, "bbb")})
rc1 = rec({"q1": (2.0, "aaa"), "st9": (3.0, "bbb")},
          contended=["st9"], mid_run=["st9"])
code, out = run_benchdiff(rc0, rc1)
check("contended query TIME suppressed, clean query TIME kept",
      code == 0 and "TIME  q1" in out and "TIME  st9" not in out
      and "MID-RUN CONTENTION in new record" in out and "st9" in out, out)
rc2 = rec({"q1": (1.0, "aaa"), "st9": (1.0, "bbb")},
          contended=["st9"], mid_run=["st9"])
code, out = run_benchdiff(rc2, rec({"q1": (1.0, "aaa"), "st9": (3.0, "bbb")}))
check("contended OLD baseline also suppresses that query's TIME",
      "TIME  st9" not in out and "MID-RUN CONTENTION in old record" in out, out)

# 6e. slow-window injection (r18 verdict item 1): a query stamped
# "slow_window":true in EITHER record ran > SLOWK x its plan-identical
# recorded best and didn't heal through the drained re-run — its TIME
# line is suppressed with a banner; clean queries in the same take keep
# their TIME lines; the plan gate is unaffected.
rs0 = rec({"q1": (1.0, "aaa"), "st5": (1.0, "bbb")})
rs1 = rec({"q1": (2.0, "aaa"), "st5": (6.0, "bbb")},
          slow=["st5"], slow_list=["st5"])
code, out = run_benchdiff(rs0, rs1)
check("slow-window query TIME suppressed, clean query TIME kept",
      code == 0 and "TIME  q1" in out and "TIME  st5" not in out
      and "SLOW WINDOW in new record" in out and "st5" in out, out)
rs2 = rec({"q1": (1.0, "aaa"), "st5": (6.0, "bbb")},
          slow=["st5"], slow_list=["st5"])
code, out = run_benchdiff(rs2, rec({"q1": (1.0, "aaa"), "st5": (1.0, "bbb")}))
check("slow-window OLD baseline also suppresses that query's TIME",
      "TIME  st5" not in out and "SLOW WINDOW in old record" in out, out)
# slow-window + plan change on another query: gate still trips
rs3 = rec({"q1": (2.0, "ccc"), "st5": (6.0, "bbb")},
          slow=["st5"], slow_list=["st5"])
code, out = run_benchdiff(rs0, rs3)
check("slow-window demotion leaves the plan gate armed",
      code == 1 and "PLAN  q1" in out and "TIME  st5" not in out, out)

# 7. checked-in whitelist is well-formed and every entry carries evidence
wl_path = os.path.join(HERE, "..", "bench", "variance_whitelist.json")
d = json.load(open(wl_path))
check("checked-in whitelist entries carry class+evidence+since",
      all({"class", "evidence", "since"} <= set(v) for v in d["queries"].values()),
      str({k: sorted(v) for k, v in d["queries"].items()}))

# 8. verifycycle aggregation: OK / FAIL / timeout land in the right buckets
with tempfile.TemporaryDirectory() as res:
    cases = {"ok_q": (0, "ok_q: OK (7 rows)"),
             "bad_q": (1, "bad_q: FAIL rows(spark=1,oracle=2)"),
             "slow_q": (124, "")}
    for q, (rc, log) in cases.items():
        open(os.path.join(res, q + ".rc"), "w").write(str(rc))
        open(os.path.join(res, q + ".log"), "w").write(log + "\n")
    # run only the aggregation heredoc by invoking the python snippet the
    # same way verifycycle.sh does
    agg = subprocess.run([sys.executable, "-c", open(os.path.join(
        HERE, "verifycycle.sh")).read().split("<<'EOF'\n", 1)[1].rsplit("EOF", 1)[0],
        res], capture_output=True, text=True)
    out = json.load(open(os.path.join(res, "record.json")))
    check("verifycycle aggregation buckets",
          out["n_hash_exact"] == 1 and out["queries"].get("ok_q") == 7 and
          out["failed"] == ["bad_q"] and out["oracle_timeout"] == ["slow_q"] and
          out["n_compared"] == 2, json.dumps(out))

print(("ALL PASS" if not FAILS else f"FAILED: {FAILS}"))
sys.exit(1 if FAILS else 0)
