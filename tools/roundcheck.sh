#!/usr/bin/env bash
# One-command round gate — the reproducible "make verify" entry:
#
#   tools/roundcheck.sh
#
# Runs, in order: (1) the full ScalaTest suite, (1b) the pipeline demo
# (graft.tools.PipelineDemo, the one main that drives the runner's CLI
# options), (1c) the commit and placement specs (TransactionSpec,
# CloneSpec, GraftSinkConflictSpec, OpsSpec, PartitionedMergeSpec,
# PipelineSpec), the integrity specs (FsckSpec, MorDeleteSpec), the
# failover soak (GraftSinkSoakSpec: promote racing both layers' syncs
# through Commit.sync's one fence flow),
# PosixLocalFileSystemSpec, and then — a second testOnly in the same
# sbt run — graftsink's vacuum cases (GraftSinkSpec and
# GraftCatalogSpec, `-z vacuum`: the streamed aged sweep,
# Commit.sweepAged, that every layer's vacuum shares) again with
# `file:` on Hadoop's stock
# org.apache.hadoop.fs.LocalFileSystem (the JVM names it, so
# Tables.configure keeps it; PosixLocalFileSystemSpec fails if any
# other class resolves). Its rename replaces an existing target file
# and moves a dir INSIDE an existing one, it keeps a `.crc` beside
# every file created through it directly (the driver-side writes of
# driver-resident members — the pipeline's running marker and failure
# record — the sidecar stamp, the vouch listings that must not count
# those `.crc` files, and the `_deep_verified` replace), and it forks
# a `chmod` per created file. Step 1 and the pipeline demo (1b) run on
# graft.sources.PosixLocalFileSystem, which Tables.configure installs:
# the same class with in-process permissions.
# (2) graft.Verify at
# sf0.01 (parquet dumps + oracle_sql.json + tolerance bounds), (3) the
# DuckDB oracle compare (driver-side tooling; skipped with a note when
# duckdb isn't installed), (3b) the PLANS.lock diff gate, (3c) the
# STREAMPLANS.lock diff gate, (4) graft.Bench at sf0.1 with the
# contention canary, (4b) the bench-coverage gate, (5) the pipeline
# benchmark's own tests (perfbench --selftest). Everything lands in one committed-able JSON summary,
# ROUNDCHECK.json, so the repo's claims and the driver's artifacts
# can't silently diverge (round 5's 243-vs-242, round 6's 74.8 s clean
# vs 128.96 s contended). Exit code is nonzero when any hard gate
# (tests, pipeline demo, commit specs on LocalFileSystem, verify run,
# oracle compare, perfbench selftest) fails; a
# contended bench is ANNOTATED, not failed — the canary field says
# whether the numbers are trustworthy.
#
# Env overrides: SF_VERIFY (default /root/testdata/sf0.01),
# SF_BENCH (default /root/testdata/sf0.1), OUT (scratch dir).
set -u
cd "$(dirname "$0")/.."
SF_VERIFY=${SF_VERIFY:-/root/testdata/sf0.01}
SF_BENCH=${SF_BENCH:-/root/testdata/sf0.1}
SF_PLANLOCK=${SF_PLANLOCK:-/root/testdata/sf0.001}
OUT=${OUT:-/tmp/graft_roundcheck_$$}
mkdir -p "$OUT"
echo "[roundcheck] scratch: $OUT"

echo "[roundcheck] 1/5 sbt test"
sbt -batch test >"$OUT/sbt_test.log" 2>&1
TEST_RC=$?

echo "[roundcheck] 1b/5 PipelineDemo"
sbt -batch "runMain graft.tools.PipelineDemo $OUT/demo --select prices_usd --full-refresh" \
  >"$OUT/pipeline_demo.log" 2>&1
DEMO_RC=$?

echo "[roundcheck] 1c/5 commit and integrity specs on LocalFileSystem"
sbt -batch 'set Test/javaOptions += "-Dspark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem"' \
  "testOnly graft.TransactionSpec graft.CloneSpec graft.GraftSinkConflictSpec graft.OpsSpec graft.PartitionedMergeSpec graft.PipelineSpec graft.FsckSpec graft.MorDeleteSpec graft.GraftSinkSoakSpec graft.PosixLocalFileSystemSpec" \
  "testOnly graft.GraftSinkSpec graft.GraftCatalogSpec -- -z vacuum" \
  >"$OUT/commit_specs_localfs.log" 2>&1
LOCALFS_RC=$?

echo "[roundcheck] 2/5 graft.Verify $SF_VERIFY"
sbt -batch "runMain graft.Verify $SF_VERIFY $OUT/verify" \
  >"$OUT/verify.log" 2>&1
VERIFY_RC=$?

echo "[roundcheck] 3/5 DuckDB oracle compare"
if python3 -c "import duckdb" 2>/dev/null; then
  python3 tools/oracle_check.py "$SF_VERIFY" "$OUT/verify" \
    >"$OUT/oracle.log" 2>&1
  ORACLE_RC=$?
else
  echo "duckdb not installed (driver-side tooling); compare skipped" \
    >"$OUT/oracle.log"
  ORACLE_RC=-1
fi

echo "[roundcheck] 3b/5 PLANS.lock diff gate"
# Regenerate the canonical plan fingerprints and diff against the
# committed lock: a plan-shape change (an Exchange appearing, a join
# strategy flipping) outside the PlanSpec-gated subset is a HARD FAIL
# unless the regenerated lock was committed with the change (see
# graft.tools.PlanLock scaladoc for the intentional-change walkthrough).
SPARK_GRAFT_PLANLOCK_SF="$SF_PLANLOCK" \
  sbt -batch "runMain graft.tools.PlanLock $OUT/PLANS.lock.new" \
  >"$OUT/planlock.log" 2>&1
PLANLOCK_RC=$?
if [ $PLANLOCK_RC -eq 0 ] && [ -f PLANS.lock ]; then
  diff PLANS.lock "$OUT/PLANS.lock.new" >"$OUT/planlock.diff" 2>&1
  PLANDIFF_RC=$?
else
  echo "planlock run failed or no committed PLANS.lock" >"$OUT/planlock.diff"
  PLANDIFF_RC=2
fi

echo "[roundcheck] 3c/5 STREAMPLANS.lock diff gate"
# Same contract as PLANS.lock, for the RUNTIME stateful streaming
# plans (state-store chains, watermark placement/delay, output modes,
# stream-stream join types) — see graft.tools.StreamPlanLock.
SPARK_GRAFT_PLANLOCK_SF="$SF_PLANLOCK" \
  sbt -batch "runMain graft.tools.StreamPlanLock $OUT/STREAMPLANS.lock.new" \
  >"$OUT/streamplanlock.log" 2>&1
SPLANLOCK_RC=$?
if [ $SPLANLOCK_RC -eq 0 ] && [ -f STREAMPLANS.lock ]; then
  diff STREAMPLANS.lock "$OUT/STREAMPLANS.lock.new" \
    >"$OUT/streamplanlock.diff" 2>&1
  SPLANDIFF_RC=$?
else
  echo "streamplanlock run failed or no committed STREAMPLANS.lock" \
    >"$OUT/streamplanlock.diff"
  SPLANDIFF_RC=2
fi

echo "[roundcheck] 4/5 graft.Bench $SF_BENCH"
# The bench is only evidence when it ran on the contract's core count
# AND the contention canary stayed quiet — round 7 shipped a 4-CPU,
# contended artifact as the round number. Bench itself retries a
# contended attempt up to 3 times per invocation (round 9), so the
# outer loop here is a second safety net (fresh-JVM retry), default 2;
# a still-contended final attempt is kept but annotated, and the gate
# below downgrades to PASS_CONTENDED.
BENCH_RETRIES=${BENCH_RETRIES:-2}
BENCH_BACKOFF=${BENCH_BACKOFF:-60}
BENCH_RC=1
for attempt in $(seq 1 "$BENCH_RETRIES"); do
  echo "[roundcheck]   bench attempt $attempt/$BENCH_RETRIES"
  SPARK_GRAFT_SF_DIR="$SF_BENCH" \
    SPARK_GRAFT_BENCH_DETAIL="$OUT/bench_detail.json" \
    sbt -batch "runMain graft.Bench" >"$OUT/bench.log" 2>&1
  BENCH_RC=$?
  QUIET=$(python3 - "$OUT/bench_detail.json" <<'PYEOF'
import json, sys
try:
    d = json.load(open(sys.argv[1]))
    cpus = int(d.get("cpus", 0))
    c = d.get("canary") or {}
    ok = (cpus >= 32 and c.get("available", True)
          and float(c.get("drift", 99)) <= 1.3)
    print("quiet" if ok else f"noisy cpus={cpus} drift={c.get('drift')}")
except Exception as e:
    print(f"noisy parse_error={e}")
PYEOF
)
  echo "[roundcheck]   bench attempt $attempt: $QUIET (rc=$BENCH_RC)"
  if [ "$BENCH_RC" -eq 0 ] && [ "$QUIET" = "quiet" ]; then break; fi
  [ "$attempt" -lt "$BENCH_RETRIES" ] && sleep "$BENCH_BACKOFF"
done

echo "[roundcheck] 4b/5 bench-coverage gate"
# Machine-check the bench exclusion list (round 11): every declared
# batch query must be benched or excluded, every concrete exclusion
# must name a benched scale twin, every declared st_ query must appear
# in the bench streaming section. The script selftests its own
# negative fixtures first — a gate that can't catch a violation is a
# failed gate.
python3 tools/bench_coverage_check.py --selftest \
  >"$OUT/benchcov.log" 2>&1 \
  && python3 tools/bench_coverage_check.py \
       "$OUT/bench_detail.json" "$OUT/verify" >>"$OUT/benchcov.log" 2>&1
BENCHCOV_RC=$?

echo "[roundcheck] 5/5 perfbench selftest"
# perfbench compiles src/main in its OWN sbt build, which the root
# `sbt test` above never builds — so a src/main change can break the
# pipeline benchmark without any other step noticing. Hard gate.
python3 perfbench/run.py --selftest >"$OUT/perfbench_selftest.log" 2>&1
PERFBENCH_RC=$?

python3 - "$OUT" "$TEST_RC" "$VERIFY_RC" "$ORACLE_RC" "$BENCH_RC" "$PLANDIFF_RC" "$SPLANDIFF_RC" "$BENCHCOV_RC" "$PERFBENCH_RC" "$DEMO_RC" "$LOCALFS_RC" <<'EOF'
import json, re, sys
out, test_rc, verify_rc, oracle_rc, bench_rc, plandiff_rc, splandiff_rc, \
    benchcov_rc, perfbench_rc, demo_rc, localfs_rc = (
        sys.argv[1], *map(int, sys.argv[2:12]))

summary = {"gate": None}

# sbt test runs: the scalatest epilogue
# (summed over every testOnly the step's sbt run made)
def scalatest(key, log, rc):
    txt = open(f"{out}/{log}", errors="replace").read()
    m = re.findall(r"Tests: succeeded (\d+), failed (\d+)", txt)
    summary[key] = {
        "rc": rc,
        "succeeded": sum(int(s) for s, _ in m) if m else None,
        "failed": sum(int(f) for _, f in m) if m else None,
    }

scalatest("tests", "sbt_test.log", test_rc)
summary["pipeline_demo"] = {"rc": demo_rc}
scalatest("commit_specs_localfs", "commit_specs_localfs.log", localfs_rc)

# verify + tolerance. A missing/unreadable tolerance file after a
# clean verify run is a HARD failure, not a vacuous 0==0 pass — the
# silent-divergence mode this gate exists to prevent.
tol = None
try:
    tol = json.load(open(f"{out}/verify/tolerance_check.json"))
except Exception:
    pass
summary["verify"] = {
    "rc": verify_rc,
    "tolerance_file": tol is not None,
    "tolerance_total": len(tol) if tol else 0,
    "tolerance_pass": sum(1 for v in tol.values() if v.get("pass"))
        if tol else 0,
}

# oracle compare: oracle_check's epilogue "== N/M queries match"
summary["oracle"] = {"rc": oracle_rc}
try:
    otxt = open(f"{out}/oracle.log", errors="replace").read()
    om = re.search(r"== (\d+)/(\d+) queries match", otxt)
    if om:
        summary["oracle"].update(
            match=int(om.group(1)), total=int(om.group(2)))
    elif "skipped" in otxt:
        summary["oracle"]["skipped"] = True
except Exception:
    pass

# plan-fingerprint locks: any drift vs the committed PLANS.lock /
# STREAMPLANS.lock is a hard failure (intentional changes commit the
# regenerated lock)
summary["plans"] = {"rc": plandiff_rc}
try:
    dtxt = open(f"{out}/planlock.diff", errors="replace").read()
    changed = [l[2:].split("\t")[0] for l in dtxt.splitlines()
               if l.startswith(("< ", "> ")) and "\t" in l]
    summary["plans"]["changed"] = sorted(set(changed))
except Exception:
    pass
summary["stream_plans"] = {"rc": splandiff_rc}
try:
    dtxt = open(f"{out}/streamplanlock.diff", errors="replace").read()
    changed = [l[2:].split("\t")[0] for l in dtxt.splitlines()
               if l.startswith(("< ", "> ")) and "\t" in l]
    summary["stream_plans"]["changed"] = sorted(set(changed))
except Exception:
    pass

# bench: the one-line JSON + the canary verdict from the detail file
summary["bench"] = {"rc": bench_rc}
try:
    btxt = open(f"{out}/bench.log", errors="replace").read()
    bl = [l for l in btxt.splitlines() if l.startswith('{"metric"')]
    if bl:
        b = json.loads(bl[-1])
        summary["bench"].update(
            total_sec=b.get("value"), nq=b.get("nq"),
            cpus=b.get("cpus"),
            canary_drift=b.get("canary_drift"),
            contended=b.get("contended"),
            streaming_total=b.get("streaming_total"),
            failed=b.get("failed"))
    d = json.load(open(f"{out}/bench_detail.json"))
    summary["bench"]["canary"] = d.get("canary")
    summary["bench"]["cpus"] = d.get("cpus")
    summary["bench"]["host_cpus"] = d.get("host_cpus")
    summary["bench"]["attempts"] = d.get("attempts")
    summary["bench"]["probe"] = d.get("probe")
    # Bench's own embedded self-adjudication (round 10): over-2x flags
    # vs the committed prior, with idle re-measures — surfaced so the
    # gate artifact carries the adjudication even when this script's
    # epoch step is skipped (fresh clone, no committed prior)
    emb = d.get("epoch_vs_prior") or {}
    summary["bench"]["epoch_embedded"] = {
        k: emb.get(k) for k in ("probe_ratio", "over_2x",
                                "idle_remeasure",
                                "confirmed_after_remeasure", "skipped")
        if k in emb}
    # a run on fewer cores than the 32 the round contract specifies is
    # never clean evidence, whatever its canary says. (Stamped BEFORE
    # the epoch block: an error reading the committed prior detail
    # must never skip this check.)
    if (d.get("cpus") or 0) < 32:
        summary["bench"]["contended"] = True
        summary["bench"]["undersized"] = True
    # EPOCH-NORMALIZED regression check: per-query ratios vs the
    # committed prior-round detail, divided by the deterministic-probe
    # ratio (geometric mean of the jvm and shuffle probes) so a
    # machine-epoch change (rounds 6->8: a uniform 1.56x that cost two
    # verdict cycles) never reads as a code regression — and a real
    # one can't hide behind "the box is slow today".
    try:
        prior = json.load(open("bench_detail.json"))
        pp, cp = prior.get("probe") or {}, d.get("probe") or {}
        probes_ok = all(
            isinstance(x.get(k), (int, float)) and x.get(k) > 0
            for x in (pp, cp) for k in ("jvm", "shuffle"))
        if probes_ok:
            # machine-speed signal = geometric mean of the jvm probe,
            # the shuffle probe, AND the canary median ratio when both
            # details carry one: the canary median (15 samples of
            # median-of-3 through the whole run) is far stabler than
            # the once-per-attempt shuffle probe, whose solo swings
            # (0.42-0.62 s across quiet runs) inflated normalized
            # ratios ~1.3x and flagged four pure-noise rows in the
            # round-9 closing gate.
            sig = [cp["jvm"] / pp["jvm"], cp["shuffle"] / pp["shuffle"]]
            pc = ((prior.get("canary") or {}).get("median") or 0,
                  (d.get("canary") or {}).get("median") or 0)
            if pc[0] > 0 and pc[1] > 0:
                sig.append(pc[1] / pc[0])
            probe_ratio = 1.0
            for r in sig:
                probe_ratio *= r
            probe_ratio **= 1.0 / len(sig)
            pq, cq = prior.get("queries") or {}, d.get("queries") or {}
            ps, cs = prior.get("spread") or {}, d.get("spread") or {}
            over = {}
            for name, prev in pq.items():
                cur = cq.get(name)
                if not prev or not cur or prev <= 0 or cur <= 0:
                    continue
                norm = (cur / prev) / probe_ratio
                # a real shift must clear the other run's rep spread:
                # current MIN above prior MAX (both details carry
                # [min, median, max] per query) — medians that swap
                # places inside overlapping spreads are rep noise
                p_max = (ps.get(name) or [0, 0, prev])[2]
                c_min = (cs.get(name) or [cur, 0, 0])[0]
                if norm > 2.0 and cur - prev > 0.2 and c_min > p_max:
                    over[name] = round(norm, 2)
            summary["epoch"] = {
                "probe_ratio": round(probe_ratio, 3),
                "signals": len(sig),
                "normalized_over_2x": over,
                "count": len(over),
            }
        else:
            summary["epoch"] = {
                "skipped": "probe fields missing/non-positive in prior "
                           "or current bench_detail.json"}
    except FileNotFoundError:
        summary["epoch"] = {"skipped": "no committed prior bench_detail.json"}
    except Exception as e:
        # any failure of the compare itself (corrupt prior JSON, a
        # malformed field in either detail) skips the epoch step
        # LOUDLY instead of escaping to the outer handler — and names
        # the error, not a guessed culprit
        summary["epoch"] = {"skipped": f"epoch compare failed: {e}"}
except Exception as e:
    summary["bench"]["parse_error"] = str(e)

# bench-coverage gate (round 11): exclusion list vs declared/benched
summary["bench_coverage"] = {"rc": benchcov_rc}
try:
    ctxt = open(f"{out}/benchcov.log", errors="replace").read()
    cm = re.search(
        r"== bench coverage: (\d+) declared, (\d+) benched, (\d+) violations",
        ctxt)
    if cm:
        summary["bench_coverage"].update(
            declared=int(cm.group(1)), benched=int(cm.group(2)),
            violations=int(cm.group(3)))
    bad = [l for l in ctxt.splitlines()
           if l and not l.startswith(("==", "SELFTEST"))]
    if bad:
        summary["bench_coverage"]["detail"] = bad[:10]
except Exception:
    pass

# perfbench selftest: its sbt test epilogue
summary["perfbench_selftest"] = {"rc": perfbench_rc}
try:
    ptxt = open(f"{out}/perfbench_selftest.log", errors="replace").read()
    pm = re.findall(r"Tests: succeeded (\d+), failed (\d+)", ptxt)
    if pm:
        summary["perfbench_selftest"].update(
            succeeded=int(pm[-1][0]), failed=int(pm[-1][1]))
except Exception:
    pass

hard_fail = (
    test_rc != 0 or verify_rc != 0 or oracle_rc > 0 or bench_rc != 0
    or plandiff_rc != 0 or splandiff_rc != 0 or benchcov_rc != 0
    or perfbench_rc != 0 or demo_rc != 0 or localfs_rc != 0
    or (summary["tests"]["failed"] or 0) > 0
    or (summary["commit_specs_localfs"]["failed"] or 0) > 0
    # a clean verify must have produced a NON-EMPTY tolerance set;
    # missing file and empty {} both mean no check actually ran
    or (verify_rc == 0 and summary["verify"]["tolerance_total"] == 0)
    or summary["verify"]["tolerance_pass"]
        != summary["verify"]["tolerance_total"]
    or (summary["oracle"].get("match") is not None
        and summary["oracle"]["match"] != summary["oracle"]["total"]))
summary["gate"] = "FAIL" if hard_fail else (
    "PASS_CONTENDED" if summary["bench"].get("contended") else "PASS")

with open("ROUNDCHECK.json", "w") as f:
    json.dump(summary, f, indent=1)
print(json.dumps(summary, indent=1))
sys.exit(1 if hard_fail else 0)
EOF
RC=$?
echo "[roundcheck] summary written to ROUNDCHECK.json (exit $RC)"
exit $RC
