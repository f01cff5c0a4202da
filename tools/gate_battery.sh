#!/bin/bash
# Round-closing gate battery (the recertification protocol BENCH_NOTES
# records each round, committed as a script instead of shell history):
# seven sequential correctness passes — sf0.001, five sf0.01 ablations
# (cold stores, warm stores, NO_CODEGEN, AQE-off, artifact cache off),
# and the sf0.1 sweep trimmed of the nine heavy-oracle contract
# exclusions (those are covered by SWEEP01) — followed by the machine
# plan audit, the full test suite, the SCALE10 completeness guard, and
# the bench-pair thermometer gate. Run from the repo root on an
# otherwise-idle host.
#
# Round-17 hardening (r16 ADVICE medium: the old form discarded every
# sbt exit status and scored stale /tmp output dirs, so a crashed
# Verify run could print a false PASS from the previous round's
# parquet): set -uo pipefail (-e deliberately omitted — a failing gate
# must record FAILED and keep the battery running, not abort it),
# every output dir is wiped before its run, every sbt exit code is
# checked (nonzero => the pass is recorded FAILED, the battery
# continues so one broken ablation doesn't hide the others, and the
# battery exits nonzero), and the verdicts land in GATES_r{N}.json
# (r16 item 3: round-close evidence as an artifact, not
# commit-message prose).
#
# Usage: tools/gate_battery.sh [round-number]   (default: 18)
set -uo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:-18}"
GATES="GATES_r${ROUND}.json"
OVERALL=0
ROWS=()

# JSON-escape free-form tool output before embedding it in the GATES
# artifact (r17 advice: a raw "$line" interpolation containing quotes
# or backslashes — a python traceback, an sbt error — yields invalid
# JSON exactly when the artifact matters most). Emits a QUOTED JSON
# string, so call sites use "key":$(jesc "$text") with no extra quotes.
jesc() {
  printf '%s' "$1" | python3 -c 'import json,sys; print(json.dumps(sys.stdin.read()))'
}

record() { # name, status, detail-json
  ROWS+=("{\"gate\":\"$1\",\"status\":\"$2\",$3}")
  echo "== $1: $2 ${4:-}"
  [ "$2" = "PASS" ] || OVERALL=1
}

run_pass() {
  local label="$1" sf="$2" out="$3"
  rm -rf "$out"
  if ! sbt -batch "runMain graft.Verify $sf $out" >/dev/null 2>&1; then
    record "$label" "FAILED" '"error":"Verify exited nonzero"'
    return
  fi
  local line
  line=$(python3 tools/verify_local.py "$sf" "$out" 2>&1 | tail -1)
  # expected shape: "<p> pass, <f> fail, <s> rows-only"
  local p f s
  p=$(echo "$line" | grep -oE '^[0-9]+ pass' | grep -oE '[0-9]+' || echo -1)
  f=$(echo "$line" | grep -oE '[0-9]+ fail' | grep -oE '[0-9]+' || echo -1)
  s=$(echo "$line" | grep -oE '[0-9]+ rows-only' | grep -oE '[0-9]+' || echo -1)
  if [ "$f" = "0" ] && [ "$p" -gt 0 ]; then
    record "$label" "PASS" "\"pass\":$p,\"fail\":$f,\"rows_only\":$s" "($line)"
  else
    record "$label" "FAILED" "\"pass\":$p,\"fail\":$f,\"rows_only\":$s,\"raw\":$(jesc "$line")"
  fi
}

echo "--- battery start $(date -u) round=$ROUND ---"
run_pass "sf0.001" /root/testdata/sf0.001 /tmp/v001
rm -rf target/tmp/artifact_store target/tmp/bpe_store
run_pass "sf0.01_COLD" /root/testdata/sf0.01 /tmp/v01c
run_pass "sf0.01_WARM" /root/testdata/sf0.01 /tmp/v01w
SPARK_GRAFT_CONF="spark.sql.codegen.wholeStage=false,spark.sql.codegen.factoryMode=NO_CODEGEN" \
  run_pass "sf0.01_NO_CODEGEN" /root/testdata/sf0.01 /tmp/v01n
SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false" \
  run_pass "sf0.01_AQE_OFF" /root/testdata/sf0.01 /tmp/v01a
SPARK_GRAFT_NO_ARTIFACT_CACHE=1 \
  run_pass "sf0.01_NO_CACHE" /root/testdata/sf0.01 /tmp/v01x

# sf0.1, trimmed of the heavy-oracle exclusions (their DuckDB replays
# deliberately re-run the naive formulation and exceed practical
# runtime at sf0.1 — SWEEP01 carries their full-scale invariants)
EXCL="dedup_components dedup_ngram_jaccard dedup_ngram_incremental \
pipe_corpus_clean pipe_corpus_clean_incremental evt_funnel \
pipe_dedup_keep_best pipe_dedup_keep_best_incremental pipe_admit_full"
rm -rf /tmp/v10
if ! sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/v10" >/dev/null 2>&1; then
  record "sf0.1_TRIMMED" "FAILED" '"error":"Verify exited nonzero"'
else
  rm -rf /tmp/v10trim && mkdir -p /tmp/v10trim
  for d in /tmp/v10/*/; do
    n=$(basename "$d"); skip=0
    for e in $EXCL; do [ "$n" = "$e" ] && skip=1; done
    [ $skip -eq 0 ] && ln -s "$d" "/tmp/v10trim/$n"
  done
  EXCL="$EXCL" python3 - <<'EOF'
import json, os
o = json.load(open('/tmp/v10/oracle_sql.json'))
excl = set(os.environ['EXCL'].split())
json.dump({k: v for k, v in o.items() if k not in excl},
          open('/tmp/v10trim/oracle_sql.json', 'w'))
EOF
  line=$(python3 tools/verify_local.py /root/testdata/sf0.1 /tmp/v10trim 2>&1 | tail -1)
  p=$(echo "$line" | grep -oE '^[0-9]+ pass' | grep -oE '[0-9]+' || echo -1)
  f=$(echo "$line" | grep -oE '[0-9]+ fail' | grep -oE '[0-9]+' || echo -1)
  s=$(echo "$line" | grep -oE '[0-9]+ rows-only' | grep -oE '[0-9]+' || echo -1)
  if [ "$f" = "0" ] && [ "$p" -gt 0 ]; then
    record "sf0.1_TRIMMED" "PASS" "\"pass\":$p,\"fail\":$f,\"rows_only\":$s" "($line)"
  else
    record "sf0.1_TRIMMED" "FAILED" "\"pass\":$p,\"fail\":$f,\"rows_only\":$s,\"raw\":$(jesc "$line")"
  fi
fi

# machine plan audit: PlanProbe hard-requires cartesian=0 and provable
# BNLJ bounds; a nonzero exit or missing census line is a FAIL
audit=$(SPARK_GRAFT_PLAN_ONLY=all sbt -batch 'runMain graft.PlanProbe /root/testdata/sf0.001' 2>&1)
rc=$?
census=$(echo "$audit" | grep -oE 'queries=[0-9]+ bnlj=[0-9]+ cartesian=[0-9]+ global_window=[0-9]+ violations=[0-9]+' | tail -1)
if [ $rc -eq 0 ] && [ -n "$census" ]; then
  record "plan_audit" "PASS" "\"census\":$(jesc "$census")" "($census)"
else
  record "plan_audit" "FAILED" "\"rc\":$rc,\"census\":$(jesc "${census:-none}")"
fi

# full test suite, counted from sbt's aggregate line over every test
# framework ("Passed: Total N, Failed F, Errors E, Passed P", with
# "Failed:" or "Error:" leading when something broke); ScalaTest's own
# "Tests: succeeded N" line leaves out the ScalaCheck properties
tests=$(sbt -batch test 2>&1 | grep -E "(Passed|Failed|Error): Total [0-9]+" | tail -1)
rc=$?
total=$(echo "$tests" | grep -oE 'Total [0-9]+' | grep -oE '[0-9]+' || echo -1)
fails=$(echo "$tests" | grep -oE 'Failed [0-9]+' | grep -oE '[0-9]+' || echo -1)
errs=$(echo "$tests" | grep -oE 'Errors [0-9]+' | grep -oE '[0-9]+' || echo -1)
succ=$(echo "$tests" | grep -oE 'Passed [0-9]+' | grep -oE '[0-9]+' || echo -1)
counts="\"total\":$total,\"succeeded\":$succ,\"failed\":$fails,\"errors\":$errs"
if [ $rc -eq 0 ] && [ "$fails" = "0" ] && [ "$errs" = "0" ] && [ "$succ" -gt 0 ]; then
  record "sbt_test" "PASS" "$counts" "($tests)"
else
  record "sbt_test" "FAILED" "$counts,\"raw\":$(jesc "$tests")"
fi

# parquet footers are read with the session's Hadoop conf: the
# one-argument ParquetFileReader.open(InputFile) builds a default
# Configuration, which re-parses the Hadoop XML defaults on every call
# (about 8 ms). Any call under src/ (main and test) whose argument list
# has no top-level comma fails the gate.
footer_check=$(python3 - <<'EOF'
import pathlib, re, sys
bad = []
for f in sorted(pathlib.Path("src").rglob("*.scala")):
    text = f.read_text()
    for m in re.finditer(r"ParquetFileReader\s*\.\s*open\s*\(", text):
        depth, commas, i = 1, 0, m.end()
        while i < len(text) and depth:
            c = text[i]
            if c in "([{":
                depth += 1
            elif c in ")]}":
                depth -= 1
            elif c == "," and depth == 1:
                commas += 1
            i += 1
        if commas == 0:
            bad.append(f"{f}:{text.count(chr(10), 0, m.start()) + 1}")
if bad:
    print("one-argument ParquetFileReader.open at " + ", ".join(bad))
    sys.exit(1)
print("every ParquetFileReader.open under src/ passes read options")
EOF
)
if [ $? -eq 0 ]; then
  record "footer_conf" "PASS" "\"detail\":$(jesc "$footer_check")"
else
  record "footer_conf" "FAILED" "\"detail\":$(jesc "$footer_check")"
fi

# the forecasting layer has one training path, the per-product local
# learners (ml/LocalTrees.scala); any org.apache.spark.ml (or .mllib)
# reference under src/main fails the gate
ml_refs=$(grep -rn "org\.apache\.spark\.ml" src/main)
if [ -z "$ml_refs" ]; then
  record "no_spark_ml" "PASS" '"detail":"no org.apache.spark.ml reference under src/main"'
else
  record "no_spark_ml" "FAILED" "\"detail\":$(jesc "$ml_refs")"
fi

# tools/plan_diff.py's own unit tests: the plan-identity checks trust
# its exit code, so a broken normaliser or parser must fail here first
pd=$(python3 -m unittest tools/test_plan_diff.py 2>&1)
if [ $? -eq 0 ]; then
  record "plan_diff_unittest" "PASS" "\"detail\":$(jesc "$(echo "$pd" | tail -1)")"
else
  record "plan_diff_unittest" "FAILED" "\"detail\":$(jesc "$(echo "$pd" | tail -5)")"
fi

# SCALE10 completeness guard: refuse to close a round on an artifact
# missing a section (ScaleRehearsal writes SCALE10.json only from an
# unfiltered run, so a section can only be missing if one never ran)
scale_check=$(python3 - <<'EOF'
import json, sys
want_top = {"families", "incremental", "admission", "overlap",
            "entity_hot", "chain_store", "emb_width", "fpost_maintain",
            "admit_full", "admit_ingest"}
want_fams = {"dedup_ngram_jaccard", "dedup_ngram_boiler",
             "dedup_minhash_lsh", "dedup_simhash", "dedup_containment",
             "dedup_entity_block", "mm_dedup_phash",
             "dedup_substring_spans", "dedup_substring_spans_boiler",
             "pipe_semdedup_fixed_k", "pipe_semdedup_scaled_k"}
try:
    d = json.load(open("SCALE10.json"))
except Exception as e:
    print(f"unreadable: {e}"); sys.exit(1)
missing = sorted(want_top - set(d)) + \
    sorted("families." + f for f in want_fams - set(d.get("families", {})))
if not d.get("admit_ingest", {}).get("x100"):
    missing.append("admit_ingest.x100")
if not d.get("entity_hot", {}).get("rows", {}).get("x100"):
    missing.append("entity_hot.rows.x100")
if missing:
    print("missing: " + ", ".join(missing)); sys.exit(1)
print("complete")
EOF
)
if [ $? -eq 0 ]; then
  record "scale10_complete" "PASS" '"detail":"all sections present"'
else
  record "scale10_complete" "FAILED" "\"detail\":$(jesc "$scale_check")"
fi

# bench-pair thermometer gate (r16 item 2: committed clean pairs
# measure spread 0.021-0.027 while a known-polluted pair passed the
# old <=0.2 band at 0.161 — the gate now reflects the thermometer's
# measured discriminating power: spread <= 0.05 on BOTH halves).
# Round-18 extension (r17 item 2): the single-thread probe cannot see
# multicore/IO contention — a 231 s cold run passed it at the
# committed 0.57 class — so each half's MULTI-thread probe readings
# (t_par_start/t_par_end) must additionally sit within +/-20% of the
# committed level in tools/therm_history.json's latest entry.
therm_check=$(python3 - <<'EOF'
import json, sys
bad = []
try:
    hist = json.load(open("tools/therm_history.json"))["history"]
    level = hist[-1]["t_par_level"]
except Exception as e:
    level = None
    bad.append(f"therm_history.json unreadable: {e}")
for f in ("BENCH_CLEAN.json", "BENCH_CLEAN_WARM.json"):
    try:
        d = json.load(open(f))
    except Exception as e:
        bad.append(f"{f}: unreadable {e}"); continue
    t = d.get("thermometer")
    if not t:
        bad.append(f"{f}: no thermometer"); continue
    if t.get("spread", 99) > 0.05:
        bad.append(f"{f}: spread {t['spread']} > 0.05")
    if level is not None:
        for k in ("t_par_start", "t_par_end"):
            v = t.get(k)
            if v is None:
                bad.append(f"{f}: no {k}")
            # +/-20% (r18 advice: the r18 history entry records level
            # 0.60 with documented in-window readings 0.556-0.70, so
            # the old +/-15% band rejected a capture at the window's
            # own upper edge — a flaky gate on known-clean captures)
            elif abs(v - level) / level > 0.20:
                bad.append(f"{f}: {k} {v} outside +/-20% of "
                           f"committed t_par level {level}")
if bad:
    print("; ".join(bad)); sys.exit(1)
print(f"both halves spread <= 0.05 and t_par within 20% of {level}")
EOF
)
if [ $? -eq 0 ]; then
  record "bench_thermometer" "PASS" "\"detail\":$(jesc "$therm_check")"
else
  record "bench_thermometer" "FAILED" "\"detail\":$(jesc "$therm_check")"
fi

# emit the artifact
{
  printf '{"round":%s,"utc":"%s","overall":"%s","gates":[' \
    "$ROUND" "$(date -u +%FT%TZ)" "$([ $OVERALL -eq 0 ] && echo PASS || echo FAILED)"
  IFS=,; printf '%s' "${ROWS[*]}"
  printf ']}\n'
} > "$GATES"
echo "--- battery end $(date -u) overall=$([ $OVERALL -eq 0 ] && echo PASS || echo FAILED) -> $GATES ---"
exit $OVERALL
