#!/usr/bin/env bash
# One-command replica of every local gate, in the order that fails
# fastest: registry pins (1 s), full pytest (~4 min), the benchmark's
# own unit tests (perfbench/tests, seconds), sf0.01 oracle
# sweep (~15 min), FULL-REGISTRY driver-gate replica under typed
# Arrow-fetch semantics (~15 min — the r9 lesson: check_oracle's str()
# compare cannot see what the driver's typed fetch sees, so every
# registry entry must also pass the replica), the independent
# from-scratch comparator (r12: standing tier; r13: --strict-order —
# every declared-ORDER-BY oracle must compare ORDER-IDENTICAL, the
# nullable sort keys are NULLS-pinned), sf0.1 batched scale sweep
# (~25 min), bench.
# Usage: bash tools/gate.sh [--quick|--full]
#   --quick  stops after the sf0.01 independent comparator
#   --full   additionally runs the big-tier battery (r13: now INCLUDING
#            the C2 typed replica and C3 independent comparator at
#            every tier, so --full reproduces the whole standing-gate
#            matrix instead of leaving the big C3/C2 legs to manual
#            one-offs): hostile no-NaN str sweep + C3, sf0.1 typed
#            replica + C3, sf1.0 str sweep + typed replica + C3
#            (regenerates testdata_big/sf1.0 if absent; ~3 h extra).
#            Sweeps run SEQUENTIALLY — see docs/BENCH_NOTES.md r11 for
#            the concurrent-spill caveat the per-pid temp dirs close.
# Artifact convention (docs/ARTIFACTS.md): the unsuffixed docs/ paths
# written here are WORKING COPIES, gitignored; each round's keepers are
# committed as _r{N}-suffixed snapshots and indexed in ARTIFACTS.md.
# r14 (ADVICE r13 #3): every output now carries a run-provenance
# record (HEAD, sha256 of `git diff HEAD`, timestamp — tools/run_meta.py):
# the JSON reports embed it as "_meta"; the tee'd sweep .txt files get
# it as a header line here (kept OUT of indep_check.py so the C3
# comparator still shares zero code with the rest of the gate family).
# A committed _r{N} snapshot is thus verifiably tied to the tree that
# produced it — a stale or hand-renamed working copy can't pass as a
# fresh re-run.
set -euo pipefail
cd "$(dirname "$0")/.."
python -m pytest tests/test_registry.py -q
python tools/lint_oracle_types.py
python -m pytest tests/ -x -q
python3 -m pytest perfbench/tests -q
python tools/check_oracle.py /root/testdata/sf0.01
python tools/driver_gate_replica.py /root/testdata/sf0.01 220 docs/GATE_REPLICA_full.json
# Independent from-scratch comparator (zero shared code with the two
# tools above; tests/test_indep_check.py pins that) — a comparator bug
# in the standing family would have to be reproduced here to hide.
{ python tools/run_meta.py && python tools/indep_check.py /root/testdata/sf0.01 --strict-order; } | tee docs/INDEP_SWEEP.txt
if [[ "${1:-}" != "--quick" ]]; then
    { python tools/run_meta.py && python tools/scale_sweep.py; } | tee docs/SCALE_SWEEP_sf0.1.txt
    if [[ "${1:-}" == "--full" ]]; then
        python tools/hostile_data_sweep.py testdata_hostile_nonan
        { python tools/run_meta.py && python tools/indep_check.py "$PWD/testdata_hostile_nonan" --strict-order; } | tee docs/INDEP_SWEEP_hostile.txt
        python tools/typed_scale_sweep.py /root/testdata/sf0.1 docs/GATE_REPLICA_sf0.1.json
        { python tools/run_meta.py && python tools/indep_check.py /root/testdata/sf0.1 --strict-order; } | tee docs/INDEP_SWEEP_sf0.1.txt
        [[ -d testdata_big/sf1.0 ]] || python tools/make_scale_data.py
        { python tools/run_meta.py && python tools/scale_sweep.py "$PWD/testdata_big/sf1.0"; } | tee docs/SF1_SWEEP.txt
        python tools/typed_scale_sweep.py "$PWD/testdata_big/sf1.0" docs/GATE_REPLICA_sf1.0.json
        { python tools/run_meta.py && python tools/indep_check.py "$PWD/testdata_big/sf1.0" --strict-order; } | tee docs/INDEP_SWEEP_sf1.0.txt
    fi
    python bench.py
fi
echo "ALL GATES GREEN"
