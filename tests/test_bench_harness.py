"""The bench harness's quiet-gate + probe instrumentation.

The scaling evidence (north_rule: throughput efficiency >= 0.8 from N to
4N cores) is only as credible as the harness that records it, so the
gate logic itself is pinned here: the single-thread CPU probe measures
instantaneous co-tenant pressure (load1 lags a minute — run 23 recorded
pair-start load1 of 0.01-0.87 while the probe showed 1.3-2.7x stretch),
and _wait_for_quiet must honor both thresholds and its deadline.
"""
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402


def test_cpu_probe_returns_positive_wall_seconds():
    p = bench._cpu_probe()
    assert isinstance(p, float)
    # ~0.1s on an idle core; an absurd reading would mean the fixed
    # workload changed (which would silently re-scale every recorded
    # stretch factor — fail loudly instead)
    assert 0.01 < p < 5.0


def test_wait_for_quiet_disabled_returns_immediately():
    t0 = time.time()
    bench._wait_for_quiet(0, probe_max=0)
    assert time.time() - t0 < 0.05


def test_wait_for_quiet_permissive_thresholds_pass_after_one_probe():
    t0 = time.time()
    bench._wait_for_quiet(1e9, probe_max=1e9)
    # one load read + one probe (~0.1s), no 30s sleep
    assert time.time() - t0 < 5.0


def test_wait_for_quiet_probe_gate_bounded_by_deadline():
    # probe can never beat 1 microsecond -> the gate must give up at the
    # deadline rather than spin forever
    t0 = time.time()
    bench._wait_for_quiet(1e9, max_wait_sec=0.05, probe_max=1e-6)
    assert time.time() - t0 < 35.0


def test_scaling_job_records_probe_and_load_fields():
    # contract only (no Spark run): the scaling JSON consumers
    # (BENCH/BASELINE.md adjudication) rely on these keys existing
    import inspect

    src = inspect.getsource(bench.scaling_job)
    assert '"load1_end"' in src
    assert '"probe"' in src


def test_probe_base_is_min_of_burst_and_memoized():
    # the sandbox migrates between hosts with ~2.5x single-thread clock
    # spread, and the FIRST probe after idle lands in the frequency
    # governor's ramp (measured 0.26-0.35s on an EMPTY box vs 0.11s
    # warm) — so the calibration must be a min-of-burst, memoized so
    # every gate comparison reads the same baseline
    bench._PROBE_BASE = None
    b1 = bench._probe_base()
    assert 0.01 < b1 < 5.0
    # memoized: a second call returns the identical object/value
    assert bench._probe_base() == b1
    # min-of-burst: the baseline can't exceed a fresh single probe by
    # much (it was the min over 7), allow generous co-tenant noise
    assert b1 <= bench._cpu_probe() * 1.5 + 0.05


def test_chain_break_has_direct_evidence_conditions():
    # contract: chaining must refuse to reuse a lo wall whose OWN trace
    # showed contention (probe stretch beyond the gate, or load1_end
    # beyond its own cores + gate headroom) — the decay budget alone
    # cannot distinguish self-residue from a just-ended co-tenant burst
    import inspect

    src = inspect.getsource(bench.main)
    assert "prev_lo_contended" in src
    assert 'prev_lo[0].get("probe"' in src
    assert 'prev_lo[0].get("load1_end"' in src
    # and the reuse condition must consult the evidence flag
    assert "not prev_lo_contended" in src
