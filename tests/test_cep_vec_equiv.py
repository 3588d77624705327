"""r14: the vectorized fork/loop steppers (cep_vec searchsorted
chains) must be BIT-IDENTICAL to the scalar per-event steppers they
replace — counts, emitted frames, and state rows, across micro-batch
boundaries, under strict awaits, veto bits, until kills, consecutive()
and within-horizon expiry. Randomized differential testing with fixed
seeds: every case drives both implementations over the same multi-
batch stream through the applyInPandasWithState calling convention
(no Spark needed — the steppers are plain generators)."""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_tutorial_broadcast_spark.cep import (  # noqa: E402
    fork_group_loop_stepper, fork_group_loop_stepper_scalar,
    fork_loop_combos_stepper, fork_loop_combos_stepper_scalar,
    fork_loop_stepper, fork_loop_stepper_scalar, fork_stepper,
    fork_stepper_scalar, group_zom_stepper, group_zom_stepper_scalar,
    relaxed_stepper, relaxed_within_stepper, zero_or_more_stepper,
    zero_or_more_stepper_scalar,
)


class _St:
    """The applyInPandasWithState GroupState surface the steppers use."""
    hasTimedOut = False

    def __init__(self):
        self._s = None

    @property
    def exists(self):
        return self._s is not None

    @property
    def get(self):
        return self._s

    def update(self, v):
        self._s = v

    def remove(self):
        self._s = None

    def getCurrentWatermarkMs(self):
        return 0

    def setTimeoutTimestamp(self, ms):
        pass


def _mk_batches(rng, n_events, n_batches, n_bits, dense_us):
    """Random masked event stream split into batches: timestamps are
    non-decreasing with occasional ties (tiebreak = event_id), masks
    uniform over 2^n_bits (0 included — irrelevant events)."""
    ts, eids, cs = [], [], []
    t = 0
    for i in range(n_events):
        t += rng.choice([0, dense_us // 4, dense_us, dense_us * 3])
        ts.append(t)
        eids.append(i)
        cs.append(rng.randrange(0, 1 << n_bits))
    cut = sorted(rng.sample(range(n_events + 1), n_batches - 1)) \
        if n_batches > 1 else []
    bounds = [0, *cut, n_events]
    batches = []
    for lo, hi in zip(bounds, bounds[1:]):
        pdf = pd.DataFrame({
            "k": ["x"] * (hi - lo),
            "ts": pd.to_datetime(np.asarray(ts[lo:hi], dtype="int64")
                                 * 1000, utc=True).tz_localize(None),
            "event_id": np.asarray(eids[lo:hi], dtype="int64"),
            "__m": np.asarray(cs[lo:hi], dtype="int64"),
        })
        batches.append(pdf)
    return batches


def _drive(factory_args_pairs, batches):
    """Run both steppers over the same batch sequence; return the
    emitted frames + final state of each."""
    outs = []
    for fn in factory_args_pairs:
        st = _St()
        frames = []
        for pdf in batches:
            for out in fn(("x",), iter([pdf]), st):
                frames.append(out.to_dict("list"))
        outs.append((frames, st._s))
    return outs


def _norm_state(s):
    """States may hold numpy scalars vs Python ints — normalize."""
    if s is None:
        return None
    out = []
    for v in s:
        if isinstance(v, (list, tuple)):
            out.append([int(x) for x in v])
        else:
            out.append(int(v))
    return out


def _assert_same(a, b, ctx):
    fa, sa = a
    fb, sb = b
    assert fa == fb, (ctx, fa, fb)
    assert _norm_state(sa) == _norm_state(sb), (ctx, sa, sb)


BITS = [1, 2, 4, 8]


@pytest.mark.parametrize("seed", range(30))
def test_fork_stepper_equivalence(seed):
    rng = random.Random(seed)
    K = rng.choice([2, 3, 4])
    codes = [rng.choice(BITS) for _ in range(K)]
    strict = [False] + [rng.random() < 0.3 for _ in range(K - 1)]
    veto = [0] * K
    if rng.random() < 0.4:
        j = rng.randrange(1, K)
        if not strict[j]:
            v = rng.choice([b for b in BITS if b != codes[j]])
            veto[j] = v
    within = rng.choice([None, 2_000, 20_000])
    batches = _mk_batches(rng, rng.randrange(30, 120),
                          rng.choice([1, 2, 3]), 4, 1_000)
    a = _drive([fork_stepper_scalar(None, codes, within, strict,
                                    ["k"], veto)], batches)[0]
    b = _drive([fork_stepper(None, codes, within, strict,
                             ["k"], veto)], batches)[0]
    _assert_same(a, b, (seed, K, codes, strict, veto, within))


@pytest.mark.parametrize("seed", range(30))
def test_fork_loop_stepper_equivalence(seed):
    rng = random.Random(1000 + seed)
    K = rng.choice([2, 3, 4])
    codes = [rng.choice(BITS) for _ in range(K)]
    strict = [False] + [rng.random() < 0.25 for _ in range(K - 2)] \
        + [False]
    until = rng.choice([0, 0, 8])
    consec = rng.random() < 0.4
    within = rng.choice([2_000, 20_000])
    batches = _mk_batches(rng, rng.randrange(30, 120),
                          rng.choice([1, 2, 3]), 4, 1_000)
    a = _drive([fork_loop_stepper_scalar(None, codes, within, strict,
                                         ["k"], until, consec)],
               batches)[0]
    b = _drive([fork_loop_stepper(None, codes, within, strict,
                                  ["k"], until, consec)], batches)[0]
    _assert_same(a, b, (seed, K, codes, strict, until, consec, within))


@pytest.mark.parametrize("seed", range(20))
def test_zero_or_more_stepper_equivalence(seed):
    rng = random.Random(2000 + seed)
    K = rng.choice([2, 3, 4])
    codes = [rng.choice(BITS) for _ in range(K)]
    strict = [False] + [rng.random() < 0.25 for _ in range(K - 2)] \
        + [False]
    until = rng.choice([0, 8])
    within = rng.choice([2_000, 20_000])
    batches = _mk_batches(rng, rng.randrange(30, 100),
                          rng.choice([1, 2, 3]), 4, 1_000)
    a = _drive([zero_or_more_stepper_scalar(codes, within, strict,
                                            ["k"], until)], batches)[0]
    b = _drive([zero_or_more_stepper(codes, within, strict,
                                     ["k"], until)], batches)[0]
    _assert_same(a, b, (seed, K, codes, strict, until, within))


@pytest.mark.parametrize("seed", range(20))
def test_fork_group_loop_stepper_equivalence(seed):
    rng = random.Random(3000 + seed)
    K = rng.choice([2, 3, 4])
    gl = rng.randrange(1, K)
    codes = [rng.choice(BITS) for _ in range(K)]
    within = rng.choice([2_000, 20_000])
    batches = _mk_batches(rng, rng.randrange(30, 90),
                          rng.choice([1, 2]), 4, 1_000)
    a = _drive([fork_group_loop_stepper_scalar(codes, gl, within,
                                               ["k"])], batches)[0]
    b = _drive([fork_group_loop_stepper(codes, gl, within,
                                        ["k"])], batches)[0]
    _assert_same(a, b, (seed, K, gl, codes, within))


@pytest.mark.parametrize("seed", range(20))
def test_group_zom_stepper_equivalence(seed):
    rng = random.Random(4000 + seed)
    K = rng.choice([2, 3, 4])
    gl = rng.randrange(1, K)
    codes = [rng.choice(BITS) for _ in range(K)]
    within = rng.choice([2_000, 20_000])
    batches = _mk_batches(rng, rng.randrange(30, 90),
                          rng.choice([1, 2]), 4, 1_000)
    a = _drive([group_zom_stepper_scalar(codes, gl, within, ["k"])],
               batches)[0]
    b = _drive([group_zom_stepper(codes, gl, within, ["k"])],
               batches)[0]
    _assert_same(a, b, (seed, K, gl, codes, within))


@pytest.mark.parametrize("seed", range(20))
def test_fork_loop_combos_stepper_equivalence(seed):
    rng = random.Random(5000 + seed)
    K = rng.choice([2, 3])
    codes = [rng.choice(BITS) for _ in range(K)]
    until = rng.choice([0, 8])
    within = rng.choice([2_000, 20_000])
    batches = _mk_batches(rng, rng.randrange(20, 60),
                          rng.choice([1, 2, 3]), 4, 1_000)
    a = _drive([fork_loop_combos_stepper_scalar(codes, within, None,
                                                ["k"], until)],
               batches)[0]
    b = _drive([fork_loop_combos_stepper(codes, within, None,
                                         ["k"], until)], batches)[0]
    _assert_same(a, b, (seed, K, codes, until, within))


def test_fork_loop_combos_density_fault_matches_scalar():
    """The closed-form register guard must fault exactly where the
    scalar per-close loop does, with the same message."""
    rng = random.Random(9)
    # one anchor then 64 closes inside the horizon
    rows = pd.DataFrame({
        "k": ["x"] * 65,
        "ts": pd.to_datetime(np.arange(65, dtype="int64") * 1_000_000,
                             utc=True).tz_localize(None),
        "event_id": np.arange(65, dtype="int64"),
        "__m": np.asarray([1] + [2] * 64, dtype="int64"),
    })
    del rng
    for fac in (fork_loop_combos_stepper_scalar,
                fork_loop_combos_stepper):
        st = _St()
        fn = fac([1, 2], 10**9, None, ["k"], 0)
        with pytest.raises(ValueError,
                           match="register for key .* reached"):
            for _ in fn(("x",), iter([rows]), st):
                pass


def _combos_outcome(fn, batches, state):
    """Drive one combos stepper from a preset state: the fault message
    it raises, or its frames and final state."""
    st = _St()
    st._s = state
    frames = []
    try:
        for pdf in batches:
            for out in fn(("x",), iter([pdf]), st):
                frames.append(out.to_dict("list"))
    except ValueError as e:
        return str(e)
    return frames, _norm_state(st._s)


def test_fork_loop_combos_density_fault_names_earliest_close():
    """Two runs trip in one batch, in the opposite of the vectorized
    arrays' order: the run carried in the awaiting set (first in the
    arrays) reaches the bound at its 63rd close, the parked run carried
    in state (last in the arrays) at its first. The fault must name the
    parked run's register, as the scalar per-close loop does."""
    limit = 1 << 61
    n = 64
    rows = pd.DataFrame({
        "k": ["x"] * n,
        "ts": pd.to_datetime(np.arange(1, n + 1, dtype="int64")
                             * 1_000_000, utc=True).tz_localize(None),
        "event_id": np.arange(n, dtype="int64"),
        "__m": np.full(n, 2, dtype="int64"),
    })
    # (cnt, awaiting set s1, parked anchors, parked registers)
    state = (0, [500_000], [0], [limit + 5])
    want = _combos_outcome(
        fork_loop_combos_stepper_scalar([1, 2], 10**9, None, ["k"], 0),
        [rows], state)
    assert f"c={limit + 5} " in want
    got = _combos_outcome(
        fork_loop_combos_stepper([1, 2], 10**9, None, ["k"], 0),
        [rows], state)
    assert got == want


@pytest.mark.parametrize("seed", range(20))
def test_fork_loop_combos_fault_parity_randomized(seed):
    """Parked registers near the exact-BIGINT bound, carried in state:
    scalar and vectorized steppers fault with the same message or not
    at all (then with identical frames and state)."""
    rng = random.Random(7000 + seed)
    limit = 1 << 61
    K = rng.choice([2, 3])
    codes = [1, 2, 4][:K]
    until = rng.choice([0, 8])
    within = rng.choice([20_000, 200_000])
    batches = _mk_batches(rng, rng.randrange(40, 90),
                          rng.choice([1, 2]), 4, 1_000)
    t0 = int(batches[0]["ts"].iloc[0].value // 1000) if len(batches[0]) \
        else 0
    anchors = sorted(t0 - rng.randrange(0, within)
                     for _ in range(rng.randrange(1, 5)))
    regs = [rng.choice([limit - rng.randrange(1, 1 << 40),
                        limit + rng.randrange(0, 1 << 40),
                        (1 << rng.randrange(40, 62)) - 1])
            for _ in anchors]
    parked = sorted(zip(anchors, regs))
    sets = [sorted(t0 - rng.randrange(0, within)
                   for _ in range(rng.randrange(0, 3)))
            for _ in range(K - 1)]
    state = (0, *sets, [a for a, _ in parked], [r for _, r in parked])
    a = _combos_outcome(fork_loop_combos_stepper_scalar(
        codes, within, None, ["k"], until), batches, state)
    b = _combos_outcome(fork_loop_combos_stepper(
        codes, within, None, ["k"], until), batches, state)
    assert a == b, (seed, K, until, within, state)


@pytest.mark.parametrize("seed", range(25))
def test_relaxed_steppers_equivalence(seed):
    """The single-anchor steppers carry a whole run in their O(1)
    state (cnt, stage[, anchor]): driving the events over several
    micro-batches must end with the same last emitted row and the same
    state as one micro-batch holding all of them."""
    rng = random.Random(6000 + seed)
    K = rng.choice([1, 2, 3, 4])
    codes = [rng.choice(BITS) for _ in range(K)]
    strict = [False] + [rng.random() < 0.3 for _ in range(K - 1)]
    veto = [0] * K
    if K > 1 and rng.random() < 0.4:
        j = rng.randrange(1, K)
        v = rng.choice([b for b in BITS if b != codes[j]])
        veto[j] = v
    within = rng.choice([2_000, 20_000])
    batches = _mk_batches(rng, rng.randrange(30, 120),
                          rng.choice([2, 3, 4]), 4, 1_000)
    whole = [pd.concat(batches, ignore_index=True)]
    for name, make in (
            ("relaxed", lambda: relaxed_stepper(None, codes, strict,
                                                ["k"], veto)),
            ("within", lambda: relaxed_within_stepper(
                None, codes, within, strict, ["k"], veto))):
        (split_frames, split_state), = _drive([make()], batches)
        (one_frames, one_state), = _drive([make()], whole)
        ctx = (name, seed, K, codes, strict, veto, within)
        assert split_frames[-1] == one_frames[-1], ctx
        assert _norm_state(split_state) == _norm_state(one_state), ctx
