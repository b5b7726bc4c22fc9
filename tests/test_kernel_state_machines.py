"""Hypothesis property tests for the streaming kernels' PURE state machines.

The Spark streaming tests pin a handful of concrete multi-batch scenarios;
these tests drive the same transition functions (``session_step``,
``transition_step``, ``funnel_step`` — the whole kernel logic, extracted to
module level) through hundreds of RANDOM arrival orders, batch splits, and
watermark schedules, checking each against a brute-force recomputation over
the surviving events.  No JVM involved, so the search is wide and fast.

Watermark model (mirrors Spark): the watermark before batch k is
max(event time arrived in batches < k) - DELAY; an event arriving with
ts < watermark is dropped before the kernel sees it; after the last batch
the engine keeps firing event-time timeouts while one is due.
"""

from __future__ import annotations

from functools import partial
from operator import itemgetter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hackatonbigdata_spark.streaming.jobs import (
    dgim_estimate,
    dgim_fold,
    drawdown_fold,
    fold_sessions,
    funnel_stage_times,
    funnel_step,
    refold_step,
    session_step,
    transition_step,
    transition_tail_counts,
    twa_fold,
)

DELAY = 15
GAP = 10

# an "arrival tape": list of (ts, payload) in arrival order, plus batch cuts
events_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=80), st.integers(-5, 5)),
    min_size=0,
    max_size=30,
)
cuts_strategy = st.lists(st.integers(0, 29), max_size=4)


def batches_of(tape, cuts):
    cuts = sorted({c for c in cuts if c < len(tape)})
    out, prev = [], 0
    for c in cuts:
        out.append(tape[prev:c])
        prev = c
    out.append(tape[prev:])
    return out


def drive(tape, cuts, step):
    """Run ``step(accepted_events, wm)`` per batch under the watermark
    model; returns (list of per-batch results, survivors, final_wm)."""
    results, survivors = [], []
    max_seen = None
    for batch in batches_of(tape, cuts):
        wm = (max_seen - DELAY) if max_seen is not None else 0
        wm = max(wm, 0)
        accepted = [e for e in batch if e[0] >= wm]
        survivors.extend(accepted)
        results.append(step(accepted, wm))
        for e in batch:
            max_seen = e[0] if max_seen is None else max(max_seen, e[0])
    final_wm = max(0, (max_seen - DELAY)) if max_seen is not None else 0
    return results, survivors, final_wm


@settings(max_examples=300, deadline=None)
@given(events_strategy, cuts_strategy)
def test_session_machine_emits_exactly_the_watermark_final_sessions(tape, cuts):
    """Across any arrival order and batch split, the emitted sessions must
    be EXACTLY the brute-force sessions of the surviving events whose
    close has passed the final watermark — no duplicates, no early or
    phantom emissions — with the boundary-timeout loop draining the rest."""
    tape = [(ts, v) for ts, v in tape]
    state = {"buf": [], "emitted": [], "timeout": None}

    def step(accepted, wm):
        buf, final, timeout = session_step(
            state["buf"], accepted, wm, gap_us=GAP
        )
        state["buf"], state["timeout"] = buf, timeout
        state["emitted"].extend(final)

    _, survivors, final_wm = drive(tape, cuts, step)
    # event-time timeout loop: keep firing while a pending boundary is due
    while state["timeout"] is not None and state["timeout"] <= final_wm:
        buf, final, timeout = session_step(state["buf"], [], final_wm, gap_us=GAP)
        state["buf"], state["timeout"] = buf, timeout
        state["emitted"].extend(final)
        if not final:
            break  # no progress (clamped-timeout analogue) — stop
    brute = fold_sessions(sorted(survivors), gap_us=GAP)
    want = [s for s in brute if s[1] + GAP <= final_wm]
    assert sorted(state["emitted"]) == sorted(want)
    # and the withheld tail is exactly the rest of the brute sessions
    assert sorted(state["emitted"] + fold_sessions(sorted(state["buf"]), gap_us=GAP)) == sorted(brute)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=80),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=0,
        max_size=30,
    ),
    cuts_strategy,
)
def test_transition_machine_delta_sum_equals_true_counts_after_every_batch(
    tape, cuts
):
    """The retractable-delta telescoping invariant: after EVERY batch, the
    cumulative delta sum equals the true in-event-time-order adjacent-pair
    counts of the events survived so far."""
    tape = [(ts, i, t) for i, (ts, t) in enumerate(tape)]  # unique eids
    state = {"last": None, "buf": [], "sum": {}}
    survivors = []
    max_seen = None
    for batch in batches_of(tape, cuts):
        wm = max(0, (max_seen - DELAY)) if max_seen is not None else 0
        accepted = [e for e in batch if e[0] >= wm]
        survivors.extend(accepted)
        last, buf, delta = transition_step(
            state["last"], state["buf"], accepted, wm
        )
        state["last"], state["buf"] = last, buf
        for k, v in delta.items():
            state["sum"][k] = state["sum"].get(k, 0) + v
        for e in batch:
            max_seen = e[0] if max_seen is None else max(max_seen, e[0])
        true = transition_tail_counts(
            None, [t for _, _, t in sorted(survivors)]
        )
        got = {k: v for k, v in state["sum"].items() if v != 0}
        assert got == true


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=80), st.integers(0, 3)
        ),
        min_size=0,
        max_size=30,
    ),
    cuts_strategy,
)
def test_funnel_machine_pruning_never_changes_the_stage_times(tape, cuts):
    """After every batch, the kernel's stage times (computed over PRUNED
    buffers) must equal the greedy times over ALL surviving events — the
    min(t1, watermark) prune is provably lossless — and the reached
    stages are time-ordered."""
    state = {"bufs": [[], [], [], []]}
    full = [[], [], [], []]
    max_seen = None
    for batch in batches_of(tape, cuts):
        wm = max(0, (max_seen - DELAY)) if max_seen is not None else 0
        accepted = [e for e in batch if e[0] >= wm]
        for ts, i in accepted:
            full[i].append(ts)
        bufs, ts_out = funnel_step(state["bufs"], accepted, wm)
        state["bufs"] = bufs
        for e in batch:
            max_seen = e[0] if max_seen is None else max(max_seen, e[0])
        assert ts_out == funnel_stage_times(full)
        reached = [t for t in ts_out if t is not None]
        assert reached == sorted(reached)
        # None never reappears after the first unreached stage
        seen_none = False
        for t in ts_out:
            if t is None:
                seen_none = True
            else:
                assert not seen_none


# --- the shared watermark re-fold step ---------------------------------------
# (fold, event projection, empty accumulator, ts unit, payload strategy) per
# kernel that runs through ``refold_step``.  TWA's ts are microseconds so
# the second-floor inside its fold collapses ties the same way on both
# sides.
REFOLDS = {
    "drawdown": (
        drawdown_fold,
        itemgetter(2),
        lambda: (0, 0, 0, 0),
        1,
        st.integers(-5, 5),
    ),
    "twa": (
        twa_fold,
        itemgetter(0, 2),
        lambda: (None, None, 0, 0, 0),
        1_000_000,
        st.floats(-5, 5, allow_nan=False, width=32).map(float),
    ),
    "dgim": (dgim_fold, itemgetter(0), list, 1, st.none()),
}


def _check_dgim_bounds(emitted, survivors, window=30):
    """DGIM sketch invariants of an emitted bucket list: at most 2 buckets
    per size; sizes non-increasing and timestamps non-decreasing
    oldest-first; sizes conserve the event count; and for a trailing
    window ending at the last event (``t_max``, read off the newest
    bucket) the estimate obeys the structural guarantee
    kept_total - oldest + 1 <= true <= kept_total with
    |est - true| <= oldest/2."""
    if not emitted:
        assert not survivors
        return
    t_max = emitted[-1][0]
    assert t_max == max(t for t, _, _ in survivors)
    sizes = [s for _, s in emitted]
    ts_list = [t for t, _ in emitted]
    for s in set(sizes):
        assert sizes.count(s) <= 2
    assert all(sizes[i] >= sizes[i + 1] for i in range(len(sizes) - 1))
    assert ts_list == sorted(ts_list)
    assert sum(sizes) == len(survivors)
    est, n_kept = dgim_estimate(emitted, t_max, window)
    true = sum(1 for t, _, _ in survivors if t > t_max - window)
    kept = [b for b in emitted if b[0] > t_max - window]
    assert n_kept == len(kept)
    if kept:
        total = sum(s for _, s in kept)
        oldest = kept[0][1]
        assert total - oldest + 1 <= true <= total
        assert abs(est - true) <= oldest / 2
    else:
        assert est == 0 and true == 0


@pytest.mark.parametrize("kernel", sorted(REFOLDS))
@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_refold_machine_always_emits_the_event_ordered_fold(kernel, data):
    """After every batch, for any arrival order, batch split and
    watermark schedule, the emitted fold must equal the brute-force fold
    of ALL surviving events in event order — finalization plus tail
    re-fold loses nothing and orders everything (for DGIM's no-expiry
    buckets that is the one-shot fold) — and DGIM's emitted buckets keep
    the sketch bounds."""
    fold, project, empty, unit, payload = REFOLDS[kernel]
    tape = data.draw(
        st.lists(
            st.tuples(st.integers(min_value=0, max_value=80), payload),
            max_size=40,
        )
    )
    cuts = data.draw(cuts_strategy)
    tape = [(ts * unit, i, v) for i, (ts, v) in enumerate(tape)]
    acc, buf = empty(), []
    survivors = []
    max_seen = None
    for batch in batches_of(tape, cuts):
        wm = max(0, (max_seen - DELAY * unit)) if max_seen is not None else 0
        accepted = [e for e in batch if e[0] >= wm]
        survivors.extend(accepted)
        acc, buf, emitted = refold_step(fold, project, acc, buf, accepted, wm)
        for e in batch:
            max_seen = e[0] if max_seen is None else max(max_seen, e[0])
        assert emitted == fold(empty(), [project(e) for e in sorted(survivors)])
        if kernel == "dgim":
            _check_dgim_bounds(emitted, survivors)


@given(
    st.lists(st.integers(0, 12), max_size=60),
    st.lists(st.integers(0, 59), max_size=4),
)
def test_spacesaving_sketch_guarantees_under_any_chunking(tape, cuts):
    """Space-saving invariants after every chunk boundary, for any item
    order and any chunking: bounded state, estimate sum == items seen,
    true <= est <= true + err, absent keys bounded by the sketch minimum
    (so every hitter above n/k is tracked), and exactness when the
    distinct count fits the budget."""
    from collections import Counter

    from hackatonbigdata_spark.streaming.jobs import spacesaving_update

    k = 4
    bounds = sorted({c for c in cuts if c < len(tape)}) + [len(tape)]
    counters: dict = {}
    done = 0
    for b in bounds:
        spacesaving_update(counters, tape[done:b], k)
        done = b
        seen = tape[:done]
        true = Counter(seen)
        assert len(counters) <= k
        assert sum(c for c, _ in counters.values()) == len(seen)
        for key, (est, err) in counters.items():
            assert true[key] <= est <= true[key] + err
        if counters and len(counters) == k:
            m = min(c for c, _ in counters.values())
            for key, tc in true.items():
                if key not in counters:
                    assert tc <= m
        if len(set(seen)) <= k:
            assert {key: c for key, (c, _) in counters.items()} == dict(true)
            assert all(e == 0 for _, e in counters.values())


@given(
    st.lists(st.integers(0, 12), max_size=60),
    st.lists(st.integers(0, 59), max_size=4),
)
def test_kmv_sketch_invariants_under_any_chunking(tape, cuts):
    """Bottom-k KMV invariants after every chunk boundary, for any item
    order, duplication, and chunking: the state IS the set of the k
    smallest distinct hashes of everything seen (a pure set property, so
    the sketch is order/chunking/duplicate-insensitive by construction),
    it never exceeds k entries, the estimate is EXACT while under budget,
    and at budget it equals the published (k-1)/U_(k) estimator."""
    from hackatonbigdata_spark.streaming.jobs import (
        kmv_estimate,
        kmv_hash,
        kmv_update,
    )

    k = 4
    bounds = sorted({c for c in cuts if c < len(tape)}) + [len(tape)]
    sketch: set = set()
    done = 0
    for b in bounds:
        kmv_update(sketch, tape[done:b], k)
        done = b
        seen = set(tape[:done])
        want = set(sorted(kmv_hash(x) for x in seen)[:k])
        assert sketch == want
        assert len(sketch) <= k
        est, exact = kmv_estimate(sketch, k)
        if len(seen) < k:
            assert exact and est == len(seen)
        else:
            assert not exact
            kth = max(want)
            assert est == int(round((k - 1) * float(1 << 63) / float(kth + 1)))


@given(
    st.lists(st.tuples(st.integers(0, 20), st.integers(0, 5)), max_size=60),
    st.lists(st.integers(0, 59), max_size=4),
)
def test_bottomk_sample_invariants_under_any_chunking(tape, cuts):
    """Bottom-k sampling invariants after every chunk boundary, for any
    arrival order, replay, and chunking: the state IS the k smallest
    DISTINCT events by (hash, event_id) — replays of an event id never
    change the sample — and it never exceeds k entries."""
    from hackatonbigdata_spark.streaming.jobs import (
        bottomk_update,
        sample_hash,
    )

    k = 4
    bounds = sorted({c for c in cuts if c < len(tape)}) + [len(tape)]
    sample: list = []
    done = 0
    for b in bounds:
        sample = bottomk_update(sample, tape[done:b], k)
        done = b
        first_uid = {}
        for eid, uid in tape[:done]:
            first_uid.setdefault(eid, uid)
        want = sorted(
            (sample_hash(eid), eid, uid) for eid, uid in first_uid.items()
        )[:k]
        assert sample == want
        assert len(sample) <= k


@given(
    st.lists(st.integers(0, 12), max_size=60),
    st.lists(st.integers(0, 59), max_size=4),
)
def test_cms_sketch_invariants_under_any_chunking(tape, cuts):
    """Count-min sketch invariants after every chunk boundary, for any
    item order, duplication, and chunking: cell (d, b) equals the number
    of items hashing to b under h_d (the DEFINING CMS property — the
    chunked fold therefore equals the one-shot fold and arrays merge by
    elementwise sum), every depth row sums to the items folded, and for
    every key true <= estimate <= n (one-sided error)."""
    from collections import Counter

    from hackatonbigdata_spark.streaming.jobs import (
        cms_hash,
        cms_query,
        cms_update,
    )

    d, w = 2, 4  # tiny grid so collisions are routine
    bounds = sorted({c for c in cuts if c < len(tape)}) + [len(tape)]
    counters = [0] * (d * w)
    done = 0
    for b in bounds:
        cms_update(counters, tape[done:b], d, w)
        done = b
        seen = tape[:done]
        true = Counter(seen)
        for di in range(d):
            row = counters[di * w : (di + 1) * w]
            assert sum(row) == len(seen)
            for bk in range(w):
                assert row[bk] == sum(
                    c for x, c in true.items() if cms_hash(di, x, w) == bk
                )
        for x in set(seen):
            assert true[x] <= cms_query(counters, x, d, w) <= len(seen)
    # merge-commutativity: the chunked array equals the one-shot fold
    assert counters == cms_update([0] * (d * w), tape, d, w)


@given(
    st.lists(st.integers(0, 40), max_size=60),
    st.lists(st.integers(0, 59), max_size=4),
)
def test_histogram_quantile_invariants_under_any_chunking(tape, cuts):
    """Fixed-grid histogram invariants after every chunk boundary, for
    any item order, duplication, and chunking: counts are exact
    multiplicities (so the chunked fold equals the one-shot fold and
    histograms merge by summing), and the derived p50/p90/p99 equal the
    k-th order statistic of the raw multiset under k = ceil(n*pct/100)."""
    from collections import Counter

    from hackatonbigdata_spark.streaming.jobs import (
        hist_quantile,
        hist_update,
    )

    bounds = sorted({c for c in cuts if c < len(tape)}) + [len(tape)]
    counter: dict = {}
    done = 0
    for b in bounds:
        hist_update(counter, tape[done:b])
        done = b
        seen = tape[:done]
        assert counter == dict(Counter(seen))
        if seen:
            srt = sorted(seen)
            for pct in (50, 90, 99):
                cent, n = hist_quantile(counter, pct)
                assert n == len(seen)
                k = (n * pct + 99) // 100
                assert cent == srt[k - 1]
    assert counter == hist_update({}, tape)


@given(
    st.lists(st.integers(0, 30), max_size=60),
    st.lists(st.integers(0, 59), max_size=4),
)
def test_bloom_bits_invariants_under_any_chunking(tape, cuts):
    """Bloom-fold invariants after every chunk boundary, for any item
    order, duplication, and chunking: the state IS the union of the k
    bit positions of every distinct key seen so far (a pure idempotent
    set-union property — the strongest commutativity class in the sketch
    family), it never exceeds min(m, k*n_distinct) bits, replays change
    nothing, and merging two independently-folded tapes equals folding
    the concatenation."""
    from hackatonbigdata_spark.streaming.jobs import bloom_pos, bloom_update

    m, k = 16, 2
    bounds = sorted({c for c in cuts if c < len(tape)}) + [len(tape)]
    bits: set = set()
    done = 0
    for b in bounds:
        bloom_update(bits, tape[done:b], m, k)
        done = b
        seen = set(tape[:done])
        want = {bloom_pos(j, x, m) for x in seen for j in range(k)}
        assert bits == want
        assert len(bits) <= min(m, k * len(seen))
        # idempotence: replaying everything seen so far changes nothing
        assert bloom_update(set(bits), tape[:done], m, k) == bits
    # merge-commutativity: independent halves union to the full fold
    half = len(tape) // 2
    a = bloom_update(set(), tape[:half], m, k)
    c = bloom_update(set(), tape[half:], m, k)
    assert a | c == bloom_update(set(), tape, m, k)


@given(
    st.lists(st.integers(0, 40), max_size=60),
    st.lists(st.integers(0, 59), max_size=4),
)
def test_hll_register_invariants_under_any_chunking(tape, cuts):
    """HLL-fold invariants after every chunk boundary, for any item
    order, duplication, and chunking: each register IS the max rho of
    every distinct key routed to it so far (a pure elementwise-max
    property — the same commutativity class as the Bloom OR-fold),
    replays change nothing, and merging two independently-folded tapes
    by elementwise max equals folding the concatenation."""
    from hackatonbigdata_spark.streaming.jobs import hll_reg, hll_update

    m = 16
    bounds = sorted({c for c in cuts if c < len(tape)}) + [len(tape)]
    regs = [0] * m
    done = 0
    for b in bounds:
        hll_update(regs, tape[done:b], m)
        done = b
        seen = set(tape[:done])
        want = [0] * m
        for x in seen:
            j, rho = hll_reg(x, m)
            want[j] = max(want[j], rho)
        assert regs == want
        # idempotence: replaying everything seen so far changes nothing
        assert hll_update(list(regs), tape[:done], m) == regs
    # merge-commutativity: elementwise max of independent halves equals
    # the full fold
    half = len(tape) // 2
    a = hll_update([0] * m, tape[:half], m)
    c = hll_update([0] * m, tape[half:], m)
    assert [max(x, y) for x, y in zip(a, c)] == hll_update(
        [0] * m, tape, m
    )


@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 10_000)),
        max_size=120,
    ),
    st.lists(st.integers(0, 119), max_size=4),
)
@settings(max_examples=120, deadline=None)
def test_kll_compactor_invariants_under_any_chunking(tape, cuts):
    """KLL compactor invariants after every chunk boundary, for any item
    order, duplication, and chunking (k=8 so compactions actually fire):
    every retained value was an input; every level holds <= k items;
    total retained weight drifts from n by at most the self-certified
    err bound; each served percentile's EXACT rank interval covers a
    point within err of the target (the one-sided compaction-shift
    bound); err == 0 serves the exact order statistic; and merging two
    independently-built sketches obeys the same bound with the summed
    certificate."""
    from hackatonbigdata_spark.streaming.jobs import (
        kll_merge,
        kll_quantile,
        kll_update,
    )

    K = 8
    items = [(float(v), i) for i, (v, _) in enumerate(tape)]

    def check(state, seen):
        levels, err = state
        flat = [(v, i, lv) for lv, lv_items in enumerate(levels)
                for v, i in lv_items]
        assert all((v, i) in set((a, b) for a, b in seen) for v, i, _ in flat)
        assert all(len(lv_items) <= K for lv_items in levels)
        w_total = sum(1 << lv for _, _, lv in flat)
        n = len(seen)
        assert abs(w_total - n) <= err
        if not seen:
            return
        srt = sorted(v for v, _ in seen)
        for pct in (50, 90, 99):
            val, wt = kll_quantile(state, pct)
            assert wt == w_total
            tgt = (pct * w_total + 99) // 100
            # exact rank interval of the served value in the raw multiset
            lo = next(idx for idx, v in enumerate(srt) if v == val) + 1
            hi = len(srt) - next(
                idx for idx, v in enumerate(reversed(srt)) if v == val
            )
            # weight-below error <= err and weight drift <= err: the
            # served value's true rank interval must come within 2*err
            # of the target (and exactly hit it when err == 0)
            assert lo - 2 * err <= tgt <= hi + 2 * err
            if err == 0:
                assert lo <= tgt <= hi

    bounds = sorted({c for c in cuts if c < len(items)}) + [len(items)]
    st_a, done = ([], 0), 0
    for b in bounds:
        if b > done:
            st_a = kll_update(st_a, items[done:b], K)
            done = b
        check(st_a, items[:done])
    # merge: first half ⊕ second half obeys the same certificate
    half = len(items) // 2
    m = kll_merge(
        kll_update(([], 0), items[:half], K),
        kll_update(([], 0), items[half:], K),
        K,
    )
    check(m, items)


# --- the bucketed-sketch state adapter ---------------------------------------
# ``_bucket_sketch_update`` is the whole applyInPandasWithState lifecycle of
# the per-bucket sketch streams; a fake GroupState drives it without a JVM.

HOUR_MS = 3600 * 1000


class FakeGroupState:
    """The slice of ``GroupState`` the adapter calls."""

    def __init__(self, value=None, wm_ms=0, timed_out=False):
        self.value = value
        self.wm_ms = wm_ms
        self.hasTimedOut = timed_out
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _distinct_users_update(bucket="hour"):
    """An exact distinct-user sketch behind the adapter."""
    from hackatonbigdata_spark.streaming.jobs import _bucket_sketch_update

    return _bucket_sketch_update(
        bucket,
        empty=set,
        load=set,
        items=lambda pdf: [int(u) for u in pdf["user_id"]],
        fold=lambda users, new: users | set(new),
        store=lambda users: (sorted(users),),
        emit=lambda users: [{"n_users": len(users)}],
    )


def _bucket_key(bucket):
    import datetime

    import pandas as pd

    if bucket == "day":
        return (datetime.date(2024, 3, 1),), 24 * HOUR_MS
    return (pd.Timestamp("2024-03-01 10:00:00"),), HOUR_MS


def _key_start_ms(key):
    import pandas as pd

    return pd.Timestamp(key[0]).value // 1_000_000


def _users(*ids):
    import pandas as pd

    return pd.DataFrame({"user_id": list(ids)})


def test_bucket_adapter_call_without_items_changes_nothing():
    """Only empty chunks (or none): no row, no state write, no timeout."""
    update = _distinct_users_update()
    key, _ = _bucket_key("hour")
    for value in (None, ([3, 5], 7)):
        for pdfs in ([], [_users()], [_users(), _users()]):
            state = FakeGroupState(value, wm_ms=_key_start_ms(key))
            assert list(update(key, pdfs, state)) == []
            assert state.value == value
            assert state.timeout_ms is None


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(["hour", "day"]),
    st.lists(
        st.tuples(
            st.lists(st.integers(0, 9), min_size=1, max_size=6),
            st.integers(-10 * HOUR_MS, 24 * HOUR_MS - 1),
        ),
        min_size=1,
        max_size=5,
    ),
)
def test_bucket_adapter_accumulates_n_total_and_clamps_timeout(bucket, calls):
    """Before the bucket end: every call with items folds them, stores
    ``n`` last, stamps the bucket and the running ``n_total`` on its rows
    and sets the timeout to max(bucket end, watermark + 1) — the bucket
    end itself, since a watermark at or past it evicts instead."""
    update = _distinct_users_update(bucket)
    key, span_ms = _bucket_key(bucket)
    start_ms = _key_start_ms(key)
    state = FakeGroupState()
    seen, n = set(), 0
    for users, wm_offset in calls:
        wm_ms = start_ms + min(wm_offset, span_ms - 1)
        state.wm_ms = wm_ms
        (out,) = list(update(key, [_users(*users)], state))
        seen |= set(users)
        n += len(users)
        assert out.to_dict("records") == [
            {bucket: key[0], "n_total": n, "n_users": len(seen)}
        ]
        assert state.value == (sorted(seen), n)
        end_ms = start_ms + span_ms
        assert state.timeout_ms == max(end_ms, wm_ms + 1) == end_ms


@settings(max_examples=100, deadline=None)
@given(
    st.sampled_from(["hour", "day"]),
    st.integers(0, 3 * 24 * HOUR_MS),
    st.booleans(),
    st.booleans(),
)
def test_bucket_adapter_evicts_at_bucket_end_or_timeout(
    bucket, past_end_ms, timed_out, has_state
):
    """Once the watermark reaches the bucket end, or the state timed out,
    the state is removed and nothing is emitted, whatever the chunks."""
    update = _distinct_users_update(bucket)
    key, span_ms = _bucket_key(bucket)
    end_ms = _key_start_ms(key) + span_ms
    if timed_out:
        wm_ms = end_ms - 1 - past_end_ms % span_ms  # inside the bucket
    else:
        wm_ms = end_ms + past_end_ms
    state = FakeGroupState(
        ([1, 2], 2) if has_state else None, wm_ms=wm_ms, timed_out=timed_out
    )
    assert list(update(key, [_users(4, 5)], state)) == []
    assert not state.exists
    assert state.timeout_ms is None


# --- the user-keyed buffer state adapter -------------------------------------
# ``_user_buffer_update`` is the whole applyInPandasWithState lifecycle of
# the user-keyed re-fold kernels.  Two kernels drive it here: an ordered
# event log whose fold extends its list in place, and DGIM, whose fold
# appends to its bucket list — so a tail re-fold that reused the stored
# accumulator would show in the state.

MIN_US = 60 * 1_000_000
USER = (7,)


def _log_fold(acc, items):
    acc.extend(items)
    return acc


def _buffer_update(fold):
    from hackatonbigdata_spark.streaming.jobs import _columns, _user_buffer_update

    return _user_buffer_update(
        columns=("event_id",),
        event=lambda eid: (int(eid),),
        empty=list,
        load=lambda acc, ts, ids: (list(acc), list(zip(ts, ids))),
        step=partial(refold_step, fold, itemgetter(0)),
        store=lambda acc, buf: (list(acc), *_columns(buf, 2)),
        emit=lambda uid, out: [{"user_id": uid, "item": x} for x in out],
    )


def _events(*minutes, first_id=0):
    import pandas as pd

    return pd.DataFrame(
        {
            "ts": [pd.Timestamp(m * MIN_US, unit="us") for m in minutes],
            "event_id": range(first_id, first_id + len(minutes)),
        }
    )


def _emitted(update, pdfs, state):
    return [
        row for out in update(USER, pdfs, state) for row in out.to_dict("records")
    ]


def _rows(out):
    return [{"user_id": USER[0], "item": x} for x in out]


BUFFER_FOLDS = {"log": _log_fold, "dgim": dgim_fold}


@pytest.mark.parametrize("fold", sorted(BUFFER_FOLDS))
def test_user_buffer_adapter_round_trips_state_across_calls(fold):
    """The second call resumes from what the first stored: the final
    prefix folded into the accumulator, the tail buffered in event order,
    and the emission is the fold over every event of both calls."""
    fold = BUFFER_FOLDS[fold]
    update = _buffer_update(fold)
    state = FakeGroupState(wm_ms=0)
    first = _emitted(update, [_events(0, 20), _events(5, first_id=2)], state)
    us = [m * MIN_US for m in (0, 5, 20)]
    assert first == _rows(fold([], us))
    assert state.value == ([], us, [0, 2, 1])

    state.wm_ms = 10 * MIN_US // 1000
    second = _emitted(update, [_events(12, 30, first_id=3)], state)
    us = [m * MIN_US for m in (0, 5, 12, 20, 30)]
    assert second == _rows(fold([], us))
    assert state.value == (fold([], us[:2]), us[2:], [3, 1, 4])


@pytest.mark.parametrize("fold", sorted(BUFFER_FOLDS))
def test_user_buffer_adapter_keeps_an_event_at_the_watermark(fold):
    """Only events strictly behind the watermark are final: one exactly
    at it can still be preceded by an accepted event, so it stays in the
    buffer."""
    fold = BUFFER_FOLDS[fold]
    update = _buffer_update(fold)
    state = FakeGroupState(wm_ms=10 * MIN_US // 1000)
    out = _emitted(update, [_events(9, 10)], state)
    assert out == _rows(fold([], [9 * MIN_US, 10 * MIN_US]))
    assert state.value == (fold([], [9 * MIN_US]), [10 * MIN_US], [1])


@pytest.mark.parametrize("fold", sorted(BUFFER_FOLDS))
def test_user_buffer_adapter_call_without_events_re_emits(fold):
    """A call with no events (no chunks, or only empty ones) emits what
    the call before it emitted and stores the same events."""
    import pandas as pd

    update = _buffer_update(BUFFER_FOLDS[fold])
    state = FakeGroupState(wm_ms=0)
    before = _emitted(update, [_events(3, 1, 4)], state)
    stored = state.value
    empty = _events().astype({"ts": "datetime64[us]", "event_id": "int64"})
    for pdfs in ([], [empty], [empty, empty]):
        assert _emitted(update, pdfs, state) == before
        assert state.value == stored
