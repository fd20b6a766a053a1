"""Property-based tests (hypothesis) for the pure-Python kernels: the CEP NFA
scan vs a brute-force reference, the SQL front-end rewriter, and the MySQL
pattern translator. These run without a SparkSession, so they are cheap and
explore far more inputs than the golden tests."""

from __future__ import annotations

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from flink_1_6_0_spark.functions.scalar import mysql_to_java_pattern
from flink_1_6_0_spark.plans.sql_frontend import rewrite_flink_sql
from flink_1_6_0_spark.streaming.cep import FOLLOWED_BY_ANY, Pattern, _scan

# ---------------------------------------------------------------------------
# CEP NFA vs brute force
# ---------------------------------------------------------------------------

_TYPES = ["a", "b", "c"]


def _brute_force_any(events, types, within_us):
    """All strictly-increasing index tuples matching the type sequence with
    the within bound — the spec for followed_by_any chains. The bound is
    STRICT, matching NFA.java:270 ``timestamp - startTimestamp >=
    windowTime`` (the r11 golden-port fix): an event arriving exactly
    `within` after the start matches nothing."""
    out = []

    def rec(stage, last, start_ts, acc):
        if stage == len(types):
            out.append(acc)
            return
        for i in range(last + 1, len(events)):
            if within_us is not None and start_ts is not None and events[i]["__ts"] - start_ts >= within_us:
                continue
            if events[i]["t"] == types[stage]:
                rec(stage + 1, i, start_ts if start_ts is not None else events[i]["__ts"], acc + ((i,),))

    rec(0, -1, None, ())
    return out


@settings(max_examples=300, deadline=None)
@given(
    seq=st.lists(st.sampled_from(_TYPES), max_size=10),
    gaps=st.lists(st.integers(min_value=0, max_value=5_000_000), max_size=10),
    within=st.one_of(st.none(), st.integers(min_value=0, max_value=20_000_000)),
)
def test_nfa_matches_brute_force_for_any_chains(seq, gaps, within):
    ts, events = 0, []
    for i, t in enumerate(seq):
        ts += gaps[i] if i < len(gaps) else 1
        events.append({"__ts": ts, "t": t, "id": i})
    pattern = Pattern.begin("s0", lambda e: e["t"] == "a")
    pattern.followed_by_any("s1", lambda e: e["t"] == "b")
    pattern.followed_by_any("s2", lambda e: e["t"] == "c")
    if within is not None:
        pattern.within(within / 1_000_000)
    got = sorted(_scan(events, pattern))
    want = sorted(_brute_force_any(events, ["a", "b", "c"], pattern.within_micros))
    assert got == want


@settings(max_examples=200, deadline=None)
@given(seq=st.lists(st.sampled_from(_TYPES), max_size=12))
def test_nfa_followed_by_is_subset_of_any(seq):
    events = [{"__ts": i, "t": t, "id": i} for i, t in enumerate(seq)]

    def mk(contig):
        p = Pattern.begin("s0", lambda e: e["t"] == "a")
        getattr(p, contig)("s1", lambda e: e["t"] == "b")
        return p

    relaxed = set(_scan(events, mk("followed_by")))
    any_ = set(_scan(events, mk("followed_by_any")))
    assert relaxed <= any_
    # relaxed picks exactly the FIRST b after each a-start
    for m in relaxed:
        (a_idx,), (b_idx,) = m
        assert all(events[j]["t"] != "b" for j in range(a_idx + 1, b_idx))


# ---------------------------------------------------------------------------
# SQL front-end rewriter
# ---------------------------------------------------------------------------

_IDENT = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)


@settings(max_examples=200, deadline=None)
@given(col=_IDENT, n=st.integers(min_value=1, max_value=999), unit=st.sampled_from(["SECOND", "MINUTE", "HOUR", "DAY"]))
def test_tumble_rewrite_roundtrip(col, n, unit):
    sql = f"SELECT count(*) FROM t GROUP BY TUMBLE({col}, INTERVAL '{n}' {unit})"
    out = rewrite_flink_sql(sql)
    plural = unit.lower() + ("s" if n != 1 else "")
    assert out == f"SELECT count(*) FROM t GROUP BY window({col}, '{n} {plural}')"


@settings(max_examples=200, deadline=None)
@given(sql=st.text(alphabet=string.ascii_lowercase + " ,()*=<>'\"0123456789_", max_size=120))
def test_rewriter_passes_through_non_window_sql(sql):
    # no TUMBLE/HOP/SESSION call → byte-identical output
    if not re.search(r"\b(tumble|hop|session)\s*\(", sql, re.IGNORECASE):
        assert rewrite_flink_sql(sql) == sql


# ---------------------------------------------------------------------------
# MySQL pattern translator
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    parts=st.lists(
        st.one_of(
            st.sampled_from(["%Y", "%m", "%d", "%H", "%i", "%s", "%M", "%b", "%%"]),
            st.sampled_from(["-", "/", ":", " ", "."]),
        ),
        max_size=10,
    )
)
def test_mysql_pattern_translation_total(parts):
    fmt = "".join(parts)
    out = mysql_to_java_pattern(fmt)
    assert "%" not in out.replace("%", "", fmt.count("%%"))  # only literal %% survive
    # no raw pattern letters leak from literals (they would change semantics)
    for tok, java in [("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"), ("%H", "HH"), ("%i", "mm"), ("%s", "ss")]:
        if tok in fmt:
            assert java in out


# ---------------------------------------------------------------------------
# Streaming pane kernels (evictors / continuous triggers) vs brute-force spec
# ---------------------------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(
    ts=st.lists(st.integers(min_value=0, max_value=599), min_size=1, max_size=30),
    n=st.integers(min_value=1, max_value=8),
)
def test_count_evictor_kernel_keeps_last_n(ts, n):
    from flink_1_6_0_spark.streaming.evictors import evict_and_aggregate

    elems = sorted((float(t * 1_000_000), i, float(i)) for i, t in enumerate(ts))
    n_kept, sum_kept = evict_and_aggregate(elems, n, None)
    expect = elems[-n:]
    assert n_kept == len(expect)
    assert sum_kept == round(sum(e[2] for e in expect), 2)


@settings(max_examples=300, deadline=None)
@given(
    ts=st.lists(st.integers(min_value=0, max_value=599), min_size=1, max_size=30),
    keep=st.integers(min_value=1, max_value=600),
)
def test_time_evictor_kernel_strict_boundary(ts, keep):
    """TimeEvictor.java:32 evicts timestamp <= newest - windowSize: an
    element exactly at the cutoff is evicted (the round-1 ADVICE bug)."""
    from flink_1_6_0_spark.streaming.evictors import evict_and_aggregate

    elems = sorted((float(t * 1_000_000), i, 1.0) for i, t in enumerate(ts))
    n_kept, _ = evict_and_aggregate(elems, None, keep)
    newest = elems[-1][0]
    expect = [e for e in elems if e[0] > newest - keep * 1_000_000]
    assert n_kept == len(expect)
    assert n_kept >= 1  # the newest element always survives


@settings(max_examples=300, deadline=None)
@given(
    ts=st.lists(st.integers(min_value=0, max_value=599), min_size=1, max_size=25),
    wm_s=st.integers(min_value=0, max_value=1200),
    purging=st.booleans(),
)
def test_continuous_trigger_kernel_vs_spec(ts, wm_s, purging):
    """Panes must partition (purging) / accumulate (continuous) the window:
    fired boundaries are exactly those <= watermark, each pane matches the
    brute-force 'events as of / since' definition, and purged deltas are a
    disjoint cover of everything fired."""
    from flink_1_6_0_spark.streaming.triggers import fire_continuous_panes

    size_us, iv_us = 600 * 1_000_000, 200 * 1_000_000
    elems = sorted((float(t * 1_000_000), 1.0) for t in ts)
    first_anchor = int(elems[0][0]) // iv_us * iv_us
    wm_ms = wm_s * 1000
    rows, last = fire_continuous_panes(elems, first_anchor, 0, size_us, iv_us, wm_ms, purging)

    boundaries = []
    b = first_anchor + iv_us
    while b <= size_us and b // 1000 <= wm_ms:
        boundaries.append(b)
        b += iv_us
    assert last == (boundaries[-1] if boundaries else first_anchor)

    fired = {r[1]: r for r in rows}
    prev = first_anchor
    total = 0
    for bb in boundaries:
        if purging:
            pane = [e for e in elems if prev <= e[0] < bb]
        else:
            pane = [e for e in elems if e[0] < bb]
        if pane:
            assert fired[bb][2] == len(pane)
        else:
            assert bb not in fired
        prev = bb
        total += len(pane) if purging else 0
    assert set(fired) <= set(boundaries)
    if purging and boundaries and boundaries[-1] == size_us:
        # full window fired: purged deltas cover every element exactly once
        assert total == len(elems)


# ---------------------------------------------------------------------------
# Avro codec: encode/decode identity against the spec'd container framing
# ---------------------------------------------------------------------------

_AVRO_SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "d", "type": ["null", "double"]},
        {"name": "f", "type": "float"},
        {"name": "b", "type": "boolean"},
        {"name": "raw", "type": "bytes"},
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": ["null", "long"]}},
    ],
}

_avro_rows = st.lists(
    st.fixed_dictionaries(
        {
            "i": st.integers(min_value=-(2**63), max_value=2**63 - 1),
            "s": st.one_of(st.none(), st.text(max_size=20)),
            "d": st.one_of(st.none(), st.floats(allow_nan=False, width=64)),
            "f": st.floats(allow_nan=False, width=32),
            "b": st.booleans(),
            "raw": st.binary(max_size=16),
            "xs": st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=5),
            "m": st.dictionaries(st.text(max_size=8), st.one_of(st.none(), st.integers(min_value=0, max_value=10**12)), max_size=4),
        }
    ),
    max_size=25,
)


@settings(max_examples=200, deadline=None)
@given(rows=_avro_rows, codec=st.sampled_from(["null", "deflate"]))
def test_avro_container_roundtrip_identity(rows, codec):
    """write_container ∘ read_container is the identity for every value the
    schema admits — full-range zigzag longs, unicode strings, ±inf doubles,
    float32 payloads, empty arrays/maps, null union branches, both codecs."""
    from flink_1_6_0_spark.sources.avro_format import read_container, write_container

    import struct as _struct

    data = write_container(rows, _AVRO_SCHEMA, codec=codec)
    schema, back = read_container(data)
    assert schema == _AVRO_SCHEMA
    # float32 values survive only to float32 precision — compare via repack
    norm = lambda r: {**r, "f": _struct.unpack("<f", _struct.pack("<f", r["f"]))[0]}  # noqa: E731
    assert [norm(dict(r)) for r in rows] == back


# ---------------------------------------------------------------------------
# PII redaction patterns (pure-regex property; the Spark path is
# oracle-checked in text_pii_redact)
# ---------------------------------------------------------------------------

_WORDS = st.lists(
    st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8), min_size=0, max_size=12
)
_EMAILS = st.lists(
    st.builds(
        lambda u, d: f"{u}@{d}.com",
        st.text(alphabet=string.ascii_lowercase + "._", min_size=1, max_size=10).filter(
            lambda s: not s.startswith(".") ),
        st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8),
    ),
    max_size=3,
)
_IPS = st.lists(
    st.builds(lambda a, b, c, d: f"{a}.{b}.{c}.{d}", *[st.integers(0, 255)] * 4), max_size=3
)
_NUMS = st.lists(st.integers(min_value=10**7, max_value=10**12).map(str), max_size=3)


@settings(max_examples=200, deadline=None)
@given(words=_WORDS, emails=_EMAILS, ips=_IPS, nums=_NUMS)
def test_pii_patterns_catch_all_and_idempotent(words, emails, ips, nums):
    """Every injected email/IP/digit-run is caught (no PII survives), plain
    words survive untouched, and redaction is idempotent. Pure `re` here —
    the patterns avoid constructs where Java regex and RE2/PCRE diverge."""
    import random

    from flink_1_6_0_spark.pipeline.prep import DIGITS_RE, EMAIL_RE, IPV4_RE

    rng = random.Random(42)
    parts = words + emails + ips + nums
    rng.shuffle(parts)
    text = " ".join(parts)

    def redact(s: str) -> str:
        s = re.sub(EMAIL_RE, "<EMAIL>", s)
        s = re.sub(IPV4_RE, "<IP>", s)
        return re.sub(DIGITS_RE, "<NUM>", s)

    red = redact(text)
    assert not re.search(EMAIL_RE, red)
    assert not re.search(IPV4_RE, red)
    assert not re.search(DIGITS_RE, red)
    assert redact(red) == red  # idempotent
    for w in words:
        assert w in red  # plain words survive
    # every injected email redacts (emails may swallow a neighbour only via
    # the local-part, which spaces prevent)
    assert red.count("<EMAIL>") == len(emails)


# ---------------------------------------------------------------------------
# Sequence packing vs a prefix-sum reference (Spark-backed, few examples)
# ---------------------------------------------------------------------------

@settings(max_examples=10, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=12),
    budget=st.integers(min_value=5, max_value=60),
)
def test_pack_sequences_matches_prefix_sum_reference(spark, sizes, budget):
    from flink_1_6_0_spark.pipeline.prep import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(sizes)], "doc_id long, text string"
    )
    out = pack_sequences(docs, "doc_id", "text", budget=budget, num_shards=3)
    got = {r["doc_id"]: (r["shard"], r["offset"], r["bin"]) for r in out.collect()}
    # reference: per shard, exclusive prefix sums in doc_id order
    cum: dict[int, int] = {}
    for i, n in enumerate(sizes):
        shard = i % 3
        before = cum.get(shard, 0)
        assert got[i] == (shard, before, before // budget), (i, n, got[i])
        cum[shard] = before + n


# -- review-pass regressions (round 6): CEP negation/anchor/within kernels --


def _ev(t, typ, i):
    return {"__ts": int(t * 1_000_000), "t": typ, "__id": i}


def test_cep_within_bounds_anchored_repeats():
    """within() applies BETWEEN repeats of the quantified begin stage: the
    anchor's own first event starts the clock (review finding)."""
    from flink_1_6_0_spark.streaming.cep import Pattern, _scan

    p = Pattern.begin("a", lambda e: e["t"] == "a").times(2).within(1)
    assert _scan([_ev(0, "a", 0), _ev(100, "a", 1)], p) == []
    assert _scan([_ev(0, "a", 0), _ev(0.5, "a", 1)], p) == [((0, 1),)]


def test_cep_trailing_not_followed_by_discharged_at_emit():
    """A notFollowedBy whose following stages are ALL skipped is DISCHARGED
    when the match emits — the reference completes the match at the last
    positive stage, so a later forbidden event cannot poison it
    (NotPatternITCase.java:487 golden; reverses an earlier round's blocking
    reading). When the trailing stage MATCHES instead of being skipped, the
    gap check still enforces the negation."""
    from flink_1_6_0_spark.streaming.cep import Pattern, _scan

    p = (
        Pattern.begin("a", lambda e: e["t"] == "a")
        .not_followed_by("nb", lambda e: e["t"] == "b")
        .followed_by("c", lambda e: e["t"] == "c")
        .optional()
    )
    # later b does NOT retroactively kill the bare (a) match
    assert _scan([_ev(0, "a", 0), _ev(1, "b", 1)], p) == [((0,), (), ())]
    assert _scan([_ev(0, "a", 0), _ev(1, "x", 1)], p) == [((0,), (), ())]
    # but a c AFTER the b is still poisoned by the gap check
    got = _scan([_ev(0, "a", 0), _ev(1, "b", 1), _ev(2, "c", 2)], p)
    assert ((0,), (), (2,)) not in got and ((0,), (), ()) in got


def test_cep_optional_begin_inherits_anchor():
    """Skipping an optional begin makes the next stage the effective anchor:
    every event may begin its own match (review finding)."""
    from flink_1_6_0_spark.streaming.cep import Pattern, _scan

    p = Pattern.begin("a", lambda e: e["t"] == "a").optional().followed_by(
        "b", lambda e: e["t"] == "b"
    )
    got = _scan([_ev(0, "b", 0), _ev(1, "b", 1)], p)
    assert got == [((), (0,)), ((), (1,))]


def test_cep_closed_negations_only_streaming_contract():
    """The streaming executor must not emit a match whose acceptance rests
    on absence of a not-yet-observed successor (review finding): undecided
    until an event (or the within horizon) closes the negated region."""
    from flink_1_6_0_spark.streaming.cep import Pattern, _scan

    p = Pattern.begin("a", lambda e: e["t"] == "a").not_next("nb", lambda e: e["t"] == "b")
    buf = [_ev(0, "a", 0)]
    assert _scan(buf, p) == [((0,), ())]  # batch: complete data, emit
    assert _scan(buf, p, closed_negations_only=True) == []  # stream: hold
    assert _scan(buf + [_ev(1, "x", 1)], p, closed_negations_only=True) == [((0,), ())]
    assert _scan(buf + [_ev(1, "b", 1)], p, closed_negations_only=True) == []


def _ffd_naive(tokens, budget):
    """Reference linear-scan first-fit — the spec the segment-tree kernel
    must match placement-for-placement."""
    caps, bins = [], []
    for tok in tokens:
        for j, c in enumerate(caps):
            if c >= tok:
                caps[j] = c - tok
                bins.append(j)
                break
        else:
            bins.append(len(caps))
            caps.append(budget - tok)
    return bins


@settings(max_examples=300, deadline=None)
@given(
    toks=st.lists(st.integers(min_value=1, max_value=100), min_size=1, max_size=40),
    budget=st.integers(min_value=100, max_value=300),
)
def test_ffd_kernel_invariants(toks, budget):
    """First-fit-decreasing placement invariants: (0) the O(n log n)
    segment-tree kernel places IDENTICALLY to the naive linear first-fit;
    (1) every bin's fill is <= budget (no oversize items by construction
    here); (2) at most ONE bin is <= half-full — two half-empty bins would
    have first-fit merged; (3) the decreasing order means bin ids appear in
    first-open order 0,1,2,...; (4) input-permutation invariance once the
    caller sorts."""
    from flink_1_6_0_spark.pipeline.prep import ffd_place

    ordered = sorted(toks, reverse=True)
    bins = ffd_place(ordered, budget)
    assert bins == _ffd_naive(ordered, budget)
    fill: dict[int, int] = {}
    for tok, b in zip(ordered, bins):
        fill[b] = fill.get(b, 0) + tok
    assert all(v <= budget for v in fill.values())
    assert sum(1 for v in fill.values() if v <= budget // 2) <= 1
    assert sorted(fill) == list(range(len(fill)))  # bins open densely in order
    # first bin ever opened is bin 0 for the largest item
    assert bins[0] == 0
    # permutation invariance: any shuffle of the input, re-sorted, places identically
    import random as _r

    shuffled = list(toks)
    _r.Random(0).shuffle(shuffled)
    assert ffd_place(sorted(shuffled, reverse=True), budget) == bins


def test_continuous_trigger_straggler_folds_into_next_fire():
    """PURGING mode: an element below the last-fired boundary is neither
    purged unfired nor re-fired at its own passed boundary — it is included
    in the NEXT scheduled fire's pane, matching the reference trigger where
    fire always emits the window's un-purged state content (ADVICE r6)."""
    from flink_1_6_0_spark.streaming.triggers import fire_continuous_panes

    US = 1_000_000
    rows, last = fire_continuous_panes(
        [(5.7 * US, 1.0)], 0, 0, 10 * US, 5 * US, 5_900, True
    )
    assert rows == [] and last == 5 * US
    # straggler 3.2s arrives after boundary 5s already fired: no catch-up
    # row at 5s; it rides the next fire at 10s together with 5.7s
    rows2, last2 = fire_continuous_panes(
        [(3.2 * US, 2.0), (5.7 * US, 1.0)], last, 0, 10 * US, 5 * US, 11_000, True
    )
    assert rows2 == [(0, 10 * US, 2, 3.0)]
    assert last2 == 10 * US
    # and if the watermark has NOT reached the next boundary, the straggler
    # stays pending (rows empty, last unchanged) — the caller must not purge
    rows3, last3 = fire_continuous_panes(
        [(3.2 * US, 2.0), (5.7 * US, 1.0)], last, 0, 10 * US, 5 * US, 9_000, True
    )
    assert rows3 == [] and last3 == last


# ---------------------------------------------------------------------------
# Streaming NFA kernel: order-robustness across micro-batch boundaries
# (round-7 verdict task 5 — NFA.java:82 is order-robust by design)
# ---------------------------------------------------------------------------


def _frame(batch):
    """One micro-batch of (eid, ts seconds, etype) events as the frame the
    live runner hands a key's step."""
    import pandas as pd

    return pd.DataFrame(
        {
            "eid": [e[0] for e in batch],
            "ts": [pd.Timestamp(e[1] * 1_000_000, unit="us") for e in batch],
            "etype": [e[2] for e in batch],
        }
    )


def _carry(step, frames, flush=False):
    """Run a streaming CEP step over one key's micro-batch frames, carrying
    its value between calls as keyed.per_key_state does; ``flush=True`` ends
    with the timer call a quiet key gets. Returns (rows, value before the
    flush)."""
    from flink_1_6_0_spark.streaming.keyed import Clock

    rows, value = [], None
    for pdf in frames:
        out, value, _ = step((1,), pdf, value, Clock(False, 0, None))
        rows += out
    if flush:
        rows += step((1,), frames[0].iloc[:0], value, Clock(True, 0, None))[0]
    return rows, value


def _drive_kernel(pattern, batches, horizon_s, disorder_s=None, flush=False):
    """Feed delivery batches through the streaming kernel, one micro-batch
    per call, carrying state; return the set of emitted (a_id, b_id).
    ``disorder_s`` selects the watermark (fold-point) mode; ``flush=True``
    fires the cleanup-timer path at the end — the quiescence flush a real
    query gets after a horizon of silence."""
    from flink_1_6_0_spark.streaming.cep import _stream_kernel

    step = _stream_kernel(
        pattern, "ts", "eid", "etype",
        horizon=int(horizon_s * 1_000_000), horizon_s=horizon_s,
        use_cleanup_timer=False,
        disorder=None if disorder_s is None else int(disorder_s * 1_000_000),
    )
    rows, _ = _carry(step, [_frame(b) for b in batches], flush)
    return {(r["a_id"], r["b_id"]) for r in rows}


def _batch_matches(pattern, events):
    """The batch executor's answer on the complete, ordered event set."""
    evs = sorted(
        ({"__ts": int(ts * 1_000_000), "eid": i, "etype": ty} for i, ts, ty in events),
        key=lambda e: (e["__ts"], e["eid"]),
    )
    out = set()
    for match in _scan(evs, pattern):
        (ai,), (bi,) = match
        out.add((evs[ai]["eid"], evs[bi]["eid"]))
    return out


@st.composite
def _deliveries(draw):
    """Unique-id events + an adversarial delivery: permuted (out-of-order /
    late), with sampled duplicate re-deliveries, split into >= 3 batches."""
    n = draw(st.integers(4, 14))
    events = [
        (i, draw(st.integers(0, 50)), draw(st.sampled_from(["a", "b", "x"])))
        for i in range(n)
    ]
    order = draw(st.permutations(list(range(n))))
    delivery = [events[i] for i in order]
    # duplicate re-deliveries (retried batches re-send rows)
    for i in draw(st.lists(st.integers(0, n - 1), max_size=4)):
        delivery.insert(draw(st.integers(0, len(delivery))), events[i])
    # split into >= 3 batches (possibly empty ones — empty triggers happen)
    k = draw(st.integers(3, 5))
    cuts = sorted(draw(st.lists(st.integers(0, len(delivery)), min_size=k - 1, max_size=k - 1)))
    batches, prev = [], 0
    for c in cuts + [len(delivery)]:
        batches.append(delivery[prev:c])
        prev = c
    return events, batches


@given(_deliveries())
@settings(max_examples=120, deadline=None)
def test_cep_stream_kernel_order_robust_across_microbatches(data):
    """WATERMARK MODE (disorder bound >= the event span): arbitrary
    interleaving of late / duplicate / out-of-order events across >= 3
    micro-batch boundaries must emit EXACTLY the batch executor's matches
    once the quiescence flush fires — the Flink contract
    (AbstractKeyedCEPPatternOperator buffers in a priority queue and folds
    into the NFA in timestamp order as the watermark passes; the final
    watermark flushes the rest). No eager append-mode emitter can be exact
    under UNBOUNDED disorder — a late earlier 'b' always invalidates an
    already-emitted first-match — which is precisely why emission defers to
    the fold point here (round-8 bug A)."""
    events, batches = data
    p = Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100)
    got = _drive_kernel(p, batches, horizon_s=200.0, disorder_s=60.0, flush=True)
    assert got == _batch_matches(p, events)


@st.composite
def _bounded_disorder_deliveries(draw, disorder=30):
    """Unique-timestamp events over a span much WIDER than the disorder
    bound, delivered sorted by (ts + jitter) with jitter < bound — so every
    arrival's lateness (hwm_at_arrival - ts) is strictly under the bound,
    yet the fold point sweeps through the data DURING the batches (not just
    at the flush). Duplicate re-deliveries land at or after the original."""
    n = draw(st.integers(4, 14))
    ts = sorted(draw(st.lists(st.integers(0, 120), min_size=n, max_size=n, unique=True)))
    events = [
        (i, t, draw(st.sampled_from(["a", "b", "x"]))) for i, t in enumerate(ts)
    ]
    jitter = [draw(st.integers(0, disorder - 1)) for _ in range(n)]
    delivery = [e for _, e in sorted(zip([t + j for (_, t, _), j in zip(events, jitter)], events), key=lambda p: (p[0], p[1][0]))]
    for i in draw(st.lists(st.integers(0, n - 1), max_size=3)):
        pos = delivery.index(events[i])
        delivery.insert(draw(st.integers(pos + 1, len(delivery))), events[i])
    k = draw(st.integers(3, 6))
    cuts = sorted(draw(st.lists(st.integers(0, len(delivery)), min_size=k - 1, max_size=k - 1)))
    batches, prev = [], 0
    for c in cuts + [len(delivery)]:
        batches.append(delivery[prev:c])
        prev = c
    return events, batches


@given(_bounded_disorder_deliveries())
@settings(max_examples=120, deadline=None)
def test_cep_stream_kernel_bounded_disorder_folds_exactly(data):
    """WATERMARK MODE with lateness < disorder bound but a time span much
    wider than the bound: the fold point advances THROUGH the data during
    the batches (matches emit incrementally, not only at the flush), no
    event is ever dropped, and the final output is exactly the batch
    executor's — the operative Flink guarantee: disorder within the
    watermark delay is invisible."""
    events, batches = data
    p = Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100)
    got = _drive_kernel(p, batches, horizon_s=200.0, disorder_s=30.0, flush=True)
    assert got == _batch_matches(p, events)


@st.composite
def _ordered_deliveries(draw):
    """Unique-timestamp events delivered in timestamp order ACROSS batches
    (disorder only within a batch — the ascending-watermark regime the
    default eager mode targets), split into >= 3 batches."""
    n = draw(st.integers(4, 14))
    ts = draw(st.lists(st.integers(0, 50), min_size=n, max_size=n, unique=True))
    types = [draw(st.sampled_from(["a", "b", "x"])) for _ in range(n)]
    events = [(i, t, y) for i, (t, y) in enumerate(zip(sorted(ts), types))]
    k = draw(st.integers(3, 5))
    cuts = sorted(draw(st.lists(st.integers(0, n), min_size=k - 1, max_size=k - 1)))
    batches, prev = [], 0
    for c in cuts + [n]:
        chunk = events[prev:c]
        batches.append(draw(st.permutations(chunk)))  # in-batch disorder OK
        prev = c
    return events, batches


@given(_ordered_deliveries())
@settings(max_examples=80, deadline=None)
def test_cep_stream_kernel_eager_exact_on_ordered_delivery(data):
    """DEFAULT (eager) MODE: when event time is nondecreasing across batch
    boundaries (in-batch disorder allowed — the scan sorts), the eager
    full-buffer re-scan emits exactly the batch executor's matches with no
    flush needed — the regime stream_cep_funnel runs in."""
    events, batches = data
    p = Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100)
    assert _drive_kernel(p, batches, horizon_s=100.0) == _batch_matches(p, events)


def test_cep_stream_kernel_drops_beyond_horizon_lateness():
    """An event arriving more than the horizon behind the persisted
    high-water mark is dropped BEFORE the scan (the watermark-late
    contract): its matches are NOT emitted even within its own arrival
    batch, and timely matches still are. Exercises both modes — round-8
    bug B was the default mode computing 'newest' from the live buffer
    only, letting an ancient pair match inside its arrival batch."""
    p = Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100)
    # batch 1 advances the clock to t=500; batch 2 delivers an ancient pair
    # (t=0 / t=30, far beyond horizon) and a timely pair at t=450/460
    batches = [
        [(1, 500, "x")],
        [(2, 0, "a"), (3, 450, "a"), (4, 460, "b"), (5, 30, "b")],
    ]
    got = _drive_kernel(p, batches, horizon_s=100.0)
    assert got == {(3, 4)}
    got_wm = _drive_kernel(p, batches, horizon_s=100.0, disorder_s=50.0, flush=True)
    assert got_wm == {(3, 4)}


def _drive_kernel_with_timeouts(pattern, batches, horizon_s, disorder_s):
    """Like _drive_kernel but with the timeout side output enabled; returns
    (matches, timeouts) where timeouts are (a_id, pending_stage)."""
    from flink_1_6_0_spark.streaming.cep import _stream_kernel

    step = _stream_kernel(
        pattern, "ts", "eid", "etype",
        horizon=int(horizon_s * 1_000_000), horizon_s=horizon_s,
        use_cleanup_timer=False,
        disorder=int(disorder_s * 1_000_000),
        with_timeouts=True,
    )
    rows, _ = _carry(step, [_frame(b) for b in batches], flush=True)
    matches = {(r["a_id"], r["b_id"]) for r in rows if not r["timed_out"]}
    touts = {(r["a_id"], r["pending_stage"]) for r in rows if r["timed_out"]}
    return matches, touts


def _batch_matches_and_timeouts(pattern, events):
    """The batch executor's convention EXACTLY (cep_batch_with_timeouts):
    dead partials that are prefixes of a full match are suppressed — they
    completed via a sibling branch (round-9 advice: the old oracle compared
    raw _scan output, leaving the suppression divergence untested)."""
    evs = sorted(
        ({"__ts": int(ts * 1_000_000), "eid": i, "etype": ty} for i, ts, ty in events),
        key=lambda e: (e["__ts"], e["eid"]),
    )
    touts: list = []
    raw = _scan(evs, pattern, timeouts=touts)
    matches = set()
    for match in raw:
        (ai,), (bi,) = match
        matches.add((evs[ai]["eid"], evs[bi]["eid"]))
    timeouts = {
        (evs[acc[0][0]]["eid"], pattern.stages[si].name)
        for acc, si in touts
        if not any(m[: len(acc)] == acc for m in raw)
    }
    return matches, timeouts


@given(_bounded_disorder_deliveries())
@settings(max_examples=100, deadline=None)
def test_cep_stream_kernel_timeout_side_output_matches_batch(data):
    """TIMEOUT side output (PatternStream timeout handler analog) under
    bounded disorder: the streamed (match, timeout) pair must equal the
    batch executor's matches + its dead-partial report exactly — timeouts
    fire when the fold point passes the partial's within-window, the flush
    reports the rest, and no partial is double-reported or reported then
    completed."""
    events, batches = data
    p = Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(40)
    got_m, got_t = _drive_kernel_with_timeouts(p, batches, horizon_s=200.0, disorder_s=30.0)
    want_m, want_t = _batch_matches_and_timeouts(p, events)
    assert got_m == want_m
    assert got_t == want_t


@given(_bounded_disorder_deliveries())
@settings(max_examples=80, deadline=None)
def test_cep_stream_kernel_skip_past_last_event_across_batches(data):
    """AfterMatchSkipStrategy across micro-batch boundaries: SKIP_PAST_LAST_EVENT
    prunes matches relative to previously EMITTED matches, so cross-batch
    re-scans must reconstruct the identical skip decisions from the grown
    prefix — the emitted set equals the batch executor's skip-filtered set."""
    events, batches = data
    p = (
        Pattern.begin("a", lambda e: e["etype"] == "a")
        .followed_by("b", lambda e: e["etype"] == "b")
        .within(100)
        .skip_past_last_event()
    )
    got = _drive_kernel(p, batches, horizon_s=200.0, disorder_s=30.0, flush=True)
    assert got == _batch_matches(p, events)


def _drive_kernel_quant(pattern, batches, horizon_s, disorder_s):
    """Drive the kernel for an a+ -> b pattern; returns {(a_ids tuple, b_id)}."""
    from flink_1_6_0_spark.streaming.cep import _stream_kernel

    step = _stream_kernel(
        pattern, "ts", "eid", "etype",
        horizon=int(horizon_s * 1_000_000), horizon_s=horizon_s,
        use_cleanup_timer=False,
        disorder=int(disorder_s * 1_000_000),
    )
    rows, _ = _carry(step, [_frame(b) for b in batches], flush=True)
    return {(tuple(r["a_ids"]), r["b_id"]) for r in rows}


@given(_bounded_disorder_deliveries())
@settings(max_examples=80, deadline=None)
def test_cep_stream_kernel_quantified_greedy_withhold_across_batches(data):
    """QUANTIFIED/GREEDY stages under bounded disorder exercise the
    withhold path: a greedy a+ run ending near the fold point could still be
    EXTENDED by buffered or future events, so the kernel must hold such
    matches back until their within-window passes the fold point — emitting
    early would ship a shorter run the batch executor never produces
    (append mode cannot retract). Final emitted set == batch executor."""
    events, batches = data
    def mk():
        return (
            Pattern.begin("a", lambda e: e["etype"] == "a")
            .one_or_more(max_times=6)
            .greedy()
            .followed_by("b", lambda e: e["etype"] == "b")
            .within(100)
        )
    got = _drive_kernel_quant(mk(), batches, horizon_s=200.0, disorder_s=30.0)
    evs = sorted(
        ({"__ts": int(ts * 1_000_000), "eid": i, "etype": ty} for i, ts, ty in events),
        key=lambda e: (e["__ts"], e["eid"]),
    )
    want = set()
    for match in _scan(evs, mk()):
        a_run, (bi,) = match
        want.add((tuple(evs[i]["eid"] for i in a_run), evs[bi]["eid"]))
    assert got == want


@given(_bounded_disorder_deliveries())
@settings(max_examples=80, deadline=None)
def test_cep_stream_kernel_not_followed_by_across_batches(data):
    """Mid-pattern NEGATION under bounded disorder: a ->(notFollowedBy x)-> b
    must reject exactly the matches whose gap contains an 'x' — including
    when the forbidden event arrives in a LATER batch than the pair it
    poisons. Sound because a match only commits once its whole within-window
    is below the fold point, so every possible gap event has already been
    folded or dropped-as-late."""
    events, batches = data
    def mk():
        return (
            Pattern.begin("a", lambda e: e["etype"] == "a")
            .not_followed_by("x", lambda e: e["etype"] == "x")
            .followed_by("b", lambda e: e["etype"] == "b")
            .within(100)
        )
    got = _drive_kernel(mk(), batches, horizon_s=200.0, disorder_s=30.0, flush=True)
    evs = sorted(
        ({"__ts": int(ts * 1_000_000), "eid": i, "etype": ty} for i, ts, ty in events),
        key=lambda e: (e["__ts"], e["eid"]),
    )
    want = set()
    for match in _scan(evs, mk()):
        (ai,), _not, (bi,) = match  # the negated stage contributes an empty entry
        want.add((evs[ai]["eid"], evs[bi]["eid"]))
    assert got == want


@st.composite
def _multi_key_deliveries(draw):
    """3–6 keys of unique-id events, the whole delivery permuted (out of
    order within and across keys) and split into >= 3 micro-batches,
    possibly empty ones."""
    events = []
    for k in range(draw(st.integers(3, 6))):
        for _ in range(draw(st.integers(1, 6))):
            events.append(
                (k, len(events), draw(st.integers(0, 150)), draw(st.sampled_from(["a", "b", "x"])))
            )
    delivery = [events[i] for i in draw(st.permutations(list(range(len(events)))))]
    k = draw(st.integers(3, 5))
    cuts = sorted(draw(st.lists(st.integers(0, len(delivery)), min_size=k - 1, max_size=k - 1)))
    batches, prev = [], 0
    for c in cuts + [len(delivery)]:
        batches.append(delivery[prev:c])
        prev = c
    return batches


@given(_multi_key_deliveries())
@settings(max_examples=80, deadline=None)
def test_bucket_runner_equals_the_per_key_kernel(batches):
    """streaming/keyed.py's bucket function holds 3–6 keys of the watermark-
    mode CEP kernel (timeout side output and processing-time cleanup timer
    on) in ONE bucket. Driven over multi-batch out-of-order deliveries, it
    must give the rows, per key and in per-key order, and the final per-key
    state that the kernel gives driven one key at a time; the closing timer
    flush included."""
    import pandas as pd
    from pyspark.sql import Row
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from flink_1_6_0_spark.streaming.cep import _stream_kernel
    from flink_1_6_0_spark.streaming.keyed import BUCKET, Clock, bucket_kernel

    p = Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100)
    step = _stream_kernel(
        p, "ts", "eid", "etype",
        horizon=200_000_000, horizon_s=200.0, use_cleanup_timer=True,
        disorder=30_000_000, timer_ms=1000, with_timeouts=True,
    )
    names = ["k", "a_id", "b_id", "timed_out", "pending_stage"]

    def frame(batch):
        return pd.DataFrame(
            {
                "k": [e[0] for e in batch],
                "eid": [e[1] for e in batch],
                "ts": [pd.Timestamp(e[2] * 1_000_000, unit="us") for e in batch],
                "etype": [e[3] for e in batch],
            }
        ).astype({"k": "int64", "eid": "int64"})

    def collect(rows, outs):
        for out in outs:
            for r in out.astype(object).where(out.notna(), None).to_dict("records"):
                rows.setdefault(r["k"], []).append(r)

    # one key at a time, the step's value carried per key
    values: dict[int, tuple] = {}
    want: dict[int, list] = {}

    def call_step(key, pdf, clock):
        out, values[key], _ = step((key,), pdf, values.get(key), clock)
        collect(want, [pd.DataFrame(out, columns=names).assign(k=key)])

    for i, batch in enumerate(batches):
        pdf = frame(batch)
        for key in sorted(set(pdf["k"])):
            call_step(key, pdf[pdf["k"] == key].reset_index(drop=True), Clock(False, 10 * i, None))
    want_state = {key: v for key, v in values.items() if v is not None}
    for key in want_state:
        call_step(key, frame([]), Clock(True, 10_000, None))

    # one bucket, its state carried between calls as the state store does
    run = bucket_kernel(step, ["k"], [], names, GroupStateTimeout.ProcessingTimeTimeout)
    bucket = None

    def call(batch, now, timed_out=False):
        nonlocal bucket
        value = Row(*bucket.get) if bucket is not None and bucket.exists else None
        bucket = GroupState(
            optionalValue=value, batchProcessingTimeMs=now,
            eventTimeWatermarkMs=GroupState.NO_TIMESTAMP,
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout, hasTimedOut=timed_out,
            watermarkPresent=False, defined=value is not None, updated=False,
            removed=False, timeoutTimestamp=GroupState.NO_TIMESTAMP,
            keyAsUnsafe=None, valueSchema=None,
        )
        collect(got, run((0,), [frame(batch).assign(**{BUCKET: 0})], bucket))

    got: dict[int, list] = {}
    for i, batch in enumerate(batches):
        if batch:  # Spark calls a bucket only with rows or when its timer is due
            call(batch, now=10 * i)
    got_state = {v[-2]: tuple(v[:-2]) for v in zip(*bucket.get)} if bucket and bucket.exists else {}
    if bucket is not None and bucket.exists:
        call([], now=10_000, timed_out=True)
        assert not bucket.exists  # every key flushed and removed
    assert got == want
    assert got_state == want_state


def _assert_stream_equals_batch_generic(pattern_fn, events, batches, horizon_s=200.0, disorder_s=30.0):
    """Generic bounded-disorder equivalence: drive the kernel across the
    batches (+flush) and compare FULL output rows (every output stage
    column) against the batch executor's matches, id-resolved."""
    from flink_1_6_0_spark.streaming.cep import (
        _output_match,
        _output_stages,
        _scan,
        _stage_out_cols,
        _stream_kernel,
    )

    p = pattern_fn()
    step = _stream_kernel(
        p, "ts", "eid", "etype",
        horizon=int(horizon_s * 1_000_000), horizon_s=horizon_s,
        use_cleanup_timer=False,
        disorder=int(disorder_s * 1_000_000),
    )
    out_cols = [c for c, _ in _stage_out_cols(p)]

    def freeze(v):
        return tuple(v) if isinstance(v, (list, tuple)) else v

    rows, _ = _carry(step, [_frame(b) for b in batches], flush=True)
    got = {tuple(freeze(r[c]) for c in out_cols) for r in rows}

    p2 = pattern_fn()
    evs = sorted(
        ({"__ts": int(ts * 1_000_000), "eid": i, "etype": ty} for i, ts, ty in events),
        key=lambda e: (e["__ts"], e["eid"]),
    )
    want = set()
    for match in _scan(evs, p2):
        row = []
        for st, idxs in zip(_output_stages(p2), _output_match(p2, match)):
            ids = [evs[i]["eid"] for i in idxs]
            row.append(tuple(ids) if st.emits_array else (ids[0] if ids else None))
        want.add(tuple(row))
    assert got == want, (got - want, want - got)


_ZOO = [
    # strict contiguity: a late arrival cannot slot between a committed
    # NEXT pair — it would be behind the fold point and dropped
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").next(
        "b", lambda e: e["etype"] == "b"
    ).within(100),
    # notNext: immediate successor must not be x (end-of-buffer undecided
    # case closed by later folds / the flush)
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").not_next(
        "x", lambda e: e["etype"] == "x"
    ).followed_by("b", lambda e: e["etype"] == "b").within(100),
    # optional middle stage: two derivation paths per match, deduped
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "x", lambda e: e["etype"] == "x"
    ).optional().followed_by("b", lambda e: e["etype"] == "b").within(100),
    # disjunctive predicate
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).or_(lambda e: e["etype"] == "x").within(100),
    # times(2) consecutive repeats + skip strategy
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").times(2).followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100).skip_past_last_event(),
    # quantified run stopped by until() — extendable, exercises the withhold
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").one_or_more(
        max_times=4
    ).until(lambda e: e["etype"] == "x").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100),
    # SKIP_TO_FIRST[b]: emitted matches prune to the first b's position
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100).skip_to_first("b"),
    # quantified GROUP pattern: the (a then b) SEQUENCE repeated 1-2 times
    lambda: Pattern.begin_group(
        "ab",
        Pattern.begin("a1", lambda e: e["etype"] == "a").followed_by(
            "b1", lambda e: e["etype"] == "b"
        ),
    ).times(1, 2).within(100),
    # timesOrMore lower bound
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").times_or_more(
        2, max_times=4
    ).followed_by("b", lambda e: e["etype"] == "b").within(100),
    # ITERATIVE condition (IterativeCondition.java:96): the b stage compares
    # the candidate against the matched a — doubly order-sensitive (which a
    # matched decides which b qualifies)
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e, ctx: e["etype"] == "b" and e["eid"] > ctx.first("a")["eid"]
    ).within(100),
    # iterative SELF-reference inside a loop: strictly increasing eids over
    # the stage's own previously accepted repeats (getEventsForPattern on
    # the looping stage itself)
    lambda: Pattern.begin(
        "a",
        lambda e, ctx: e["etype"] == "a"
        and (not ctx.events_for("a") or e["eid"] > ctx.last("a")["eid"]),
    ).times(2).followed_by("b", lambda e: e["etype"] == "b").within(100),
    # UNBOUNDED oneOrMore (no cap, reference semantics): run length bounded
    # only by the within horizon / data
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").one_or_more().followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100),
    # group sub-pattern whose inner predicate reads the ENCLOSING match
    # (outer anchor visible inside the group walk)
    lambda: Pattern.begin("s", lambda e: e["etype"] == "x").followed_by_group(
        "g",
        Pattern.begin("ga", lambda e: e["etype"] == "a").followed_by(
            "gb",
            lambda e, ctx: e["etype"] == "b" and e["eid"] > ctx.first("s")["eid"],
        ),
    ).within(100),
    # GREEDY loop (r11 session-3 semantics: NOT(take) guard on the next
    # stage with an unguarded until-copy) — a late loop-matching arrival in
    # the handoff gap must kill sub-maximal matches identically to batch
    lambda: Pattern.begin("s", lambda e: e["etype"] == "x").followed_by(
        "a", lambda e: e["etype"] == "a"
    ).one_or_more().optional().greedy().followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100),
    # times(1,2).optional(): zero_ok admits {0,1,2} repeats without
    # collapsing the lower bound (TimesRangeITCase.java:378 semantics)
    lambda: Pattern.begin("a", lambda e: e["etype"] == "a").times(1, 2).optional()
    .followed_by("b", lambda e: e["etype"] == "b").within(100),
    # CONSECUTIVE group repetitions: the (a b) sequence twice with no gap
    lambda: Pattern.begin_group(
        "ab",
        Pattern.begin("a1", lambda e: e["etype"] == "a").followed_by(
            "b1", lambda e: e["etype"] == "b"
        ),
    ).times(1, 2).consecutive().within(100),
    # followedByAny group with allowCombinations: every in-order pair of
    # (a b) repetitions from every anchor
    lambda: Pattern.begin("s", lambda e: e["etype"] == "x").followed_by_any_group(
        "ab",
        Pattern.begin("a1", lambda e: e["etype"] == "a").followed_by(
            "b1", lambda e: e["etype"] == "b"
        ),
    ).times(1, 2).allow_combinations().within(100),
    # group loop stopped by until(): repetition growth ends at the x
    lambda: Pattern.begin("s", lambda e: e["etype"] == "b").followed_by_group(
        "ab",
        Pattern.begin("a1", lambda e: e["etype"] == "a").followed_by(
            "b1", lambda e: e["etype"] == "b"
        ),
    ).one_or_more().until(lambda e: e["etype"] == "x").within(100),
]


@given(data=_bounded_disorder_deliveries(), zoo_i=st.integers(0, len(_ZOO) - 1))
@settings(max_examples=300, deadline=None)
def test_cep_stream_kernel_pattern_zoo_bounded_disorder(data, zoo_i):
    """The bounded-disorder batch-equivalence contract must hold across the
    DSL, not just plain followed_by: strict NEXT, notNext, optional,
    or-predicates, and quantified-consecutive + skip — each compared on
    FULL output rows against the batch executor."""
    events, batches = data
    _assert_stream_equals_batch_generic(_ZOO[zoo_i], events, batches)


@given(
    cents=st.integers(0, 20_000_000),      # price up to 200,000.00, 2dp
    disc_c=st.integers(0, 100),            # discount 0.00-1.00, 2dp
    tax_c=st.integers(0, 100),             # tax 0.00-1.00, 2dp
)
@settings(max_examples=500, deadline=None)
def test_floor_unit_conversion_recovers_exact_scaled_integers(cents, disc_c, tax_c):
    """queries/tpch.py q1's order-independence rests on this: for any product
    of <=2dp factors, floor(x*scale + 0.5) over the DOUBLE product recovers
    the EXACT scaled integer (the double sits within ~1e-7 of it), so both
    engines sum identical longs. Checked against exact integer arithmetic."""
    import math

    price = cents / 100.0
    disc = disc_c / 100.0
    tax = tax_c / 100.0
    # exact integers via integer arithmetic
    want_dp = cents * (100 - disc_c)                       # price*(1-d) in 1e-4 units
    want_ch = cents * (100 - disc_c) * (100 + tax_c)       # *(1+t) in 1e-6 units
    assert math.floor(price * 100 + 0.5) == cents
    assert math.floor(price * (1 - disc) * 10_000 + 0.5) == want_dp
    assert math.floor(price * (1 - disc) * (1 + tax) * 1_000_000 + 0.5) == want_ch


@given(
    ts=st.lists(st.integers(min_value=-2000, max_value=2000), min_size=1, max_size=40),
    slide=st.integers(min_value=2, max_value=50),
    size=st.integers(min_value=1, max_value=50),
)
@settings(max_examples=60, deadline=None)
def test_gap_pane_hop_matches_assigner_reference(spark, ts, slide, size):
    """operators.windows.hop for slide > size (the gap-pane branch) assigns
    exactly the windows Flink's SlidingEventTimeWindows would: epoch-aligned
    start = floor(t/slide)*slide, member iff t < start + size; in-gap
    elements get NO window. Reference implementation in plain Python,
    compared per element (incl. negative timestamps)."""
    import math

    from hypothesis import assume
    from pyspark.sql import functions as F

    from flink_1_6_0_spark.operators.windows import hop

    assume(slide > size)
    df = spark.createDataFrame([(t,) for t in ts], "t long").withColumn(
        "ts", F.timestamp_millis(F.col("t"))
    )
    out = df.select(
        "t",
        F.unix_millis(hop("ts", f"{slide} ms", f"{size} ms")["start"]).alias("ws"),
        F.unix_millis(hop("ts", f"{slide} ms", f"{size} ms")["end"]).alias("we"),
    )
    got = {
        (r["t"], None if r["ws"] is None else (r["ws"], r["we"]))
        for r in out.collect()
    }
    expected = set()
    for t in ts:
        start = math.floor(t / slide) * slide
        expected.add((t, (start, start + size) if t < start + size else None))
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 4)), st.integers(-50, 50)),
        min_size=1,
        max_size=60,
    ),
)
@settings(max_examples=25, deadline=None)
def test_combine_group_then_reduce_equals_direct_group_by(spark, rows):
    """combine_group (partial, per-batch) chained into the final groupBy is
    EXACTLY groupBy().sum() over the raw rows — for any partitioning, any
    key skew, and NULL keys (the review-finding regression, generalized)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from flink_1_6_0_spark.operators.aggregations import combine_group

    df = spark.createDataFrame(
        [(k, v) for k, v in rows], "k int, v long"
    ).repartition(4)

    def comb(pdf):
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "v": [int(pdf["v"].sum())]})

    partial = combine_group(df, ["k"], comb, "k int, v long")
    chained = {
        (r["k"], r["v"])
        for r in partial.groupBy("k").agg(F.sum("v").alias("v")).collect()
    }
    direct = {
        (r["k"], r["v"]) for r in df.groupBy("k").agg(F.sum("v").alias("v")).collect()
    }
    assert chained == direct


# ---------------------------------------------------------------------------
# Streaming EventComparator (CEP.java:51) — round-12 verdict task 3: the
# stream kernel's fold buffer re-sorts by (ts, *comparator_cols, id), so a
# same-timestamp priority order must match the batch comparator executor
# under any scrambled multi-batch replay.
# ---------------------------------------------------------------------------


def _batch_matches_with_comparator(pattern, events):
    """Batch executor spec with comparator: _scan over events sorted by
    (ts, prio, id) — cep_batch's per-key sort with comparator_cols."""
    evs = sorted(
        (
            {"__ts": int(ts * 1_000_000), "eid": i, "etype": ty, "prio": pr}
            for i, ts, ty, pr in events
        ),
        key=lambda e: (e["__ts"], e["prio"], e["eid"]),
    )
    out = set()
    for match in _scan(evs, pattern):
        (ai,), (bi,) = match
        out.add((evs[ai]["eid"], evs[bi]["eid"]))
    return out


def _drive_kernel_with_comparator(pattern, batches, horizon_s, disorder_s, flush=True):
    """_drive_kernel variant carrying a 'prio' attr column and the
    comparator over it through the streaming kernel."""
    from flink_1_6_0_spark.streaming.cep import _stream_kernel

    step = _stream_kernel(
        pattern, "ts", "eid", "etype",
        horizon=int(horizon_s * 1_000_000), horizon_s=horizon_s,
        use_cleanup_timer=False,
        disorder=None if disorder_s is None else int(disorder_s * 1_000_000),
        attr_cols=["prio"], comparator_cols=["prio"],
    )
    frames = [_frame(b).assign(prio=[e[3] for e in b]) for b in batches]
    rows, _ = _carry(step, frames, flush)
    return {(r["a_id"], r["b_id"]) for r in rows}


@st.composite
def _comparator_deliveries(draw):
    """Events with HEAVY timestamp collisions (few distinct ts) + a priority
    column that breaks the ties differently than id order would, scrambled
    across >= 3 micro-batches."""
    n = draw(st.integers(4, 12))
    events = [
        (
            i,
            draw(st.integers(0, 4)),  # 5 distinct ts -> many collisions
            draw(st.sampled_from(["a", "b", "x"])),
            draw(st.integers(0, 3)),  # prio ties fall back to id
        )
        for i in range(n)
    ]
    order = draw(st.permutations(list(range(n))))
    delivery = [events[i] for i in order]
    k = draw(st.integers(3, 5))
    cuts = sorted(draw(st.lists(st.integers(0, len(delivery)), min_size=k - 1, max_size=k - 1)))
    batches, prev = [], 0
    for c in cuts + [len(delivery)]:
        batches.append(delivery[prev:c])
        prev = c
    return events, batches


@given(_comparator_deliveries())
@settings(max_examples=120, deadline=None)
def test_cep_stream_kernel_comparator_matches_batch(data):
    """Watermark-mode kernel with comparator_cols=['prio'] over scrambled
    same-timestamp deliveries == batch executor sorted by (ts, prio, id)."""
    events, batches = data
    p = Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100)
    got = _drive_kernel_with_comparator(p, batches, horizon_s=200.0, disorder_s=60.0)
    assert got == _batch_matches_with_comparator(p, events)


# ---------------------------------------------------------------------------
# r17 CEP state compaction: committed-prefix pruning to live partial matches
# ---------------------------------------------------------------------------


def _kernel_state_after(pattern, batches, horizon_s, disorder_s):
    """Drive the kernel like _drive_kernel but return (emitted_pairs,
    final_state_buffer_len) for state-size assertions."""
    from flink_1_6_0_spark.streaming.cep import _stream_kernel

    step = _stream_kernel(
        pattern, "ts", "eid", "etype",
        horizon=int(horizon_s * 1_000_000), horizon_s=horizon_s,
        use_cleanup_timer=False,
        disorder=None if disorder_s is None else int(disorder_s * 1_000_000),
    )
    # quiescence flush (cleanup-timer path) — emits the withheld tail; the
    # buffer length is pinned BEFORE it, on the steady-state state write
    rows, value = _carry(step, [_frame(b) for b in batches], flush=True)
    buf_len = len(value[0]) if value is not None else 0
    return {(r["a_id"], r["b_id"]) for r in rows}, buf_len


def test_cep_stream_kernel_compacts_matched_prefix_state():
    """r17 (r15/r16 verdict): for a plain first-match chain in watermark
    mode, committed events consumed by EMITTED matches (or dead on their
    predicates) must leave the state write — only the un-scanned suffix and
    live partial matches stay. A dense in-order a->b stream where every 'a'
    matches immediately must keep O(suffix) state, not O(horizon) state,
    and still emit exactly the batch executor's matches."""
    from flink_1_6_0_spark.streaming.cep import _prunable_to_live_partials

    p = Pattern.begin("a", lambda e: e["etype"] == "a").followed_by(
        "b", lambda e: e["etype"] == "b"
    ).within(100)
    assert _prunable_to_live_partials(p)

    # 300 alternating a/b pairs, 1s apart, in order: every 'a' matches the
    # next 'b'. within=100s, disorder=10s -> the un-compacted kernel would
    # keep ~110s of events (~110 rows); compacted state is just the suffix.
    events = []
    eid = 0
    for t in range(0, 300, 2):
        events.append((eid, t, "a")); eid += 1
        events.append((eid, t + 1, "b")); eid += 1
    batches = [events[i : i + 50] for i in range(0, len(events), 50)]
    got, buf_len = _kernel_state_after(p, batches, horizon_s=110.0, disorder_s=10.0)
    assert got == _batch_matches(p, events)
    # suffix = events within disorder (10s) of the high-water mark = ~10
    # rows; the pre-compaction kernel kept everything within 110s (~110
    # rows). Pin well under half the horizon: the matched prefix is gone.
    assert buf_len <= 30, f"state buffer kept {buf_len} rows — compaction is off"

    # live partials must SURVIVE compaction: 'a's with no 'b' yet stay (with
    # their window open) and complete when the late 'b' commits.
    ev2 = [(0, 0, "a"), (1, 50, "x"), (2, 98, "b"), (3, 140, "x"), (4, 170, "x")]
    b2 = [[ev2[0]], [ev2[1]], [ev2[2]], [ev2[3]], [ev2[4]]]
    got2, _ = _kernel_state_after(p, b2, horizon_s=110.0, disorder_s=10.0)
    assert got2 == _batch_matches(p, ev2) == {(0, 2)}


def test_cep_stream_kernel_compaction_guard_excludes_unsafe_patterns():
    """Patterns outside the proven class must keep the plain horizon trim:
    NEXT (buffer adjacency), negations (absence evidence), quantifiers
    (withheld matches), *_ANY (every event pairable), skip strategies."""
    from flink_1_6_0_spark.streaming.cep import _prunable_to_live_partials

    base = lambda: Pattern.begin("a", lambda e: e["etype"] == "a")  # noqa: E731
    assert _prunable_to_live_partials(
        base().followed_by("b", lambda e: e["etype"] == "b").within(50)
    )
    assert not _prunable_to_live_partials(
        base().next("b", lambda e: e["etype"] == "b")
    )
    assert not _prunable_to_live_partials(
        base()
        .not_followed_by("n", lambda e: e["etype"] == "x")
        .followed_by("b", lambda e: e["etype"] == "b")
    )
    assert not _prunable_to_live_partials(
        base().followed_by("b", lambda e: e["etype"] == "b").times(2)
    )
    assert not _prunable_to_live_partials(
        base().followed_by_any("b", lambda e: e["etype"] == "b")
    )
    assert not _prunable_to_live_partials(
        base()
        .followed_by("b", lambda e: e["etype"] == "b")
        .skip_past_last_event()
    )
