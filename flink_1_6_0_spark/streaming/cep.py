"""CEP — complex event pattern matching. SURVEY.md §2.12.

Reference: flink-libraries/flink-cep — Pattern DSL (pattern/Pattern.java:
begin:123, where:150, next:256, followedBy:285, followedByAny:316,
within:239) executed by an NFA (nfa/NFA.java:82).

Spark has no CEP; this module provides:
- the Pattern DSL (begin/next/followed_by/followed_by_any/within),
- a batch executor: per-key ordered scan through ``keyed.per_key`` (Arrow
  batches; each key's sequence is processed independently, so the operator
  scales with key count like the reference's keyed NFA),
- a streaming executor: the live keyed runner ``keyed.per_key_state``
  keeps a bounded buffer of events per key (the `within` horizon is the
  state bound — NFA state + timers analog) and re-scans on each
  micro-batch.

Contiguity semantics implemented (Pattern.java):
- ``next``            — strict: the immediately following event
- ``followed_by``     — relaxed: the FIRST later matching event
- ``followed_by_any`` — non-deterministic relaxed: EVERY later matching event
  (allowCombinations, Pattern.java:435)

Event order within a key is (ts, event_id) — a total order, so matches are
deterministic and oracle-checkable.

Also implemented:
- after-match skip strategies (cep/nfa/AfterMatchSkipStrategy.java):
  NO_SKIP / SKIP_PAST_LAST_EVENT / SKIP_TO_FIRST[stage] / SKIP_TO_LAST[stage],
  applied as a prune over the enumerated matches in event order (each kept
  match raises the minimum start index later matches must satisfy);
- group patterns (pattern/GroupPattern.java): ``begin_group`` /
  ``next_group`` / ``followed_by_group`` wrap a whole sub-pattern as one
  quantifiable stage; repetitions of the group follow each other with relaxed
  contiguity and the group emits its matched ids flattened as ``<name>_ids``;
- iterative conditions (pattern/conditions/IterativeCondition.java:96):
  two-arg predicates ``where(lambda e, ctx: ...)`` see the partial match's
  prior-stage events via ``ctx.events_for(name)`` / ``ctx.first`` /
  ``ctx.last`` — value-dependent funnels ("purchase.value > view.value")
  work in both executors (streaming needs the compared columns in
  ``attr_cols``);
- PatternSelectFunction / PatternFlatSelectFunction (PatternStream.java:98,
  :305): ``PatternStream.select(fn, output_schema)`` / ``flat_select`` run
  the user function over the reference's ``Map<String, List<event>>``
  inside the match scan — batch and stream (skeleton + ``attr_cols``
  events), flatSelect's zero-row drop / fan-out contract included.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from flink_1_6_0_spark.streaming.keyed import per_key, per_key_state, schema_fields, schema_names

NEXT = "next"
FOLLOWED_BY = "followed_by"
FOLLOWED_BY_ANY = "followed_by_any"


class MatchContext:
    """IterativeCondition.Context analog (flink-cep pattern/conditions/
    IterativeCondition.java:96 ``getEventsForPattern``): inside a two-arg
    ``where(lambda e, ctx: ...)`` predicate, ``ctx.events_for(name)`` (or
    ``ctx[name]``) returns the events the named stage has accepted so far in
    THIS partial match — earlier stages' runs plus, for the stage currently
    looping, its own previously accepted repeats. ``ctx.first(name)`` /
    ``ctx.last(name)`` are the accessors value-dependent funnels use
    (IterativeCondition.java:48's subtype-sum example). Events are the same
    dicts the one-arg predicate receives. Inside a group sub-pattern the
    context also exposes the ENCLOSING partial match: outer stages by their
    names, and the group's earlier repetitions aggregated under the GROUP's
    name (inner stage names of earlier repetitions are not individually
    addressable — a documented approximation of the reference's per-pattern
    event registry)."""

    __slots__ = ("_events", "_pairs")

    def __init__(self, events, pairs):
        self._events = events
        self._pairs = pairs

    def events_for(self, name: str) -> list:
        out = []
        for st, run in self._pairs:
            if getattr(st, "name", None) == name:
                out.extend(self._events[i] for i in run)
        return out

    def __getitem__(self, name: str) -> list:
        return self.events_for(name)

    def first(self, name: str):
        evs = self.events_for(name)
        return evs[0] if evs else None

    def last(self, name: str):
        evs = self.events_for(name)
        return evs[-1] if evs else None


def _wants_ctx(fn) -> bool:
    """True when a predicate was registered with a second positional
    parameter — the opt-in for the iterative-condition context. Cached on
    the function object (survives cloudpickle round-trips as a plain
    attribute recomputed once per worker)."""
    cached = getattr(fn, "__cep_wants_ctx__", None)
    if cached is not None:
        return cached
    import inspect

    try:
        params = list(inspect.signature(fn).parameters.values())
    except (TypeError, ValueError):
        params = None  # non-inspectable callable (some builtins): one-arg form
    if params is None:
        wants = False
    else:
        # count REQUIRED positional params only: closure-capturing defaults
        # (``lambda e, _a=...: ...`` — the or_ combinator, partial-bound
        # helpers) must not be mistaken for a ctx slot
        required = [
            p
            for p in params
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            and p.default is p.empty
        ]
        wants = any(p.kind == p.VAR_POSITIONAL for p in params) or len(required) >= 2
        if len(required) >= 2 and required[1].name not in ("ctx", "context", "_ctx"):
            # an arity ACCIDENT — e.g. ``def pred(event, threshold)`` — would
            # silently receive a MatchContext as `threshold` and produce
            # wrong-but-plausible matches. Fail loudly instead (r10 advice):
            # the iterative opt-in must NAME its second parameter ctx.
            raise ValueError(
                f"CEP predicate {getattr(fn, '__name__', fn)!r} takes a second "
                f"required positional parameter named {required[1].name!r}: the "
                "iterative-condition slot (IterativeCondition.java:96) must be "
                "named 'ctx'/'context'. If the parameter is data, bind it with "
                "a default or functools.partial instead."
            )
        if len(required) > 2:
            raise ValueError(
                f"CEP predicate {getattr(fn, '__name__', fn)!r} takes "
                f"{len(required)} required positional parameters; predicates "
                "are fn(event) or fn(event, ctx) — bind extra data with "
                "defaults or functools.partial."
            )
    try:
        fn.__cep_wants_ctx__ = wants
    except (AttributeError, TypeError):
        pass  # unsettable callables (builtins) just re-inspect each time
    return wants


def _always(_e) -> bool:
    """Condition of a stage declared without ``where`` — matches every event
    (the reference's stage-before-.where() state). Replaced, not ANDed, by
    the first ``where()`` call."""
    return True


def _pred(fn, ev, events, pairs) -> bool:
    """Invoke a predicate in whichever form it was registered: one-arg
    ``fn(event)`` or two-arg ``fn(event, ctx)`` (IterativeCondition). The
    context object is built only when the predicate asked for it — the
    one-arg hot path pays a cached attribute check and nothing else."""
    if _wants_ctx(fn):
        return fn(ev, MatchContext(events, pairs))
    return fn(ev)

# After-match skip strategies (cep/nfa/AfterMatchSkipStrategy.java, applied by
# NFA.java:82's match pruning): once a match is emitted, partial matches that
# started before a strategy-defined event are discarded.
NO_SKIP = "no_skip"
SKIP_PAST_LAST_EVENT = "skip_past_last_event"
SKIP_TO_FIRST = "skip_to_first"
SKIP_TO_LAST = "skip_to_last"


@dataclass
class Stage:
    name: str
    predicate: Callable[[dict[str, Any]], bool]
    contiguity: str = FOLLOWED_BY
    min_times: int = 1
    max_times: int | None = 1  # None = unbounded (oneOrMore/timesOrMore)
    consecutive_repeats: bool = False
    negated: bool = False  # notNext/notFollowedBy (Pattern.java:267,298)
    until_pred: Callable[[dict[str, Any]], bool] | None = None  # until (Pattern.java:214)
    greedy_flag: bool = False  # greedy (Pattern.java:361)
    combinations_flag: bool = False  # allowCombinations (Pattern.java:435)
    # optional() (Pattern.java:327): zero repeats allowed WITHOUT lowering
    # min_times — times(2,3).optional() admits {0,2,3} repeats, never 1
    # (TimesRangeITCase.java:378 golden; collapsing optional into
    # min_times=0 was the r11 bug the ITCase ports caught)
    zero_ok: bool = False

    @property
    def may_skip(self) -> bool:
        return self.min_times == 0 or self.zero_ok

    @property
    def quantified(self) -> bool:
        return self.min_times != 1 or self.max_times != 1 or self.zero_ok

    @property
    def emits_array(self) -> bool:
        return self.quantified


@dataclass
class GroupStage:
    """Group pattern (pattern/GroupPattern.java): a whole sub-pattern treated
    as one stage, so quantifiers (times/oneOrMore/optional) apply to the
    SEQUENCE. Matched event ids are emitted flattened as ``<name>_ids``.

    Contiguity: the group's own contiguity anchors the first event of the
    first repetition; repetitions follow each other with relaxed contiguity
    (the reference's default for looping group patterns); inner stages keep
    their declared contiguity."""

    name: str
    sub: "Pattern"
    contiguity: str = FOLLOWED_BY
    min_times: int = 1
    max_times: int | None = 1  # None = unbounded
    zero_ok: bool = False  # optional() without lowering min_times
    # loop modifiers, same meaning as on Stage (GroupITCase exercises all
    # three on group loops: consecutive GroupITCase.java:885, combinations
    # :333, until :1023)
    consecutive_repeats: bool = False
    combinations_flag: bool = False
    until_pred: Callable[[dict[str, Any]], bool] | None = None
    greedy_flag: bool = False

    @property
    def may_skip(self) -> bool:
        return self.min_times == 0 or self.zero_ok

    @property
    def quantified(self) -> bool:
        return self.min_times != 1 or self.max_times != 1 or self.zero_ok

    @property
    def emits_array(self) -> bool:
        return True


@dataclass
class Pattern:
    """Fluent pattern DSL (Pattern.java:123ff)."""

    stages: list[Stage] = field(default_factory=list)
    within_seconds: float | None = None
    skip_strategy: str = NO_SKIP
    skip_target: str | None = None

    @staticmethod
    def begin(name: str, where: Callable[[dict[str, Any]], bool] | None = None) -> "Pattern":
        """Every ``where`` in the DSL accepts either form:
        ``lambda e: ...`` (SimpleCondition) or ``lambda e, ctx: ...``
        (IterativeCondition — ``ctx`` is a :class:`MatchContext` exposing
        the partial match's prior-stage events, the reference's
        ``getEventsForPattern``). ``where`` may also be omitted — the
        reference's canonical shape is ``begin("a").where(cond)``
        (Pattern.java:123 then :150), and an unconditioned stage matches
        every event."""
        return Pattern(stages=[Stage(name, where or _always)])

    def next(self, name: str, where=None) -> "Pattern":
        self.stages.append(Stage(name, where or _always, NEXT))
        return self

    def not_next(self, name: str, where) -> "Pattern":
        """notNext (Pattern.java:267): the event IMMEDIATELY after the
        previous match must not satisfy ``where``. Consumes no event and
        emits no output column."""
        self.stages.append(Stage(name, where, NEXT, negated=True))
        return self

    def not_followed_by(self, name: str, where) -> "Pattern":
        """notFollowedBy (Pattern.java:298): NO event between the previous
        match and the next stage's match may satisfy ``where``. Cannot be the
        pattern's last stage (same MalformedPatternException rule as the
        reference)."""
        self.stages.append(Stage(name, where, FOLLOWED_BY, negated=True))
        return self

    def where(self, cond) -> "Pattern":
        """A SECOND (third, …) ``where`` on the same stage ANDs with the
        existing condition (Pattern.java:150 — conditions combine via
        RichAndCondition). Either conjunct may be the two-arg iterative
        form; the combined predicate takes the context iff one does. The
        FIRST where() on a stage declared without one simply becomes its
        condition."""
        first = self.stages[-1].predicate
        if first is _always:
            self.stages[-1].predicate = cond
            return self

        if _wants_ctx(first) or _wants_ctx(cond):

            def both(e, ctx, _a=first, _b=cond):
                ra = _a(e, ctx) if _wants_ctx(_a) else _a(e)
                return ra and (_b(e, ctx) if _wants_ctx(_b) else _b(e))

        else:

            def both(e, _a=first, _b=cond):
                return _a(e) and _b(e)

        self.stages[-1].predicate = both
        return self

    def subtype(self, type_value, field: str = "event_type") -> "Pattern":
        """subtype(SubEvent.class) (Pattern.java:150 overload backed by
        SubtypeCondition): narrow the last stage to one event type. The
        dict-event analog matches on the ``field`` column (default
        ``event_type`` — the discriminator the Java class hierarchy plays
        in the reference); composes with where() exactly like the
        reference's subtype().where() chain (AND)."""
        return self.where(lambda e, _tv=type_value, _f=field: e.get(_f) == _tv)

    def or_(self, where) -> "Pattern":
        """where(...).or(...) (Pattern.java:172): disjunction on the last
        stage's condition. Either branch may be the two-arg iterative form
        ``lambda e, ctx: ...`` — the combined predicate takes the context
        iff at least one branch does."""
        first = self.stages[-1].predicate

        if _wants_ctx(first) or _wants_ctx(where):

            def either(e, ctx, _a=first, _b=where):
                ra = _a(e, ctx) if _wants_ctx(_a) else _a(e)
                return ra or (_b(e, ctx) if _wants_ctx(_b) else _b(e))

        else:

            def either(e, _a=first, _b=where):
                return _a(e) or _b(e)

        self.stages[-1].predicate = either
        return self

    def followed_by(self, name: str, where=None) -> "Pattern":
        self.stages.append(Stage(name, where or _always, FOLLOWED_BY))
        return self

    def followed_by_any(self, name: str, where=None) -> "Pattern":
        self.stages.append(Stage(name, where or _always, FOLLOWED_BY_ANY))
        return self

    # -- group patterns (GroupPattern.java; Pattern.begin/next/followedBy
    #    overloads taking a Pattern) ----------------------------------------
    @staticmethod
    def begin_group(name: str, sub: "Pattern") -> "Pattern":
        return Pattern(stages=[GroupStage(name, sub)])

    def next_group(self, name: str, sub: "Pattern") -> "Pattern":
        self.stages.append(GroupStage(name, sub, NEXT))
        return self

    def followed_by_group(self, name: str, sub: "Pattern") -> "Pattern":
        self.stages.append(GroupStage(name, sub, FOLLOWED_BY))
        return self

    def followed_by_any_group(self, name: str, sub: "Pattern") -> "Pattern":
        """followedByAny(Pattern) (Pattern.java followedByAny group overload):
        the group may anchor at EVERY later position, not just the first
        completable one (GroupITCase.java:333/:461)."""
        self.stages.append(GroupStage(name, sub, FOLLOWED_BY_ANY))
        return self

    # -- quantifiers (Pattern.java:327-474), applied to the LAST stage ------
    def times(self, n: int, m: int | None = None) -> "Pattern":
        """times(n) / times(n, m) (Pattern.java:376,394)."""
        self.stages[-1].min_times = n
        self.stages[-1].max_times = m if m is not None else n
        return self

    def optional(self) -> "Pattern":
        """optional (Pattern.java:327) — the stage may match ZERO events, on
        top of (not instead of) its repeat bounds: times(2,3).optional()
        admits {0, 2, 3} repeats, never 1 (TimesRangeITCase.java:378)."""
        self.stages[-1].zero_ok = True
        return self

    def one_or_more(self, max_times: int | None = None) -> "Pattern":
        """oneOrMore (Pattern.java:346). Unbounded like the reference
        (``max_times=None``): a run grows until the ``within`` horizon or
        the data ends — the horizon is the real state bound, exactly as the
        reference's NFA loop states live until the window closes. Pass an
        explicit ``max_times`` to cap repetition count (useful for
        combinatorial *_ANY loops where enumeration is exponential in run
        length; earlier rounds capped at 8 by default — a dense in-horizon
        run longer than the cap was silently truncated)."""
        self.stages[-1].min_times = 1
        self.stages[-1].max_times = max_times
        return self

    def times_or_more(self, n: int, max_times: int | None = None) -> "Pattern":
        """timesOrMore (Pattern.java:414). Unbounded like the reference; an
        explicit ``max_times`` caps the repeat count (see one_or_more)."""
        self.stages[-1].min_times = n
        self.stages[-1].max_times = None if max_times is None else max(n, max_times)
        return self

    def greedy(self) -> "Pattern":
        """greedy (Pattern.java:361): the last quantified stage emits only
        its MAXIMAL repeat run, not every prefix."""
        self.stages[-1].greedy_flag = True
        return self

    def until(self, where) -> "Pattern":
        """until (Pattern.java:214): the last looping stage stops accepting
        events once ``where`` is satisfied (the until-event is not consumed)."""
        self.stages[-1].until_pred = where
        return self

    def allow_combinations(self) -> "Pattern":
        """allowCombinations (Pattern.java:435): repeats of the last looping
        stage branch non-deterministically — every in-order COMBINATION of
        later matching events forms a run, not just the single relaxed
        repeat chain (the loop analog of followedByAny)."""
        self.stages[-1].combinations_flag = True
        return self

    def consecutive(self) -> "Pattern":
        """consecutive (Pattern.java:474): repeats of the last quantified
        stage must be adjacent events (strict inner contiguity)."""
        self.stages[-1].consecutive_repeats = True
        return self

    def within(self, seconds: float) -> "Pattern":
        self.within_seconds = seconds
        return self

    # -- after-match skip (AfterMatchSkipStrategy.java) ---------------------
    def skip_past_last_event(self) -> "Pattern":
        """After a match, discard partial matches that started at or before
        the match's last event — emitted matches never overlap."""
        self.skip_strategy = SKIP_PAST_LAST_EVENT
        return self

    def skip_to_first(self, stage_name: str) -> "Pattern":
        """Discard partial matches started before the FIRST event the named
        stage matched; a match starting exactly there survives."""
        self.skip_strategy, self.skip_target = SKIP_TO_FIRST, stage_name
        return self

    def skip_to_last(self, stage_name: str) -> "Pattern":
        """Discard partial matches started before the LAST event the named
        stage matched."""
        self.skip_strategy, self.skip_target = SKIP_TO_LAST, stage_name
        return self

    @property
    def within_micros(self) -> int | None:
        """Exact integer-µs horizon (float-second comparisons could flip a
        match exactly at the boundary; interval arithmetic must be exact)."""
        return None if self.within_seconds is None else int(round(self.within_seconds * 1_000_000))


# Safety valve for combinatorial loops (r10 advice): a FOLLOWED_BY_ANY or
# allowCombinations quantified stage enumerates every repeat subset — with
# the now-unbounded oneOrMore/timesOrMore default, a dense hot key (thousands
# of matching events inside one within-window) is exponential and would hang
# or OOM the executor silently; the streaming kernel re-runs the scan every
# micro-batch. When one stage enumeration exceeds this many runs, _scan
# RAISES with remediation (cap max_times, tighten within/predicate, or raise/
# disable the ceiling — None disables). 100k runs ≈ well past any sane match
# fan-out and still cheap to reach before raising.
COMBINATORIAL_RUNS_CEILING: int | None = 100_000


def _scan(
    events: list[dict],
    pattern: Pattern,
    timeouts: list | None = None,
    closed_negations_only: bool = False,
) -> list[tuple[tuple[int, ...], ...]]:
    """Ordered NFA scan over one key's events; returns one tuple-of-index-
    tuples per match (one inner tuple per stage; quantified stages contribute
    0..max_times indices). ``events[i]['__ts']`` is integer epoch-µs; `within`
    is enforced against the first matched event with exact integer arithmetic.

    Match policy: *_ANY stages/repeat-counts enumerate every combination
    (allowCombinations); NEXT/FOLLOWED_BY take the first candidate per slot
    and the LONGEST valid repeat run (greedy, Pattern.java:361).

    ``closed_negations_only`` (the STREAMING executor sets it): a match whose
    acceptance rests on the ABSENCE of an event at/after the buffer's end is
    undecided — more events may arrive — so it is withheld until an observed
    event (or the within horizon) closes the negated region. The batch
    executor sees complete data and emits immediately."""
    out: list[tuple[tuple[int, ...], ...]] = []
    n = len(events)
    within_us = pattern.within_micros

    def in_horizon(idx: int, start_ts: int | None) -> bool:
        # STRICT bound: the reference times a partial out once
        # ``timestamp - startTimestamp >= windowTime`` (NFA.java:270
        # isStateTimedOut), so an event at elapsed == within can never join
        # the match (NFAITCase.java:293 golden — the id-1 start whose end
        # arrives exactly windowTime later matches nothing)
        return (
            within_us is None
            or start_ts is None
            or events[idx]["__ts"] - start_ts < within_us
        )

    def repeat_runs(st: Stage, first_candidates, start_ts, all_starts: bool = False, pairs: tuple = (), stop_pred=None):
        """All index-tuples for one quantified stage: each run picks repeats
        per the inner contiguity (strict adjacency when consecutive()).
        ``all_starts`` (the pattern's begin stage) anchors at every candidate
        — any event may begin a match regardless of contiguity. When the
        stage IS the anchor (start_ts None), the run's own first event
        starts the ``within`` clock, so repeats of the begin stage are
        horizon-bounded too (review finding: an anchored times(2) ignored
        within between its own repeats). ``pairs`` is the (stage, run)
        prefix matched so far — two-arg predicates see it (plus this run's
        own accepted repeats) as their IterativeCondition context."""
        runs: list[tuple[int, ...]] = []

        def grow(run: tuple[int, ...], run_start):
            if st.max_times is None or len(run) < st.max_times:
                self_pairs = pairs + ((st, run),)
                prev = run[-1]
                nxt = [prev + 1] if st.consecutive_repeats else range(prev + 1, n)
                for idx in nxt:
                    if idx >= n or not in_horizon(idx, run_start):
                        break
                    if st.until_pred is not None and _pred(st.until_pred, events[idx], events, self_pairs):
                        break  # until(): stop accepting, event not consumed
                    if _pred(st.predicate, events[idx], events, self_pairs):
                        grow(run + (idx,), run_start)
                        if not st.combinations_flag:
                            # INNER contiguity is relaxed (take the NEXT
                            # matching event) unless allowCombinations —
                            # the stage's own *_ANY applies to run ENTRY
                            # alternatives only (TimesRangeITCase.java:426
                            # golden: followedByAny.times(2,3) without
                            # combinations must not skip accepted
                            # alternatives inside the loop)
                            break
                        if stop_pred is not None and _pred(stop_pred, events[idx], events, self_pairs):
                            break  # combinations may not branch past it either
                    elif st.consecutive_repeats:
                        break
                    elif stop_pred is not None and _pred(stop_pred, events[idx], events, self_pairs):
                        # a loop immediately followed by notNext/notFollowedBy
                        # may not IGNORE an event matching the not-condition:
                        # the reference compiles the not-condition as a STOP
                        # on the loop state's ignore edge
                        # (NotPatternITCase.java:318 testTimesWithNotFollowedBy
                        # and :725 testNotFollowedByNextAfterOneOrMoreEager
                        # goldens — both empty because the run cannot skip c)
                        break
            # greedy() does NOT prune runs here: the reference implements
            # greediness as a guard on the NEXT state's transitions
            # (NFACompiler.java:851 updateWithGreedyCondition ANDs every
            # sink transition with NOT(take)), so sub-maximal runs die only
            # when a loop-matching event sits between the run's end and the
            # next stage's first event — walk() applies that guard. A greedy
            # loop at the END of the pattern therefore still emits every
            # prefix (GreedyITCase.java:726 golden).
            if len(run) >= st.min_times:
                runs.append(run)
                if (
                    COMBINATORIAL_RUNS_CEILING is not None
                    and len(runs) > COMBINATORIAL_RUNS_CEILING
                    and (st.contiguity == FOLLOWED_BY_ANY or st.combinations_flag)
                ):
                    raise RuntimeError(
                        f"CEP stage {st.name!r}: combinatorial repeat "
                        f"enumeration exceeded {COMBINATORIAL_RUNS_CEILING} "
                        "runs for one key (FOLLOWED_BY_ANY/allowCombinations "
                        "enumerate every repeat subset — exponential in the "
                        "in-horizon run length). Cap the loop with "
                        "max_times=N, tighten within()/the predicate, or "
                        "adjust cep.COMBINATORIAL_RUNS_CEILING (None "
                        "disables this valve)."
                    )

        for first in first_candidates:
            if not in_horizon(first, start_ts):
                break
            # until() kills ACTIVE runs (grow() stops at the until event and
            # never crosses it) and forbids a run STARTING ON the until event
            # itself. Whether a fresh entry AFTER the breaker is legal depends
            # on the loop's ignore edge: followedByAny ignores matching
            # events, so its pending entry survives the breaker
            # (UntilConditionITCase.java:410 golden — (start, middle3) with
            # middle3 after the breaking event), and every event can anchor a
            # fresh NFA run at the begin stage (all_starts). For NEXT /
            # followedBy the entry branch can neither take the breaker
            # (take = accept AND NOT until, NFACompiler extendWithUntil-
            # Condition) nor ignore it (eager ignore = NOT accept... AND NOT
            # until), so the partial dies — no entry past the breaker
            # (GreedyITCase.java:294/:599 goldens: breaker-first admits only
            # the zero-repeat match / nothing).
            if st.until_pred is not None and _pred(st.until_pred, events[first], events, pairs):
                if all_starts or st.contiguity == FOLLOWED_BY_ANY:
                    continue
                break
            if _pred(st.predicate, events[first], events, pairs):
                grow((first,), start_ts if start_ts is not None else events[first]["__ts"])
                if not all_starts and st.contiguity in (NEXT, FOLLOWED_BY):
                    break  # first matching start only
        return runs

    def sub_matches_at(gst: GroupStage, at_idx: int, start_ts, base_pairs: tuple = ()):
        """Full sub-pattern matches whose FIRST event is exactly events[at_idx]
        (flattened index tuples) — the position-anchored scan group_runs needs.
        ``base_pairs`` carries the ENCLOSING partial match (outer stages +
        the group's own earlier repetitions) so inner ctx predicates see it,
        as the reference's IterativeCondition context does."""
        res: list[tuple[int, ...]] = []

        def emit(acc, _last):
            flat = tuple(i for r in acc for i in r)
            if flat and flat[0] == at_idx:
                res.append(flat)

        walk(gst.sub.stages, 0, at_idx - 1, start_ts, (), emit, top_level=False, base_pairs=base_pairs)
        return res

    def group_runs(gst: GroupStage, last_idx: int, start_ts, anchor_all: bool, pairs: tuple = ()):
        """Runs for a group stage: each run concatenates 1..max_times full
        sub-sequence matches. First repetition anchored per the group's
        contiguity; later repetitions relaxed (first feasible, deterministic).
        Inner predicates' ctx sees the outer stages by name plus the group's
        earlier repetitions aggregated under the GROUP's name (the flattened
        run — inner stage names of earlier repetitions are not individually
        addressable, a documented approximation of the reference's
        per-pattern registry)."""
        runs: list[tuple[int, ...]] = []

        def grow(run: tuple[int, ...], reps: int, run_start):
            if reps >= gst.min_times:
                runs.append(run)
            if reps == gst.max_times:
                return
            self_pairs = pairs + ((gst, run),)
            # consecutive(): the next repetition must start at the event
            # immediately after the previous one (GroupITCase.java:885 —
            # a breaking event between (b c) repetitions kills the chain)
            nxt = [run[-1] + 1] if gst.consecutive_repeats else range(run[-1] + 1, n)
            for s2 in nxt:
                if s2 >= n or not in_horizon(s2, run_start):
                    break
                # until(): the loop stops accepting repetitions once the
                # condition holds; the until event is not consumed
                # (GroupITCase.java:1023 — (a b)+ until(d))
                if gst.until_pred is not None and _pred(gst.until_pred, events[s2], events, self_pairs):
                    break
                subs = sub_matches_at(gst, s2, run_start, self_pairs)
                if subs:
                    if gst.combinations_flag:
                        # allowCombinations: branch on taking this repetition
                        # AND on skipping it for a later one — every in-order
                        # combination of repetitions (GroupITCase.java:333)
                        for flat in subs:
                            grow(run + flat, reps + 1, run_start)
                        continue
                    grow(run + subs[0], reps + 1, run_start)
                    return  # deterministic: one repetition chain
                if gst.consecutive_repeats:
                    break

        strict = gst.contiguity == NEXT and not anchor_all
        candidates = [last_idx + 1] if strict else range(last_idx + 1, n)
        for s in candidates:
            if s >= n or not in_horizon(s, start_ts):
                break
            if gst.until_pred is not None and _pred(gst.until_pred, events[s], events, pairs + ((gst, ()),)):
                # same entry rule as repeat_runs: the pending-entry branch can
                # neither take nor ignore the until event except under ANY
                # contiguity / fresh begin-stage anchors
                if anchor_all or gst.contiguity == FOLLOWED_BY_ANY:
                    continue
                break
            eff_start = start_ts if start_ts is not None else events[s]["__ts"]
            subs = sub_matches_at(gst, s, eff_start, pairs + ((gst, ()),))
            for flat in subs:
                grow(flat, 1, eff_start)
            if strict or (subs and not anchor_all and gst.contiguity != FOLLOWED_BY_ANY):
                break
        return runs

    def _greedy_guard(st, frm: int, pairs: tuple):
        """NFACompiler.java:851 updateWithGreedyCondition: after a greedy
        loop hands off, every transition of the NEXT state is ANDed with
        NOT(take) — so the branch dies if any event in (frm, j] (j = the next
        consuming stage's first event) still matches the loop's condition.
        With until(), the proceed edge on the until event leads to an
        UNGUARDED copy of the sink (NFACompiler.java:692-701), so the guard
        lifts from the first until-matching event on (GreedyITCase.java:294
        golden: breaker-first still admits the zero-repeat match)."""

        def ok(j: int) -> bool:
            for f in range(frm + 1, j + 1):
                if st.until_pred is not None and _pred(st.until_pred, events[f], events, pairs):
                    return True
                if _pred(st.predicate, events[f], events, pairs):
                    return False
            return True

        return ok

    def walk(stages: list, stage_i: int, last_idx: int, start_ts, acc: tuple, emit, top_level: bool, pending_not: tuple = (), anchor_inherit: bool = False, base_pairs: tuple = (), guards: tuple = ()):
        # (stage, run) prefix for ctx predicates; base_pairs prepends the
        # enclosing partial match when this walk runs a group sub-pattern
        pairs = base_pairs + tuple(zip(stages, acc))
        if stage_i == len(stages):
            # A pending notFollowedBy whose following stages were ALL skipped
            # is DISCHARGED at emit — the reference completes the match the
            # moment the last positive stage accepts, so later forbidden
            # events cannot poison it (NotPatternITCase.java:487
            # testNotFollowedByBeforeOptionalAtTheEnd golden: a ·¬b ·c?
            # over [a1 c1 b1 c2] emits BOTH (a1,c1) and the bare (a1),
            # despite b1 arriving later). An earlier round blocked here on
            # any later not-match — a plausible reading, but not the
            # reference's; golden parity wins.
            emit(acc, last_idx)
            return
        st = stages[stage_i]
        anchor_all = top_level and (stage_i == 0 or anchor_inherit)
        if getattr(st, "negated", False):
            if st.contiguity == NEXT:
                # notNext: the immediate successor must not match
                nxt = last_idx + 1
                if nxt < n and in_horizon(nxt, start_ts) and _pred(st.predicate, events[nxt], events, pairs):
                    return
                if closed_negations_only and nxt >= n:
                    # streaming: no successor observed yet — undecided; the
                    # match re-derives once one arrives (review finding:
                    # eager emission here was a permanent false positive)
                    return
                walk(stages, stage_i + 1, last_idx, start_ts, acc + ((),), emit, top_level, pending_not, anchor_inherit=anchor_all, base_pairs=base_pairs, guards=guards)
            else:
                # notFollowedBy: forbid matches in the gap before the NEXT
                # positive stage's first event
                walk(stages, stage_i + 1, last_idx, start_ts, acc + ((),), emit, top_level, pending_not + (st.predicate,), anchor_inherit=anchor_all, base_pairs=base_pairs, guards=guards)
            return
        if st.may_skip:
            # skipping the anchor stage makes the NEXT positive stage the
            # effective anchor — without inheritance, matches starting at
            # later events were never enumerated (review finding).
            # Skipping a GREEDY stage is the zero-repeat run: the greedy
            # guard applies from the anchor position (GreedyITCase.java:44 —
            # c a* d with a's present must NOT emit the bare (c, d)).
            skip_guards = guards
            if getattr(st, "greedy_flag", False) and st.quantified:
                skip_guards = guards + (_greedy_guard(st, last_idx, pairs + ((st, ()),)),)
            walk(stages, stage_i + 1, last_idx, start_ts, acc + ((),), emit, top_level, pending_not, anchor_inherit=anchor_all, base_pairs=base_pairs, guards=skip_guards)
        if isinstance(st, GroupStage):
            runs = group_runs(st, last_idx, start_ts, anchor_all, pairs=pairs)
        else:
            if st.contiguity == NEXT and not anchor_all:
                first_candidates = [last_idx + 1] if last_idx + 1 < n else []
            else:
                first_candidates = range(last_idx + 1, n)
            # a directly-following negated stage's condition stops this
            # stage's repeat growth from ignoring matching events (the
            # reference's stop-on-ignore compilation; see grow())
            nxt_neg = (
                stages[stage_i + 1].predicate
                if stage_i + 1 < len(stages) and getattr(stages[stage_i + 1], "negated", False)
                else None
            )
            runs = repeat_runs(st, first_candidates, start_ts, all_starts=anchor_all, pairs=pairs, stop_pred=nxt_neg)
        advanced = False
        for run in runs:
            if pending_not and any(
                _pred(p, events[i], events, pairs)
                for p in pending_not
                for i in range(last_idx + 1, run[0])
            ):
                continue  # a forbidden event sits in the gap
            # a pending greedy guard from the PREVIOUS stage vets this
            # stage's first consumed event (NOT(take) on every transition of
            # the handed-off state — NFACompiler.java:851)
            if guards and not all(g(run[0]) for g in guards):
                continue
            advanced = True
            new_start = start_ts if start_ts is not None else events[run[0]]["__ts"]
            nxt_guards = (
                (_greedy_guard(st, run[-1], pairs + ((st, run),)),)
                if getattr(st, "greedy_flag", False) and st.quantified
                else ()
            )
            walk(stages, stage_i + 1, run[-1], new_start, acc + (run,), emit, top_level, base_pairs=base_pairs, guards=nxt_guards)
        # timeout capture (PatternStream flatSelect timeout handler,
        # CEP.java/PatternStream.java): reported once the watermark passes
        # start+within. Two ways a waiting branch reaches expiry alive:
        # - a followedByAny stage's ignore edge survives EVERY event (even
        #   take-matching ones), so its waiting fork always reaches the
        #   window close — reported regardless of sibling advancement, and
        #   even when a sibling completed a full match
        #   (NFAITCase.java:344 goldens: {start1}, {start1, middle},
        #   {start2}, AND {start2, middle} despite (start2, middle, end)
        #   completing — the reference never suppresses prefixes of
        #   completed matches);
        # - a NEXT/followedBy stage's waiting state survives only while no
        #   take-match consumed it: reported iff nothing advanced and the
        #   stage could not be skipped.
        if timeouts is not None and top_level and any(acc):
            if st.contiguity == FOLLOWED_BY_ANY:
                timeouts.append((acc, stage_i))
            elif not advanced and not st.may_skip:
                timeouts.append((acc, stage_i))

    walk(pattern.stages, 0, -1, None, (), lambda acc, _last: out.append(acc), top_level=True)
    # dedup (optional stages can produce identical matches via two paths)
    seen: set = set()
    uniq = []
    for m in out:
        if m not in seen:
            seen.add(m)
            uniq.append(m)
    return _apply_skip(uniq, pattern)


def _apply_skip(matches: list[tuple[tuple[int, ...], ...]], pattern: Pattern) -> list:
    """After-match skip (AfterMatchSkipStrategy.java): walk matches in event
    order; each EMITTED match raises the minimum start index future matches
    must satisfy. Discarded matches do not advance the threshold (they are
    the 'pruned partial matches' of the reference NFA)."""
    if pattern.skip_strategy == NO_SKIP or not matches:
        return matches
    if pattern.skip_strategy in (SKIP_TO_FIRST, SKIP_TO_LAST):
        names = [s.name for s in pattern.stages]
        if pattern.skip_target not in names:
            raise ValueError(f"skip target {pattern.skip_target!r} is not a stage name {names}")
        target_i = names.index(pattern.skip_target)
    kept = []
    threshold = -1
    for m in sorted(matches, key=lambda m: tuple(i for run in m for i in run)):
        flat = [i for run in m for i in run]
        if not flat or flat[0] < threshold:
            continue
        kept.append(m)
        if pattern.skip_strategy == SKIP_PAST_LAST_EVENT:
            threshold = max(threshold, flat[-1] + 1)
        else:
            idxs = m[target_i]
            if idxs:
                t = idxs[0] if pattern.skip_strategy == SKIP_TO_FIRST else idxs[-1]
                threshold = max(threshold, t)
    return kept


def _stage_out_cols(pattern: Pattern) -> list[tuple[str, str]]:
    """(column name, spark type) per OUTPUT stage: quantified stages emit an
    id ARRAY (`<name>_ids`), plain stages a scalar `<name>_id`; negated
    stages consume no event and emit nothing."""
    return [
        (f"{s.name}_ids", "array<long>") if s.emits_array else (f"{s.name}_id", "long")
        for s in pattern.stages
        if not getattr(s, "negated", False)
    ]


def _output_stages(pattern: Pattern) -> list:
    return [s for s in pattern.stages if not getattr(s, "negated", False)]


def _output_match(pattern: Pattern, match: tuple) -> tuple:
    """Drop the (always-empty) entries negated stages contribute to a match."""
    return tuple(
        idxs
        for st, idxs in zip(pattern.stages, match)
        if not getattr(st, "negated", False)
    )


def _validate_pattern(pattern: Pattern) -> None:
    """MalformedPatternException rules adopted from the reference NFACompiler:
    stage names must be unique (NFACompilerTest.java:77); notFollowedBy
    cannot be the last stage; skip targets must name a non-negated stage."""
    stages = pattern.stages
    if not stages:
        raise ValueError("empty pattern")
    seen_names: set[str] = set()
    for st in stages:
        if st.name in seen_names:
            raise ValueError(
                f"Duplicate pattern name: {st.name}. Names must be unique."
            )
        seen_names.add(st.name)
    last = stages[-1]
    if getattr(last, "negated", False) and last.contiguity != NEXT:
        raise ValueError(
            "notFollowedBy is not supported as the last part of a pattern "
            "(NFACompiler rule adopted from the reference)"
        )
    for st in stages:
        if isinstance(st, GroupStage):
            _validate_pattern(st.sub)
    if pattern.skip_strategy in (SKIP_TO_FIRST, SKIP_TO_LAST):
        ok = {s.name for s in stages if not getattr(s, "negated", False)}
        if pattern.skip_target not in ok:
            raise ValueError(
                f"skip target {pattern.skip_target!r} is not an output stage name {sorted(ok)}"
            )


def _merge_either_schema(select_schema: str, timeout_schema: str):
    """Column layout of the Either<L,R>-style union output of the
    timeout-handler select overload (PatternStream.java:182 returns
    ``Either<L, R>``; a DataFrame has one schema, so the two payloads share
    columns NULL-filled on the other side). A name in both schemas must
    agree on type (then the two sides share that column). Returns
    ``(union_ddl, select_names, timeout_names, all_names)``."""
    sel = schema_fields(select_schema)
    tmo = schema_fields(timeout_schema)
    types: dict[str, str] = {}
    order: list[tuple[str, str]] = []
    for name, typ in sel + tmo:
        canon = " ".join(typ.split()).lower()
        if name == "timed_out":
            raise ValueError("'timed_out' is the reserved Either-side tag column")
        if name in types:
            if types[name] != canon:
                raise ValueError(
                    f"column {name!r} appears in both the select and timeout "
                    f"schemas with different types ({types[name]!r} vs "
                    f"{canon!r}) — the union output shares columns by name"
                )
            continue
        types[name] = canon
        order.append((name, typ))
    union_ddl = ", ".join(f"{n} {t}" for n, t in order)
    return union_ddl, [n for n, _ in sel], [n for n, _ in tmo], [n for n, _ in order]


def _output_form(
    pattern: Pattern,
    id_col: str,
    select_fn,
    output_schema: str | None,
    flat: bool,
    with_timeouts: bool,
    timeout_fn,
    timeout_schema: str | None,
):
    """The CEP output form, shared by the batch and the stream executor
    (PatternStream.java:98 select, :182 the timeout-handler overload, :305
    flatSelect, :365 its timeout twin: one NFA, only the function applied
    to each match or timed-out partial changes). Returns ``(ddl,
    match_rows, dead_rows)``: the output DDL after the ``long`` key
    columns, ``match_rows(events, match)`` and ``dead_rows(events, acc,
    stage_i)`` (None without ``with_timeouts``), each a list of row dicts
    without the key columns. ``events`` are the scanned event dicts with
    their epoch-µs ``__ts``; ``match`` and the dead partial's ``acc`` are
    index tuples per stage, ``stage_i`` the stage the partial never reached.

    The id form (no ``select_fn``): one row per match with ``<stage>_id``
    (or the ``<stage>_ids`` array, ``[]`` when a stage took no event); with
    ``with_timeouts`` the rows carry ``timed_out=false`` and
    ``pending_stage`` NULL, and each dead partial gives a row with NULL ids
    for the unreached stages, ``timed_out=true`` and ``pending_stage``
    naming the stage that never matched.

    The select form: ``select_fn({stage: [events]})`` per match returns one
    dict, or with ``flat`` an iterable of dicts (zero drops the match).
    With ``with_timeouts`` it is the Either overload: one output tagged
    ``timed_out`` over the union of ``output_schema`` and
    ``timeout_schema`` (:func:`_merge_either_schema`), and
    ``timeout_fn(partial, timeout_ts)`` runs per dead partial
    (PatternTimeoutFunction.java:59) with ``partial`` mapping only the
    REACHED stages to their events and ``timeout_ts = start + within`` in
    epoch µs, the instant the window closed on it. Rows are NULL-filled
    over the output names."""
    if select_fn is None:
        if timeout_fn is not None or flat:
            raise ValueError("timeout_fn and flat_select require select_fn (the select function form)")
    elif output_schema is None:
        raise ValueError("select_fn requires output_schema (Spark DDL of the function's output)")
    elif with_timeouts and (timeout_fn is None or timeout_schema is None):
        raise ValueError(
            "select_fn with with_timeouts is the select(timeoutFn, selectFn) "
            "overload — pass timeout_fn and timeout_schema "
            "(PatternStream.java:182), or use the id-column form without select_fn"
        )
    elif timeout_fn is not None and not with_timeouts:
        raise ValueError("timeout_fn requires with_timeouts=True (the Either<L,R> overload)")
    within_us = pattern.within_micros
    if timeout_fn is not None and within_us is None:
        raise ValueError(
            "the timeout-handler select overload requires within(): a "
            "partial can only time out against a window"
        )
    n_stages = len(pattern.stages)
    stages = _output_stages(pattern)
    names = [st.name for st in stages]

    def padded(acc: tuple) -> tuple:
        return _output_match(pattern, acc + ((),) * (n_stages - len(acc)))

    if select_fn is None:
        out_cols = _stage_out_cols(pattern)
        cols = [c for c, _ in out_cols]
        arrays = [st.emits_array for st in stages]
        ddl = ", ".join(
            [f"{c} {t}" for c, t in out_cols]
            + (["timed_out boolean", "pending_stage string"] if with_timeouts else [])
        )

        def ids_row(events, idx_runs, no_ids) -> dict:
            row = {}
            for col, is_array, idxs in zip(cols, arrays, idx_runs):
                ids = [events[i][id_col] for i in idxs]
                row[col] = (ids or no_ids) if is_array else (ids[0] if ids else None)
            return row

        def match_rows(events, match) -> list[dict]:
            row = ids_row(events, _output_match(pattern, match), [])
            if with_timeouts:
                row["timed_out"] = False
                row["pending_stage"] = None
            return [row]

        def dead_rows(events, acc, stage_i) -> list[dict]:
            row = ids_row(events, padded(acc), None)
            row["timed_out"] = True
            row["pending_stage"] = pattern.stages[stage_i].name
            return [row]

        return ddl, match_rows, dead_rows if with_timeouts else None

    if with_timeouts:
        union_ddl, _sel, _tmo, out_names = _merge_either_schema(output_schema, timeout_schema)
        ddl = f"timed_out boolean, {union_ddl}"
        base = {"timed_out": False, **dict.fromkeys(out_names)}
    else:
        ddl = output_schema
        base = dict.fromkeys(schema_names(output_schema))

    def match_rows(events, match) -> list[dict]:
        mm = {
            name: [events[i] for i in idxs]
            for name, idxs in zip(names, _output_match(pattern, match))
        }
        return [{**base, **o} for o in (select_fn(mm) if flat else [select_fn(mm)])]

    def dead_rows(events, acc, _stage_i) -> list[dict]:
        partial = {
            name: [events[i] for i in idxs]
            for name, idxs in zip(names, padded(acc))
            if idxs
        }
        start = min(events[i]["__ts"] for idxs in acc for i in idxs)
        timeout_ts = int(start + within_us)
        outs = timeout_fn(partial, timeout_ts) if flat else [timeout_fn(partial, timeout_ts)]
        return [{**base, "timed_out": True, **o} for o in outs]

    return ddl, match_rows, dead_rows if with_timeouts else None


def cep_batch(
    df: DataFrame,
    pattern: Pattern,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    comparator_cols: list[str] | None = None,
    *,
    select_fn=None,
    output_schema: str | None = None,
    flat_select: bool = False,
    with_timeouts: bool = False,
    timeout_fn=None,
    timeout_schema: str | None = None,
) -> DataFrame:
    """Batch CEP: per-key ordered pattern scan (CEP.pattern + select analog).
    Per key (:func:`keyed.per_key`) the events become dicts carrying their
    exact epoch-µs ``__ts``; one :func:`_scan` finds the matches and, only
    with ``with_timeouts``, the dead partials (deduplicated, first seen
    first). Output: the key columns (long), then the output form of
    :func:`_output_form`, the same keywords as :func:`cep_stream`:

    - no ``select_fn``: ``<stage>_id`` (or the ``<stage>_ids`` array for
      quantified stages), one row per match;
    - ``with_timeouts``: the timeout side channel (PatternStream.flatSelect
      with a timeout handler) — dead partials, which the reference reports
      once the watermark passes start+within, are added with
      ``timed_out=true`` and ``pending_stage``; partials that are prefixes
      of an emitted full match are not reported (they completed), except a
      followedByAny stage's waiting fork, which survives every event
      (NFAITCase.java:344);
    - ``select_fn`` + ``output_schema``: PatternSelectFunction /
      PatternFlatSelectFunction (``flat_select``), run over the FULL input
      row per event (quantified stages contribute every accepted repeat,
      optional stages an empty list); with ``with_timeouts``,
      ``timeout_fn`` + ``timeout_schema`` make it the Either overload.

    ``comparator_cols`` is the ``EventComparator`` analog (CEP.java:51,
    ``CEP.pattern(input, pattern, comparator)``): extra columns that order
    SAME-TIMESTAMP events before the scan, exactly where the reference's
    comparator sorts the elements it pops for one timestamp. The sort key
    becomes ``(ts, *comparator_cols, id)`` — id stays the final tiebreak so
    the scan remains deterministic when the comparator itself ties.

    Scale shape: one full-width hash exchange, per-key Arrow batches, the
    user functions run inside the same worker pass that scanned the key."""
    _validate_pattern(pattern)
    ddl, match_rows, dead_rows = _output_form(
        pattern, id_col, select_fn, output_schema, flat_select,
        with_timeouts, timeout_fn, timeout_schema,
    )
    schema = ", ".join([f"{k} long" for k in key_cols] + [ddl])
    order = [ts_col, *(comparator_cols or ()), id_col]

    def body(key, pdf: pd.DataFrame) -> list[dict]:
        ts_us = (pdf[ts_col].to_numpy("datetime64[ns]").view("int64") // 1000).tolist()
        events = pdf.to_dict("records")
        for ev, t in zip(events, ts_us):
            ev["__ts"] = t  # exact epoch-µs
        dead: list | None = [] if with_timeouts else None
        rows = []
        for match in _scan(events, pattern, timeouts=dead):
            rows.extend(match_rows(events, match))
        for acc, stage_i in dict.fromkeys(dead or ()):
            rows.extend(dead_rows(events, acc, stage_i))
        keyvals = dict(zip(key_cols, key))
        return [{**keyvals, **r} for r in rows]

    return per_key(df, key_cols, order, body, schema)


def _match_monotone(pattern: Pattern) -> bool:
    """True when a late (cross-batch, in-horizon) event can only ADD matches,
    never supersede one already emitted — the class for which the eager
    (``disorder_seconds=None``) streaming mode is exact under any arrival
    order: every post-anchor stage is ``followed_by_any`` (a late event
    creates new combinations; existing ones stay valid), nothing is
    quantified/greedy/negated/until-bounded (runs cannot be re-shaped), and
    no after-match skip strategy (emitted matches never raise a threshold a
    late match would have beaten). Conservatively False for group patterns
    and iterative (two-arg) predicates."""
    if pattern.skip_strategy != NO_SKIP:
        return False
    for i, st in enumerate(pattern.stages):
        if isinstance(st, GroupStage):
            return False
        if st.negated or st.quantified or st.greedy_flag or st.until_pred is not None:
            return False
        if _wants_ctx(st.predicate):
            return False
        if i > 0 and st.contiguity != FOLLOWED_BY_ANY:
            return False
    return True


def _pattern_extendable(pattern: Pattern) -> bool:
    """True when a later event can EXTEND a match the scan already produced
    (quantified/greedy stages: a longer run supersedes the shorter one). The
    watermarked kernel withholds such matches until the pattern's ``within``
    window has fully passed the fold point — exactly when Flink's NFA closes
    a looping state (NFA.java:82 advances loop states until the window
    ends)."""
    for st in pattern.stages:
        if st.quantified or getattr(st, "greedy_flag", False):
            return True
        if isinstance(st, GroupStage) and _pattern_extendable(st.sub):
            return True
    return False


def _prunable_to_live_partials(pattern: Pattern) -> bool:
    """True when the COMMITTED (behind-the-fold-point) buffer can be pruned
    to just the events referenced by still-completable partial matches — the
    r15/r16-verdict CEP state compaction ("keep only the within-horizon
    suffix + live partial matches").

    Soundness argument for the admitted class (plain first-match chains:
    every stage a non-negated, non-quantified Stage, post-anchor contiguity
    FOLLOWED_BY, NO_SKIP): new arrivals are always admitted at or above the
    current fold point (admit_floor == fold_pt), so committed events form a
    closed set the scan has fully explored — every committed start either
    completed (match emitted, first-match is unique per start → the start is
    dead), died on a predicate (per-event predicates are deterministic →
    dead), or waits in a partial the scan reports via its timeout capture.
    A committed non-start event can only join a match whose start is also
    committed (stages are time-ordered and future events are newer than
    every committed event), i.e. only a live partial's own chain — and
    FOLLOWED_BY takes the FIRST satisfying candidate, so that chain event is
    IN the partial's accumulator. Everything else behind the fold point is
    dead weight.

    Excluded (keep the plain within-horizon trim): NEXT stages (adjacency is
    buffer-positional — pruning would fabricate adjacency), negations (a
    match's acceptance rests on the PRESENCE of blocker events outside any
    partial), quantified/greedy stages (withheld matches can extend),
    *_ANY/combinations (every committed event stays pairable), group
    patterns, and skip strategies (thresholds derive from re-derived earlier
    matches)."""
    if pattern.skip_strategy != NO_SKIP:
        return False
    for i, st in enumerate(pattern.stages):
        if isinstance(st, GroupStage):
            return False
        if st.negated or st.quantified or st.greedy_flag or st.until_pred is not None:
            return False
        if i > 0 and st.contiguity != FOLLOWED_BY:
            return False
    return True


def _buffer_horizon_s(
    pattern: Pattern,
    buffer_horizon_seconds: float | None,
    disorder_seconds: float | None,
) -> float:
    """The stream buffer horizon in seconds, shared by :func:`cep_stream`
    and :func:`cep_stream_late_side` so both derive one admit floor
    ``max(hwm - horizon, hwm - disorder)``. It defaults to ``within``; in
    watermark mode (``disorder_seconds``) it is raised to ``within +
    disorder``: a match cannot emit until the fold point passes its
    within-window, i.e. until hwm >= start + within + disorder, so the
    buffer must keep events that long. An EXPLICIT horizon below that is a
    silent-emptiness trap (withheld matches and pending timeouts evicted
    before the fold point reaches them) and is rejected. Without
    ``within()`` the horizon must exceed the disorder bound, or events
    would be evicted before the fold point ever scans them."""
    # `is not None`, not truthiness: an explicit 0 must be rejected loudly,
    # not silently replaced by within_seconds (review finding)
    horizon_s = buffer_horizon_seconds if buffer_horizon_seconds is not None else pattern.within_seconds
    if horizon_s is None:
        raise ValueError("streaming CEP needs within() or an explicit buffer horizon")
    if horizon_s <= 0:
        raise ValueError(f"buffer horizon must be positive, got {horizon_s}")
    if disorder_seconds is None:
        return horizon_s
    if disorder_seconds < 0:
        raise ValueError(f"disorder bound must be >= 0, got {disorder_seconds}")
    if pattern.within_seconds is None:
        if horizon_s <= disorder_seconds:
            raise ValueError(
                f"buffer horizon ({horizon_s}s) must exceed "
                f"disorder_seconds ({disorder_seconds}s): events would be "
                "evicted before the fold point ever scans them"
            )
        return horizon_s
    required_s = pattern.within_seconds + disorder_seconds
    if horizon_s >= required_s:
        return horizon_s
    if buffer_horizon_seconds is not None:
        raise ValueError(
            f"buffer_horizon_seconds={buffer_horizon_seconds} < "
            f"within+disorder={required_s}: withheld matches and "
            "pending timeouts would be trimmed out of the buffer "
            "before the fold point reaches their emission time"
        )
    return required_s


def cep_stream(
    stream: DataFrame,
    pattern: Pattern,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    type_col: str,
    buffer_horizon_seconds: float | None = None,
    use_cleanup_timer: bool = True,
    disorder_seconds: float | None = None,
    cleanup_timer_ms: int | None = None,
    with_timeouts: bool = False,
    attr_cols: list[str] | None = None,
    eager: bool = False,
    select_fn=None,
    output_schema: str | None = None,
    flat_select: bool = False,
    timeout_fn=None,
    timeout_schema: str | None = None,
    comparator_cols: list[str] | None = None,
):
    """Streaming CEP via keyed.per_key_state (PatternStream analog).

    ``comparator_cols`` is the streaming EventComparator (CEP.java:51) —
    same-timestamp events are folded into the NFA in ``(ts,
    *comparator_cols, id)`` order, matching the batch executor's
    :func:`cep_batch` sort exactly (id stays the final tiebreak). The
    comparator columns ride the state buffer like ``attr_cols`` opt-ins
    (they are auto-added to it), so the scan order is stable across
    micro-batch boundaries: the fold buffer is fully re-sorted on every
    load, which is what lifts the former batch-only restriction.

    The keyed state IS the NFA buffer: (id, ts, type) triples trimmed to the
    ``within`` horizon behind the persisted per-key high-water mark, plus the
    set of already emitted match signatures (so re-scans across micro-batches
    never re-emit). The processing-time deadline the step returns, the
    batch time plus ``cleanup_timer_ms``, plays the cleanup-timer role
    (IntervalJoin/NFA timers); a timer wake-up now FLUSHES the buffer (final
    scan with negations closable — the stream has been quiet for a full
    horizon, the event-time analog of the job-end watermark) before dropping
    it. Disable ``use_cleanup_timer`` for bounded replays driven by
    sources.stream.drain — pending processing-time timers keep scheduling
    micro-batches, so the synchronous drain never observes an idle query
    (state is still trimmed on every arriving event either way).

    Disorder handling — two modes, both order-robust the way the reference
    is (AbstractKeyedCEPPatternOperator.java:183ff buffers elements in a
    priority queue and folds them into the NFA in timestamp order only when
    the watermark passes them; elements behind the watermark are dropped):

    * ``disorder_seconds=None``: ascending-event-time analog (requires
      ``eager=True`` unless the pattern is match-monotone — see below). Every
      in-horizon arrival is merged into the buffer and the whole buffer is
      re-scanned in timestamp order; arrivals more than the horizon behind
      the high-water mark are dropped BEFORE the scan, so an ancient pair
      can never match inside its arrival batch. Exact for in-order streams
      and for match-monotone patterns (``followed_by_any`` — a late event
      only ADDS matches); a first-match pattern fed cross-batch-late events
      may emit matches a full-history scan would supersede (append mode
      cannot retract — use a disorder bound for those). Because that failure
      is silent, eager mode RAISES for non-match-monotone patterns unless
      the caller passes ``eager=True``, an explicit assertion that the
      stream arrives in event-time order (round-9 verdict item 1).
    * ``disorder_seconds=D``: the Flink watermark model. A persisted fold
      point trails the high-water mark by D; only events at or behind the
      fold point are folded/scanned (newer arrivals stay buffered un-scanned
      for later batches), and arrivals behind the fold point are dropped as
      late. Emission therefore waits until no admissible arrival can change
      the match — EXACT batch equivalence for any delivery order with
      lateness < D (property-tested in tests/test_properties.py). Matches a
      later event could still extend (quantified/greedy stages) wait until
      their ``within`` window passes the fold point. The cleanup-timer flush
      emits whatever is still pending when the stream goes quiet.

    ``with_timeouts=True`` adds the reference's TIMEOUT side output
    (PatternStream.flatSelect's timeout handler, CEP.java): a partial match
    is reported with ``timed_out=true`` + its ``pending_stage`` the moment
    the fold point passes ``start + within`` — no admissible arrival can
    complete it anymore, exactly Flink's watermark-passes-the-window
    trigger. Requires the watermark mode (``disorder_seconds``): in eager
    mode late-but-in-horizon arrivals may still complete a window, so there
    is no sound early trigger. Matches carry ``timed_out=false``.

    Predicate visibility: by default streaming predicates see only the
    event's ``type``/``ts``/``id`` fields — the state store keeps the buffer
    narrow. ``attr_cols`` opts additional event columns into the state
    buffer (JSON-encoded per event), giving predicates the reference's full
    IterativeCondition view (e.g. ``purchase.value > 100``) at the declared
    cost of a wider state row — at 100 TB, carry the columns the pattern
    actually tests, never the payload. The batch executor always sees the
    whole row.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    _validate_pattern(pattern)
    if comparator_cols:
        # the comparator columns must live in the state buffer to order
        # cross-batch re-scans — carry them as attr_cols opt-ins
        attr_cols = list(attr_cols or []) + [
            c for c in comparator_cols if c not in (attr_cols or [])
        ]
    if disorder_seconds is None and not eager and not _match_monotone(pattern):
        # Round-8's two streaming bugs were exactly this configuration: a
        # first-match/quantified pattern on a disordered stream in eager
        # mode emits matches a full-history scan would supersede, and append
        # mode cannot retract them. Refuse to guess — the caller must pick
        # the watermark model (disorder_seconds=D, exact for lateness < D)
        # or assert in-order/monotone input explicitly (eager=True).
        raise ValueError(
            "this pattern is not match-monotone (followed_by/next, "
            "quantifiers, negation, skip strategies or iterative predicates "
            "present): eager mode is only exact for in-order streams. Pass "
            "disorder_seconds=D (watermark mode, exact for lateness < D) "
            "or eager=True to assert the stream is in event-time order."
        )
    horizon_s = _buffer_horizon_s(pattern, buffer_horizon_seconds, disorder_seconds)
    if disorder_seconds is None and with_timeouts:
        raise ValueError(
            "with_timeouts requires disorder_seconds (watermark mode): in "
            "eager mode a late-but-in-horizon arrival may still complete a "
            "window, so there is no sound timeout trigger"
        )
    if disorder_seconds is not None and pattern.within_seconds is None and (
        _pattern_extendable(pattern) or with_timeouts
    ):
        # no within(): the buffer horizon doubles as the match bound, so
        # withheld-emission (start+horizon < hwm-disorder while start is
        # still buffered) is unsatisfiable — reject the combinations that
        # would silently emit nothing
        raise ValueError(
            "disorder_seconds with an extendable pattern or "
            "with_timeouts requires within(): without it the "
            "emission bound equals the buffer horizon and withheld "
            "matches would be evicted before they could ever emit"
        )
    disorder = None if disorder_seconds is None else int(round(disorder_seconds * 1_000_000))
    out_ddl = _output_form(
        pattern, id_col, select_fn, output_schema, flat_select,
        with_timeouts, timeout_fn, timeout_schema,
    )[0]
    out_schema = ", ".join([f"{k} long" for k in key_cols] + [out_ddl])
    state_schema = (
        "buf_ids array<long>, buf_ts array<double>, buf_types array<string>, "
        "emitted array<string>, hwm double"
        + (", buf_attrs array<string>" if attr_cols else "")
    )

    # the cleanup/flush timer is WALL-clock; default follows the event-time
    # horizon but is separately settable (a 24 h event-time horizon must not
    # force a 24 h wall-clock wait for the quiescence flush)
    timer_ms = int(horizon_s * 1000) if cleanup_timer_ms is None else int(cleanup_timer_ms)

    step = _stream_kernel(
        pattern, ts_col, id_col, type_col, horizon_s,
        use_cleanup_timer, disorder, timer_ms, with_timeouts, attr_cols,
        select_fn=select_fn, output_schema=output_schema, flat_select=flat_select,
        timeout_fn=timeout_fn, timeout_schema=timeout_schema,
        comparator_cols=comparator_cols,
    )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if use_cleanup_timer else GroupStateTimeout.NoTimeout
    )
    cols = [*key_cols, ts_col, id_col, type_col, *(attr_cols or [])]
    return per_key_state(stream, key_cols, [], step, out_schema, state_schema, timeout, cols)


def _stream_kernel(
    pattern: Pattern,
    ts_col: str,
    id_col: str,
    type_col: str,
    horizon_s: float,
    use_cleanup_timer: bool = True,
    disorder: int | None = None,
    timer_ms: int | None = None,
    with_timeouts: bool = False,
    attr_cols: list[str] | None = None,
    select_fn=None,
    output_schema: str | None = None,
    flat_select: bool = False,
    timeout_fn=None,
    timeout_schema: str | None = None,
    comparator_cols: list[str] | None = None,
):
    """The per-key micro-batch NFA step ``step(key, pdf, value, clock) ->
    (rows, value, deadline_ms)`` of keyed.per_key_state, factored out of
    :func:`cep_stream` so tests can drive it DIRECTLY across simulated
    micro-batch boundaries, carrying ``value`` themselves
    (tests/test_properties.py interleaves late/duplicate/out-of-order
    deliveries and asserts batch-executor equivalence — NFA.java:82's
    order-robustness contract — without paying a Structured Streaming query
    per hypothesis example). ``rows`` are dicts without the key columns,
    built by :func:`_output_form`. ``horizon_s`` is the buffer horizon in
    seconds, ``disorder`` the disorder bound in µs (None: eager mode).

    Value layout: (buf_ids, buf_ts, buf_types, emitted_sigs, hwm). ``hwm`` is
    the per-key event-time high-water mark over EVERY event ever seen — the
    watermark analog — persisted so a batch of ancient events cannot reset
    the clock and match inside its own arrival batch (that was round-8 bug B:
    ``newest`` was computed from the live buffer only). The fold point is
    derived, not stored: ``hwm - disorder`` (monotone because hwm is).
    """
    _ddl, match_rows, dead_rows = _output_form(
        pattern, id_col, select_fn, output_schema, flat_select,
        with_timeouts, timeout_fn, timeout_schema,
    )
    horizon = int(round(horizon_s * 1_000_000))  # exact µs
    if timer_ms is None:
        timer_ms = int(horizon_s * 1000)
    within_us = pattern.within_micros
    extendable = _pattern_extendable(pattern)

    def sig_event_ids(sig: str) -> list[int]:
        """Event ids referenced by a signature. Match sigs are
        'ids,ids;ids;…'; timeout sigs are tagged 't|<same>|<stage_i>'."""
        body = sig[2:].rsplit("|", 1)[0] if sig.startswith("t|") else sig
        return [int(x) for part in body.split(";") for x in part.split(",") if x]

    def load(value):
        if value is None:
            return [], [], [], set(), float("-inf"), []
        if attr_cols:
            bi, bt, bty, em, hwm, ba = value
            return list(bi), list(bt), list(bty), set(em), float(hwm), list(ba)
        bi, bt, bty, em, hwm = value
        return list(bi), list(bt), list(bty), set(em), float(hwm), []

    def to_events(buf_ids, buf_ts, buf_types, buf_attrs):
        import json

        raw = []
        for n, (i, t, y) in enumerate(zip(buf_ids, buf_ts, buf_types)):
            e = {"__ts": t, id_col: i, type_col: y, "ts_epoch": t}
            if attr_cols:
                a = buf_attrs[n]
                e["__attrs_json"] = a
                # merge opted-in attributes for predicate visibility; the
                # reserved keys above always win on a name collision
                for k, v in json.loads(a).items():
                    e.setdefault(k, v)
            raw.append(e)
        if comparator_cols:
            # EventComparator order: (ts, *comparator_cols, id) — the exact
            # batch cep_batch sort; None sorts last per column, matching
            # pandas sort_values' na_position='last'
            events = sorted(
                raw,
                key=lambda e: (
                    e["__ts"],
                    tuple((e.get(c) is None, e.get(c)) for c in comparator_cols),
                    e[id_col],
                ),
            )
        else:
            events = sorted(raw, key=lambda e: (e["__ts"], e[id_col]))
        # dedup (a row can reappear on retried batches)
        seen: set[int] = set()
        return [e for e in events if not (e[id_col] in seen or seen.add(e[id_col]))]

    def emit_new(events, emitted, rows, fold_pt, closed_only, want_partials=False):
        """Scan `events`, append matches (and, when enabled, timed-out
        partials) whose signature is new to `rows`. ``fold_pt`` is None on
        flush: nothing is withheld and every dead partial times out.
        Returns the scan's partial-match accumulators (index tuples into
        ``events``) when ``with_timeouts`` or ``want_partials`` asked for
        them — the state-compaction live set derives from these."""
        bound = within_us if within_us is not None else horizon
        touts: list | None = [] if (with_timeouts or want_partials) else None
        matches = _scan(events, pattern, timeouts=touts, closed_negations_only=closed_only)
        for match in matches:
            if extendable and fold_pt is not None:
                # a quantified/greedy run can still grow while events inside
                # its within-window may arrive: hold the match back until the
                # window has fully passed the fold point (a longer run would
                # supersede this one — append mode cannot retract)
                start = min(events[i]["__ts"] for idxs in match for i in idxs) if any(match) else None
                if start is not None and start + bound >= fold_pt:
                    continue
            sig = ";".join(",".join(str(events[i][id_col]) for i in idxs) for idxs in match)
            if sig in emitted:
                continue
            emitted.add(sig)
            rows.extend(match_rows(events, match))
        for acc, stage_i in (touts if with_timeouts else None) or ():
            # a partial is DEAD once the fold point passes its within-window:
            # no admissible arrival can land inside it anymore (suffix and
            # future events are all >= fold_pt). On flush (fold_pt None) the
            # stream has ended — every dead partial is reported, the batch
            # executor's end-of-data convention (cep_batch with_timeouts).
            start = min(events[i]["__ts"] for idxs in acc for i in idxs)
            if fold_pt is not None and start + bound >= fold_pt:
                continue
            sig = (
                "t|"
                + ";".join(",".join(str(events[i][id_col]) for i in idxs) for idxs in acc)
                + f"|{stage_i}"
            )
            if sig in emitted:
                continue
            emitted.add(sig)
            rows.extend(dead_rows(events, acc, stage_i))
        return touts

    compactable = _prunable_to_live_partials(pattern)

    def step(key, pdf, value, clock):
        buf_ids, buf_ts, buf_types, emitted, hwm, buf_attrs = load(value)
        rows: list[dict] = []
        if clock.timed_out:
            # a full horizon of processing-time silence: the NFA cleanup
            # timer fires. FLUSH — the event-time analog of the job-end
            # watermark (AbstractKeyedCEPPatternOperator advances the NFA to
            # the final watermark): scan everything still buffered with
            # negations closable and nothing withheld, then drop the state
            # (re-arming here would busy-loop the query).
            if buf_ids:
                events = to_events(buf_ids, buf_ts, buf_types, buf_attrs)
                emit_new(events, emitted, rows, None, closed_only=False)
            return rows, None, None
        arr_ids = [int(x) for x in pdf[id_col]]
        ts_us = pdf[ts_col].to_numpy("datetime64[ns]").view("int64") // 1000
        arr_ts = ts_us.astype(float).tolist()  # µs, exact in double
        arr_types = [str(x) for x in pdf[type_col]]
        arr_attrs: list[str] = []
        if attr_cols:
            import json

            arr_attrs = [
                json.dumps(
                    {k: (v.item() if hasattr(v, "item") else v) for k, v in r.items()},
                    default=str,
                    sort_keys=True,
                )
                for r in pdf[attr_cols].to_dict("records")
            ]
        if not (arr_ids or buf_ids):
            return rows, value, None
        # late-arrival drop BEFORE the scan (round-8 bug B fix): lateness is
        # judged against the PRE-batch high-water mark / fold point — an
        # element is late relative to what the scan has already committed,
        # never relative to neighbors in its own arrival batch (Flink admits
        # an element iff it is ahead of the watermark AT ARRIVAL; the
        # watermark only advances after elements are processed). Strict
        # comparison: an arrival exactly at the floor is still admissible.
        admit_floor = (
            max(hwm - horizon, hwm - disorder) if disorder is not None else hwm - horizon
        )
        for n, (i, t, y) in enumerate(zip(arr_ids, arr_ts, arr_types)):
            if t >= admit_floor:
                buf_ids.append(i)
                buf_ts.append(t)
                buf_types.append(y)
                if attr_cols:
                    buf_attrs.append(arr_attrs[n])
        if arr_ts:
            hwm = max(hwm, max(arr_ts))
        fold_pt = hwm - disorder if disorder is not None else hwm
        events = to_events(buf_ids, buf_ts, buf_types, buf_attrs)
        if disorder is None:
            # ascending-time mode: fold the whole buffer (scan FIRST, trim
            # after — trimming first would evict in-batch events that still
            # complete matches with the batch's newest arrivals)
            emit_new(events, emitted, rows, None, closed_only=True)
        else:
            # watermark mode: fold only the committed prefix (STRICTLY below
            # the fold point, so a later arrival tying the boundary can never
            # retro-invalidate a committed first-match); events at/after the
            # fold point stay buffered UN-scanned so a late-but-in-bound
            # earlier event can still win exactly as in the batch executor
            # (round-8 bug A fix)
            prefix = [e for e in events if e["__ts"] < fold_pt]
            partials = None
            if prefix:
                partials = emit_new(
                    prefix, emitted, rows, fold_pt,
                    closed_only=True, want_partials=compactable,
                )
        keep = [e for e in events if e["__ts"] >= hwm - horizon]
        if disorder is not None and compactable:
            # State compaction (r15/r16 verdict): committed events are a
            # CLOSED set for this pattern class (_prunable_to_live_partials'
            # soundness note) — the only ones that can still reach an
            # emission are those inside a still-completable partial match.
            # Keep the un-scanned suffix (>= fold_pt) plus exactly those;
            # matched/expired prefix events drop out of the state write.
            # At x100 hot-key density the committed prefix IS the state
            # (~within+disorder of events per key), so this is the bound
            # between O(horizon) and O(live-partials) state per key.
            bound = within_us if within_us is not None else horizon
            live_ids: set[int] = set()
            for acc, _stage_i in partials or ():
                idxs = [i for run in acc for i in run]
                if not idxs:
                    continue
                start = min(prefix[i]["__ts"] for i in idxs)
                if start + bound >= fold_pt:  # still completable
                    live_ids.update(prefix[i][id_col] for i in idxs)
            keep = [e for e in keep if e["__ts"] >= fold_pt or e[id_col] in live_ids]
        # prune emitted signatures whose events aged out of the buffer: a
        # match whose constituents are gone can never be re-derived, so its
        # signature is dead weight — without this the emitted set grows
        # unboundedly over the stream lifetime
        kept_ids = {e[id_col] for e in keep}
        emitted = {
            sig for sig in emitted if all(i in kept_ids for i in sig_event_ids(sig))
        }
        new_state = [
            [e[id_col] for e in keep],
            [float(e["__ts"]) for e in keep],
            [e[type_col] for e in keep],
            sorted(emitted),
            float(hwm),
        ]
        if attr_cols:
            new_state.append([e["__attrs_json"] for e in keep])
        return rows, tuple(new_state), clock.batch_ms + timer_ms if use_cleanup_timer else None

    return step


def cep_stream_late_side(
    stream: DataFrame,
    pattern: Pattern,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    type_col: str,
    buffer_horizon_seconds: float | None = None,
    disorder_seconds: float | None = None,
) -> DataFrame:
    """Late-data side output (``PatternStream.sideOutputLateData``,
    PatternStream.java:496): the rows :func:`cep_stream` DROPS as late —
    arrivals strictly behind the admit floor ``max(hwm - horizon,
    hwm - disorder)`` judged against the key's PRE-batch high-water mark,
    the exact rule the kernel applies before its scan.

    ``applyInPandasWithState`` binds one output schema per query, so the
    main query physically cannot carry a second late-row schema the way the
    reference's OutputTag does. The idiomatic recovery — documented since
    r10, shipped here — is this SECOND stateful query over the same source:
    it keeps only the per-key high-water mark (one double of state) and
    emits each arrival that the admit rule rejects, with its original
    columns. Pass the same ``pattern`` / ``buffer_horizon_seconds`` /
    ``disorder_seconds`` you gave ``cep_stream``: both derive the horizon
    through :func:`_buffer_horizon_s` (the within+disorder raise included,
    and the same refusals), so they share one admit floor.

    Exactness caveat (declared): lateness is batching-dependent — an
    element is late relative to what arrived in EARLIER micro-batches. Over
    a deterministic replay (file source with ``maxFilesPerTrigger``) this
    query sees the same batch boundaries as the main query and the side
    output equals the kernel's drop set exactly (oracle-checked in
    ``stream_cep_late_side``); under nondeterministic batching it is the
    same rule evaluated at this query's own arrival order.

    Scale shape: state is one double per key; the output is the late
    trickle, not the stream — strictly cheaper than the main query."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    horizon = int(round(_buffer_horizon_s(pattern, buffer_horizon_seconds, disorder_seconds) * 1_000_000))
    disorder = None if disorder_seconds is None else int(round(disorder_seconds * 1_000_000))

    out_schema = ", ".join(
        [f"{k} long" for k in key_cols]
        + [f"{id_col} long", f"{ts_col} timestamp", f"{type_col} string"]
    )

    def step(key, pdf, value, clock):
        hwm = float(value[0]) if value else float("-inf")
        # every arrival of the micro-batch is judged against the PRE-batch
        # high-water mark, never against a same-batch neighbor
        admit_floor = (
            max(hwm - horizon, hwm - disorder) if disorder is not None else hwm - horizon
        )
        rows = []
        ts_us = (pdf[ts_col].to_numpy("datetime64[ns]").view("int64") // 1000).astype(float)
        for i, t, us, y in zip(pdf[id_col], pdf[ts_col], ts_us.tolist(), pdf[type_col]):
            if us < admit_floor:
                rows.append({id_col: int(i), ts_col: t, type_col: str(y)})
            hwm = max(hwm, us)
        return rows, (hwm,), None

    return per_key_state(
        stream, key_cols, [], step, out_schema, "hwm double", GroupStateTimeout.NoTimeout,
        [*key_cols, id_col, ts_col, type_col],
    )


class PatternStream:
    """PatternStream.java facade — the object ``CEP.pattern(stream, pattern)``
    returns in the reference. ``select()`` emits matched rows;
    ``select_with_timeouts()`` adds the timeout side output
    (PatternStream.flatSelect with a timeout handler). Routing follows the
    input: a streaming DataFrame runs the stateful-stream executor
    (``cep_stream``), a batch DataFrame the batch NFA (``cep_batch``) — the
    unified-API contract."""

    def __init__(
        self,
        df: DataFrame,
        pattern: Pattern,
        key_cols: list[str],
        ts_col: str,
        id_col: str,
        type_col: str | None = None,
        comparator_cols: list[str] | None = None,
        **stream_opts,
    ):
        self.df = df
        self.pattern = pattern
        self.key_cols = key_cols
        self.ts_col = ts_col
        self.id_col = id_col
        self.type_col = type_col
        self.comparator_cols = comparator_cols
        # streams route the comparator through the kernel opts (r12: the
        # former batch-only restriction is lifted — the fold buffer re-sorts
        # by (ts, *comparator_cols, id) on every load, see cep_stream)
        if comparator_cols and df.isStreaming:
            stream_opts = {**stream_opts, "comparator_cols": comparator_cols}
        self.stream_opts = stream_opts

    def _require_type_col(self):
        if self.df.isStreaming and self.type_col is None:
            raise ValueError(
                "streaming CEP needs type_col (the state buffer keeps the "
                "narrow event skeleton; add attr_cols for more fields)"
            )

    def _run(self, **form) -> DataFrame:
        """The one executor dispatch: a stream runs :func:`cep_stream` with
        this PatternStream's stream options, a bounded frame
        :func:`cep_batch` with its comparator. ``form`` is the output form,
        the keywords both executors share."""
        self._require_type_col()
        if self.df.isStreaming:
            return cep_stream(
                self.df, self.pattern, self.key_cols, self.ts_col, self.id_col,
                self.type_col, **{**self.stream_opts, **form},
            )
        return cep_batch(
            self.df, self.pattern, self.key_cols, self.ts_col, self.id_col,
            self.comparator_cols, **form,
        )

    def select(
        self,
        fn=None,
        output_schema: str | None = None,
        timeout_fn=None,
        timeout_schema: str | None = None,
    ) -> DataFrame:
        """Matched rows (PatternStream.select, :98). With no arguments each
        match emits its id columns. With ``fn`` + ``output_schema`` the
        PatternSelectFunction form: ``fn({stage: [event dicts]}) -> dict``
        runs inside the match scan (full rows in batch; the id/ts/type +
        ``attr_cols`` skeleton on streams).

        With ``timeout_fn`` + ``timeout_schema`` as well, the timeout-handler
        overload ``select(timeoutFn, selectFn)`` (PatternStream.java:182,
        returns ``Either<L, R>``): one DataFrame tagged by ``timed_out``,
        matches carrying ``fn``'s payload and dead partials
        ``timeout_fn({reached_stage: [events]}, timeout_ts_epoch_us)``'s,
        each side NULL-filled on the other's columns. Streams require the
        watermark mode (``disorder_seconds``), as for
        :meth:`select_with_timeouts`."""
        return self._run(
            select_fn=fn, output_schema=output_schema,
            with_timeouts=timeout_fn is not None,
            timeout_fn=timeout_fn, timeout_schema=timeout_schema,
        )

    def flat_select(
        self,
        fn,
        output_schema: str,
        timeout_fn=None,
        timeout_schema: str | None = None,
    ) -> DataFrame:
        """PatternFlatSelectFunction (PatternStream.flatSelect, :305):
        ``fn({stage: [event dicts]}) -> iterable of dicts`` — zero outputs
        drops the match, several fan it out. With ``timeout_fn`` +
        ``timeout_schema``, the flatSelect timeout-handler overload
        (PatternStream.java:365) — BOTH functions return iterables
        (PatternFlatTimeoutFunction.java:56's Collector contract)."""
        return self._run(
            select_fn=fn, output_schema=output_schema, flat_select=True,
            with_timeouts=timeout_fn is not None,
            timeout_fn=timeout_fn, timeout_schema=timeout_schema,
        )

    def late_side(self) -> DataFrame:
        """``sideOutputLateData`` analog (PatternStream.java:496): the rows
        the streaming kernel drops as late, as a SECOND DataFrame over the
        same source (see :func:`cep_stream_late_side` for the
        one-output-schema constraint and the exactness caveat). Shares this
        PatternStream's pattern and stream options, so both queries derive
        the same admit floor."""
        self._require_type_col()
        if not self.df.isStreaming:
            raise ValueError(
                "late side output applies to streams only — the batch "
                "executor sees the whole input and drops nothing"
            )
        return cep_stream_late_side(
            self.df, self.pattern, self.key_cols, self.ts_col, self.id_col,
            self.type_col,
            buffer_horizon_seconds=self.stream_opts.get("buffer_horizon_seconds"),
            disorder_seconds=self.stream_opts.get("disorder_seconds"),
        )

    def select_with_timeouts(self) -> DataFrame:
        """Matches + timed-out partials (flatSelect + timeout handler)."""
        return self._run(with_timeouts=True)


def pattern(
    df: DataFrame,
    pat: Pattern,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    type_col: str | None = None,
    **stream_opts,
) -> PatternStream:
    """``CEP.pattern(input, pattern)`` (CEP.java:38) — the reference's single
    entry point into pattern matching. ``stream_opts`` forward to
    :func:`cep_stream` (``disorder_seconds``, ``attr_cols``, ``eager``,
    ``buffer_horizon_seconds``, ``use_cleanup_timer``, ``cleanup_timer_ms``)."""
    return PatternStream(df, pat, key_cols, ts_col, id_col, type_col, **stream_opts)
