"""Flink CEP pattern API as a facade verb [FLINK-API: o.a.f.cep.CEP +
Pattern.begin/next/followedBy/oneOrMore/times/notFollowedBy/within +
AfterMatchSkipStrategy].

A migrating user writes the SAME program shape they had::

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours").no_skip())
    matches = stream.key_by("user_id").pattern(pat)

and the pattern COMPILES to one of the engine's machines below. This
module is the ONE implementation of each: the sequence_ops CEP keys
(q_sequence_pattern, q_cep_followed_by[_within|_all], q_cep_one_or_more,
q_cep_times, q_cep_not_followed_by, q_cep_match_measures) are Pattern
values compiled here, and each key's DuckDB oracle replays its machine
independently:

- strict `next` chains (with `times(n)` / `one_or_more()` quantifiers,
  including on the BEGIN stage) → one per-key path of single-char stage
  codes + regex count, all in the JVM, one shuffle (q_sequence_pattern,
  q_cep_times, q_cep_one_or_more). Event types map to code chars BEFORE
  the regex is built, so types that are substrings of each other
  ('click' in 'doubleclick') or contain regex metacharacters can never
  corrupt the count;
- relaxed `followed_by` chains under the default AFTER MATCH SKIP PAST
  LAST EVENT → a K-stage integer automaton folded with F.aggregate
  (q_cep_followed_by); with `within()` the accumulator gains the anchor
  timestamp and expires partials before each transition
  (q_cep_followed_by_within — O(1) state either way);
- relaxed chains under `no_skip()` (Flink's default forking NFA) with
  `within()` → the open-anchor-set fold (q_cep_followed_by_all: state =
  K-1 anchor arrays bounded by expiry);
- `begin(a).not_followed_by(b).within(d)` → a LEFT ANTI time-band join
  returning the absent-match anchors (q_cep_not_followed_by).

All relaxed machines key transitions by STAGE INDEX (each stage carries
its awaited type code; advancement compares the event's type code to
`stage_codes[stage]`), so the same event type may appear in several
stages — the login→login→alert shape the Flink CEP docs open with
compiles rather than raising. `times(n)` on a followed_by (or begin)
stage compiles by stage EXPANSION — Flink's default RELAXED internal
contiguity for quantifiers [FLINK-API: Quantifier, consecutive()] makes
times(n) exactly equivalent to n copies of the stage — while
UNBOUNDED `one_or_more()` under relaxed contiguity stays refused; the
horizon-bounded form (`.one_or_more().within(d).no_skip()`, round 9)
compiles on the fork-loop machine, and round 10 adds `until(cond)`
stop conditions, `greedy()` (a Flink-documented final-stage no-op),
and zeroOrMore (`one_or_more().optional()` as the exact prefix +
loop sum).

Round 10 completes the verb surface: `AfterMatchSkipStrategy`
variants (`skip_to_next` / `skip_past_last_event` /
`skip_to_first(name)` / `skip_to_last(name)` — the noSkip enumeration
pruned by each strategy's kill-interval rule, batch + streaming
counts), `not_next()` strict absence (one LEAD window),
`where_rel()` on the forking family (per-anchor payloads), and
`where_prev()` previous-element conditions. The engine's default
`past_last` remains the single-run machine; `skip_past_last_event()`
is the Flink-exact NFA form (divergence pinned, docs/divergences.md
row 15).

Round 11 closes the general-IterativeCondition family and the last
constructibility gaps: `where_agg(fn, col, op, rhs)` run-aggregate
conditions (whole-run scope on fixed stages via O(1) fold registers;
LOOP-stage scope on `one_or_more()` via per-run registers in the
parked set — the Flink docs' canonical example), `where_prev()` on
the forking family (per-anchor prev payloads refreshed at promotion),
pattern GROUPS (`begin_group`/`followed_by_group`/`next_group` +
eager `.times(n)` expansion — GroupPattern), STREAMING zeroOrMore
(both addends' machines side by side in one state row), and
STREAMING skip-strategy match BINDINGS (the counts stepper in append
mode, byte-identical to the batch rows).

MIXED contiguity compiles too (round 8): each stage also carries a
strict-await flag, and the machines treat a non-matching event at a
`next` await as killing the partial run (possibly re-anchoring on the
same event) instead of skipping it — so
`begin(a).followed_by(b).next(c)` runs on the same single-anchor /
forking machines as pure-relaxed chains, batch and streaming. Pure
`next` chains keep the faster regex path.

On a STREAMING keyed input the same Pattern compiles to the keyed-state
NFA twin (applyInPandasWithState; update-mode running counts) —
streaming/jobs.cep_followed_by[_all]_stream run the sequence_ops keys'
own Pattern values through it across micro-batch boundaries. `pattern_matches()`
also runs on streams: the steppers carry anchor (t, id) bindings in
state and APPEND one row per newly-completed match, converging to the
batch bindings.

Combinations outside these families raise NotImplementedError naming
the nearest supported form — never a silently-wrong answer.

Horizon boundary: `within(d)` here keeps a partial alive while
`t - anchor <= d` (a match completing exactly at the horizon COUNTS),
whereas Flink's NFA prunes at `t - start >= windowTime` (exactly-at-
horizon loses). The inclusive choice is applied consistently across
batch folds, streaming steppers, match extraction, and the absence
anti-join — pinned as docs/divergences.md row 12.
"""
from __future__ import annotations

import bisect
from dataclasses import dataclass, field, replace
from types import SimpleNamespace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_UNIT_US = {
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
}


def _duration_us(text: str) -> int:
    n, unit = text.split()
    if unit not in _UNIT_US:
        raise ValueError(f"unsupported duration unit {unit!r}; "
                         f"use one of {sorted(_UNIT_US)}")
    return int(n) * _UNIT_US[unit]


@dataclass
class _Stage:
    name: str
    event_type: str          # the event_type literal this stage awaits
    contiguity: str          # 'begin' | 'next' | 'followed_by' | 'not_followed_by'
    times: int | None = None
    times_hi: int | None = None   # times(a, b) RANGE upper bound
    one_or_more: bool = False
    optional: bool = False
    # extra SQL conditions [FLINK-API: Pattern#where / Pattern#or]:
    # ('and'|'or', sql) in CALL order — Flink's RichAnd/RichOrCondition
    # nest left-associatively, so `.where(a).or_where(b).where(c)` is
    # ((type AND a) OR b) AND c
    conds: tuple = ()
    # anchor-RELATIVE condition [FLINK-API: IterativeCondition —
    # ctx.getEventsForPattern(begin)]: (col, op, anchor_col, scale,
    # offset) meaning event.col OP anchor.anchor_col * scale + offset.
    # Not part of the bitmask (it depends on the run's anchor, not the
    # event alone); the single-anchor machines evaluate it in-fold.
    rel: tuple | None = None
    # which prior element rel compares against: 'anchor' (the run's
    # begin event — where_rel) or 'prev' (the immediately preceding
    # matched element — where_prev, r10)
    rel_src: str = "anchor"
    # run-AGGREGATE condition [FLINK-API: general IterativeCondition —
    # ctx.getEventsForPattern over ALL stages, the "sum of prices so
    # far < X" shape from the Flink docs] (r11): (fn, col, op, rhs)
    # meaning AGG(col over the run's matched events INCLUDING this
    # candidate) OP rhs. fn in sum/count/min/max/avg. Like rel, not
    # part of the bitmask (depends on run state); the single-anchor
    # machines carry O(1) aggregate registers in the fold.
    agg: tuple | None = None
    # loop STOP condition [FLINK-API: Pattern#until] — ANSI-SQL over
    # the event row; an event satisfying it kills every run at this
    # (one_or_more) stage and is itself never admitted. Carries its
    # own bit in the condition mask (r10).
    until_sql: str | None = None
    # [FLINK-API: Pattern#greedy] — accepted marker; no effect on a
    # FINAL quantified stage (Flink-documented), which is the only
    # quantifier position the engine compiles
    greedy: bool = False
    # STRICT internal contiguity on the loop [FLINK-API:
    # Quantifier#consecutive] (r12): any event NOT matching the loop
    # condition kills every PARKED run (a run that has accepted >= 1
    # loop event); fresh anchors awaiting their first loop event keep
    # relaxed entry (the Flink-docs example — D between C and A1 does
    # not break, D between A3 and A4 does)
    consec: bool = False
    # NON-DETERMINISTIC relaxed internal contiguity on the loop
    # [FLINK-API: Quantifier#allowCombinations] (r12): the loop may
    # SKIP matching events — a match is the prefix plus any nonempty
    # SUBSEQUENCE of in-horizon loop events. Counting rides a per-run
    # subsequence register (close emits c+1, updates c <- 2c+1); the
    # match COUNT is exponential in horizon density by definition
    # (Flink enumerates the same 2^m matches), exact while it fits
    # the BIGINT fold register
    combos: bool = False

    def cond_key(self) -> tuple:
        """Identity of this stage's full condition — stages with equal
        keys share one condition code (repeated types/conditions share
        a bit; transitions stay keyed by STAGE)."""
        return (self.event_type, self.conds)

    def cond_sql(self, event_col: str) -> str:
        """The stage condition as one ANSI-SQL boolean expression over
        the event row. Base is the event-type equality; where()/
        or_where() fold onto it left-associatively."""
        t = self.event_type.replace("'", "''")
        sql = f"({event_col} = '{t}')"
        for op, c in self.conds:
            sql = (f"({sql} AND ({c}))" if op == "and"
                   else f"({sql} OR ({c}))")
        return sql


@dataclass
class Pattern:
    """Fluent pattern builder [FLINK-API: o.a.f.cep.pattern.Pattern].

    Stage predicates are the event-type literal (the tutorial canon —
    `where(e -> e.type.equals("view"))`) plus optional `.where(sql)` /
    `.or_where(sql)` refinements [FLINK-API: SimpleCondition via
    Pattern#where, Pattern#or] — arbitrary ANSI-SQL boolean
    expressions over the event row (both engines evaluate them, so
    they stay oracle-checkable). Conditions may OVERLAP (one event
    satisfying several stages' conditions): the machines key each
    event by a condition BITMASK, exactly the stage-index transition
    discipline that already carries repeated event types.
    """

    stages: list[_Stage] = field(default_factory=list)
    within_us: int | None = None
    # 'past_last' | 'no_skip' | 'to_next' | 'to_first' | 'to_last'
    # [FLINK-API: AfterMatchSkipStrategy] — to_first/to_last carry the
    # referenced stage name in skip_ref
    skip: str = "past_last"
    skip_ref: str | None = None

    @staticmethod
    def begin(name: str, event_type: str) -> "Pattern":
        return Pattern(stages=[_Stage(name, event_type, "begin")])

    # -- pattern GROUPS [FLINK-API: GroupPattern — Pattern.begin(
    #    Pattern) / #followedBy(Pattern) / #next(Pattern)] (r11) ----
    #
    # A group is a SUB-PATTERN used as one composite stage; the only
    # group quantifier Flink users reach for in practice is fixed
    # times(n), which expands to n concatenated copies of the group's
    # stages under the quantifier's default relaxed internal
    # contiguity (the L149 stage-expansion argument applied one level
    # up) — so groups compile EAGERLY to ordinary stage lists and
    # every existing machine (incl. streaming) carries them with no
    # new state class. Unbounded group quantifiers (optional()/
    # one_or_more()/times(a, b) on a group) refuse loudly.

    @staticmethod
    def _group_block(sub: "Pattern", contiguity: str) -> list[_Stage]:
        if not isinstance(sub, Pattern) or not sub.stages:
            raise ValueError("group verbs take a non-empty Pattern")
        if sub.within_us is not None or sub.skip != "past_last":
            raise NotImplementedError(
                "within()/skip strategies live on the OUTER pattern — "
                "strip them from the group sub-pattern")
        if any(s.contiguity in ("not_followed_by", "not_next")
               for s in sub.stages):
            raise NotImplementedError(
                "absence stages inside a group are not compiled — "
                "attach not_followed_by()/not_next() to the outer "
                "pattern")
        if any(s.optional or s.one_or_more or s.times_hi is not None
               for s in sub.stages):
            raise NotImplementedError(
                "optional()/one_or_more()/times(a, b) inside a group "
                "are not compiled — fixed times(n) on inner stages "
                "expands; variable-length inner stages would make the "
                "group's copy boundaries ambiguous")
        if (getattr(sub, "_gvar", None) is not None
                or getattr(sub, "_gloop", None) is not None
                or getattr(sub, "_gzom", None) is not None):
            # r13: the lazy group-quantifier markers are PATTERN-level
            # attrs — copying sub.stages alone would silently compile
            # (b c)+ inside an outer group as plain (b c), the same
            # silent-miscompile class the r11 times_or_more guard
            # closed. Nested FIXED times(n) groups expand eagerly and
            # splice fine; variable-length inner groups refuse.
            raise NotImplementedError(
                "a variable-length quantified group (optional()/"
                "times(a, b)/one_or_more()/zeroOrMore) inside another "
                "group is not compiled — the inner group's length "
                "would make the outer copy boundaries ambiguous; "
                "nested FIXED times(n) groups expand eagerly and are "
                "supported")
        block = [replace(s) for s in sub.stages]
        block[0] = replace(block[0], contiguity=contiguity)
        return block

    @staticmethod
    def begin_group(sub: "Pattern") -> "Pattern":
        """Start a pattern with a GROUP [FLINK-API:
        Pattern.begin(Pattern)] — quantify it with .times(n)."""
        block = Pattern._group_block(sub, "begin")
        p = Pattern(stages=block)
        p._grp = (0, len(block))
        return p

    def _refuse_after_not_next(self) -> None:
        if self.stages and self.stages[-1].contiguity == "not_next":
            raise NotImplementedError(
                "not_next() is terminal — no stages may follow it")

    def followed_by_group(self, sub: "Pattern") -> "Pattern":
        """Relaxed-contiguity GROUP [FLINK-API:
        Pattern#followedBy(Pattern)]."""
        self._refuse_after_not_next()
        block = self._group_block(sub, "followed_by")
        lo = len(self.stages)
        self.stages.extend(block)
        self._grp = (lo, len(self.stages))
        return self

    def next_group(self, sub: "Pattern") -> "Pattern":
        """Strict-contiguity GROUP [FLINK-API: Pattern#next(Pattern)]:
        the group's FIRST stage is strict against the previous match;
        inner stages keep their own contiguity."""
        self._refuse_after_not_next()
        block = self._group_block(sub, "next")
        lo = len(self.stages)
        self.stages.extend(block)
        self._grp = (lo, len(self.stages))
        return self

    def _append(self, name: str, event_type: str, contiguity: str) -> "Pattern":
        # not_followed_by may appear MID-pattern (r9): it compiles as a
        # VETO on the next await (_veto_codes validates the shape);
        # only the FINAL-stage form is the timer/anti-join absence
        self._refuse_after_not_next()
        self._grp = None  # a new stage closes any pending group
        self.stages.append(_Stage(name, event_type, contiguity))
        return self

    def next(self, name: str, event_type: str) -> "Pattern":
        """Strict contiguity [FLINK-API: Pattern#next]."""
        return self._append(name, event_type, "next")

    def followed_by(self, name: str, event_type: str) -> "Pattern":
        """Relaxed contiguity [FLINK-API: Pattern#followedBy]."""
        return self._append(name, event_type, "followed_by")

    def followed_by_any(self, name: str, event_type: str) -> "Pattern":
        """NON-DETERMINISTIC relaxed contiguity [FLINK-API:
        Pattern#followedByAny]: every matching event forks a new run
        instead of only the first being taken, so the match set is ALL
        increasing event subsequences satisfying the stage conditions.
        Counting compiles to an O(K)-counter dynamic program (no
        anchor sets at all without within(); an anchor-aligned
        partial-count table bounded by horizon density with it) —
        requires no_skip(), the strategy Flink pairs the any-variant
        with."""
        return self._append(name, event_type, "followed_by_any")

    def not_followed_by(self, name: str, event_type: str) -> "Pattern":
        """Absence pattern, terminal [FLINK-API: Pattern#notFollowedBy]."""
        return self._append(name, event_type, "not_followed_by")

    def not_next(self, name: str, event_type: str) -> "Pattern":
        """STRICT absence, terminal [FLINK-API: Pattern#notNext — the
        event directly succeeding the previous matched event must NOT
        match, or the partial match is discarded] (r10): the prefix
        match survives iff the IMMEDIATELY NEXT event in the key's
        (ts, tiebreak) sequence is absent or fails the negative
        condition — decided by one event, so no timer machinery is
        needed (batch compiles to a LEAD window over the sequence;
        where() refinements on the negative stage flow into the
        tested condition). Terminal only; streaming refuses loudly."""
        if any(s.contiguity == "not_next" for s in self.stages):
            raise NotImplementedError(
                "not_next() is terminal — one per pattern, last")
        return self._append(name, event_type, "not_next")

    def times(self, n: int, m: int | None = None) -> "Pattern":
        """Exact-count (times(n)) or RANGE (times(n, m)) quantifier on
        the LAST stage [FLINK-API: Pattern#times(from, to)]. The range
        form compiles only under no_skip() — see optional()."""
        if not self.stages:
            raise ValueError("times() needs a stage")
        if n < 1:
            raise ValueError("times(n) needs n >= 1")
        if m is not None and m < n:
            raise ValueError("times(n, m) needs m >= n")
        grp = getattr(self, "_grp", None)
        if grp is not None and grp[1] == len(self.stages):
            # GROUP quantifier (r11): expand to n concatenated copies
            # of the group's stages — relaxed contiguity between
            # copies [FLINK-API: GroupPattern under the quantifier's
            # default internal contiguity]. times(a, b) RANGES (r12,
            # lifting the r11 refusal): one fixed variant per copy
            # count, summed by the variant-union fold (disjoint
            # binding shapes, the stage-range argument verbatim)
            if m is not None:
                self._gvar = (grp[0], grp[1], n, m)
                self._grp = None
                return self
            lo, hi = grp
            block = self.stages[lo:hi]
            for j in range(1, n):
                copy = [replace(s, name=f"{s.name}#g{j}")
                        for s in block]
                copy[0] = replace(copy[0], contiguity="followed_by")
                self.stages.extend(copy)
            self._grp = None
            return self
        self.stages[-1].times = n
        self.stages[-1].times_hi = m
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """AT LEAST n occurrences of the LAST stage [FLINK-API:
        Pattern#timesOrMore(n)] (r11): expands EAGERLY to n-1 fixed
        copies plus a final `one_or_more()` copy under the
        quantifier's default relaxed internal contiguity (the L149
        stage-expansion argument) — so the bounded fork-loop machine
        carries it, with the loop family's own gates (within +
        no_skip, final stage) applying at compile. where()/where_rel
        refinements called BEFORE this verb replicate onto every
        copy; verbs called AFTER (until(), greedy()) attach to the
        loop copy, which is where Flink applies them too."""
        if not self.stages:
            raise ValueError("times_or_more() needs a stage")
        if n < 1:
            raise ValueError("times_or_more(n) needs n >= 1")
        grp = getattr(self, "_grp", None)
        if grp is not None and grp[1] == len(self.stages):
            # without this guard the verb would silently quantify only
            # the group's LAST inner stage — (v c){2,} as v c c+
            # (ADVICE r11); group loops compile via one_or_more()
            raise NotImplementedError(
                "times_or_more() on a GROUP is not compiled — use "
                "fixed times(n) on the group, or times(n-1) followed "
                "by one_or_more() on a second group copy")
        s = self.stages[-1]
        if s.times or s.times_hi or s.one_or_more or s.optional:
            raise NotImplementedError(
                "times_or_more() on an already-quantified stage is "
                "not compiled — one quantifier per stage")
        if s.contiguity == "next":
            raise NotImplementedError(
                "times_or_more() keeps the quantifier's default "
                "relaxed internal contiguity — strict next() copies "
                "would need consecutive(), which is not compiled; "
                "use followed_by")
        if s.contiguity in ("not_followed_by", "not_next"):
            raise NotImplementedError(
                "times_or_more() on an absence stage is not compiled")
        if n == 1:
            return self.one_or_more()
        for j in range(1, n):
            self.stages.append(replace(
                s, name=f"{s.name}#t{j}", contiguity="followed_by",
                one_or_more=(j == n - 1)))
        self._tom = True  # consecutive() after the expansion refuses
        return self

    def optional(self) -> "Pattern":
        """The LAST stage may be skipped [FLINK-API: Pattern#optional].
        Compiles only under no_skip(): Flink's NFA forks a with- and a
        without- branch per anchor and noSkip keeps both as distinct
        matches, so the engine compiles the pattern as a UNION OF
        VARIANTS over the already-pinned fork machines and SUMS the
        per-variant counts (binding shapes differ, so no variant pair
        can produce the same match). Under skip-past-last the two
        branches compete for event consumption and a count-only
        single-anchor machine cannot arbitrate them — that combination
        refuses loudly."""
        if not self.stages:
            raise ValueError("optional() needs a stage")
        grp = getattr(self, "_grp", None)
        if grp is not None and grp[1] == len(self.stages):
            # GROUP optional (r12, lifting the r11 refusal): the
            # with/without variants are fixed patterns with disjoint
            # binding shapes — the variant-union fold sums them
            if grp[0] == 0:
                raise NotImplementedError(
                    "optional() on a begin group is not compiled "
                    "(the without-variant is the empty pattern) — "
                    "anchor it with a prefix stage")
            self._gvar = (grp[0], grp[1], 0, 1)
            self._grp = None
            return self
        gl = getattr(self, "_gloop", None)
        if gl is not None and gl[1] == len(self.stages):
            # GROUP zeroOrMore (r12): one_or_more().optional() on the
            # group — prefix-only matches (0 repetitions) + the
            # back-edge loop counts (>= 1) partition the match set
            self._gzom = gl
            self._gloop = None
            return self
        s = self.stages[-1]
        # one_or_more().optional() == zeroOrMore [FLINK-API:
        # Pattern#oneOrMore#optional] compiles since r10 on the
        # bounded-loop shape (final stage + within + no_skip) as the
        # SUM of the empty-loop matches (the prefix pattern alone —
        # every completed prefix is its own match) and the bounded
        # fork-loop counts: the two sets partition the zeroOrMore
        # match set (loop length 0 vs >= 1), so counts add exactly.
        # Out-of-shape combinations refuse inside compile (the loop
        # family's own gates).
        if s.contiguity == "not_followed_by":
            raise NotImplementedError(
                "optional() on not_followed_by is contradictory "
                "(an absent optional stage is already absent)")
        if s.consec:
            raise NotImplementedError(
                "optional() on a consecutive() loop is not compiled "
                "(zeroOrMore's empty variant has no internal "
                "contiguity to restrict) — drop consecutive()")
        if s.combos:
            raise NotImplementedError(
                "optional() on an allow_combinations() loop is not "
                "compiled — drop allow_combinations()")
        s.optional = True
        return self

    def one_or_more(self) -> "Pattern":
        """Looping quantifier on the LAST stage [FLINK-API:
        Pattern#oneOrMore] — or, when a GROUP is pending, on the
        GROUP as a unit (r12, lifting the r11 refusal) [FLINK-API:
        GroupPattern#oneOrMore]: the group is a FIXED-LENGTH stage
        unit, so the forking machine carries the loop as a BACK-EDGE —
        completing the group's last stage emits one match per live run
        and returns those runs to awaiting the group's first stage.
        Compiles under within(d) + no_skip() (the loop family's own
        gates, checked in _family); needs a prefix stage to anchor
        (begin_group loops refuse); strict contiguity into/inside the
        looping group and inner times(n) refuse loudly."""
        if not self.stages:
            raise ValueError("one_or_more() needs a stage")
        grp = getattr(self, "_grp", None)
        if grp is not None and grp[1] == len(self.stages):
            lo, hi = grp
            if lo == 0:
                raise NotImplementedError(
                    "one_or_more() on a begin group is not compiled "
                    "(every event could be both anchor and loop "
                    "element) — anchor it with a prefix stage and "
                    "followed_by_group()")
            block = self.stages[lo:hi]
            if any(s.times or s.times_hi for s in block):
                raise NotImplementedError(
                    "times(n) inside a looping group is not compiled "
                    "— write the repetition out as extra stages")
            if any(s.contiguity == "next" for s in block):
                raise NotImplementedError(
                    "strict next() contiguity into or inside a "
                    "looping group is not compiled — use "
                    "followed_by_group() with followed_by stages")
            self._gloop = (lo, hi)
            self._grp = None
            return self
        self.stages[-1].one_or_more = True
        return self

    def consecutive(self) -> "Pattern":
        """STRICT internal contiguity on the looping stage [FLINK-API:
        Quantifier#consecutive — works with oneOrMore()/times(); any
        non-matching event in between breaks the loop] (r12): a parked
        run (>= 1 accepted loop event) is KILLED by any event that
        does not satisfy the loop stage's condition; entry into the
        loop stays relaxed (Flink's documented example — a non-match
        between the prefix and the first loop event does not break).
        Compiles on the bounded fork-loop machine (final one_or_more
        + within + no_skip — the loop family's own gates) and its
        streaming stepper; the strict-internal times(n) form is the
        already-compiled next()-chain (KMP) path, so it refuses here
        naming it."""
        if not self.stages:
            raise ValueError("consecutive() needs a stage")
        s = self.stages[-1]
        if s.times or s.times_hi:
            raise NotImplementedError(
                "consecutive() on times(n) is not compiled here — a "
                "strict-internal fixed count IS the strict chain: "
                "write the stage n times with next() (the KMP/regex "
                "path carries it)")
        if not s.one_or_more:
            raise NotImplementedError(
                "consecutive() modifies a looping quantifier — call "
                "one_or_more() first")
        if s.optional:
            raise NotImplementedError(
                "consecutive() with zeroOrMore (one_or_more + "
                "optional) is not compiled — the empty-loop variant "
                "has no internal contiguity to restrict; drop "
                "optional()")
        if s.combos:
            raise NotImplementedError(
                "consecutive() contradicts allow_combinations() — "
                "strict internal contiguity admits no skipping")
        if getattr(self, "_tom", False):
            raise NotImplementedError(
                "consecutive() after times_or_more() is not compiled "
                "— the eager expansion's fixed copies keep relaxed "
                "contiguity, so strict-internal would apply to the "
                "final loop copy only; write the strict form as a "
                "next() chain plus one_or_more().consecutive()")
        s.consec = True
        return self

    def allow_combinations(self) -> "Pattern":
        """NON-DETERMINISTIC relaxed internal contiguity on the
        looping stage [FLINK-API: Quantifier#allowCombinations —
        "ignoring succeeding matching events"]: the loop may SKIP
        matching events, so a match is the prefix plus ANY nonempty
        subsequence of in-horizon loop events (Flink's doc example —
        a b+ with combinations over b1 b2 b3 yields all 7 subsets).
        COUNTING needs no enumeration (r12): each parked run carries a
        subsequence register c; a close emits c+1 new matches (the
        subsequences ending at that event) and doubles c <- 2c+1 —
        the followed_by_any counting-DP idea carried into the parked
        loop set. The count is exponential in horizon density by the
        verb's definition (2^m - 1 per anchor; Flink ENUMERATES those
        same matches, which explodes far earlier) — exact while the
        BIGINT register holds, i.e. < 2^62 subsequences per run."""
        if not self.stages:
            raise ValueError("allow_combinations() needs a stage")
        s = self.stages[-1]
        if s.times or s.times_hi:
            raise NotImplementedError(
                "allow_combinations() on times(n) is not compiled — "
                "use followed_by_any stages (the any-DP machines "
                "carry fixed-count combinations natively)")
        if not s.one_or_more:
            raise NotImplementedError(
                "allow_combinations() modifies a looping quantifier "
                "— call one_or_more() first")
        if s.optional:
            raise NotImplementedError(
                "allow_combinations() with zeroOrMore is not "
                "compiled — drop optional()")
        if s.consec:
            raise NotImplementedError(
                "allow_combinations() contradicts consecutive() — "
                "strict internal contiguity admits no skipping")
        if getattr(self, "_tom", False):
            raise NotImplementedError(
                "allow_combinations() after times_or_more() is not "
                "compiled — the eager expansion's fixed copies keep "
                "deterministic relaxed contiguity; quantify a single "
                "stage")
        s.combos = True
        return self

    def _refuse_pending_gvar(self, verb: str) -> None:
        # ADVICE r12: where() after the LAZY group times(a, b) /
        # optional() marker would AND onto the group's last INNER
        # stage and replicate into every variant copy at compile,
        # while the EAGER times(n) expansion leaves where() on the
        # final copy only — so times(2) and times(2, 2) would diverge
        # when followed by where(). Refuse loudly (mirroring the
        # until()/extra-quantifier gates): refine the stage BEFORE
        # quantifying the group, which lands the condition in every
        # copy under both expansion orders.
        if getattr(self, "_gvar", None) is not None:
            raise NotImplementedError(
                f"{verb} after optional()/times(a, b) on a group is "
                "ambiguous (eager times(n) refines the final copy "
                "only; the lazy range marker would replicate into "
                "every copy) — call it on the stage BEFORE "
                "quantifying the group")

    def where(self, sql: str) -> "Pattern":
        """AND an SQL condition onto the LAST stage [FLINK-API:
        Pattern#where — consecutive where() calls AND together]. The
        expression sees the full event row (e.g. ``value >= 100``)."""
        if not self.stages:
            raise ValueError("where() needs a stage")
        self._refuse_pending_gvar("where()")
        self.stages[-1].conds = (*self.stages[-1].conds, ("and", sql))
        return self

    def or_where(self, sql: str) -> "Pattern":
        """OR an SQL condition onto the LAST stage [FLINK-API:
        Pattern#or]. Left-associative with where(): the accumulated
        condition so far is OR'd with `sql` as one parenthesized
        alternative."""
        if not self.stages:
            raise ValueError("or_where() needs a stage")
        self._refuse_pending_gvar("or_where()")
        self.stages[-1].conds = (*self.stages[-1].conds, ("or", sql))
        return self

    def where_rel(self, col: str, op: str, anchor_col: str,
                  scale: float = 1.0, offset: float = 0.0) -> "Pattern":
        """Anchor-RELATIVE condition on the LAST stage [FLINK-API:
        IterativeCondition — `ctx.getEventsForPattern("begin")`,
        restricted to comparisons against the run's ANCHOR event, the
        dominant use (`price > first price`)]: the stage additionally
        requires ``event.col OP anchor.anchor_col * scale + offset``.
        `op` is one of > >= < <= = !=. Compiles on the single-anchor
        skip-past-last machines (relaxed / relaxed+within), batch and
        streaming — the fold state already carries THE anchor, so the
        comparison is O(1); the forking families would need per-anchor
        payloads and refuse loudly. Not allowed on the begin stage
        (no anchor exists yet)."""
        if not self.stages:
            raise ValueError("where_rel() needs a stage")
        if len(self.stages) == 1:
            raise NotImplementedError(
                "where_rel() on the begin stage is undefined — the "
                "anchor IS the begin event")
        if op not in (">", ">=", "<", "<=", "=", "!="):
            raise ValueError(f"where_rel op {op!r} not in "
                             "> >= < <= = !=")
        if self.stages[-1].rel is not None:
            raise NotImplementedError(
                "one where_rel() per stage — fold the arithmetic into "
                "scale/offset")
        self.stages[-1].rel = (col, op, anchor_col,
                               float(scale), float(offset))
        return self

    def where_prev(self, col: str, op: str, prev_col: str,
                   scale: float = 1.0, offset: float = 0.0) -> "Pattern":
        """PREVIOUS-ELEMENT-relative condition on the LAST stage
        [FLINK-API: IterativeCondition —
        `ctx.getEventsForPattern(previousStage)`, the second most
        common shape after anchor comparisons (`each price above the
        one before it`)] (r10): the stage additionally requires
        ``event.col OP prev.prev_col * scale + offset`` where `prev`
        is the element the run matched at the PRECEDING stage (for
        stage 2 that is the anchor itself). Same machines and O(1)
        state as where_rel — the fold carries the last matched
        element's referenced values, refreshed at every advance.
        Single-anchor skip-past-last machines AND (since r11) the
        forking no_skip() family, where each anchor payload carries a
        pv field refreshed at promotion — the promotion event is the
        new prev for every run it promotes. Not allowed on the begin
        stage."""
        if not self.stages:
            raise ValueError("where_prev() needs a stage")
        if len(self.stages) == 1:
            raise NotImplementedError(
                "where_prev() on the begin stage is undefined — "
                "there is no previous element yet")
        if op not in (">", ">=", "<", "<=", "=", "!="):
            raise ValueError(f"where_prev op {op!r} not in "
                             "> >= < <= = !=")
        if self.stages[-1].rel is not None:
            raise NotImplementedError(
                "one where_rel()/where_prev() per stage — fold the "
                "arithmetic into scale/offset")
        self.stages[-1].rel = (col, op, prev_col,
                               float(scale), float(offset))
        self.stages[-1].rel_src = "prev"
        return self

    def where_agg(self, fn: str, col: str, op: str,
                  rhs: float) -> "Pattern":
        """RUN-AGGREGATE condition on the LAST stage [FLINK-API: the
        general IterativeCondition — `ctx.getEventsForPattern(...)`
        over ALL prior stages, the Flink-docs canonical "sum of prices
        of previously accepted events plus this one < 5.0"] (r11): the
        stage additionally requires ``FN(col) OP rhs`` where FN
        aggregates over every event the run has matched so far PLUS
        the candidate itself. fn in sum/count/min/max/avg. O(1) fold
        state: one aggregate register per (fn, col), reset when a run
        anchors, combined at every advance — the same shape as
        where_prev's pv fields. Single-anchor skip-past-last machines
        carry it on fixed stages; since late r11 the BOUNDED LOOP
        carries it on the one_or_more stage itself — there the scope
        narrows to the LOOP's accepted events + candidate (Flink's
        `ctx.getEventsForPattern(selfStage)`, the docs' canonical
        example) with per-run registers in the parked set; the other
        forking shapes refuse loudly. A NULL operand anywhere
        (candidate or an already-matched event's col) POISONS the
        aggregate: the condition evaluates false, the rule where_rel
        pins. Not allowed on the begin stage (aggregate over the
        candidate alone — use where())."""
        if not self.stages:
            raise ValueError("where_agg() needs a stage")
        if len(self.stages) == 1:
            raise NotImplementedError(
                "where_agg() on the begin stage aggregates over the "
                "candidate alone — use where()")
        if fn not in ("sum", "count", "min", "max", "avg"):
            raise ValueError(f"where_agg fn {fn!r} not in "
                             "sum count min max avg")
        if op not in (">", ">=", "<", "<=", "=", "!="):
            raise ValueError(f"where_agg op {op!r} not in "
                             "> >= < <= = !=")
        if self.stages[-1].agg is not None:
            raise NotImplementedError(
                "one where_agg() per stage — combine thresholds into "
                "one condition or split the stage")
        self.stages[-1].agg = (fn, col, op, float(rhs))
        return self

    def _has_preds(self) -> bool:
        return any(s.conds for s in self.stages)

    def _has_rel(self) -> bool:
        return any(s.rel is not None for s in self.stages)

    def _has_agg(self) -> bool:
        return any(s.agg is not None for s in self.stages)

    def _has_opt_range(self) -> bool:
        return any(s.optional or s.times_hi is not None
                   for s in self.stages)

    def within(self, duration: str) -> "Pattern":
        """Time horizon for a full match [FLINK-API: Pattern#within] —
        e.g. ``within("48 hours")``. Also what keeps NFA state bounded."""
        self.within_us = _duration_us(duration)
        return self

    def no_skip(self) -> "Pattern":
        """Flink's DEFAULT forking-NFA semantics [FLINK-API:
        AfterMatchSkipStrategy#noSkip]: every anchor starts its own
        pending match; one closing event may complete several. The
        engine default here is skip-past-last (each event binds to at
        most one match) — call this to get the forking behavior."""
        self.skip = "no_skip"
        return self

    def skip_to_next(self) -> "Pattern":
        """[FLINK-API: AfterMatchSkipStrategy#skipToNext] — after a
        match is emitted, discard every partial match that started
        with the SAME event: per start event only the first-completing
        match survives. Compiled as the noSkip fork enumeration pruned
        by the kill-interval fold (r10, batch)."""
        self.skip = "to_next"
        return self

    def skip_to_first(self, name: str) -> "Pattern":
        """[FLINK-API: AfterMatchSkipStrategy#skipToFirst(name)] —
        after a match, discard every partial match that started AFTER
        the match's start but BEFORE the first event bound to stage
        `name`. Differs from skip_to_last(name) only when `name` is
        quantified (times(n) binds several events). Referencing the
        begin stage refuses (Flink throws there: nothing would ever be
        discarded and the NFA would re-process the same prefix)."""
        self.skip = "to_first"
        self.skip_ref = name
        return self

    def skip_to_last(self, name: str) -> "Pattern":
        """[FLINK-API: AfterMatchSkipStrategy#skipToLast(name)] — as
        skip_to_first but the kill range extends to the LAST event
        bound to stage `name`."""
        self.skip = "to_last"
        self.skip_ref = name
        return self

    def until(self, condition: str) -> "Pattern":
        """Loop STOP condition [FLINK-API: Pattern#until(condition) —
        after an event matching it appears, no more events are
        admitted into the looping stage]: ANSI-SQL over the event row,
        attached to the LAST stage, which must be `one_or_more()` (the
        bounded fork-loop family — `.one_or_more().until(c).within(d)
        .no_skip()`). Semantics (r10): an until-hit event kills every
        run AT THE LOOP STAGE — both runs awaiting their first loop
        element and parked loop runs — and is itself never admitted,
        even when it also satisfies the loop condition (until wins);
        runs at earlier stages and anchors arriving later are
        untouched. Rides the condition bitmask with its own bit, so it
        never costs per-row Python."""
        if not self.stages or not self.stages[-1].one_or_more:
            raise ValueError(
                "until() attaches to a one_or_more() stage — call it "
                "after .one_or_more()")
        if self.stages[-1].until_sql is not None:
            raise NotImplementedError(
                "one until() per loop stage — AND the conditions into "
                "one expression")
        self.stages[-1].until_sql = condition
        return self

    def greedy(self) -> "Pattern":
        """[FLINK-API: Pattern#greedy] — accepted as a NO-OP marker:
        Flink documents greedy as having no effect when the quantified
        pattern is the LAST stage of the pattern, and the final stage
        is the only quantifier position the engine compiles (mid-
        pattern loops refuse loudly elsewhere) — pinned by
        test_cep_until_greedy: greedy on/off is count-identical.
        Calling it on a non-quantified last stage raises."""
        if not self.stages or not (self.stages[-1].one_or_more
                                   or self.stages[-1].times):
            raise ValueError(
                "greedy() attaches to a quantified stage — call it "
                "after .one_or_more()/.times(n)")
        self.stages[-1].greedy = True
        return self

    def skip_past_last_event(self) -> "Pattern":
        """[FLINK-API: AfterMatchSkipStrategy#skipPastLastEvent] —
        Flink's EXACT NFA semantics: runs fork at every begin event;
        after a match, partial matches that started inside [match
        start, match end] are discarded; runs that started BEFORE the
        match survive. This differs from the engine's default
        `past_last` single-run machine in one corner: when an anchor
        expires mid-run, a begin event that arrived while the stale
        anchor was held never anchors the single-run machine, but DOES
        fork a run in the NFA — the NFA can emit a strictly earlier
        match (divergence pinned in
        test_skip_past_last_event_vs_default_machine). Compiled as the
        noSkip enumeration pruned by the [start, end] kill interval."""
        self.skip = "past_last_event"
        return self

    # -- compilation helpers ------------------------------------------
    def _family(self) -> str:
        cont = [s.contiguity for s in self.stages[1:]]
        if (getattr(self, "_gvar", None) is not None
                or getattr(self, "_gzom", None) is not None
                or getattr(self, "_gloop", None) is not None) \
                and self.skip in ("to_next", "to_first", "to_last",
                                  "past_last_event"):
            # group-quantifier markers are pattern-level, invisible to
            # the per-stage skip gates below — refuse before the skip
            # branch misclassifies the pattern
            raise NotImplementedError(
                "a quantified group compiles under no_skip() — drop "
                "the skip strategy")
        gvar = getattr(self, "_gvar", None)
        gzom = getattr(self, "_gzom", None)
        if gvar is not None or gzom is not None:
            span = gvar[:2] if gvar is not None else gzom
            kind = ("optional()/times(a, b)" if gvar is not None
                    else "zeroOrMore")
            if span[1] != len(self.stages):
                raise NotImplementedError(
                    f"{kind} on a group compiles only as the pattern "
                    "TAIL — no stages may follow the quantified group")
            if self.skip != "no_skip":
                raise NotImplementedError(
                    f"{kind} on a group compiles under no_skip() — "
                    "the variant/loop branches are distinct noSkip "
                    "matches")
            if gzom is not None and self.within_us is None:
                raise NotImplementedError(
                    "zeroOrMore on a group needs within(d): the loop "
                    "addend's horizon bounds its state")
            if any(s.contiguity in ("not_followed_by", "not_next",
                                    "followed_by_any", "next")
                   for s in self.stages):
                raise NotImplementedError(
                    f"{kind} on a group composes with plain "
                    "begin/followed_by prefixes only")
            if any(s.times or s.times_hi or s.one_or_more
                   or s.optional for s in self.stages):
                raise NotImplementedError(
                    "quantified stages alongside a quantified group "
                    "are not compiled — write the repetition out")
            if self._has_rel() or self._has_agg() \
                    or any(s.until_sql for s in self.stages):
                raise NotImplementedError(
                    f"where_rel()/where_agg()/until() with {kind} on "
                    "a group is not compiled")
            return "group_variants" if gvar is not None else \
                "group_zom"
        gloop = getattr(self, "_gloop", None)
        if gloop is not None:
            # GROUP one_or_more (r12): the fixed-length unit loops as
            # a BACK-EDGE on the forking machine — the loop family's
            # own gates apply
            if gloop[1] != len(self.stages):
                raise NotImplementedError(
                    "one_or_more() on a group compiles only as the "
                    "pattern TAIL — no stages may follow the looping "
                    "group")
            if self.skip != "no_skip":
                raise NotImplementedError(
                    "one_or_more() on a group compiles under "
                    "no_skip() — the forking family; drop the skip "
                    "strategy")
            if self.within_us is None:
                raise NotImplementedError(
                    "one_or_more() on a group needs within(d): the "
                    "horizon bounds the loop state")
            if any(s.contiguity in ("not_followed_by", "not_next",
                                    "followed_by_any", "next")
                   for s in self.stages):
                raise NotImplementedError(
                    "one_or_more() on a group composes with plain "
                    "begin/followed_by prefixes only")
            if any(s.times or s.times_hi or s.one_or_more
                   or s.optional for s in self.stages):
                raise NotImplementedError(
                    "quantified stages alongside a looping group are "
                    "not compiled — write the repetition out")
            if self._has_rel() or self._has_agg() \
                    or any(s.until_sql for s in self.stages):
                raise NotImplementedError(
                    "where_rel()/where_agg()/until() with a looping "
                    "group is not compiled — counts carry stage "
                    "where() conditions only")
            return "fork_group_loop"
        if self.skip in ("to_next", "to_first", "to_last",
                         "past_last_event"):
            # [FLINK-API: AfterMatchSkipStrategy variants] (r10):
            # compiled as the noSkip fork ENUMERATION pruned by the
            # strategy's kill-interval rule — scoped to pure relaxed
            # followed_by chains (fixed times(n) allowed; the
            # expansion is relaxed-internal so a quantified named
            # stage binds one event per copy, giving first/last their
            # distinct meanings)
            if any(s.contiguity == "followed_by_any"
                   for s in self.stages):
                raise NotImplementedError(
                    "skip_to_* with followed_by_any is not compiled — "
                    "the any-enumeration is the noSkip combinatorial "
                    "set; use no_skip()")
            if any(s.contiguity in ("not_followed_by", "not_next")
                   for s in self.stages):
                raise NotImplementedError(
                    "skip_to_* with not_followed_by/not_next is not "
                    "compiled — split the absence check out")
            if any(s.contiguity == "next" for s in self.stages):
                raise NotImplementedError(
                    "skip_to_* with strict next() stages is not "
                    "compiled — use followed_by")
            if any(s.one_or_more for s in self.stages):
                raise NotImplementedError(
                    "one_or_more() with skip_to_* is not compiled — "
                    "use fixed times(n)")
            if self._has_opt_range():
                raise NotImplementedError(
                    "optional()/times(a, b) with skip_to_* is not "
                    "compiled — the variant union carries no_skip "
                    "only")
            if self._has_rel() or self._has_agg():
                raise NotImplementedError(
                    "where_rel()/where_agg() with skip_to_* is not "
                    "compiled — the enumeration machine carries no "
                    "per-anchor payloads")
            if len(self.stages) < 2:
                raise ValueError("skip_to_* needs at least two stages")
            if self.skip in ("to_first", "to_last"):
                names = [s.name for s in self.stages]
                if self.skip_ref not in names:
                    raise ValueError(
                        f"skip_{self.skip[3:]}({self.skip_ref!r}) "
                        f"references no stage (stages: {names})")
                if self.skip_ref == self.stages[0].name \
                        and self.skip == "to_first":
                    raise ValueError(
                        "skip_to_first of the begin stage discards "
                        "nothing and Flink throws there — use "
                        "no_skip() for the full enumeration")
            return "skip_strategy"

        if any(s.contiguity == "followed_by_any" for s in self.stages):
            if any(c not in ("followed_by_any",) for c in cont):
                raise NotImplementedError(
                    "followed_by_any mixes only with itself — make "
                    "every stage after begin followed_by_any, or use "
                    "followed_by (the deterministic machines)")
            if any(s.one_or_more for s in self.stages):
                raise NotImplementedError(
                    "one_or_more() under followed_by_any is not "
                    "compiled (combinatorial run growth) — use "
                    "times(n)")
            if any(s.times and s.contiguity != "followed_by_any"
                   for s in self.stages):
                # r10 (advice fix): only the ANY stages' expansion is
                # pinned — times(n) on the begin stage would expand
                # with relaxed copies that the any-DP machines then
                # treat as followedByAny, counting ALL combinations
                # instead of first-match internal contiguity
                raise NotImplementedError(
                    "times() on a non-followed_by_any stage in a "
                    "followed_by_any pattern is not compiled (the "
                    "any-machines would count all combinations of the "
                    "expanded copies) — quantify only the any stages")
            if self.skip != "no_skip":
                raise NotImplementedError(
                    "followed_by_any counts ALL event combinations — "
                    "that is Flink's noSkip enumeration; call "
                    "no_skip() (skip-past-last would consume events "
                    "across forked runs ambiguously)")
            return ("any_dp_within" if self.within_us is not None
                    else "any_dp")
        quant = any(s.times or s.one_or_more for s in self.stages)
        if self.stages[-1].contiguity == "not_next":
            # STRICT absence [FLINK-API: Pattern#notNext] (r10): the
            # very next event decides, so no horizon/timer is needed
            last = self.stages[-1]
            if last.times or last.one_or_more or last.optional:
                raise NotImplementedError(
                    "quantified not_next is not compiled (one "
                    "immediately-succeeding event already decides)")
            if len(self.stages) < 2:
                raise ValueError("not_next() needs a prefix stage")
            if self.skip == "no_skip":
                raise NotImplementedError(
                    "not_next() carries the skip-past-last prefix "
                    "only — drop no_skip()")
            if any(s.contiguity in ("not_followed_by",
                                    "followed_by_any")
                   for s in self.stages[:-1]):
                raise NotImplementedError(
                    "not_next() composes with plain begin/next/"
                    "followed_by prefixes only")
            return "absence_next"
        if self.stages[-1].contiguity == "not_followed_by":
            _refuse_quantified_nfb(self.stages[-1])
            if self.within_us is None:
                raise ValueError(
                    "not_followed_by needs within(): absence over an "
                    "unbounded future never completes")
            if len(self.stages) == 2:
                return "absence"
            # K-stage ANCHORED-CHAIN absence (r9): the prefix pattern
            # completes, then NOTHING of the absent type arrives in
            # (t_last_element, t_anchor + d] — compiles as the prefix's
            # match extraction anti-joined against the absent type
            return "absence_chain"
        last = self.stages[-1]
        if (last.one_or_more and last.times is None
                and not any(s.one_or_more for s in self.stages[:-1])
                and last.contiguity in ("begin", "followed_by")
                and self.skip == "no_skip"
                and self.within_us is not None
                and not any(s.contiguity == "not_followed_by"
                            for s in self.stages)):
            # one_or_more() bounded by within(d) on the FINAL relaxed
            # stage under noSkip compiles on the fork machine with one
            # extra horizon-bounded LOOP set (r9): every in-horizon
            # closing event adds one match per live anchor combination
            # — Flink's greedy looping branch under default (non-
            # combinations) internal relaxed contiguity. The unbounded
            # form stays a loud refusal (state/output are only bounded
            # by the within horizon).
            return "fork_loop"
        if len(self.stages) == 1 and (self.stages[0].times or 0) > 1:
            # a quantified single stage follows Flink's DEFAULT relaxed
            # internal contiguity [FLINK-API: Quantifier] — expansion
            # into the relaxed machines; quantifiers on explicit next()
            # stages stay strict-internal (the consecutive() reading
            # the q_cep_times oracle pins)
            if self.skip == "no_skip":
                return "fork"
            if self.within_us is not None:
                return "relaxed_within"
            return "relaxed"
        if all(c == "next" for c in cont):
            if self.skip == "no_skip":
                raise NotImplementedError(
                    "no_skip with strict contiguity is not compiled; "
                    "strict chains run under skip-past-last (regex "
                    "count) — drop no_skip() or use followed_by")
            if self.within_us is not None:
                raise NotImplementedError(
                    "within() on strict chains is not compiled; strict "
                    "contiguity already bounds state — drop within() "
                    "or use followed_by")
            return "strict"
        # any mix of followed_by and next stages (>=1 relaxed) compiles
        # on the stage machines: each stage carries a strict-await flag,
        # and a non-matching event at a strict await kills the run
        # (possibly re-anchoring it) instead of being skipped
        if any(s.one_or_more for s in self.stages):
            raise NotImplementedError(
                "one_or_more() under relaxed/mixed contiguity compiles "
                "ONLY in the horizon-bounded form — .one_or_more() on "
                "the FINAL followed_by stage with .within(d).no_skip() "
                "(the fork-loop machine); elsewhere the greedy loop is "
                "unbounded — use times(n), which expands to n stages "
                "under Flink's default internal contiguity, or a pure "
                "strict next() chain (the regex path)")
        if self.skip == "no_skip":
            return "fork"
        if self.within_us is not None:
            return "relaxed_within"
        return "relaxed"

    def _expanded(self) -> "Pattern":
        """Resolve times(n) on relaxed-family stages by STAGE EXPANSION:
        Flink's default internal contiguity for quantifiers is relaxed
        [FLINK-API: Quantifier], so followed_by(b).times(3) is exactly
        b FOLLOWED-BY b FOLLOWED-BY b. A quantified next() stage keeps
        strict-internal copies — the `consecutive()` reading the
        q_cep_times oracle pins engine-wide — and pure-strict chains
        never reach expansion (the regex applies quantifiers natively).
        """
        out: list[_Stage] = []
        for s in self.stages:
            n = s.times or 1
            first = replace(s, times=None)
            out.append(first)
            if s.contiguity == "next":
                inner = "next"
            elif s.contiguity == "followed_by_any":
                inner = "followed_by_any"
            else:
                inner = "followed_by"
            for j in range(1, n):
                # r11 (advice fix): copies must keep rel_src too — a
                # where_prev() on a quantified stage ("each price above
                # the one before") previously evaluated copies 2..n
                # against the ANCHOR's value (the rel_src default)
                out.append(_Stage(f"{s.name}#{j}", s.event_type, inner,
                                  conds=s.conds, rel=s.rel,
                                  rel_src=s.rel_src, agg=s.agg))
        xp = Pattern(stages=out, within_us=self.within_us,
                     skip=self.skip, skip_ref=self.skip_ref)
        if getattr(self, "_gloop", None) is not None:
            # expansion is the identity for group loops (quantified
            # stages alongside a looping group refuse in _family), so
            # the (lo, hi) span stays valid
            xp._gloop = self._gloop
        return xp


_MAX_VARIANTS = 32


def _variants(pat: Pattern) -> list[Pattern]:
    """Resolve optional() stages and times(a, b) RANGES into the list
    of FIXED variant patterns whose noSkip match sets partition the
    original pattern's matches [FLINK-API: Quantifier — an optional
    stage forks a with/without branch; times(a,b) forks one branch per
    count]. Each variant lands on the already-pinned fork machines and
    the per-key counts SUM: two variants differ in which stages (or
    how many copies) are bound, so their binding shapes — and hence
    their Flink matches — are disjoint. Only meaningful under
    no_skip(); the caller gates that."""
    choice_lists: list[list[int]] = []
    for s in pat.stages:
        if s.one_or_more:
            # r11 (advice fix): the variant rebuild below carries only
            # (optional, times) choices — a one_or_more loop stage
            # would silently become a single-event stage, dropping
            # every loop of length >= 2 (zeroOrMore routes earlier via
            # the last-stage gate; this catches one_or_more WITHOUT
            # optional mixed with an optional()/times(a, b) stage)
            raise NotImplementedError(
                "optional()/times(a, b) combined with a one_or_more() "
                "stage is not compiled — the variant union carries "
                "fixed stage counts only; drop one of the quantifiers")
        if s.contiguity == "followed_by_any":
            raise NotImplementedError(
                "optional()/times(a, b) with followed_by_any stages "
                "is not compiled — the any-machines carry times(n) "
                "natively")
        if s.optional and (s.times or s.times_hi):
            raise NotImplementedError(
                "optional() combined with times() on one stage is not "
                "compiled — express the range with times(a, b)")
        if s.contiguity == "next":
            # r10 (advice fix): refuse strict next() ANYWHERE in an
            # optional()/times(a, b) pattern, not just on the
            # quantified stage itself — the variant-union fold runs on
            # the relaxed fork machines, which carry no strict-await
            # (drain-or-die) handling, and times(n) expansion inside
            # _variants gives copies relaxed internal contiguity; a
            # silently-relaxed next() stage would OVERCOUNT vs Flink
            raise NotImplementedError(
                "optional()/times(a, b) patterns with a strict next() "
                "stage are not compiled (the variant union runs on "
                "the relaxed fork machines — a next() stage would be "
                "silently treated as followed_by) — use followed_by")
        if s.optional:
            choice_lists.append([0, 1])
        elif s.times_hi is not None:
            choice_lists.append(list(range(s.times, s.times_hi + 1)))
        else:
            choice_lists.append([s.times or 1])
    total = 1
    for c in choice_lists:
        total *= len(c)
    if total > _MAX_VARIANTS:
        raise NotImplementedError(
            f"optional()/times(a, b) expansion would need {total} "
            f"variants (max {_MAX_VARIANTS}) — tighten the ranges")
    out: list[Pattern] = []
    combos = [[]]
    for c in choice_lists:
        combos = [prev + [n] for prev in combos for n in c]
    for counts in combos:
        stages: list[_Stage] = []
        for s, n in zip(pat.stages, counts):
            inner = "followed_by"
            for j in range(n):
                cont = s.contiguity if j == 0 else inner
                if not stages and cont in ("followed_by", "next"):
                    cont = "begin"
                stages.append(_Stage(
                    s.name if j == 0 else f"{s.name}#{j}",
                    s.event_type, cont, conds=s.conds))
        if stages:
            out.append(Pattern(stages=stages, within_us=pat.within_us,
                               skip=pat.skip))
    return out


def _gvar_variants(pat: Pattern) -> list[Pattern]:
    """Resolve a GROUP optional()/times(a, b) marker (`_gvar`) into
    its fixed variant patterns: one per copy count k in [a, b] (k=0 =
    the prefix alone), relaxed contiguity between copies — binding
    shapes are disjoint, so the variant-union fold (batch) and the
    variant-union stepper (streaming, r13) both sum exactly. Batch
    and streaming reach it through _union_variants."""
    lo, hi, a, b = pat._gvar
    if b - a + 1 > _MAX_VARIANTS:
        raise NotImplementedError(
            f"times({a}, {b}) on a group would need {b - a + 1} "
            f"variants (max {_MAX_VARIANTS}) — tighten the range")
    block = pat.stages[lo:hi]
    variants = []
    for k in range(a, b + 1):
        stages = [replace(s) for s in pat.stages[:lo]]
        for j in range(k):
            copy = [replace(s, name=s.name if j == 0
                            else f"{s.name}#gv{j}")
                    for s in block]
            copy[0] = replace(copy[0], contiguity="followed_by")
            stages.extend(copy)
        if stages:
            variants.append(Pattern(stages=stages,
                                    within_us=pat.within_us,
                                    skip=pat.skip))
    return variants


def _variant_union_fold(pat: Pattern, variants: list[Pattern],
                        df: DataFrame, keys: list[str], time_col: str,
                        tiebreak_col: str,
                        event_col: str) -> DataFrame:
    """Shared variant-union fold: one per-key collected sequence, one
    relaxed-fork fold per FIXED variant pattern (1-stage variants
    count matching events directly), counts summed per key. Callers
    guarantee the variants' match sets are disjoint (distinct binding
    shapes) and that every variant stage's cond_key appears in `pat`
    (the shared mask space). Used by stage optional()/times(a, b)
    (via _variants) and, since r12, GROUP optional()/times(a, b)
    (variants = k concatenated group copies)."""
    w = pat.within_us
    # one mask/code space for ALL variants: distinct conds of the full
    # pattern (a variant's stage bits index into this shared space)
    codes = _cond_codes(pat)
    seq = _seq(pat, time_col, tiebreak_col, event_col)

    def bits_of(v: Pattern) -> list[int]:
        return [1 << (codes[s.cond_key()] - 1) for s in v.stages]

    folds = []
    for vi, v in enumerate(variants):
        st = bits_of(v)
        K = len(st)
        if K == 1:
            one = F.aggregate(
                seq, F.lit(0).cast("long"),
                lambda acc, x: acc + F.when(
                    _hit(x["c"], F.lit(st[0])), F.lit(1)).otherwise(
                        F.lit(0)).cast("long"))
            folds.append(one.alias(f"__v{vi}"))
            continue
        empty = F.array().cast("array<long>")
        init = F.struct(F.lit(0).cast("long").alias("cnt"),
                        *[empty.alias(f"s{i}") for i in range(1, K)])

        def mk_step(st, K):
            def step(acc, x):
                if w is None:
                    filt = {i: acc[f"s{i}"] for i in range(1, K)}
                else:
                    filt = {i: F.filter(acc[f"s{i}"],
                                        lambda a: x["t"] - a <= w)
                            for i in range(1, K)}
                match = {i: _hit(x["c"], F.lit(st[i - 1]))
                         for i in range(1, K + 1)}
                fields = [
                    F.when(match[K],
                           acc["cnt"] + F.size(filt[K - 1]).cast("long"))
                    .otherwise(acc["cnt"]).alias("cnt")]
                for i in range(1, K):
                    base = F.when(match[i + 1], empty).otherwise(filt[i])
                    incoming = (F.array(x["t"]) if i == 1
                                else filt[i - 1])
                    col = (F.when(match[i], F.concat(base, incoming))
                           .otherwise(base))
                    fields.append(col.alias(f"s{i}"))
                return F.struct(*fields)
            return step

        folds.append(F.aggregate(seq, init, mk_step(st, K))["cnt"]
                     .alias(f"__v{vi}"))

    agg = df.groupBy(*keys).agg(*folds)
    total = agg.columns[len(keys)]
    n = F.col(total)
    for c in agg.columns[len(keys) + 1:]:
        n = n + F.col(c)
    return (agg.select(*keys, n.cast("long").alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _variant_union_gates(pat: Pattern) -> None:
    """Stage optional()/times(a, b) compiles as a union of variants on
    the forking machines: no_skip() only, and no run payloads or
    absence stages. Batch and streaming share these refusals."""
    if pat._has_rel() or pat._has_agg():
        raise NotImplementedError(
            "where_rel()/where_agg() with optional()/times(a, b) "
            "is not compiled — the variant union runs on the "
            "forking machines, which carry no per-anchor payloads")
    if pat.skip != "no_skip":
        raise NotImplementedError(
            "optional()/times(a, b) compile only under no_skip(): "
            "Flink's NFA keeps both quantifier branches as distinct "
            "matches there; under skip-past-last the branches compete "
            "for event consumption — drop the quantifier or call "
            "no_skip()")
    if any(s.contiguity == "not_followed_by" for s in pat.stages):
        raise NotImplementedError(
            "optional()/times(a, b) with not_followed_by stages is "
            "not compiled — split the absence check out")


def _union_variants(pat: Pattern) -> list[Pattern] | None:
    """The FIXED variant patterns whose noSkip counts sum to `pat`'s —
    stage optional()/times(a, b) (_variants) or a group range
    (_gvar_variants) — or None when `pat` has neither. Batch folds the
    variants over one collected sequence (_variant_union_fold);
    streaming steps them side by side (variant_union_stepper)."""
    if pat._has_opt_range():
        _variant_union_gates(pat)
        return _variants(pat)
    if getattr(pat, "_gvar", None) is not None:
        pat._family()   # the shared group gates (tail/no_skip/...)
        return _gvar_variants(pat)
    return None


def _zom_loop(pat: Pattern) -> Pattern | None:
    """zeroOrMore — `one_or_more().optional()` on the final stage
    [FLINK-API: Pattern#oneOrMore#optional] (r10): the match set
    partitions by loop length — length 0 is exactly the PREFIX
    pattern's match set (every completed prefix is its own match;
    for a 2-stage pattern that is simply every anchor-condition
    event), length >= 1 is exactly the bounded fork-loop's count —
    so the per-key counts ADD. Returns the loop addend's pattern (the
    loop side's own gates — within + no_skip, final stage — and
    until() flow through it unchanged), or None when `pat` is not
    zeroOrMore. Batch sums the two compiled addends
    (_prefix_plus_loop); streaming runs both machines side by side in
    one keyed state row (zero_or_more_stepper — the partition
    argument is order-free)."""
    if not (pat.stages and pat.stages[-1].one_or_more
            and pat.stages[-1].optional):
        return None
    if pat._has_rel() or pat._has_agg():
        raise NotImplementedError(
            "where_rel()/where_agg() with zeroOrMore is not compiled")
    if len(pat.stages) < 2:
        raise NotImplementedError(
            "zeroOrMore as the only stage is not compiled (every "
            "position would hold an empty match) — anchor it with a "
            "prefix stage")
    if any(s.optional or s.times_hi is not None
           for s in pat.stages[:-1]):
        # r11 (advice fix): clearing optional over ALL stages made a
        # mid-pattern optional() required on the loop addend while the
        # prefix addend kept it optional — undercounting loop-length
        # >= 1 matches that skip the optional stage. The loop side
        # (fork-loop machine) carries no variant union, so refuse.
        raise NotImplementedError(
            "zeroOrMore with a non-final optional()/times(a, b) stage "
            "is not compiled (the loop addend runs on the fork-loop "
            "machine, which carries fixed stages) — drop the "
            "mid-pattern quantifier or split the pattern")
    return Pattern(
        stages=(list(pat.stages[:-1])
                + [replace(pat.stages[-1], optional=False)]),
        within_us=pat.within_us, skip=pat.skip)


def _payload_machine(pat: Pattern, fam: str) -> str | None:
    """Route run-payload conditions (where_rel()/where_prev()/
    where_agg()) to the machine family that carries them — 'loop_agg'
    (where_agg on the bounded loop stage), 'fork_rel' (per-anchor
    payloads under no_skip()) or 'relaxed_rel' (the single-anchor
    skip-past-last machines) — or None when `pat` has none. Every
    other combination refuses here, for batch and streaming alike."""
    if not (pat._has_rel() or pat._has_agg()):
        return None
    if pat._has_agg() and fam == "fork_loop":
        # r11: the Flink-docs canonical loop condition — where_agg on
        # the final one_or_more stage, per-run registers in the parked
        # set (aggregate scope = the LOOP's own events)
        if pat._has_rel() or any(
                s.agg is not None for s in pat.stages[:-1]):
            raise NotImplementedError(
                "loop patterns carry where_agg() on the LOOP "
                "stage only (aggregate over the loop's accepted "
                "events) — where_rel()/prefix-stage aggregates "
                "would need per-run whole-run payloads")
        if len(pat.stages) < 2:
            raise NotImplementedError(
                "where_agg() on a 1-stage loop is not compiled — "
                "anchor it with a prefix stage")
        if pat.stages[-1].consec:
            raise NotImplementedError(
                "consecutive() with where_agg() on the loop is "
                "not compiled — the strict-internal kill rule is "
                "carried by the plain loop (drop where_agg) and "
                "the run-aggregate by the relaxed loop (drop "
                "consecutive)")
        if pat.stages[-1].combos:
            raise NotImplementedError(
                "allow_combinations() with where_agg() on the "
                "loop is not compiled — per-SUBSEQUENCE aggregate "
                "registers would be the enumeration itself; drop "
                "one of the modifiers")
        return "loop_agg"
    if pat._has_agg() and fam not in ("relaxed", "relaxed_within"):
        raise NotImplementedError(
            "where_agg() compiles on the single-anchor "
            "skip-past-last machines (relaxed followed_by, with "
            "or without within()) and, for the loop, the bounded "
            "fork-loop shape (one_or_more + within + no_skip, "
            "aggregate on the loop stage) — the other families "
            "would need per-run aggregate payloads")
    if fam == "fork":
        # r10: the fork family carries per-anchor payloads —
        # scope gated to pure relaxed chains. r11: where_prev rides
        # the same payloads (the promotion event IS the new prev for
        # every run it promotes).
        xp = pat._expanded()
        if any(_strict_flags(xp)) or any(
                s.contiguity == "not_followed_by" for s in xp.stages):
            raise NotImplementedError(
                "where_rel() under no_skip() compiles on pure "
                "relaxed followed_by chains — strict next() and "
                "not_followed_by with per-anchor payloads are "
                "not carried")
        machine = "fork_rel"
    elif fam not in ("relaxed", "relaxed_within"):
        raise NotImplementedError(
            "where_rel() compiles on the single-anchor "
            "skip-past-last machines (relaxed followed_by, with "
            "or without within()) and, since round 10, the "
            "forking no_skip() family (per-anchor payloads) — "
            "the any/strict/absence/loop families would need "
            "run-set payloads; drop followed_by_any or the "
            "relative condition")
    else:
        machine = "relaxed_rel"
    if pat.stages[0].rel is not None:
        raise NotImplementedError(
            "where_rel() on the begin stage is undefined")
    if pat.stages[0].agg is not None:
        raise NotImplementedError(
            "where_agg() on the begin stage is undefined")
    return machine


def _refuse_one_stage_combos(pat: Pattern) -> None:
    if pat.stages[-1].combos and len(pat.stages) < 2:
        raise NotImplementedError(
            "allow_combinations() on a 1-stage loop is not "
            "compiled (every event would be both anchor and "
            "loop element) — anchor it with a prefix stage")


def _until_bit(pat: Pattern) -> int:
    """The condition-mask bit of the final stage's until() stop
    condition (0 = none)."""
    u = pat.stages[-1].until_sql
    if u is None:
        return 0
    return 1 << (_cond_codes(pat)[("__until__", u)] - 1)


def _skip_ref_index(pat: Pattern) -> int | None:
    """Expanded-stage index that skip_to_first/skip_to_last(name)
    references — the first/last copy of the named stage (times(n)
    copies keep the name before '#') — or None for the other
    strategies."""
    if pat.skip not in ("to_first", "to_last"):
        return None
    idx = [i for i, s in enumerate(pat._expanded().stages)
           if s.name.split("#")[0] == pat.skip_ref]
    return idx[0] if pat.skip == "to_first" else idx[-1]


def _prefix_plus_loop(pat: Pattern, lo: int, loop_pat: Pattern,
                      df: DataFrame, keys: list[str], time_col: str,
                      tiebreak_col: str, event_col: str) -> DataFrame:
    """zeroOrMore counts, stage or GROUP: the prefix-only matches
    (stages[:lo], zero loop repetitions) plus the loop pattern's
    counts (>= 1 repetitions) partition the match set, so the per-key
    counts add exactly. A 1-stage prefix matches every event
    satisfying its condition."""
    loop = compile_pattern(loop_pat, df, keys, time_col, tiebreak_col,
                           event_col)
    if lo == 1:
        a_cond = pat.stages[0].cond_sql(event_col)
        prefix = (df.filter(F.expr(a_cond)).groupBy(*keys)
                  .agg(F.count("*").cast("long").alias("n_matches")))
    else:
        prefix_pat = Pattern(stages=[replace(s) for s in pat.stages[:lo]],
                             within_us=pat.within_us, skip=pat.skip)
        prefix = compile_pattern(prefix_pat, df, keys, time_col,
                                 tiebreak_col, event_col)
    u = (prefix.unionByName(loop).groupBy(*keys)
         .agg(F.sum("n_matches").cast("long").alias("n_matches")))
    return u.filter(F.col("n_matches") > 0)


def compile_pattern(pat: Pattern, df: DataFrame, keys: list[str],
                    time_col: str, tiebreak_col: str,
                    event_col: str) -> DataFrame:
    """Compile `pat` over a BATCH keyed DataFrame. Returns per-key
    match counts (`n_matches > 0`) — or, for absence patterns, the
    anchor event ids with no qualifying follower."""
    loop_pat = _zom_loop(pat)
    if loop_pat is not None:
        return _prefix_plus_loop(pat, len(pat.stages) - 1, loop_pat, df,
                                 keys, time_col, tiebreak_col, event_col)
    variants = _union_variants(pat)
    if variants is not None:
        # optional()/times(a, b), stage or group (r12): one fixed
        # variant per choice, disjoint binding shapes — the shared
        # variant-union fold sums exactly
        return _variant_union_fold(pat, variants, df, keys, time_col,
                                   tiebreak_col, event_col)
    fam = pat._family()
    payload = _payload_machine(pat, fam)
    if payload is not None:
        machine = {"loop_agg": _fork_loop_agg_machine,
                   "fork_rel": _fork_rel_machine,
                   "relaxed_rel": _relaxed_rel_machine}[payload]
        return machine(pat._expanded(), df, keys, time_col, tiebreak_col,
                       event_col)
    if fam == "fork_group_loop":
        lo, hi = pat._gloop
        return _fork_group_loop_machine(pat, hi - lo, df, keys,
                                        time_col, tiebreak_col,
                                        event_col)
    if fam == "group_zom":
        # GROUP zeroOrMore (r12): prefix-only matches (0 repetitions)
        # + the back-edge loop counts (>= 1 repetitions)
        lo, hi = pat._gzom
        loop_pat = Pattern(stages=[replace(s) for s in pat.stages],
                           within_us=pat.within_us, skip=pat.skip)
        loop_pat._gloop = (lo, hi)
        return _prefix_plus_loop(pat, lo, loop_pat, df, keys, time_col,
                                 tiebreak_col, event_col)
    if fam == "skip_strategy":
        return _skip_strategy_counts(pat, df, keys, time_col,
                                     tiebreak_col, event_col)
    if fam == "absence":
        return _absence(pat, df, keys, time_col, tiebreak_col, event_col)
    if fam == "absence_next":
        return _absence_next(pat, df, keys, time_col, tiebreak_col,
                             event_col)
    if fam == "absence_chain":
        return _absence_chain(pat, df, keys, time_col, tiebreak_col,
                              event_col)
    if fam == "strict":
        return _strict_regex(pat, df, keys, time_col, tiebreak_col,
                             event_col)
    pat = pat._expanded()
    if fam == "any_dp":
        return _any_dp_machine(pat, df, keys, time_col, tiebreak_col,
                               event_col)
    if fam == "any_dp_within":
        return _any_table_machine(pat, df, keys, time_col,
                                  tiebreak_col, event_col)
    if fam in ("relaxed", "relaxed_within"):
        return _relaxed_machine(pat, df, keys, time_col, tiebreak_col,
                                event_col)
    if fam == "fork_loop":
        if pat.stages[-1].combos:
            _refuse_one_stage_combos(pat)
            return _fork_loop_combos_machine(pat, df, keys, time_col,
                                             tiebreak_col, event_col)
        return _fork_loop_machine(pat, df, keys, time_col, tiebreak_col,
                                  event_col)
    return _fork_machine(pat, df, keys, time_col, tiebreak_col, event_col)


def _type_codes(pat: Pattern) -> dict[str, int]:
    """DISTINCT event types in stage order → 1-based type code
    (0 = event irrelevant to the pattern). Repeated types share one
    code — transitions are keyed by STAGE, not by type. Used by the
    STRICT family (regex/KMP/lag-window paths), which refuses stage
    predicates, so type identity stays the whole condition there."""
    codes: dict[str, int] = {}
    for s in pat.stages:
        if s.event_type not in codes:
            codes[s.event_type] = len(codes) + 1
    return codes


def _cond_codes(pat: Pattern) -> dict[tuple, int]:
    """DISTINCT stage CONDITIONS in stage order → 1-based code. For
    type-only patterns this is exactly _type_codes (the cond_key is
    the type); with where()/or_where() predicates two stages share a
    code iff their full conditions are identical."""
    codes: dict[tuple, int] = {}
    for s in pat.stages:
        k = s.cond_key()
        if k not in codes:
            codes[k] = len(codes) + 1
    for s in pat.stages:
        # until() stop conditions carry their own bit (r10) — keyed
        # apart from every stage condition so they never collide
        if s.until_sql is not None:
            k = ("__until__", s.until_sql)
            if k not in codes:
                codes[k] = len(codes) + 1
    if len(codes) > 62:
        # the mask is a SQL BIGINT; bit 63 is the sign bit
        raise NotImplementedError(
            "patterns compile to a 64-bit condition mask — at most "
            f"62 distinct stage conditions (got {len(codes)})")
    return codes


def _cond_mask_col(pat: Pattern, event_col: str):
    """Per-event condition BITMASK column: bit (code-1) is set iff the
    event satisfies condition `code`. For type-only patterns the masks
    are ONE-HOT (an event has exactly one type), so a bit test against
    a stage's awaited bit is identical to the old type-code equality —
    the generalization that lets where()/or_where() predicates (which
    may overlap) ride the same machines."""
    codes = _cond_codes(pat)
    sqls: dict[int, str] = {}
    for s in pat.stages:
        sqls.setdefault(codes[s.cond_key()], s.cond_sql(event_col))
        if s.until_sql is not None:
            sqls.setdefault(codes[("__until__", s.until_sql)],
                            f"({s.until_sql})")
    m = F.lit(0).cast("long")
    for code in sorted(sqls):
        m = m + F.when(F.expr(sqls[code]),
                       F.lit(1 << (code - 1))).otherwise(F.lit(0))
    return m.cast("long")


def _await_stages(pat: Pattern) -> list:
    """The stages a run actually ADVANCES through — mid-pattern
    not_followed_by stages are stripped here and become per-await VETO
    codes (_veto_codes) instead of awaits."""
    return [s for s in pat.stages if s.contiguity != "not_followed_by"]


def _stage_codes(pat: Pattern) -> list[int]:
    """Per-AWAIT type code, index-aligned with _await_stages(pat).
    Codes come from the FULL pattern so veto (not_followed_by) types
    are detectable in the event stream too."""
    codes = _type_codes(pat)
    return [codes[s.event_type] for s in _await_stages(pat)]


def _stage_bits(pat: Pattern) -> list[int]:
    """Per-AWAIT condition BIT (1 << (cond_code - 1)), index-aligned
    with _await_stages(pat) — the value the relaxed-family machines
    bitwiseAND against the event's condition mask. For type-only
    patterns this is exactly the one-hot encoding of _stage_codes."""
    codes = _cond_codes(pat)
    return [1 << (codes[s.cond_key()] - 1) for s in _await_stages(pat)]


def _refuse_quantified_nfb(s: _Stage) -> None:
    if s.times or s.one_or_more:
        raise NotImplementedError(
            "quantified not_followed_by is not compiled (a single "
            "intervening event already kills the run)")


def _veto_codes(pat: Pattern) -> list[int]:
    """Per-await VETO condition BIT (0 = none), index-aligned with
    _await_stages(pat) [FLINK-API: Pattern#notFollowedBy mid-pattern]:
    `begin(a).not_followed_by(b).followed_by(c)` means an intervening
    `b` while awaiting `c` KILLS the partial run (possibly re-anchoring
    on the same event) — the await immediately after the stripped NFB
    stage carries its condition bit (`mask & veto` fires it; 0 never
    fires). Validations are loud: consecutive or quantified
    not_followed_by, and not_followed_by before a strict next() await
    (strict contiguity already forbids intervening events), all
    refuse. When an event satisfies BOTH the awaited condition and the
    veto condition (possible only with overlapping where() predicates)
    the ADVANCE wins — the single-anchor machines test adv first, and
    the fork machine's refill happens after its drain."""
    codes = _cond_codes(pat)
    out: list[int] = []
    pending = 0
    for s in pat.stages:
        if s.contiguity == "not_followed_by":
            if pending:
                raise NotImplementedError(
                    "consecutive not_followed_by stages are not "
                    "compiled — merge them or interleave awaits")
            _refuse_quantified_nfb(s)
            if s.rel is not None:
                # r10 (advice fix): _await_stages strips NFB stages,
                # so a where_rel() attached to one never reaches the
                # rel machines — the veto would fire on the bitmask
                # alone and silently kill runs the relative condition
                # should spare
                raise NotImplementedError(
                    "where_rel() on a not_followed_by stage is not "
                    "compiled — the veto test is condition-mask-only; "
                    "express the relative bound in the absent stage's "
                    "where() predicate if it is anchor-independent")
            pending = 1 << (codes[s.cond_key()] - 1)
            continue
        if pending and pending == (1 << (codes[s.cond_key()] - 1)):
            raise NotImplementedError(
                "not_followed_by of the SAME condition as the "
                "following await is contradictory (the awaited event "
                "would veto itself)")
        if pending and s.contiguity == "next":
            raise NotImplementedError(
                "not_followed_by before a strict next() await is not "
                "compiled — strict contiguity already forbids any "
                "intervening event")
        out.append(pending)
        pending = 0
    return out


def _has_mid_nfb(pat: Pattern) -> bool:
    return any(s.contiguity == "not_followed_by"
               for s in pat.stages[:-1])


def _batch_rows(pdf, nk: int, type_codes: dict[str, int] | None,
                t_us: bool = True):
    """Vectorized (t, event_id, code-or-type) extraction for the
    keyed-state steppers: one zip over column arrays instead of
    pandas iterrows (measured ~140x on the extraction at 200k rows —
    iterrows was the streaming hot loop's dominant cost; the
    sequential fold that follows IS the NFA and stays). Columns are
    positional — keys first (nk of them), then time, tiebreak, event
    type. t_us=True converts the time column to epoch µs exactly like
    Timestamp.timestamp()*1e6 (both read the raw ns value; tz-aware
    columns convert to UTC). type_codes=None returns the raw type
    strings (the absence stepper compares types directly)."""
    if t_us:
        t = (pdf.iloc[:, nk].to_numpy("datetime64[ns]")
             .astype("int64") // 1000).tolist()
    else:
        t = pdf.iloc[:, nk].tolist()
    ids = pdf.iloc[:, nk + 1].tolist()
    tys = pdf.iloc[:, nk + 2].tolist()
    if type_codes is None:
        return list(zip(t, ids, tys))
    return list(zip(t, ids, [type_codes.get(x, 0) for x in tys]))


def _no_preds(pat: Pattern, what: str) -> None:
    """The STRICT family (regex / KMP / lag-window paths) encodes each
    event as ONE symbol, which needs conditions to partition events —
    where()/or_where() predicates may overlap, so strict chains refuse
    them loudly rather than miscounting."""
    if pat._has_preds():
        raise NotImplementedError(
            f"{what} does not carry where()/or_where() stage "
            "predicates — the strict paths encode each event as one "
            "symbol and overlapping predicates would need a mask "
            "automaton; use followed_by (the relaxed machines carry "
            "predicates) or drop the predicates")


def _strict_regex(pat, df, keys, time_col, tiebreak_col, event_col):
    # one per-key ordered path of SINGLE-CHAR stage codes, one regex
    # count — q_cep_times shape. Types are mapped to code chars before
    # the regex exists, so user-supplied type strings can never inject
    # metacharacters, and a type that is a substring/suffix of another
    # ('click' vs 'doubleclick') gets a distinct char — no partial-token
    # matches. Events outside the pattern's alphabet become '-', which
    # correctly breaks strict contiguity.
    _no_preds(pat, "strict-chain pattern()")
    tcodes = _type_codes(pat)
    # letters only — no regex metacharacters can enter the pattern
    alphabet = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                "abcdefghijklmnopqrstuvwxyz")
    if len(tcodes) > len(alphabet):
        raise NotImplementedError(
            "strict chains compile to a single-char code alphabet "
            f"(max {len(alphabet)} distinct event types)")
    char = {t: alphabet[c - 1] for t, c in tcodes.items()}

    def unit(s):
        c = char[s.event_type]
        if s.times:
            return f"{c}{{{s.times}}}"
        if s.one_or_more:
            return c + "+"
        return c

    regex = "(" + "".join(unit(s) for s in pat.stages) + ")"
    code_col = F.lit("-")
    for t, c in char.items():
        code_col = F.when(F.col(event_col) == t, F.lit(c)) \
            .otherwise(code_col)
    paths = df.groupBy(*keys).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(time_col, tiebreak_col,
                             code_col.alias("__code")))),
                lambda x: x["__code"]),
            "").alias("__path"))
    n = F.size(F.regexp_extract_all("__path", F.lit(regex), 1))
    return (paths.select(*keys, n.cast("long").alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _seq(pat, time_col, tiebreak_col, event_col):
    """Per-key (t, eid, c) event array in (ts, tiebreak) order; c is
    the condition BITMASK (0 = irrelevant; one-hot for type-only
    patterns) — stage machines bitwiseAND it against their per-stage
    awaited bit, which for one-hot masks is identical to the old
    type-code equality and with where() predicates carries overlap."""
    return F.array_sort(F.collect_list(F.struct(
        F.unix_micros(time_col).alias("t"),
        F.col(tiebreak_col).alias("eid"),
        _cond_mask_col(pat, event_col).alias("c"))))


def _need(pat: Pattern):
    """stage_bits as an array column: `F.get(arr, stage)` (0-based)
    yields the condition BIT the machine awaits at `stage` completed
    stages — the stage-index transition key that makes repeated event
    types (and overlapping predicates) compile."""
    return F.array(*[F.lit(b) for b in _stage_bits(pat)])


def _hit(c, b):
    """`mask & bit != 0` — the universal await test (one-hot masks
    make it ≡ the pre-r9 type-code equality)."""
    return c.bitwiseAND(b) != F.lit(0)


def _strict_flags(pat: Pattern) -> list[bool]:
    """Per-await strict flags, index-aligned with stages: awaiting
    stages[i] with flag True (contiguity 'next') means a non-matching
    event KILLS the partial run — the event after the previous match
    had to be the awaited one [FLINK-API: Pattern#next] — instead of
    being skipped over as followed_by allows. stages[0] (begin) is
    never strict: before the anchor there is no previous match."""
    return [s.contiguity == "next" for s in _await_stages(pat)]


def _strict_arr(pat: Pattern):
    return F.array(*[F.lit(b) for b in _strict_flags(pat)])


def _prefilter_irrelevant(pat, df, event_col, extra_unsafe=False):
    """r14 (guide §2.3 — shuffle fewer bytes): drop events whose
    condition MASK is 0 before the per-key exchange. For machines with
    no strict (next) awaits, an event matching no stage/veto/until
    condition is a provable no-op of the fold: it advances nothing,
    kills nothing (die needs a strict await or a veto bit), and its
    only effect — horizon expiry — is idempotent and re-applied by the
    next relevant event. Strict awaits make EVERY event significant
    (a non-match kills the run), so those patterns keep the full
    stream, as does any machine-specific rule flagged by the caller
    (`extra_unsafe`, e.g. consecutive()'s parked-set kill). The mask
    is a codegen'd expression evaluated pre-shuffle; the events the
    filter drops are exactly the fold steps the machine would waste.
    On the 5-type events fixture a 3-stage pattern drops ~40% of the
    exchange and of the interpreted fold."""
    if extra_unsafe or any(_strict_flags(pat)):
        return df
    return df.filter(_cond_mask_col(pat, event_col) != F.lit(0))


def _anchor_transition(pat: Pattern, veto: bool = True):
    """The ONE transition of the single-anchor skip-past-last machine,
    shared by its count fold (_relaxed_machine, with or without
    within()), the run-payload fold (_relaxed_rel_machine), timeout
    extraction (compile_pattern_timeouts) and match extraction
    (compile_pattern_matches). Returns `step(x, stage, anchor_t,
    gates=None)` over the pre-event `stage` (and, under within(d), the
    run's anchor µs): an expired partial resets BEFORE the event is
    considered, so the expiring event can anchor a new match; a
    strict-await miss OR a mid-pattern not_followed_by veto kills the
    run, and the killing event may itself re-anchor one. `gates(stage)`
    adds the caller's per-await conjuncts to the advance test; callers
    whose patterns cannot carry a veto pass veto=False and get no veto
    term. The result carries `expired` (None without within()),
    `adv`, `done`, `restart`, `starts` (the event anchors a run) and
    `next` (the next stage)."""
    K = len(_stage_bits(pat))
    w = pat.within_us
    need = _need(pat)
    strict = _strict_arr(pat)
    vetos = F.array(*[F.lit(v) for v in _veto_codes(pat)]) if veto \
        else None

    def step(x, stage, anchor_t, gates=None):
        expired = None
        if w is not None:
            expired = (stage > 0) & (x["t"] - anchor_t > w)
            stage = F.when(expired, F.lit(0)).otherwise(stage)
        adv = _hit(x["c"], F.get(need, stage))
        for g in (gates(stage) if gates else ()):
            adv = adv & g
        done = adv & (stage == K - 1)
        die = (~adv) & F.get(strict, stage)
        if vetos is not None:
            die = die | _hit(x["c"], F.get(vetos, stage))
        die = die & (stage > 0)
        restart = die & _hit(x["c"], F.get(need, F.lit(0)))
        return SimpleNamespace(
            expired=expired, adv=adv, done=done, restart=restart,
            starts=((stage == 0) & adv) | restart,
            next=(F.when(done, F.lit(0))
                  .when(adv, stage + 1)
                  .when(restart, F.lit(1))
                  .when(die, F.lit(0))
                  .otherwise(stage)))
    return step


def _relaxed_machine(pat, df, keys, time_col, tiebreak_col, event_col):
    # K-stage single-anchor automaton under SKIP PAST LAST EVENT —
    # q_cep_followed_by generalized; acc = (matches, stage), O(1)
    # state. With within(d) (q_cep_followed_by_within) the accumulator
    # also carries the anchor µs and expires partials before each
    # transition. A non-matching event at a strict (next) await kills
    # the run and may itself re-anchor a new one (mixed-contiguity
    # support).
    df = _prefilter_irrelevant(pat, df, event_col)
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    tr = _anchor_transition(pat)
    anchored = pat.within_us is not None
    init = F.struct(F.lit(0).cast("long").alias("cnt"),
                    F.lit(0).alias("stage"),
                    *([F.lit(0).cast("long").alias("anchor")]
                      if anchored else []))

    def step(acc, x):
        r = tr(x, acc["stage"], acc["anchor"] if anchored else None)
        return F.struct(
            F.when(r.done, acc["cnt"] + 1).otherwise(acc["cnt"])
             .alias("cnt"),
            r.next.alias("stage"),
            *([F.when(r.starts, x["t"]).otherwise(acc["anchor"])
               .alias("anchor")] if anchored else []))

    fold = F.aggregate(seq, init, step)
    return (df.groupBy(*keys).agg(fold["cnt"].alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _fork_machine(pat, df, keys, time_col, tiebreak_col, event_col):
    # forking NFA (noSkip): state = K-1 open-anchor arrays + count —
    # q_cep_followed_by_all generalized to K stages. Every field reads
    # the PRE-event snapshot, so an event whose type matches two
    # adjacent stages (repeated types, a→a) simultaneously drains a set
    # upward and refills it from below — the Flink NFA's one-event-many-
    # transitions behavior.
    df = _prefilter_irrelevant(pat, df, event_col)
    K = len(_stage_bits(pat))
    w = pat.within_us
    st = _stage_bits(pat)
    strict = _strict_flags(pat)
    veto = _veto_codes(pat)
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    empty = F.array().cast("array<long>")
    init = F.struct(F.lit(0).cast("long").alias("cnt"),
                    *[empty.alias(f"s{i}") for i in range(1, K)])

    def step(acc, x):
        if w is None:
            filt = {i: acc[f"s{i}"] for i in range(1, K)}
        else:
            filt = {i: F.filter(acc[f"s{i}"], lambda a: x["t"] - a <= w)
                    for i in range(1, K)}
        match = {i: _hit(x["c"], F.lit(st[i - 1]))
                 for i in range(1, K + 1)}
        fields = [
            F.when(match[K],
                   acc["cnt"] + F.size(filt[K - 1]).cast("long"))
            .otherwise(acc["cnt"]).alias("cnt")]
        for i in range(1, K):
            # stage i's set: drained if the NEXT stage matched, then
            # grown if THIS stage matched — both against the snapshot.
            # A strict (next) await drains-or-DIES: on a match the runs
            # promote upward; on anything else their immediate-next
            # event was wrong, so the whole set clears either way.
            # A mid-pattern not_followed_by VETO for this await kills
            # the whole set the same way.
            if strict[i]:  # stages[i] is the await of set s_i
                base = empty
            else:
                drain = match[i + 1]
                if veto[i]:
                    drain = drain | _hit(x["c"], F.lit(veto[i]))
                base = F.when(drain, empty).otherwise(filt[i])
            incoming = (F.array(x["t"]) if i == 1 else filt[i - 1])
            col = (F.when(match[i], F.concat(base, incoming))
                   .otherwise(base))
            fields.append(col.alias(f"s{i}"))
        return F.struct(*fields)

    fold = F.aggregate(seq, init, step)
    return (df.groupBy(*keys).agg(fold["cnt"].alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def compile_pattern_chunked(pat: Pattern, df: DataFrame,
                            keys: list[str], time_col: str,
                            tiebreak_col: str, event_col: str,
                            chunk_horizons: int = 4) -> DataFrame:
    """The batch escape hatch for the 10⁸-event key (docs/scale.md §CEP
    round-8 bound, implemented r9): the plain batch fold buffers the
    FULL per-key history in one aggregation buffer (~24 B/event →
    ~2.4 GB at 10⁸ events/key). For the FORKING (noSkip) family —
    where a match is a function of its anchor alone and no event is
    consumed — exact time-chunking applies: split each key's history
    into chunks of `chunk_horizons × within` µs, give every chunk a
    one-horizon overlap of following events (an event lands in at most
    2 chunks), and count only matches whose ANCHOR falls in the chunk's
    owned range. Every anchor is owned by exactly one chunk and all its
    matches complete inside that chunk's window, so the per-chunk
    counts sum to the unchunked fold's count exactly (pinned by
    q_cep_chunked_fork and the equivalence test) while the buffer bound
    drops from per-key history to per-(key, chunk) density.

    Skip-past-last CANNOT be chunked exactly (match consumption chains
    arbitrarily far beyond the horizon — a replayed chunk would
    re-anchor on consumed events); its unbounded-history path is the
    streaming stepper, and asking for it here raises."""
    if pat._has_opt_range():
        raise NotImplementedError(
            "optional()/times(a, b) compile only through batch "
            "pattern() (union-of-variants counting); chunked "
            "compilation is not carried — use fixed times(n) or "
            "drop the quantifier")
    if pat._has_rel() or pat._has_agg():
        raise NotImplementedError(
            "where_rel()/where_agg() is not carried by chunked "
            "compilation — use the plain batch pattern() or the "
            "streaming stepper")
    if any(s.until_sql for s in pat.stages):
        raise NotImplementedError(
            "until() is not carried by chunked compilation — an "
            "until event in the overlap region would have to kill "
            "runs across the chunk boundary; use the plain fork-loop "
            "compile or the streaming stepper")
    if any(s.combos for s in pat.stages):
        raise NotImplementedError(
            "allow_combinations() is not carried by chunked "
            "compilation — use the plain fork-loop compile or the "
            "streaming stepper")
    fam = pat._family()
    if fam not in ("fork", "fork_loop"):
        raise NotImplementedError(
            "exact time-chunking holds only for the forking (noSkip) "
            "families — fork and the bounded fork loop, where a match "
            "is a function of its anchor alone; skip-past-last "
            "consumption chains beyond any horizon (docs/scale.md "
            "§CEP) — use the streaming stepper for unbounded-history "
            "skip-past-last keys")
    if pat.within_us is None:
        raise ValueError("chunked compilation needs within(): the "
                         "horizon defines both chunk size and overlap")
    if _has_mid_nfb(pat):
        raise NotImplementedError(
            "chunked compilation does not carry mid-pattern "
            "not_followed_by vetoes yet — use the plain fork compile")
    pat = pat._expanded()
    K = len(pat.stages)
    w = pat.within_us
    C = max(1, chunk_horizons) * w
    st = _stage_bits(pat)
    strict = _strict_flags(pat)

    t_us = F.unix_micros(F.col(time_col))
    base = df.select(
        *keys,
        t_us.alias("__t"), F.col(tiebreak_col).alias("__eid"),
        _cond_mask_col(pat, event_col).alias("__c"),
        F.floor(t_us / C).cast("long").alias("__chunk"))
    owned = base.withColumn("__own", F.lit(True))
    # the first `within` of each chunk also serves the PREVIOUS chunk
    # as middle/closing events (never as anchors)
    overlap = (base.filter((F.col("__t") % C) < w)
               .withColumn("__chunk", F.col("__chunk") - 1)
               .withColumn("__own", F.lit(False)))
    events = owned.unionByName(overlap)

    seq = F.array_sort(F.collect_list(F.struct(
        F.col("__t").alias("t"), F.col("__eid").alias("eid"),
        F.col("__c").alias("c"), F.col("__own").alias("o"))))
    empty = F.array().cast("array<long>")
    loop = fam == "fork_loop"
    init = F.struct(F.lit(0).cast("long").alias("cnt"),
                    *[empty.alias(f"s{i}") for i in range(1, K)],
                    *([empty.alias("lp")] if loop else []))

    def step(acc, x):
        filt = {i: F.filter(acc[f"s{i}"], lambda a: x["t"] - a <= w)
                for i in range(1, K)}
        match = {i: _hit(x["c"], F.lit(st[i - 1]))
                 for i in range(1, K + 1)}
        if loop:
            # loop anchors are already owned-gated at entry; a close in
            # the overlap region legitimately extends them (its own
            # anchor-ship belongs to the next chunk)
            lp = F.filter(acc["lp"], lambda a: x["t"] - a <= w)
            if K >= 2:
                closed = (F.size(filt[K - 1]) + F.size(lp)).cast("long")
                new_lp = F.concat(lp, filt[K - 1])
            else:
                closed = (F.size(lp)
                          + F.when(x["o"], F.lit(1)).otherwise(F.lit(0))
                          ).cast("long")
                new_lp = F.when(x["o"], F.concat(lp, F.array(x["t"]))) \
                    .otherwise(lp)
        else:
            closed = F.size(filt[K - 1]).cast("long")
        fields = [
            F.when(match[K], acc["cnt"] + closed)
            .otherwise(acc["cnt"]).alias("cnt")]
        for i in range(1, K):
            if strict[i]:
                base_col = empty
            else:
                base_col = F.when(match[i + 1], empty).otherwise(filt[i])
            if i == 1:
                # anchors enter ONLY from the chunk's owned range
                incoming = F.when(x["o"], F.array(x["t"])) \
                    .otherwise(empty)
            else:
                incoming = filt[i - 1]
            col = (F.when(match[i], F.concat(base_col, incoming))
                   .otherwise(base_col))
            fields.append(col.alias(f"s{i}"))
        if loop:
            # consecutive() (r12): exact under chunking too — a parked
            # run's lifetime is within [anchor, anchor + w], fully
            # inside its owning chunk's replayed window, so every kill
            # event the unchunked machine sees is replayed here
            keep = empty if pat.stages[-1].consec else lp
            fields.append(
                F.when(match[K], new_lp).otherwise(keep).alias("lp"))
        return F.struct(*fields)

    per_chunk = (events.groupBy(*keys, "__chunk")
                 .agg(F.aggregate(seq, init, step)["cnt"].alias("__n")))
    return (per_chunk.groupBy(*keys)
            .agg(F.sum("__n").cast("long").alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _absence_chain(pat, df, keys, time_col, tiebreak_col, event_col):
    """K-stage ANCHORED-CHAIN absence (r9) [FLINK-API: Pattern.begin(a)
    .followedBy(c)...notFollowedBy(b).within(d) — the NFA completes the
    prefix, waits, and emits when the horizon passes with no b]: the
    compiled form is a COMPOSITION — the prefix pattern's match
    extraction (skip-past-last or noSkip, exactly the machines
    pattern_matches() already pins) LEFT-ANTI joined against the absent
    type over the band (t_last_element, t_anchor + d]. Emits one row
    per surviving prefix match: (keys..., anchor_id) — the
    q_cep_not_followed_by output shape, generalized. Streaming stays
    the 2-stage timer form (this family refuses on streams — the
    composition needs the completed-prefix set)."""
    b_cond = pat.stages[-1].cond_sql(event_col)
    w = pat.within_us
    prefix = Pattern(stages=list(pat.stages[:-1]), within_us=w,
                     skip=pat.skip)
    m = compile_pattern_matches(prefix, df, keys, time_col,
                                tiebreak_col, event_col)
    ev_t = df.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.col(tiebreak_col).alias("__aid"),
        F.unix_micros(time_col).alias("__a_t"))
    a_cond = F.col("start_event_id") == F.col("__aid")
    for k in keys:
        a_cond = a_cond & (F.col(k) == F.col(f"__k_{k}"))
    anch = (m.join(ev_t, a_cond)
            .select(*keys, F.col("start_event_id").alias("anchor_id"),
                    F.col("__a_t").alias("__t_a"),
                    (F.col("__a_t") + F.col("span_us"))
                    .alias("__t_end")))
    right = (df.filter(F.expr(b_cond))
             .select(*[F.col(k).alias(f"__r_{k}") for k in keys],
                     F.unix_micros(time_col).alias("__b_t")))
    cond = (F.col("__b_t") > F.col("__t_end"))         & (F.col("__b_t") <= F.col("__t_a") + F.lit(w))
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    return (anch.join(right, cond, "left_anti")
            .select(*keys, "anchor_id"))


def _absence_next(pat, df, keys, time_col, tiebreak_col, event_col):
    """STRICT absence [FLINK-API: Pattern#notNext — the event directly
    succeeding the previous matched event must not match] (r10): the
    prefix pattern's match survives iff the key's IMMEDIATELY NEXT
    event after the prefix's last element is absent or fails the
    negative condition. One event decides, so the compile is a LEAD
    window over the per-key sequence — no timers, no horizon — joined
    to the prefix's matches (2-stage prefixes skip the match machinery
    and test the anchors directly). Emits (keys..., anchor_id), the
    absence-family output shape."""
    b_cond = pat.stages[-1].cond_sql(event_col)
    order = [F.unix_micros(time_col), F.col(tiebreak_col)]
    win = Window.partitionBy(*keys).orderBy(*order)
    ev = df.select(
        *keys, F.col(tiebreak_col).alias("__eid"),
        F.col(time_col).alias("__t"),
        F.expr(pat.stages[0].cond_sql(event_col)).alias("__a"),
        F.coalesce(F.lead(F.expr(b_cond)).over(win), F.lit(False))
        .alias("__next_b"))
    s0 = pat.stages[0]
    if len(pat.stages) == 2 and not (
            (s0.times or 0) > 1 or s0.times_hi is not None
            or s0.one_or_more or s0.optional):
        # r11 (advice fix): the direct-anchor shortcut is valid only
        # for an UNQUANTIFIED begin — begin(v).times(2).not_next(b)
        # needs the 2-view prefix runs, so it routes through
        # compile_pattern_matches below (which expands quantifiers
        # first; optional()/one_or_more prefixes refuse loudly there)
        return (ev.filter(F.col("__a") & ~F.col("__next_b"))
                .select(*keys, F.col("__eid").alias("anchor_id")))
    prefix = Pattern(stages=list(pat.stages[:-1]),
                     within_us=pat.within_us, skip=pat.skip)
    m = compile_pattern_matches(prefix, df, keys, time_col,
                                tiebreak_col, event_col)
    cond = F.col("end_event_id") == F.col("__e_eid")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__e_{k}"))
    right = ev.select(
        *[F.col(k).alias(f"__e_{k}") for k in keys],
        F.col("__eid").alias("__e_eid"), "__next_b")
    return (m.join(right, cond)
            .filter(~F.col("__next_b"))
            .select(*keys, F.col("start_event_id").alias("anchor_id")))


def _fork_loop_machine(pat, df, keys, time_col, tiebreak_col, event_col):
    """Bounded looping quantifier on the forking NFA [FLINK-API:
    Pattern#oneOrMore on the final stage, under noSkip + within(d)]:
    the fork machine plus ONE extra horizon-bounded LOOP array of
    anchor begin-times. Semantics (Flink's greedy looping branch under
    default internal relaxed contiguity, no allowCombinations): a run
    takes the FIRST matching event at every stage, forks complete-or-
    continue at each final-stage event — so every in-horizon closing
    event adds exactly one match per anchor combination that has passed
    the penultimate stage (fresh this event or parked in the loop set).
    K=1 (begin(x).one_or_more()) makes every event its own anchor: a
    close adds 1 + |live loop|. State is bounded by per-key event
    density inside the within horizon — exactly the bound the plain
    fork machine already carries; the unbounded form stays refused.

    consecutive() (r12) [FLINK-API: Quantifier#consecutive] rides the
    same fold with ONE extra kill rule: an event not matching the loop
    condition clears the PARKED set (every parked run's accepted block
    is a contiguous-in-input suffix, since matching events extend all
    runs and non-matching events kill all runs); fresh anchors in
    s_{K-1} keep relaxed entry, exactly the Flink-docs example."""
    K = len(pat.stages)
    w = pat.within_us
    consec = pat.stages[-1].consec
    # consecutive(): a non-matching event clears the parked set, so
    # irrelevant events ARE significant — no prefilter then
    df = _prefilter_irrelevant(pat, df, event_col, extra_unsafe=consec)
    st = _stage_bits(pat)
    strict = _strict_flags(pat)
    ub = _until_bit(pat)
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    empty = F.array().cast("array<long>")
    init = F.struct(F.lit(0).cast("long").alias("cnt"),
                    *[empty.alias(f"s{i}") for i in range(1, K)],
                    empty.alias("lp"))

    def step(acc, x):
        filt = {i: F.filter(acc[f"s{i}"], lambda a: x["t"] - a <= w)
                for i in range(1, K)}
        lp = F.filter(acc["lp"], lambda a: x["t"] - a <= w)
        match = {i: _hit(x["c"], F.lit(st[i - 1]))
                 for i in range(1, K + 1)}
        # until() stop condition [FLINK-API: Pattern#until] (r10): a
        # hit kills every run AT THE LOOP STAGE — the awaiting set
        # s_{K-1} and the parked loop — and wins over a simultaneous
        # loop-condition match (the event is never admitted); earlier
        # stages and later anchors are untouched
        iu = _hit(x["c"], F.lit(ub)) if ub else F.lit(False)
        if K >= 2:
            closed = (F.size(filt[K - 1]) + F.size(lp)).cast("long")
            new_lp = F.concat(lp, filt[K - 1])
        else:
            closed = (F.size(lp) + F.lit(1)).cast("long")
            new_lp = F.concat(lp, F.array(x["t"]))
        fields = [F.when(match[K] & ~iu, acc["cnt"] + closed)
                  .otherwise(acc["cnt"]).alias("cnt")]
        for i in range(1, K):
            # identical promotion rules to _fork_machine (snapshots)
            if strict[i]:
                base = empty
            else:
                base = F.when(match[i + 1], empty).otherwise(filt[i])
            if i == K - 1 and ub:
                base = F.when(iu, empty).otherwise(base)
            incoming = (F.array(x["t"]) if i == 1 else filt[i - 1])
            col = (F.when(match[i] & ~iu if i == K - 1 and ub
                          else match[i],
                          F.concat(base, incoming))
                   .otherwise(base))
            fields.append(col.alias(f"s{i}"))
        keep = empty if consec else lp  # non-match kills parked runs
        lp_col = (F.when(iu, empty)
                  .when(match[K], new_lp).otherwise(keep)) if ub else \
            F.when(match[K], new_lp).otherwise(keep)
        fields.append(lp_col.alias("lp"))
        return F.struct(*fields)

    fold = F.aggregate(seq, init, step)
    return (df.groupBy(*keys).agg(fold["cnt"].alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _fork_group_loop_machine(pat, gl, df, keys, time_col,
                             tiebreak_col, event_col):
    """GROUP one_or_more (r12) [FLINK-API: GroupPattern#oneOrMore —
    `followedBy(Pattern).oneOrMore()`; the r11 L183 refusal lifted for
    the relaxed fixed-length case]: the group is a fixed-length unit
    of `gl` awaits, so the forking machine carries the loop as a
    BACK-EDGE — an event completing the group's LAST stage emits one
    match per live run in s_{K-1} (Flink's stop-or-continue fork:
    every completed repetition is a match) and returns those runs to
    s_{K-gl}, awaiting the group's first stage again. The snapshot
    discipline keeps one-event-one-transition per run: back-edge
    returnees are not in the pre-event snapshot of s_{K-gl}, so the
    closing event is never consumed twice by one run. Per-anchor
    trajectories are INDEPENDENT under noSkip (sets promote whole,
    each anchor's walk is the greedy first-match alternation) — the
    oracle replays exactly that per anchor. State = K-1
    horizon-bounded anchor arrays, the plain fork bound."""
    K = len(pat.stages)
    w = pat.within_us
    df = _prefilter_irrelevant(pat, df, event_col)
    st = _stage_bits(pat)
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    empty = F.array().cast("array<long>")
    init = F.struct(F.lit(0).cast("long").alias("cnt"),
                    *[empty.alias(f"s{i}") for i in range(1, K)])

    def step(acc, x):
        filt = {i: F.filter(acc[f"s{i}"], lambda a: x["t"] - a <= w)
                for i in range(1, K)}
        match = {i: _hit(x["c"], F.lit(st[i - 1]))
                 for i in range(1, K + 1)}
        fields = [
            F.when(match[K],
                   acc["cnt"] + F.size(filt[K - 1]).cast("long"))
            .otherwise(acc["cnt"]).alias("cnt")]
        for i in range(1, K):
            base = F.when(match[i + 1], empty).otherwise(filt[i])
            incoming = (F.array(x["t"]) if i == 1 else filt[i - 1])
            col = (F.when(match[i], F.concat(base, incoming))
                   .otherwise(base))
            if i == K - gl:
                # the back-edge: closers return to awaiting G1
                col = F.when(match[K], F.concat(col, filt[K - 1])) \
                    .otherwise(col)
            fields.append(col.alias(f"s{i}"))
        return F.struct(*fields)

    fold = F.aggregate(seq, init, step)
    return (df.groupBy(*keys).agg(fold["cnt"].alias("n_matches"))
            .filter(F.col("n_matches") > 0))


# past this, 2c+1 crosses 2^62 — the exact-count bound the combos
# register documents; both the batch fold and the stepper fault with
# a message naming the key and its density instead of a bare overflow
_COMBOS_REG_LIMIT = 1 << 61


def _combos_fault(key, reg: int) -> ValueError:
    """The streaming allow_combinations() density fault (the batch
    fold raises the same text through F.raise_error)."""
    return ValueError(
        f"allow_combinations(): subsequence register for key {key} "
        f"reached c={reg} = 2^m - 1 (m = the run's in-horizon "
        "loop-event density) — doubling would cross the exact BIGINT "
        "bound 2^62; shrink within() or drop allow_combinations()")


def _fork_loop_combos_machine(pat, df, keys, time_col, tiebreak_col,
                              event_col):
    """Bounded loop under NON-DETERMINISTIC relaxed internal
    contiguity (r12) [FLINK-API: Quantifier#allowCombinations]: a
    match is the prefix plus any nonempty SUBSEQUENCE of in-horizon
    loop events, so per anchor with m loop events there are 2^m - 1
    matches. Counting rides the fork-loop fold with the parked set
    carrying struct(t, c) where c = subsequences over the run's loop
    events so far: a close emits c + 1 per parked run (the
    subsequences ending at this event) plus one per fresh anchor (the
    singleton), then doubles registers c <- 2c + 1 and parks fresh
    anchors at c = 1 — the followed_by_any counting-DP argument
    carried into the loop set; no enumeration. The count is
    exponential in horizon density by the verb's DEFINITION (Flink
    enumerates those same 2^m matches); the BIGINT fold register is
    exact below 2^62 subsequences per run (the fixture's worst
    in-horizon density is m=7 — see the q_cep_allow_combinations
    docstring) and ANSI arithmetic faults loudly past it rather than
    wrapping. until() kills both sets exactly as the plain loop."""
    K = len(pat.stages)
    w = pat.within_us
    df = _prefilter_irrelevant(pat, df, event_col)
    st = _stage_bits(pat)
    strict = _strict_flags(pat)
    ub = _until_bit(pat)
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    empty = F.array().cast("array<long>")
    empty_lp = F.expr(
        "CAST(array() AS array<struct<t:bigint,c:bigint>>)")
    init = F.struct(F.lit(0).cast("long").alias("cnt"),
                    *[empty.alias(f"s{i}") for i in range(1, K)],
                    empty_lp.alias("lp"))

    def step(acc, x):
        filt = {i: F.filter(acc[f"s{i}"], lambda a: x["t"] - a <= w)
                for i in range(1, K)}
        lp = F.filter(acc["lp"], lambda a: x["t"] - a["t"] <= w)
        match = {i: _hit(x["c"], F.lit(st[i - 1]))
                 for i in range(1, K + 1)}
        iu = _hit(x["c"], F.lit(ub)) if ub else F.lit(False)
        emitted = (F.aggregate(lp, F.lit(0).cast("long"),
                               lambda s, a: s + a["c"] + 1)
                   + F.size(filt[K - 1]).cast("long"))
        # r13 (VERDICT_r12 item 6): the 2^62 edge faults with a NAMED
        # message — the register c = 2^m - 1 where m is this run's
        # in-horizon loop density, so the guard reports the offending
        # key and density instead of a bare ANSI overflow from deep
        # inside the fold
        key_str = F.concat_ws(
            "/", *[F.col(k).cast("string") for k in keys])
        doubled = F.transform(
            lp, lambda a: F.struct(
                a["t"].alias("t"),
                F.when(a["c"] < F.lit(_COMBOS_REG_LIMIT),
                       a["c"] * 2 + 1)
                .otherwise(F.raise_error(F.concat(
                    F.lit("allow_combinations(): subsequence "
                          "register for key "),
                    key_str,
                    F.lit(" reached c="), a["c"].cast("string"),
                    F.lit(" = 2^m - 1 (m = the run's in-horizon "
                          "loop-event density) — doubling would "
                          "cross the exact BIGINT bound 2^62; "
                          "shrink within() or drop "
                          "allow_combinations()")))
                 .cast("bigint")).alias("c")))
        parked_new = F.transform(
            filt[K - 1],
            lambda a: F.struct(a.alias("t"),
                               F.lit(1).cast("bigint").alias("c")))
        new_lp = F.concat(doubled, parked_new)
        fields = [F.when(match[K] & ~iu, acc["cnt"] + emitted)
                  .otherwise(acc["cnt"]).alias("cnt")]
        for i in range(1, K):
            # identical promotion rules to _fork_loop_machine
            if strict[i]:
                base = empty
            else:
                base = F.when(match[i + 1], empty).otherwise(filt[i])
            if i == K - 1 and ub:
                base = F.when(iu, empty).otherwise(base)
            incoming = (F.array(x["t"]) if i == 1 else filt[i - 1])
            col = (F.when(match[i] & ~iu if i == K - 1 and ub
                          else match[i],
                          F.concat(base, incoming))
                   .otherwise(base))
            fields.append(col.alias(f"s{i}"))
        lp_col = (F.when(iu, empty_lp)
                  .when(match[K], new_lp).otherwise(lp)) if ub else \
            F.when(match[K], new_lp).otherwise(lp)
        fields.append(lp_col.alias("lp"))
        return F.struct(*fields)

    fold = F.aggregate(seq, init, step)
    return (df.groupBy(*keys).agg(fold["cnt"].alias("n_matches"))
            .filter(F.col("n_matches") > 0))


_REL_OPS = {
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    "=": lambda a, b: a == b, "!=": lambda a, b: a != b,
}


def _fork_loop_agg_machine(pat, df, keys, time_col, tiebreak_col,
                           event_col):
    """Bounded loop WITH a run-aggregate loop condition (r11)
    [FLINK-API: the Flink-docs canonical IterativeCondition —
    `middle.oneOrMore().where(sum of prices of accepted events plus
    the current one < threshold)`]: where_agg on a one_or_more stage
    aggregates over THE LOOP STAGE'S accepted events plus the
    candidate (`ctx.getEventsForPattern(selfStage)` — per-stage scope,
    unlike the whole-run scope on fixed stages). The fork-loop machine
    with the parked set carrying per-run registers struct(t, r1, n):
    a loop candidate is tested per run — qualifying runs emit a match
    AND absorb it (register combined, Flink's emit-and-continue fork);
    non-qualifying runs (fresh anchors in s_{K-1} included) simply
    keep awaiting a later candidate (relaxed internal contiguity).
    Registers never see NULLs: a NULL-valued loop candidate fails the
    condition for EVERY fn — sum/avg via the coalesced comparison,
    min/max/count via an explicit non-NULL gate (F.least/F.greatest
    skip NULLs and count is value-independent, so the coalesce alone
    would absorb NULL candidates there; the gate matches the
    streaming stepper's NaN rule — ADVICE r11). until() kills both
    sets exactly as the plain loop."""
    K = len(pat.stages)
    w = pat.within_us
    fn_, acol, op, rhs = pat.stages[-1].agg
    st = _stage_bits(pat)
    strict = _strict_flags(pat)
    ub = _until_bit(pat)
    seq = F.array_sort(F.collect_list(F.struct(
        F.unix_micros(time_col).alias("t"),
        F.col(tiebreak_col).alias("eid"),
        _cond_mask_col(pat, event_col).alias("c"),
        F.col(acol).cast("double").alias("v"))))
    empty = F.array().cast("array<long>")
    empty_lp = F.expr(
        "CAST(array() AS array<struct<t:bigint,r1:double,n:bigint>>)")
    init = F.struct(F.lit(0).cast("long").alias("cnt"),
                    *[empty.alias(f"s{i}") for i in range(1, K)],
                    empty_lp.alias("lp"))

    def _cmp(val):
        return F.coalesce(_REL_OPS[op](val, F.lit(rhs)), F.lit(False))

    def step(acc, x):
        filt = {i: F.filter(acc[f"s{i}"], lambda a: x["t"] - a <= w)
                for i in range(1, K)}
        lp = F.filter(acc["lp"], lambda a: x["t"] - a["t"] <= w)
        match = {i: _hit(x["c"], F.lit(st[i - 1]))
                 for i in range(1, K + 1)}
        iu = _hit(x["c"], F.lit(ub)) if ub else F.lit(False)
        xv = x["v"]

        def parked_val(a):
            if fn_ == "sum":
                return a["r1"] + xv
            if fn_ == "avg":
                return (a["r1"] + xv) / (a["n"] + 1).cast("double")
            if fn_ == "count":
                return (a["n"] + 1).cast("double")
            if fn_ == "min":
                return F.least(a["r1"], xv)
            return F.greatest(a["r1"], xv)

        # a FRESH anchor's candidate aggregate spans {x} alone; a
        # NULL candidate value never qualifies (any fn — see docstring)
        xok = xv.isNotNull()
        fresh_ok = xok & _cmp(F.lit(1.0).cast("double")
                              if fn_ == "count" else xv)
        qual_lp = F.filter(lp, lambda a: xok & _cmp(parked_val(a)))
        stay_lp = F.filter(lp, lambda a: ~(xok & _cmp(parked_val(a))))
        qual_fresh = (F.filter(filt[K - 1], lambda a: fresh_ok)
                      if K >= 2 else None)
        closed = ((F.size(qual_fresh) + F.size(qual_lp)).cast("long")
                  if K >= 2 else None)
        absorbed = F.transform(
            qual_lp,
            lambda a: F.struct(
                a["t"].alias("t"),
                (a["r1"] + xv if fn_ in ("sum", "avg")
                 else F.least(a["r1"], xv) if fn_ == "min"
                 else F.greatest(a["r1"], xv) if fn_ == "max"
                 else a["r1"]).alias("r1"),
                (a["n"] + 1).alias("n")))
        parked_new = F.transform(
            qual_fresh,
            lambda a: F.struct(a.alias("t"), xv.alias("r1"),
                               F.lit(1).cast("bigint").alias("n")))
        new_lp = F.concat(stay_lp, absorbed, parked_new)
        fields = [F.when(match[K] & ~iu, acc["cnt"] + closed)
                  .otherwise(acc["cnt"]).alias("cnt")]
        for i in range(1, K):
            if strict[i]:
                base = empty
            elif i == K - 1:
                # the loop bit takes only QUALIFYING fresh anchors;
                # the rest keep awaiting (unlike the drain-wholly
                # plain loop, where every fresh anchor qualifies)
                base = F.when(iu, empty).otherwise(
                    F.when(match[K],
                           F.filter(filt[i], lambda a: ~fresh_ok))
                    .otherwise(filt[i]))
            else:
                base = F.when(match[i + 1], empty).otherwise(filt[i])
            incoming = (F.array(x["t"]) if i == 1 else filt[i - 1])
            col = (F.when(match[i] & ~iu if i == K - 1 and ub
                          else match[i],
                          F.concat(base, incoming))
                   .otherwise(base))
            fields.append(col.alias(f"s{i}"))
        lp_col = F.when(match[K] & ~iu, new_lp).otherwise(lp)
        if ub:
            lp_col = F.when(iu, empty_lp).otherwise(lp_col)
        fields.append(lp_col.alias("lp"))
        return F.struct(*fields)

    fold = F.aggregate(seq, init, step)
    return (df.groupBy(*keys).agg(fold["cnt"].alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _relaxed_rel_machine(pat, df, keys, time_col, tiebreak_col,
                         event_col):
    """Single-anchor skip-past-last machine WITH anchor-relative stage
    conditions [FLINK-API: IterativeCondition restricted to anchor
    comparisons] — the bounded/unbounded relaxed machine whose fold
    state additionally carries the anchor event's referenced column
    values (one double per distinct anchor column), captured when a
    run anchors and compared per await: adv = mask-bit AND
    (event.col OP anchor.acol * scale + offset). Since r11 it also
    carries RUN-AGGREGATE registers (where_agg — the general
    IterativeCondition "sum of values so far" shape): one sum/min/max
    double per referenced column, reset at anchoring, combined per
    advance, candidate included in the tested value. O(1) state like
    its rel-free twins; null operands compare as False (three-valued
    SQL coalesced), matching the Python reference."""
    awaits = _await_stages(pat)
    rels = [s.rel for s in awaits]
    srcs = [s.rel_src for s in awaits]
    aggs = [s.agg for s in awaits]
    vcols = sorted({r[0] for r in rels if r}
                   | {r[2] for r in rels if r}
                   | {a[1] for a in aggs if a})
    # prev-source refs (where_prev, r10): the fold also carries the
    # LAST MATCHED element's referenced values, refreshed per advance
    pcols = sorted({r[2] for r, s in zip(rels, srcs)
                    if r and s == "prev"})
    # run-aggregate registers (where_agg, r11): one per (register
    # kind, column) — sum (also serves avg), min, max; count is a
    # pure function of the stage index. Reset at anchoring, combined
    # at every advance; a NULL contribution poisons the register
    # (NULL-propagating combine), so later aggregate tests fail —
    # the where_rel null rule applied to aggregates.
    sum_cols = sorted({a[1] for a in aggs
                       if a and a[0] in ("sum", "avg")})
    min_cols = sorted({a[1] for a in aggs if a and a[0] == "min"})
    max_cols = sorted({a[1] for a in aggs if a and a[0] == "max"})
    tr = _anchor_transition(pat)
    seq = F.array_sort(F.collect_list(F.struct(
        F.unix_micros(time_col).alias("t"),
        F.col(tiebreak_col).alias("eid"),
        _cond_mask_col(pat, event_col).alias("c"),
        *[F.col(c).cast("double").alias(f"v_{c}") for c in vcols])))
    init = F.struct(
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0).alias("stage"),
        F.lit(0).cast("long").alias("anchor"),
        *[F.lit(0.0).alias(f"av_{c}") for c in vcols],
        *[F.lit(0.0).alias(f"pv_{c}") for c in pcols],
        *[F.lit(0.0).alias(f"rs_{c}") for c in sum_cols],
        *[F.lit(0.0).alias(f"rmin_{c}") for c in min_cols],
        *[F.lit(0.0).alias(f"rmax_{c}") for c in max_cols])

    def gates(acc, x, stage):
        rel_cells = []
        for r, src in zip(rels, srcs):
            if r is None:
                rel_cells.append(F.lit(True))
            else:
                col, op, acol, sc, off = r
                ref = (acc[f"pv_{acol}"] if src == "prev"
                       else acc[f"av_{acol}"])
                cmpv = _REL_OPS[op](
                    x[f"v_{col}"], ref * F.lit(sc) + F.lit(off))
                rel_cells.append(F.coalesce(cmpv, F.lit(False)))
        agg_cells = []
        for a in aggs:
            if a is None:
                agg_cells.append(F.lit(True))
            else:
                fn, col, op, rhs = a
                xv = x[f"v_{col}"]
                # candidate INCLUDED: at await index i the run has
                # matched i events, so the aggregate spans i + 1
                if fn == "count":
                    val = (stage + 1).cast("double")
                elif fn == "sum":
                    val = acc[f"rs_{col}"] + xv
                elif fn == "avg":
                    val = ((acc[f"rs_{col}"] + xv)
                           / (stage + 1).cast("double"))
                elif fn == "min":
                    val = (F.when(xv.isNull()
                                  | acc[f"rmin_{col}"].isNull(),
                                  F.lit(None).cast("double"))
                           .otherwise(F.least(acc[f"rmin_{col}"], xv)))
                else:
                    val = (F.when(xv.isNull()
                                  | acc[f"rmax_{col}"].isNull(),
                                  F.lit(None).cast("double"))
                           .otherwise(F.greatest(acc[f"rmax_{col}"],
                                                 xv)))
                agg_cells.append(F.coalesce(
                    _REL_OPS[op](val, F.lit(rhs)), F.lit(False)))
        return [F.get(F.array(*rel_cells), stage),
                F.get(F.array(*agg_cells), stage)]

    def step(acc, x):
        r = tr(x, acc["stage"], acc["anchor"],
               lambda stage: gates(acc, x, stage))
        adv, restart, starts = r.adv, r.restart, r.starts
        return F.struct(
            F.when(r.done, acc["cnt"] + 1).otherwise(acc["cnt"])
             .alias("cnt"),
            r.next.alias("stage"),
            F.when(starts, x["t"]).otherwise(acc["anchor"])
             .alias("anchor"),
            *[F.when(starts, x[f"v_{c}"]).otherwise(acc[f"av_{c}"])
              .alias(f"av_{c}") for c in vcols],
            # prev = the element this event just matched (advances
            # and re-anchors alike); evaluated AFTER the compare above
            *[F.when(adv | restart, x[f"v_{c}"])
              .otherwise(acc[f"pv_{c}"]).alias(f"pv_{c}")
              for c in pcols],
            # aggregate registers: reset at anchoring, NULL-poisoning
            # combine at every later advance
            *[F.when(starts, x[f"v_{c}"])
              .when(adv, acc[f"rs_{c}"] + x[f"v_{c}"])
              .otherwise(acc[f"rs_{c}"]).alias(f"rs_{c}")
              for c in sum_cols],
            *[F.when(starts, x[f"v_{c}"])
              .when(adv, F.when(
                  x[f"v_{c}"].isNull() | acc[f"rmin_{c}"].isNull(),
                  F.lit(None).cast("double"))
                  .otherwise(F.least(acc[f"rmin_{c}"], x[f"v_{c}"])))
              .otherwise(acc[f"rmin_{c}"]).alias(f"rmin_{c}")
              for c in min_cols],
            *[F.when(starts, x[f"v_{c}"])
              .when(adv, F.when(
                  x[f"v_{c}"].isNull() | acc[f"rmax_{c}"].isNull(),
                  F.lit(None).cast("double"))
                  .otherwise(F.greatest(acc[f"rmax_{c}"], x[f"v_{c}"])))
              .otherwise(acc[f"rmax_{c}"]).alias(f"rmax_{c}")
              for c in max_cols])

    fold = F.aggregate(seq, init, step)
    return (df.groupBy(*keys).agg(fold["cnt"].alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _fork_rel_machine(pat, df, keys, time_col, tiebreak_col,
                      event_col):
    """FORKING (noSkip) machine WITH anchor-relative stage conditions
    (r10 — lifts the round-9 refusal for the fork family) [FLINK-API:
    IterativeCondition under AfterMatchSkipStrategy#noSkip, restricted
    to comparisons against the run's ANCHOR]: the anchor sets carry
    per-anchor PAYLOADS — struct(t, one double per distinct referenced
    anchor column, captured at anchor time) — and every transition
    becomes per-anchor: on a stage-(i+1) event, anchors of s_i
    satisfying `event.col OP anchor.acol*scale+offset` promote (or
    complete and are consumed, at the close), the rest STAY awaiting —
    Flink's per-run condition evaluation, which the payload-free fork
    machine's drain-wholly rule cannot express. State stays bounded by
    the same within-horizon anchor density, times (1 + n_cols) longs
    per anchor — exactly the growth the anchor set itself has. Null
    operands compare as False (coalesced) on BOTH the promote and the
    stay side, so a null-valued anchor stays awaiting rather than
    vanishing. Scope: pure relaxed followed_by chains under no_skip()
    (strict next(), mid-pattern NFB, and the loop refuse loudly)."""
    K = len(pat.stages)
    w = pat.within_us
    rels = [s.rel for s in pat.stages]
    srcs = [s.rel_src for s in pat.stages]
    acols = sorted({r[2] for r, sc in zip(rels, srcs)
                    if r and sc == "anchor"})
    # prev-source refs (where_prev on the fork family, r11 — lifts
    # the L178 refusal): each anchor payload also carries the value
    # of the element the RUN matched last, refreshed at promotion
    # (the promotion event IS the new prev for every run it promotes)
    pcols = sorted({r[2] for r, sc in zip(rels, srcs)
                    if r and sc == "prev"})
    vcols = sorted({r[0] for r in rels if r} | set(acols)
                   | set(pcols))
    st = _stage_bits(pat)
    seq = F.array_sort(F.collect_list(F.struct(
        F.unix_micros(time_col).alias("t"),
        F.col(tiebreak_col).alias("eid"),
        _cond_mask_col(pat, event_col).alias("c"),
        *[F.col(c).cast("double").alias(f"v_{c}") for c in vcols])))
    a_fields = ",".join(["t:bigint"]
                        + [f"av_{c}:double" for c in acols]
                        + [f"pv_{c}:double" for c in pcols])
    empty = F.expr(f"CAST(array() AS array<struct<{a_fields}>>)")
    init = F.struct(F.lit(0).cast("long").alias("cnt"),
                    *[empty.alias(f"s{i}") for i in range(1, K)])

    def step(acc, x):
        if w is None:
            filt = {i: acc[f"s{i}"] for i in range(1, K)}
        else:
            filt = {i: F.filter(acc[f"s{i}"],
                                lambda a: x["t"] - a["t"] <= w)
                    for i in range(1, K)}
        match = {i: _hit(x["c"], F.lit(st[i - 1]))
                 for i in range(1, K + 1)}

        def relok(i, a):
            r = rels[i - 1]
            if r is None:
                return F.lit(True)
            col, op, acol, sc, off = r
            ref = (a[f"pv_{acol}"] if srcs[i - 1] == "prev"
                   else a[f"av_{acol}"])
            return F.coalesce(
                _REL_OPS[op](x[f"v_{col}"],
                             ref * F.lit(sc) + F.lit(off)),
                F.lit(False))

        closing = F.filter(filt[K - 1], lambda a: relok(K, a))
        fields = [
            F.when(match[K],
                   acc["cnt"] + F.size(closing).cast("long"))
            .otherwise(acc["cnt"]).alias("cnt")]
        for i in range(1, K):
            # anchors of s_i that the stage-(i+1) event takes leave
            # (promote/complete); with a rel on stage i+1 only the
            # qualifying ones leave — the rest keep awaiting
            if rels[i] is None:
                kept = F.when(match[i + 1], empty).otherwise(filt[i])
            else:
                kept = F.when(
                    match[i + 1],
                    F.filter(filt[i],
                             lambda a: ~relok(i + 1, a))
                ).otherwise(filt[i])
            if i == 1:
                incoming = F.array(F.struct(
                    x["t"].alias("t"),
                    *[x[f"v_{c}"].alias(f"av_{c}") for c in acols],
                    # at stage 2 the prev IS the anchor itself
                    *[x[f"v_{c}"].alias(f"pv_{c}") for c in pcols]))
            else:
                src = filt[i - 1]
                incoming = (F.filter(src, lambda a: relok(i, a))
                            if rels[i - 1] is not None else src)
                if pcols:
                    # the promotion event becomes every promoted
                    # run's prev — anchor payload fields stay
                    incoming = F.transform(
                        incoming,
                        lambda a: F.struct(
                            a["t"].alias("t"),
                            *[a[f"av_{c}"].alias(f"av_{c}")
                              for c in acols],
                            *[x[f"v_{c}"].alias(f"pv_{c}")
                              for c in pcols]))
            col = (F.when(match[i], F.concat(kept, incoming))
                   .otherwise(kept))
            fields.append(col.alias(f"s{i}"))
        return F.struct(*fields)

    fold = F.aggregate(seq, init, step)
    return (df.groupBy(*keys).agg(fold["cnt"].alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _any_dp_machine(pat, df, keys, time_col, tiebreak_col, event_col):
    """followedByAny WITHOUT within() [FLINK-API: Pattern#followedByAny
    under noSkip — the match set is ALL increasing event subsequences
    satisfying the stage conditions]: counting needs NO anchor sets at
    all — the classic subsequence-counting dynamic program. State is K
    longs: c_i = number of partial matches whose last bound event is at
    stage i; an event hitting stage i adds c_{i-1} (or 1 for the begin
    stage), all reads from the pre-event snapshot so one event never
    occupies two positions of the same subsequence. O(K) state makes
    this the cheapest CEP machine in the engine — one fold over K
    longs (F.aggregate runs interpreted per element: ArrayAggregate is
    a CodegenFallback expression), and the streaming twin carries K
    longs per key, unbounded history.
    Counts are exact up to int64 (subsequence counts are combinatorial
    by nature; at C(n,K) overflow scale the answer itself is the
    problem, not the machine)."""
    K = len(_stage_bits(pat))
    st = _stage_bits(pat)
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    init = F.struct(*[F.lit(0).cast("long").alias(f"c{i}")
                      for i in range(1, K + 1)])

    def step(acc, x):
        fields = []
        for i in range(1, K + 1):
            inc = F.lit(1).cast("long") if i == 1 else acc[f"c{i-1}"]
            fields.append(
                F.when(_hit(x["c"], F.lit(st[i - 1])),
                       acc[f"c{i}"] + inc)
                .otherwise(acc[f"c{i}"]).alias(f"c{i}"))
        return F.struct(*fields)

    fold = F.aggregate(seq, init, step)
    return (df.groupBy(*keys).agg(fold[f"c{K}"].alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _any_table_machine(pat, df, keys, time_col, tiebreak_col,
                       event_col):
    """followedByAny WITH within(d): the subsequence-counting DP keyed
    by ANCHOR — state is one table row per live anchor,
    (anchor_t, n[0..K-2]) where n[j] counts this anchor's partials at
    stage j+1 (n[0] is the anchor itself, constant 1). An event
    hitting stage j+1 adds n[j-1] into n[j] for EVERY live anchor in
    one anchor-aligned transform (all reads from the row's pre-event
    snapshot); a closing event adds Σ n[K-2] over live anchors; expiry
    is the same horizon filter the fork machine carries. State is
    bounded by per-key anchor density inside the horizon — NOT by the
    (combinatorial) partial count, which lives in the n counters."""
    K = len(_stage_bits(pat))
    st = _stage_bits(pat)
    w = pat.within_us
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    row_t = (f"array<struct<t:bigint,"
             f"n:array<bigint>>>")
    empty = F.expr(f"CAST(array() AS {row_t})")
    zeros = F.array(F.lit(1).cast("long"),
                    *[F.lit(0).cast("long") for _ in range(K - 2)])
    init = F.struct(F.lit(0).cast("long").alias("cnt"),
                    empty.alias("arr"))

    def step(acc, x):
        live = F.filter(acc["arr"], lambda s: x["t"] - s["t"] <= w)
        hit = {i: _hit(x["c"], F.lit(st[i - 1]))
               for i in range(1, K + 1)}
        closed = F.when(
            hit[K],
            F.aggregate(live, F.lit(0).cast("long"),
                        lambda a, s: a + F.get(s["n"], K - 2))
        ).otherwise(F.lit(0).cast("long"))

        def upd_row(s):
            cells = [F.get(s["n"], 0)]
            for j in range(1, K - 1):
                cells.append(
                    F.get(s["n"], j)
                    + F.when(hit[j + 1], F.get(s["n"], j - 1))
                    .otherwise(F.lit(0).cast("long")))
            return F.struct(s["t"].alias("t"),
                            F.array(*cells).alias("n"))

        upd = F.transform(live, upd_row)
        arr = F.when(
            hit[1],
            F.concat(upd, F.array(F.struct(x["t"].alias("t"),
                                           zeros.alias("n"))))
        ).otherwise(upd)
        return F.struct((acc["cnt"] + closed).alias("cnt"),
                        arr.alias("arr"))

    fold = F.aggregate(seq, init, step)
    return (df.groupBy(*keys).agg(fold["cnt"].alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _absence(pat, df, keys, time_col, tiebreak_col, event_col):
    # begin(a).not_followed_by(b).within(d) → LEFT ANTI time-band join;
    # q_cep_not_followed_by shape. Returns the unanswered anchors.
    # Stage conditions (type + optional where()/or_where() predicates)
    # filter each side independently, so overlap is naturally exact.
    a = pat.stages[0].cond_sql(event_col)
    b = pat.stages[1].cond_sql(event_col)
    w = pat.within_us
    left = (df.filter(F.expr(a))
            .select(*keys, F.col(tiebreak_col).alias("anchor_id"),
                    F.unix_micros(time_col).alias("__a_us")))
    right = (df.filter(F.expr(b))
             .select(*[F.col(k).alias(f"__r_{k}") for k in keys],
                     F.unix_micros(time_col).alias("__b_us")))
    cond = (F.col("__b_us") > F.col("__a_us")) \
        & (F.col("__b_us") <= F.col("__a_us") + F.lit(w))
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    return (left.join(right, cond, "left_anti")
            .select(*keys, "anchor_id"))


def _timeouts_gates(pat: Pattern) -> Pattern:
    """pattern_timeouts() refusals, shared by batch and streaming;
    returns the quantifier-expanded pattern."""
    if pat.within_us is None:
        raise ValueError(
            "pattern_timeouts() needs within(): without a horizon no "
            "partial match ever times out")
    if pat.skip == "no_skip":
        raise NotImplementedError(
            "pattern_timeouts() carries the single-anchor "
            "skip-past-last machine only — forking runs would need "
            "per-run timeout payloads; drop no_skip()")
    if pat._has_rel() or pat._has_agg():
        raise NotImplementedError(
            "where_rel()/where_agg() carries counts only (pattern()) "
            "— timeout extraction with run-dependent conditions is "
            "not compiled")
    if pat._has_opt_range() or any(s.one_or_more for s in pat.stages):
        raise NotImplementedError(
            "pattern_timeouts() carries fixed relaxed/mixed chains "
            "(times(n) expands) — quantifier branches have no single "
            "partial binding to time out")
    if pat.stages and pat.stages[-1].contiguity in (
            "not_followed_by", "not_next"):
        raise NotImplementedError(
            "absence patterns ARE the timeout output — use pattern() "
            "(the anchor rows are the timed-out anchors)")
    xp = pat._expanded()
    if len(xp.stages) < 2:
        raise ValueError("pattern_timeouts() needs at least two "
                         "stages after quantifier expansion")
    return xp


def compile_pattern_timeouts(pat: Pattern, df: DataFrame,
                             keys: list[str], time_col: str,
                             tiebreak_col: str,
                             event_col: str) -> DataFrame:
    """TIMED-OUT PARTIAL MATCHES [FLINK-API: PatternStream.select(
    OutputTag, PatternTimeoutFunction, PatternSelectFunction) — the
    timeout side output: a partial match that cannot complete inside
    within(d) is emitted with its bindings instead of vanishing]
    (r11): one row per timed-out run of the SINGLE-ANCHOR
    skip-past-last machine — (keys..., anchor_id, stages_matched,
    timeout_at_us = anchor_t + d). Only window EXPIRY produces a
    timeout; a run killed by a strict next() mismatch or a mid-pattern
    not_followed_by veto is DISCARDED silently, exactly Flink's NFA
    (timeouts fire on window expiry alone). A run still live at
    end-of-input times out too (bounded input — the watermark passes
    every deadline). Requires within(); the forking (no_skip) family
    refuses (per-run timeout extraction would need the payload sets —
    use pattern() for counts); rel/agg conditions refuse (counts
    only)."""
    pat = _timeouts_gates(pat)
    w = pat.within_us
    tr = _anchor_transition(pat)
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    empty = F.expr(
        "CAST(array() AS array<struct<aid:bigint,st:int,"
        "tout:bigint>>)")
    init = F.struct(F.lit(0).alias("stage"),
                    F.lit(0).cast("long").alias("aid"),
                    F.lit(0).cast("long").alias("at"),
                    empty.alias("touts"))

    def step(acc, x):
        r = tr(x, acc["stage"], acc["at"])
        touts = F.when(r.expired, F.concat(acc["touts"], F.array(
            F.struct(acc["aid"].alias("aid"),
                     acc["stage"].alias("st"),
                     (acc["at"] + w).alias("tout"))))) \
            .otherwise(acc["touts"])
        return F.struct(
            r.next.alias("stage"),
            F.when(r.starts, x["eid"]).otherwise(acc["aid"])
             .alias("aid"),
            F.when(r.starts, x["t"]).otherwise(acc["at"]).alias("at"),
            touts.alias("touts"))

    fold = F.aggregate(seq, init, step)
    folded = df.groupBy(*keys).agg(fold.alias("f"))
    # a run still live at end-of-input times out at anchor + d
    allt = F.when(
        F.col("f.stage") > 0,
        F.concat(F.col("f.touts"), F.array(F.struct(
            F.col("f.aid").alias("aid"),
            F.col("f.stage").alias("st"),
            (F.col("f.at") + F.lit(w)).alias("tout"))))
    ).otherwise(F.col("f.touts"))
    return (folded.select(*keys, F.explode(allt).alias("x"))
            .select(*keys,
                    F.col("x.aid").alias("anchor_id"),
                    F.col("x.st").cast("long").alias("stages_matched"),
                    F.col("x.tout").alias("timeout_at_us")))


def _matches_gates(pat: Pattern) -> tuple[str, Pattern]:
    """pattern_matches() refusals, shared by batch and streaming;
    returns the family and the quantifier-expanded pattern."""
    if pat._has_opt_range():
        raise NotImplementedError(
            "optional()/times(a, b) compile only through batch "
            "pattern() (union-of-variants counting); match extraction "
            "and streaming are not carried — use fixed times(n) or "
            "drop the quantifier")
    if pat._has_rel() or pat._has_agg():
        raise NotImplementedError(
            "where_rel()/where_agg() carries counts only (pattern()) "
            "— match extraction with run-dependent conditions is not "
            "compiled")
    if any(s.combos for s in pat.stages):
        raise NotImplementedError(
            "allow_combinations() carries counts only (pattern()) — "
            "binding extraction would enumerate the 2^m subsequences "
            "the counting register exists to avoid")
    fam = pat._family()
    if any(s.until_sql or s.consec for s in pat.stages) \
            and fam != "fork_loop":
        # r13 (VERDICT_r12 item 5): until()/consecutive() bindings
        # compile on the bounded fork-loop shape — the single
        # deterministic run per anchor makes the extraction the count
        # fold with (t, id) payloads; other families keep counts only
        raise NotImplementedError(
            "until()/consecutive() binding extraction compiles on "
            "the bounded fork-loop shape only (final one_or_more + "
            "within + no_skip) — use pattern() for counts elsewhere")
    if fam not in ("relaxed", "relaxed_within", "fork", "fork_loop",
                   "strict", "skip_strategy"):
        raise NotImplementedError(
            "pattern_matches() extracts bindings for relaxed "
            "followed_by chains — skip-past-last (within() optional), "
            "no_skip(), skip_to_next/skip_to_first/skip_to_last, the "
            "bounded one_or_more loop, and fixed strict chains; use "
            "pattern() for counts of the other families")
    if fam == "strict" and any(s.one_or_more for s in pat.stages):
        raise NotImplementedError(
            "strict-chain match extraction carries FIXED strings "
            "(next chains and times(n)); one_or_more is variable-"
            "length — use pattern() for its count (the regex path)")
    if _has_mid_nfb(pat):
        raise NotImplementedError(
            "mid-pattern not_followed_by match extraction is not "
            "compiled — use pattern() for its count (the veto "
            "machines)")
    # expand FIRST: begin(a).times(3) is a 1-stage pattern whose
    # expansion has 3 stages — the guard applies to the expanded form
    xp = pat._expanded()
    if len(xp.stages) < 2:
        raise ValueError("pattern_matches() needs at least two stages "
                         "after quantifier expansion (a single-stage "
                         "pattern is a filter)")
    return fam, xp


def compile_pattern_matches(pat: Pattern, df: DataFrame,
                            keys: list[str], time_col: str,
                            tiebreak_col: str,
                            event_col: str) -> DataFrame:
    """Match EXTRACTION [FLINK-API: PatternStream.select(PatternSelect
    Function) / SQL MATCH_RECOGNIZE MEASURES]: one output row per
    completed match with its bindings — anchor event id, closing event
    id, span — numbered per key. Compiles the relaxed followed_by
    family (with or without `within()`), generalizing the
    q_cep_match_measures machine to K stages: the fold accumulator
    carries (stage, anchor bindings, completed-match array) and the
    match array posexplodes to rows — rows = matches, never events²."""
    fam, pat = _matches_gates(pat)
    if fam == "skip_strategy":
        # _skip_strategy_matches re-expands (a no-op here) — names
        # survive expansion, so skip_ref still resolves
        return _skip_strategy_matches(pat, df, keys, time_col,
                                      tiebreak_col, event_col)
    if fam == "strict":
        return _strict_matches(pat, df, keys, time_col, tiebreak_col,
                               event_col)
    if fam == "fork_loop":
        return _fork_loop_matches(pat, df, keys, time_col,
                                  tiebreak_col, event_col)
    if fam == "fork":
        return _fork_matches(pat, df, keys, time_col, tiebreak_col,
                             event_col)
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    tr = _anchor_transition(pat, veto=False)
    empty = F.expr(
        "CAST(array() AS array<struct<start_id:bigint,end_id:bigint,"
        "span_us:bigint>>)")
    init = F.struct(F.lit(0).alias("stage"),
                    F.lit(0).cast("long").alias("anchor_id"),
                    F.lit(0).cast("long").alias("anchor_t"),
                    empty.alias("matches"))

    def step(acc, x):
        r = tr(x, acc["stage"], acc["anchor_t"])
        m = F.struct(acc["anchor_id"].alias("start_id"),
                     x["eid"].alias("end_id"),
                     (x["t"] - acc["anchor_t"]).alias("span_us"))
        # a K=1-expanded edge can't occur (>=2 stages guarded above),
        # so `starts` and `done` never coincide
        return F.struct(
            r.next.alias("stage"),
            F.when(r.starts, x["eid"]).otherwise(acc["anchor_id"])
             .alias("anchor_id"),
            F.when(r.starts, x["t"]).otherwise(acc["anchor_t"])
             .alias("anchor_t"),
            F.when(r.done, F.concat(acc["matches"], F.array(m)))
             .otherwise(acc["matches"]).alias("matches"))

    folded = df.groupBy(*keys).agg(
        F.aggregate(seq, init, step)["matches"].alias("matches"))
    return (folded.select(*keys, F.posexplode("matches"))
            .select(*keys,
                    (F.col("pos") + 1).cast("long").alias("match_no"),
                    F.col("col.start_id").alias("start_event_id"),
                    F.col("col.end_id").alias("end_event_id"),
                    F.col("col.span_us").alias("span_us")))


def _fork_matches(pat, df, keys, time_col, tiebreak_col, event_col):
    """Match extraction for the FORKING NFA (noSkip): every open anchor
    completed by a closing event emits its own match row, so one
    purchase may close several overlapping matches [FLINK-API:
    PatternStream.select under AfterMatchSkipStrategy.noSkip]. The
    anchor arrays carry (t, id) structs; expiry prunes before each
    transition; matches posexplode to rows — rows = matches, never
    events²."""
    K = len(pat.stages)
    w = pat.within_us
    st = _stage_bits(pat)
    strict = _strict_flags(pat)
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    anchor_t = "array<struct<t:bigint,id:bigint>>"
    empty_anchors = F.expr(f"CAST(array() AS {anchor_t})")
    empty_matches = F.expr(
        "CAST(array() AS array<struct<start_id:bigint,end_id:bigint,"
        "span_us:bigint>>)")
    init = F.struct(empty_matches.alias("matches"),
                    *[empty_anchors.alias(f"s{i}") for i in range(1, K)])

    def step(acc, x):
        if w is None:
            filt = {i: acc[f"s{i}"] for i in range(1, K)}
        else:
            filt = {i: F.filter(acc[f"s{i}"],
                                lambda a: x["t"] - a["t"] <= w)
                    for i in range(1, K)}
        match = {i: _hit(x["c"], F.lit(st[i - 1]))
                 for i in range(1, K + 1)}
        closed = F.transform(
            filt[K - 1],
            lambda a: F.struct(a["id"].alias("start_id"),
                               x["eid"].alias("end_id"),
                               (x["t"] - a["t"]).alias("span_us")))
        fields = [
            F.when(match[K], F.concat(acc["matches"], closed))
            .otherwise(acc["matches"]).alias("matches")]
        for i in range(1, K):
            # strict (next) awaits drain-or-die (see _fork_machine)
            if strict[i]:
                base = empty_anchors
            else:
                base = F.when(match[i + 1],
                              empty_anchors).otherwise(filt[i])
            incoming = (F.array(F.struct(x["t"].alias("t"),
                                         x["eid"].alias("id")))
                        if i == 1 else filt[i - 1])
            col = (F.when(match[i], F.concat(base, incoming))
                   .otherwise(base))
            fields.append(col.alias(f"s{i}"))
        return F.struct(*fields)

    folded = df.groupBy(*keys).agg(
        F.aggregate(seq, init, step)["matches"].alias("matches"))
    return (folded.select(*keys, F.posexplode("matches"))
            .select(*keys,
                    (F.col("pos") + 1).cast("long").alias("match_no"),
                    F.col("col.start_id").alias("start_event_id"),
                    F.col("col.end_id").alias("end_event_id"),
                    F.col("col.span_us").alias("span_us")))


def _skip_strategy_matches(pat, df, keys, time_col, tiebreak_col,
                           event_col):
    """AfterMatchSkipStrategy variants [FLINK-API:
    AfterMatchSkipStrategy#skipToNext / #skipToFirst(name) /
    #skipToLast(name)] (r10): the noSkip fork ENUMERATION (the
    _fork_matches machine, extended to carry per-run event ROW
    NUMBERS and the named stage's bound event) pruned by the
    strategy's kill-interval rule, replayed as a second per-key
    Catalyst fold over the candidate matches in completion order
    (end rn, then anchor rn — exactly the order the enumeration
    emits). The enumeration is Flink's followedBy run semantics: each
    anchor binds the FIRST qualifying event per stage and completes
    AT MOST ONCE (the close drains the penultimate set — one close
    may complete several anchors, but an anchor never re-closes).
    Kill semantics per emitted match m (Flink's documented discard
    rules, on integer row numbers so ties are exact):

    - to_next:          starts == m.start      (same-start runs die)
    - past_last_event:  starts in [m.start, m.end] — Flink's EXACT
                        skipPastLastEvent; NOT identical to the
                        engine's default `past_last` single-run
                        machine, which can hold a stale expired
                        anchor past an intermediate begin event (the
                        NFA forks there and may emit an earlier
                        match; divergence pinned in tests)
    - to_first:         starts in (m.start, first event bound to name)
    - to_last:          starts in (m.start, last event bound to name)

    A candidate is discarded iff its start rn falls in any interval
    recorded by a previously-emitted match; both folds are
    F.aggregate over ONE per-key sorted sequence, interpreted per
    element in the JVM (ArrayAggregate is a CodegenFallback
    expression — no Python either way; one shuffle; candidates ≪
    events, so the prune fold is cheap).
    Quantified (times(n)) named stages expand relaxed-internal, one
    bound event per copy — first/last reference the first/last copy's
    binding."""
    mode = pat.skip
    jn = _skip_ref_index(pat)
    pat = pat._expanded()
    K = len(pat.stages)
    w = pat.within_us
    st = _stage_bits(pat)
    seq0 = _seq(pat, time_col, tiebreak_col, event_col)
    seq = F.transform(
        seq0,
        lambda x, i: F.struct(x["t"].alias("t"), x["eid"].alias("eid"),
                              x["c"].alias("c"),
                              i.cast("long").alias("rn")))
    anchor_t = "array<struct<t:bigint,id:bigint,rn:bigint,nrn:bigint>>"
    match_t = ("array<struct<start_rn:bigint,start_id:bigint,"
               "end_rn:bigint,end_id:bigint,span_us:bigint,"
               "nrn:bigint>>")
    empty_anchors = F.expr(f"CAST(array() AS {anchor_t})")
    empty_matches = F.expr(f"CAST(array() AS {match_t})")
    init = F.struct(empty_matches.alias("matches"),
                    *[empty_anchors.alias(f"s{i}") for i in range(1, K)])

    def step(acc, x):
        if w is None:
            filt = {i: acc[f"s{i}"] for i in range(1, K)}
        else:
            filt = {i: F.filter(acc[f"s{i}"],
                                lambda a: x["t"] - a["t"] <= w)
                    for i in range(1, K)}
        match = {i: _hit(x["c"], F.lit(st[i - 1]))
                 for i in range(1, K + 1)}
        closed = F.transform(
            filt[K - 1],
            lambda a: F.struct(
                a["rn"].alias("start_rn"), a["id"].alias("start_id"),
                x["rn"].alias("end_rn"), x["eid"].alias("end_id"),
                (x["t"] - a["t"]).alias("span_us"),
                (x["rn"] if jn == K - 1 else a["nrn"]).alias("nrn")))
        fields = [
            F.when(match[K], F.concat(acc["matches"], closed))
            .otherwise(acc["matches"]).alias("matches")]
        for i in range(1, K):
            base_s = F.when(match[i + 1],
                            empty_anchors).otherwise(filt[i])
            if i == 1:
                incoming = F.array(F.struct(
                    x["t"].alias("t"), x["eid"].alias("id"),
                    x["rn"].alias("rn"),
                    (x["rn"] if jn == 0 else F.lit(0).cast("long"))
                    .alias("nrn")))
            elif jn == i - 1:
                # promotion into s_i binds 0-based stage i-1 — the
                # named stage: stamp this event's rn on the promoted
                # runs
                incoming = F.transform(
                    filt[i - 1],
                    lambda a: F.struct(
                        a["t"].alias("t"), a["id"].alias("id"),
                        a["rn"].alias("rn"), x["rn"].alias("nrn")))
            else:
                incoming = filt[i - 1]
            col = (F.when(match[i], F.concat(base_s, incoming))
                   .otherwise(base_s))
            fields.append(col.alias(f"s{i}"))
        return F.struct(*fields)

    kill_t = "array<struct<lo:bigint,hi:bigint>>"
    pinit = F.struct(empty_matches.alias("kept"),
                     F.expr(f"CAST(array() AS {kill_t})").alias("kill"))

    def prune(acc, m):
        killed = F.exists(
            acc["kill"],
            lambda r: (m["start_rn"] >= r["lo"])
            & (m["start_rn"] <= r["hi"]))
        if mode == "to_next":
            lo, hi = m["start_rn"], m["start_rn"]
        elif mode in ("past_last", "past_last_event"):
            lo, hi = m["start_rn"], m["end_rn"]
        else:
            lo, hi = m["start_rn"] + 1, m["nrn"] - 1
        rng = F.array(F.struct(lo.cast("long").alias("lo"),
                               hi.cast("long").alias("hi")))
        return F.struct(
            F.when(killed, acc["kept"])
            .otherwise(F.concat(acc["kept"], F.array(m)))
            .alias("kept"),
            F.when(killed, acc["kill"])
            .otherwise(F.concat(acc["kill"], rng)).alias("kill"))

    enum = F.aggregate(seq, init, step)["matches"]
    kept = F.aggregate(enum, pinit, prune)["kept"]
    folded = df.groupBy(*keys).agg(kept.alias("matches"))
    return (folded.select(*keys, F.posexplode("matches"))
            .select(*keys,
                    (F.col("pos") + 1).cast("long").alias("match_no"),
                    F.col("col.start_id").alias("start_event_id"),
                    F.col("col.end_id").alias("end_event_id"),
                    F.col("col.span_us").alias("span_us")))


def _skip_strategy_counts(pat, df, keys, time_col, tiebreak_col,
                          event_col):
    """pattern() counts for the skip_to_* strategies: per-key size of
    the pruned enumeration (n_matches > 0) — a window count over the
    already-exploded matches would re-shuffle; counting rows per key
    after the explode keeps it one extra light agg on match rows
    (candidates ≪ events)."""
    m = _skip_strategy_matches(pat, df, keys, time_col, tiebreak_col,
                               event_col)
    return (m.groupBy(*keys)
            .agg(F.count("*").cast("long").alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def _strict_matches(pat, df, keys, time_col, tiebreak_col, event_col):
    """Match extraction for STRICT chains (r9): a fixed-string match
    (next-chains; times(n) expands to one) always occupies the last K
    CONSECUTIVE events, so candidates are a per-key lag-window scan
    (row rn is a candidate end iff codes at rn-K+1..rn equal the stage
    string) and the regex's leftmost non-overlapping selection is a
    greedy fold over candidate row numbers (accept iff rn - last >= K).
    Both stages are partitioned windows + one aggregation — no regex,
    no Python. one_or_more (variable length) stays count-only."""
    _no_preds(pat, "strict-chain pattern_matches()")
    K = len(pat.stages)
    st = _stage_codes(pat)
    tcode = F.lit(0)
    for etype, i in _type_codes(pat).items():
        tcode = F.when(F.col(event_col) == etype, F.lit(i)) \
            .otherwise(tcode)
    w = Window.partitionBy(*keys).orderBy("__t", "__eid")
    d = df.select(*keys,
                  F.unix_micros(time_col).alias("__t"),
                  F.col(tiebreak_col).alias("__eid"),
                  tcode.alias("__c"))
    cols = [F.row_number().over(w).alias("__rn"),
            F.lag("__t", K - 1).over(w).alias("__st"),
            F.lag("__eid", K - 1).over(w).alias("__sid")]
    cond = F.col("__c") == F.lit(st[K - 1])
    for dlt in range(1, K):
        cond = cond & (F.lag("__c", dlt).over(w)
                       == F.lit(st[K - 1 - dlt]))
    cand = (d.select(*keys, "__t", "__eid", *cols,
                     cond.alias("__hit"))
            .where("__hit"))
    seq = F.array_sort(F.collect_list(F.struct(
        F.col("__rn").alias("rn"), F.col("__sid").alias("sid"),
        F.col("__st").alias("stt"), F.col("__eid").alias("eid"),
        F.col("__t").alias("t"))))
    empty = F.expr(
        "CAST(array() AS array<struct<start_id:bigint,end_id:bigint,"
        "span_us:bigint>>)")
    init = F.struct(F.lit(-K).cast("long").alias("last"),
                    empty.alias("matches"))

    def step(acc, x):
        take = (x["rn"] - acc["last"]) >= K
        m = F.struct(x["sid"].alias("start_id"),
                     x["eid"].alias("end_id"),
                     (x["t"] - x["stt"]).alias("span_us"))
        return F.struct(
            F.when(take, x["rn"]).otherwise(acc["last"]).alias("last"),
            F.when(take, F.concat(acc["matches"], F.array(m)))
            .otherwise(acc["matches"]).alias("matches"))

    folded = cand.groupBy(*keys).agg(
        F.aggregate(seq, init, step)["matches"].alias("matches"))
    return (folded.select(*keys, F.posexplode("matches"))
            .select(*keys,
                    (F.col("pos") + 1).cast("long").alias("match_no"),
                    F.col("col.start_id").alias("start_event_id"),
                    F.col("col.end_id").alias("end_event_id"),
                    F.col("col.span_us").alias("span_us")))


def _fork_loop_matches(pat, df, keys, time_col, tiebreak_col,
                       event_col):
    """Match extraction for the BOUNDED LOOP (fork_loop family, r9):
    _fork_matches plus the horizon-bounded loop array of (t, id) anchor
    pairs — every in-horizon closing event emits one match row per live
    anchor (fresh penultimate first, then parked loop — the same order
    the streaming stepper appends, so match numbering agrees) and parks
    the fresh ones. Rows = matches, never events².

    r13 (VERDICT_r12 item 5): until() and consecutive() bindings ride
    the same fold with the COUNT machine's kill rules verbatim — an
    until-hit event emits nothing, clears the loop-stage await set and
    the parked loop, and is never admitted even when it also matches
    the loop condition; under consecutive() any non-loop-matching
    event clears the parked set (relaxed entry preserved). The match
    SET is therefore exactly the count fold's increments with (t, id)
    payloads attached — the deterministic-single-run-per-anchor
    argument that makes extraction possible where allowCombinations'
    counting register forbids it."""
    K = len(pat.stages)
    w = pat.within_us
    consec = pat.stages[-1].consec
    ub = _until_bit(pat)
    st = _stage_bits(pat)
    strict = _strict_flags(pat)
    seq = _seq(pat, time_col, tiebreak_col, event_col)
    anchor_t = "array<struct<t:bigint,id:bigint>>"
    empty_anchors = F.expr(f"CAST(array() AS {anchor_t})")
    empty_matches = F.expr(
        "CAST(array() AS array<struct<start_id:bigint,end_id:bigint,"
        "span_us:bigint>>)")
    init = F.struct(empty_matches.alias("matches"),
                    *[empty_anchors.alias(f"s{i}") for i in range(1, K)],
                    empty_anchors.alias("lp"))

    def step(acc, x):
        filt = {i: F.filter(acc[f"s{i}"],
                            lambda a: x["t"] - a["t"] <= w)
                for i in range(1, K)}
        lp = F.filter(acc["lp"], lambda a: x["t"] - a["t"] <= w)
        match = {i: _hit(x["c"], F.lit(st[i - 1]))
                 for i in range(1, K + 1)}
        iu = _hit(x["c"], F.lit(ub)) if ub else F.lit(False)
        live = F.concat(filt[K - 1], lp)
        closed = F.transform(
            live,
            lambda a: F.struct(a["id"].alias("start_id"),
                               x["eid"].alias("end_id"),
                               (x["t"] - a["t"]).alias("span_us")))
        new_lp = F.concat(lp, filt[K - 1])
        fields = [
            F.when(match[K] & ~iu, F.concat(acc["matches"], closed))
            .otherwise(acc["matches"]).alias("matches")]
        for i in range(1, K):
            # identical promotion/kill rules to _fork_loop_machine
            if strict[i]:
                base = empty_anchors
            else:
                base = F.when(match[i + 1],
                              empty_anchors).otherwise(filt[i])
            if i == K - 1 and ub:
                base = F.when(iu, empty_anchors).otherwise(base)
            incoming = (F.array(F.struct(x["t"].alias("t"),
                                         x["eid"].alias("id")))
                        if i == 1 else filt[i - 1])
            col = (F.when(match[i] & ~iu if i == K - 1 and ub
                          else match[i],
                          F.concat(base, incoming))
                   .otherwise(base))
            fields.append(col.alias(f"s{i}"))
        keep = empty_anchors if consec else lp
        lp_col = (F.when(iu, empty_anchors)
                  .when(match[K], new_lp).otherwise(keep)) if ub else \
            F.when(match[K], new_lp).otherwise(keep)
        fields.append(lp_col.alias("lp"))
        return F.struct(*fields)

    folded = df.groupBy(*keys).agg(
        F.aggregate(seq, init, step)["matches"].alias("matches"))
    return (folded.select(*keys, F.posexplode("matches"))
            .select(*keys,
                    (F.col("pos") + 1).cast("long").alias("match_no"),
                    F.col("col.start_id").alias("start_event_id"),
                    F.col("col.end_id").alias("end_event_id"),
                    F.col("col.span_us").alias("span_us")))


# -- streaming: the keyed-state NFA twins ------------------------------

def relaxed_stepper(type_codes: dict[str, int] | None,
                    stage_codes: list[int],
                    strict: list[bool] | None = None,
                    key_cols: list[str] | None = None,
                    veto: list[int] | None = None):
    """applyInPandasWithState step for the skip-past-last machine —
    the O(1) register (cnt, stage) of the batch fold, over K stages
    with stage-index transitions and per-stage strict (next) awaits
    that kill-or-re-anchor the run on a miss. State
    survives micro-batch boundaries. `key_cols` names the (possibly
    COMPOSITE) key columns — Flink's keyBy(a, b) shape; the input is
    projected keys-first, so the payload offset is len(key_cols).

    `stage_codes`/`veto` are condition BITS tested via `mask & bit`
    (one-hot masks make the test ≡ the old equality, so type-only
    fixtures keep passing codes 1/2); `type_codes=None` means the
    event column already carries the Spark-computed condition mask —
    how where()/or_where() predicates reach the stream (the SQL
    evaluates JVM-side, never per-row Python).

    A searchsorted JUMP variant of this loop measured slower at the
    stress fixture's density (r14: ~1.6 vs ~2.2 M events/s — a jump
    costs ~4x a step but skips only ~3.5 events), so the O(1)-state
    single-anchor machines keep the per-event loop; the fork/loop
    family, whose set-valued state amortizes, is vectorized."""
    K = len(stage_codes)
    strict = strict or [False] * K
    veto = veto or [0] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        cnt, stage = state.get if state.exists else (0, 0)
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, type_codes))
        for _, _, c in sorted(rows):
            if c & stage_codes[stage]:
                if stage == K - 1:
                    cnt, stage = cnt + 1, 0
                else:
                    stage += 1
            elif stage > 0 and (strict[stage] or c & veto[stage]):
                stage = 1 if c & stage_codes[0] else 0
        state.update((cnt, stage))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt], "stage": [stage]})
    return step


def _ins_sorted(s, t) -> None:
    """Append keeping the deque sorted: the fast path is a plain
    append (in-order input keeps anchor sets begin-time-sorted); a LATE
    arrival older than a carried anchor takes the rare O(n) re-sort, so
    prefix-pop expiry stays exactly the r8 filter semantics for ANY
    input order."""
    if not s or t >= s[-1]:
        s.append(t)
    else:
        tmp = sorted([*s, t])
        s.clear()
        s.extend(tmp)


def _ext_sorted(s, inc) -> None:
    """extend() keeping the deque sorted (same rare-path contract as
    _ins_sorted; `inc` is itself sorted)."""
    if not inc:
        return
    if not s or inc[0] >= s[-1]:
        s.extend(inc)
    else:
        tmp = sorted([*s, *inc])
        s.clear()
        s.extend(tmp)


def _kmp_failure(P: list[int]) -> list[int]:
    """KMP failure (border) function over the stage-code string:
    fail[j] = length of the longest proper border of P[:j], indexed by
    matched-prefix length j in 0..len(P) (fail[0] = fail[1] = 0)."""
    K = len(P)
    fail = [0] * (K + 1)
    k = 0
    for j in range(1, K):
        while k > 0 and P[j] != P[k]:
            k = fail[k]
        if P[j] == P[k]:
            k += 1
        fail[j + 1] = k
    return fail


def kmp_stepper(type_codes: dict[str, int], stage_codes: list[int],
                key_cols: list[str] | None = None):
    """Streaming STRICT chains as a KMP failure-function automaton with
    restart-after-match [FLINK-API: Pattern#next chains on a live
    stream]. A strict next-chain (times(n) included — expansion yields
    a FIXED string over the stage-code alphabet) matched left-to-right
    non-overlapping is exactly fixed-string search, so the automaton's
    count equals the batch regex path's for ANY stage string —
    including bordered ones (aab, abab) where the kill-or-re-anchor
    rule undercounts (a mismatch may re-enter mid-pattern, not just at
    stage 0 or 1). O(K) state (one prefix length), O(1) amortized per
    event, and events outside the pattern alphabet (code 0) break
    contiguity by matching no position. Only one_or_more (variable-
    length greedy) genuinely needs the regex's backtracking and stays
    batch-side."""
    K = len(stage_codes)
    fail = _kmp_failure(stage_codes)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        cnt, j = state.get if state.exists else (0, 0)
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, type_codes))
        for _, _, c in sorted(rows):
            while j > 0 and c != stage_codes[j]:
                j = fail[j]
            if c == stage_codes[j]:
                j += 1
            if j == K:
                cnt, j = cnt + 1, 0  # restart: non-overlapping count
        state.update((cnt, j))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt], "stage": [j]})
    return step


def relaxed_within_stepper(type_codes: dict[str, int] | None,
                           stage_codes: list[int], within_us: int,
                           strict: list[bool] | None = None,
                           key_cols: list[str] | None = None,
                           veto: list[int] | None = None):
    """applyInPandasWithState step for the bounded single-anchor
    machine — state (cnt, stage, anchor µs); expiry applied before each
    event exactly like the batch fold, so state is O(1) per key and the
    automaton survives micro-batch boundaries. Strict awaits
    kill-or-re-anchor on a miss. Bit-test await semantics (see
    relaxed_stepper) carry where() predicate masks."""
    K = len(stage_codes)
    strict = strict or [False] * K
    veto = veto or [0] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        cnt, stage, anchor = state.get if state.exists else (0, 0, 0)
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, type_codes))
        for t, _, c in sorted(rows):
            if stage > 0 and t - anchor > within_us:
                stage = 0
            if c & stage_codes[stage]:
                if stage == K - 1:
                    cnt, stage = cnt + 1, 0
                else:
                    if stage == 0:
                        anchor = t
                    stage += 1
            elif stage > 0 and (strict[stage] or c & veto[stage]):
                if c & stage_codes[0]:
                    stage, anchor = 1, t
                else:
                    stage = 0
        state.update((cnt, stage, anchor))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt], "stage": [stage]})
    return step


def fork_stepper_scalar(type_codes: dict[str, int] | None,
                 stage_codes: list[int],
                 within_us: int | None,
                 strict: list[bool] | None = None,
                 key_cols: list[str] | None = None,
                 veto: list[int] | None = None):
    """applyInPandasWithState step for the forking NFA — the batch
    anchor-set fold as keyed state: state = (cnt, s1..s_{K-1} anchor-µs
    arrays), expiry applied before every transition so state stays
    bounded by per-key density inside `within`. Transitions read the PRE-event snapshot, so repeated
    adjacent stage types drain-and-refill in one step like the batch
    fold."""
    K = len(stage_codes)
    strict = strict or [False] * K
    veto = veto or [0] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        from collections import deque

        import pandas as pd
        if state.exists:
            got = state.get
            cnt, sets = got[0], [deque(sorted(s)) for s in got[1:]]
        else:
            cnt, sets = 0, [deque() for _ in range(K - 1)]
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, type_codes))
        for t, _, c in sorted(rows):
            # Anchor sets are kept SORTED by begin time (in-order input
            # preserves it free; late cross-batch arrivals take the
            # rare _ins_sorted path) — expiry is a prefix POP, O(1)
            # amortized, instead of rebuilding every set per event
            # (r9 fold-bound fix; semantics ≡ the r8 filter exactly).
            if within_us is not None:
                for s in sets:
                    while s and t - s[0] > within_us:
                        s.popleft()
            match = [bool(c & stage_codes[i]) for i in range(K)]
            if match[K - 1]:
                cnt += len(sets[K - 2])  # count BEFORE any update
            # top-down in place: each old sets[i-1] has exactly ONE
            # consumer (stage i), so the pre-event snapshot is implicit
            for i in range(K - 2, -1, -1):
                # strict awaits drain-or-die; a mid-pattern
                # not_followed_by VETO drains the set the same way
                # (see _fork_machine)
                if (strict[i + 1] or match[i + 1]
                        or c & veto[i + 1]):
                    base = deque()
                else:
                    base = sets[i]
                if match[i]:
                    if i == 0:
                        _ins_sorted(base, t)
                    else:
                        _ext_sorted(base, sets[i - 1])
                sets[i] = base
        state.update((cnt, *[list(s) for s in sets]))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def fork_loop_stepper_scalar(type_codes: dict[str, int] | None,
                      stage_codes: list[int], within_us: int,
                      strict: list[bool] | None = None,
                      key_cols: list[str] | None = None,
                      until_bit: int = 0, consec: bool = False):
    """applyInPandasWithState step for the bounded fork-loop machine —
    fork_stepper plus one horizon-bounded LOOP array of anchor µs:
    every in-horizon closing event adds one match per live anchor
    combination (fresh penultimate or parked loop) and parks the fresh
    ones. State stays bounded by per-key density inside `within`, the
    same bound the plain fork stepper carries. `consec` (r12) is the
    strict-internal kill rule [FLINK-API: Quantifier#consecutive]: an
    event not matching the loop condition clears the parked set."""
    K = len(stage_codes)
    strict = strict or [False] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        from collections import deque
        if state.exists:
            got = state.get
            cnt = got[0]
            sets = [deque(sorted(s)) for s in got[1:K]]
            lp = deque(sorted(got[K]))
        else:
            cnt, sets, lp = 0, [deque() for _ in range(K - 1)], deque()
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, type_codes))
        for t, _, c in sorted(rows):
            # sorted-by-begin invariant (see fork_stepper): expiry is a
            # prefix pop for the stage sets AND the loop set
            for s in sets:
                while s and t - s[0] > within_us:
                    s.popleft()
            while lp and t - lp[0] > within_us:
                lp.popleft()
            match = [bool(c & stage_codes[i]) for i in range(K)]
            # until() (r10): kill every run at the loop stage; the
            # event is never admitted even when it also matches the
            # loop condition (≡ the batch fold's iu rule)
            iu = bool(c & until_bit)
            if match[K - 1] and not iu:
                if K >= 2:
                    cnt += len(sets[K - 2]) + len(lp)
                    _ext_sorted(lp, sets[K - 2])  # copied pre-drain
                else:
                    cnt += 1 + len(lp)
                    _ins_sorted(lp, t)
            elif consec:
                lp = deque()  # non-match kills parked runs (until
                # events fall through to the iu clear below)
            for i in range(K - 2, -1, -1):
                if strict[i + 1] or match[i + 1]:
                    base = deque()
                else:
                    base = sets[i]
                if match[i] and not (iu and i == K - 2):
                    if i == 0:
                        _ins_sorted(base, t)
                    else:
                        _ext_sorted(base, sets[i - 1])
                sets[i] = base
            if iu:
                lp = deque()
                if K >= 2:
                    sets[K - 2] = deque()
        state.update((cnt, *[list(s) for s in sets], list(lp)))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def fork_group_loop_stepper_scalar(stage_bits: list[int], gl: int,
                            within_us: int,
                            key_cols: list[str] | None = None):
    """applyInPandasWithState twin of _fork_group_loop_machine (r12)
    [FLINK-API: GroupPattern#oneOrMore]: the fork stepper plus the
    BACK-EDGE — an event completing the group's last stage emits one
    match per run in the final await set and returns those runs
    (pre-promotion snapshot) to the awaiting-G1 set."""
    K = len(stage_bits)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        from collections import deque

        import pandas as pd
        if state.exists:
            got = state.get
            cnt = got[0]
            sets = [deque(sorted(s)) for s in got[1:K]]
        else:
            cnt, sets = 0, [deque() for _ in range(K - 1)]
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, None))
        for t, _, c in sorted(rows):
            for s in sets:
                while s and t - s[0] > within_us:
                    s.popleft()
            match = [bool(c & stage_bits[i]) for i in range(K)]
            closers = None
            if match[K - 1]:
                cnt += len(sets[K - 2])
                closers = deque(sets[K - 2])  # pre-promotion snapshot
            for i in range(K - 2, -1, -1):
                if match[i + 1]:
                    base = deque()
                else:
                    base = sets[i]
                if match[i]:
                    if i == 0:
                        _ins_sorted(base, t)
                    else:
                        _ext_sorted(base, sets[i - 1])
                sets[i] = base
            if closers:
                # back-edge AFTER promotions, exactly the batch
                # field's concat-after-drain/incoming order
                _ext_sorted(sets[K - gl - 1], closers)
        state.update((cnt, *[list(s) for s in sets]))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def group_zom_stepper_scalar(stage_bits: list[int], gl: int, within_us: int,
                      key_cols: list[str] | None = None):
    """applyInPandasWithState step for streaming GROUP zeroOrMore
    (r13 — replaces the r12 batch-only refusal) [FLINK-API:
    GroupPattern#oneOrMore#optional]: the batch sum-of-machines
    argument (prefix-only matches = 0 repetitions, back-edge group
    loop = >= 1 repetitions, counts partition by repetition count and
    add exactly) is order-free, so ONE keyed state row runs BOTH
    addends side by side — the fork_group_loop transition plus the
    prefix fork transition over the first K-gl stages (a plain
    per-event counter when the prefix is the begin stage alone).
    State = the group-loop stepper's row plus the prefix fork sets,
    all bounded by within-horizon anchor density."""
    K = len(stage_bits)
    lo = K - gl          # prefix length; >= 1 (begin-group loops refuse)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        from collections import deque

        import pandas as pd
        if state.exists:
            got = state.get
            cnt = got[0]
            sets = [deque(sorted(s)) for s in got[1:K]]
            psets = [deque(sorted(s)) for s in got[K:]]
        else:
            cnt = 0
            sets = [deque() for _ in range(K - 1)]
            psets = [deque() for _ in range(max(lo - 1, 0))]
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, None))
        for t, _, c in sorted(rows):
            for s in sets:
                while s and t - s[0] > within_us:
                    s.popleft()
            for s in psets:
                while s and t - s[0] > within_us:
                    s.popleft()
            match = [bool(c & stage_bits[i]) for i in range(K)]
            # -- loop addend: the fork_group_loop transition --
            closers = None
            if match[K - 1]:
                cnt += len(sets[K - 2])
                closers = deque(sets[K - 2])  # pre-promotion snapshot
            for i in range(K - 2, -1, -1):
                base = deque() if match[i + 1] else sets[i]
                if match[i]:
                    if i == 0:
                        _ins_sorted(base, t)
                    else:
                        _ext_sorted(base, sets[i - 1])
                sets[i] = base
            if closers:
                _ext_sorted(sets[K - gl - 1], closers)
            # -- prefix addend: the lo-stage fork transition, or the
            #    plain anchor counter when the prefix is begin alone --
            if lo == 1:
                if match[0]:
                    cnt += 1
            else:
                if match[lo - 1]:
                    cnt += len(psets[lo - 2])
                for i in range(lo - 2, -1, -1):
                    base = deque() if match[i + 1] else psets[i]
                    if match[i]:
                        if i == 0:
                            _ins_sorted(base, t)
                        else:
                            _ext_sorted(base, psets[i - 1])
                    psets[i] = base
        state.update((cnt, *[list(s) for s in sets],
                      *[list(s) for s in psets]))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def fork_loop_combos_stepper_scalar(stage_bits: list[int], within_us: int,
                             strict: list[bool] | None = None,
                             key_cols: list[str] | None = None,
                             until_bit: int = 0):
    """applyInPandasWithState twin of _fork_loop_combos_machine (r12)
    [FLINK-API: Quantifier#allowCombinations]: parked runs carry
    (anchor µs, subsequence register); a close emits c+1 per parked
    run plus one per fresh anchor, doubles registers (c <- 2c+1) and
    parks fresh anchors at c=1. Same counting-DP as the batch fold;
    exact below 2^62 subsequences per run (Python ints never wrap —
    the state column faults loudly on overflow instead)."""
    K = len(stage_bits)
    strict = strict or [False] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import heapq
        from collections import deque

        import pandas as pd
        if state.exists:
            got = state.get
            cnt = got[0]
            sets = [deque(sorted(s)) for s in got[1:K]]
            lp = deque(sorted(zip(got[K], got[K + 1])))
        else:
            cnt, sets, lp = 0, [deque() for _ in range(K - 1)], deque()
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, None))
        for t, _, c in sorted(rows):
            for s in sets:
                while s and t - s[0] > within_us:
                    s.popleft()
            while lp and t - lp[0][0] > within_us:
                lp.popleft()
            match = [bool(c & stage_bits[i]) for i in range(K)]
            iu = bool(c & until_bit)
            if match[K - 1] and not iu:
                cnt += sum(a[1] for a in lp) + len(lp) \
                    + len(sets[K - 2])
                for a in lp:
                    # r13: named density fault (≡ the batch fold's
                    # _COMBOS_REG_LIMIT guard) — Python ints never
                    # wrap, so without this the fault would surface
                    # as an opaque state-column overflow instead
                    if a[1] >= _COMBOS_REG_LIMIT:
                        raise _combos_fault(key, a[1])
                doubled = [(a[0], 2 * a[1] + 1) for a in lp]
                parked = [(a, 1) for a in sets[K - 2]]
                sets[K - 2] = deque()
                lp = deque(heapq.merge(doubled, parked))
            for i in range(K - 2, -1, -1):
                if strict[i + 1] or match[i + 1]:
                    base = deque()
                else:
                    base = sets[i]
                if match[i] and not (iu and i == K - 2):
                    if i == 0:
                        _ins_sorted(base, t)
                    else:
                        _ext_sorted(base, sets[i - 1])
                sets[i] = base
            if iu:
                lp = deque()
                sets[K - 2] = deque()
        state.update((cnt, *[list(s) for s in sets],
                      [a[0] for a in lp], [a[1] for a in lp]))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def fork_loop_agg_stepper(stage_bits: list[int], agg: tuple,
                          within_us: int,
                          strict: list[bool] | None = None,
                          key_cols: list[str] | None = None,
                          until_bit: int = 0):
    """applyInPandasWithState twin of _fork_loop_agg_machine (r11):
    the bounded loop whose parked runs carry (anchor µs, register,
    loop length) so the run-aggregate loop condition evaluates per
    run — qualifying runs emit a match AND absorb the event,
    non-qualifying runs (fresh anchors included) keep awaiting.
    Registers never see NULLs (a NaN candidate fails the condition
    for every fn, matching the batch machine's NULL gate).

    Round 12 (VERDICT_r11 item 2 — the engine's one 0.02 M ev/s
    outlier): the parked set is three parallel numpy arrays
    (anchor µs, register, loop length) instead of a deque of tuples.
    Absorbing never changes a run's ANCHOR, so the arrays stay
    t-sorted through every close: expiry stays a lazy searchsorted
    prefix cut (start pointer, no rebuild), the per-close register
    test is ONE vectorized compare, and absorb is a masked in-place
    update — C-speed for EVERY fn/op, with no merge step at all
    (the r11 deque needed stay/absorbed/parked heapq.merge per
    close). The verdict's alternative — a register-SORTED list with
    bisected qualify prefixes — was rejected deliberately: register
    order breaks the anchor-t prefix-pop, so correct expiry would
    need order statistics under deletion (a Fenwick tree over
    register ranks) for a win only on monotone sum/count; the
    vectorized t-sorted scan is simpler, covers min/max/avg and
    =/!= too, and measures in the fork tier (see BASELINE.md r12).
    State schema and semantics are unchanged (restart pins hold)."""
    import math
    import operator as _op
    OPS = {">": _op.gt, ">=": _op.ge, "<": _op.lt, "<=": _op.le,
           "=": _op.eq, "!=": _op.ne}
    fn_, _c, op, rhs = agg
    K = len(stage_bits)
    strict = strict or [False] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def _ok(val):
        return (not (val is None or (isinstance(val, float)
                                     and math.isnan(val)))
                and OPS[op](val, rhs))

    def step(key, pdf_iter, state):
        from collections import deque

        import numpy as np
        import pandas as pd
        if state.exists:
            got = state.get
            cnt = got[0]
            sets = [deque(sorted(s)) for s in got[1:K]]
            lt = np.asarray(got[K], dtype=np.int64)
            order = np.argsort(lt, kind="stable")
            lt = lt[order]
            lr = np.asarray(got[K + 1], dtype=np.float64)[order]
            ln = np.asarray(got[K + 2], dtype=np.int64)[order]
        else:
            cnt = 0
            sets = [deque() for _ in range(K - 1)]
            lt = np.empty(0, np.int64)
            lr = np.empty(0, np.float64)
            ln = np.empty(0, np.int64)
        s0 = 0  # lazy-expiry start pointer into lt/lr/ln
        rows = []
        for pdf in pdf_iter:
            t = (pdf.iloc[:, nk].to_numpy("datetime64[ns]")
                 .astype("int64") // 1000).tolist()
            eid = pdf.iloc[:, nk + 1].tolist()
            c = pdf.iloc[:, nk + 2].tolist()
            v = pdf.iloc[:, nk + 3].astype(float).tolist()
            rows.extend(zip(t, eid, c, v))
        t = None
        for t, _, c, xv in sorted(rows):
            # sorted-by-anchor-t invariant (see fork_stepper): expiry
            # is a prefix POP for the stage sets and a lazy prefix CUT
            # for the parked arrays — never a full-list rebuild
            for s in sets:
                while s and t - s[0] > within_us:
                    s.popleft()
            match = [bool(c & stage_bits[i]) for i in range(K)]
            iu = bool(c & until_bit)
            if match[K - 1] and not iu:
                s0 += int(np.searchsorted(lt[s0:], t - within_us))
                xnan = xv != xv
                fresh_ok = (not xnan) and _ok(
                    1.0 if fn_ == "count" else xv)
                if not xnan and lt.size > s0:
                    # one vectorized pass: test every parked run,
                    # absorb qualifiers in place (anchor t unchanged,
                    # so t-order survives), keep the rest untouched
                    r = lr[s0:]
                    n = ln[s0:]
                    if fn_ == "sum":
                        val = r + xv
                    elif fn_ == "avg":
                        val = (r + xv) / (n + 1)
                    elif fn_ == "count":
                        val = (n + 1).astype(np.float64)
                    elif fn_ == "min":
                        val = np.minimum(r, xv)
                    else:
                        val = np.maximum(r, xv)
                    mask = OPS[op](val, rhs)
                    nq = int(np.count_nonzero(mask))
                    if nq:
                        cnt += nq
                        if fn_ in ("sum", "avg"):
                            r[mask] += xv
                        elif fn_ in ("min", "max"):
                            r[mask] = val[mask]
                        n[mask] += 1
                if fresh_ok and sets[K - 2]:
                    cnt += len(sets[K - 2])
                    fresh = np.fromiter(sets[K - 2], np.int64,
                                        len(sets[K - 2]))
                    sets[K - 2] = deque()
                    at = lt[s0:]
                    pos = np.searchsorted(at, fresh, side="right")
                    lt = np.insert(at, pos, fresh)
                    lr = np.insert(lr[s0:], pos, xv)
                    ln = np.insert(ln[s0:], pos, 1)
                    s0 = 0
            old = [list(s) for s in sets]
            # prefix promotions over the pre-event snapshot
            for i in range(K - 2, -1, -1):
                if i == K - 2:
                    base = sets[i]  # fresh-anchor keep/drain handled
                elif strict[i + 1] or match[i + 1]:
                    base = deque()
                else:
                    base = sets[i]
                if match[i] and not (iu and i == K - 2):
                    if i == 0:
                        _ins_sorted(base, t)
                    else:
                        _ext_sorted(base, deque(old[i - 1]))
                sets[i] = base
            if iu:
                lt = lt[:0]
                lr = lr[:0]
                ln = ln[:0]
                s0 = 0
                sets[K - 2] = deque()
        if t is not None:  # final lazy purge before persisting
            s0 += int(np.searchsorted(lt[s0:], t - within_us))
        state.update((cnt, *[list(s) for s in sets],
                      lt[s0:].tolist(), lr[s0:].tolist(),
                      ln[s0:].tolist()))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def timeout_stepper(stage_bits: list[int], within_us: int,
                    strict: list[bool] | None = None,
                    key_cols: list[str] | None = None,
                    veto: list[int] | None = None):
    """Streaming TIMED-OUT-PARTIAL side output (r11) [FLINK-API:
    PatternStream timeout OutputTag — Flink's NFA prunes a partial
    when the watermark passes anchor + within and hands it to the
    PatternTimeoutFunction]: the single-run skip-past-last machine in
    append mode. A timeout emits (anchor_id, stages_matched,
    timeout_at_us) when EITHER a later event arrives past the horizon
    (the batch fold's expiry branch) OR the event-time watermark
    passes the live run's deadline (timer path, µs-ceil-to-ms like
    the absence stepper). Strict/veto kills are silent discards, not
    timeouts — exactly the batch compile. Input must be
    withWatermark'd."""
    K = len(stage_bits)
    strict = strict or [False] * K
    veto = veto or [0] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd

        def emit(rows):
            return pd.DataFrame(
                {**{kc: [key[i]] * len(rows)
                    for i, kc in enumerate(key_cols)},
                 "anchor_id": [a for a, _, _ in rows],
                 "stages_matched": [s for _, s, _ in rows],
                 "timeout_at_us": [d for _, _, d in rows]})

        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        ceil_ms = lambda us: -(-us // 1000)
        out = []
        if state.hasTimedOut:
            stage, aid, at = state.get
            if stage > 0 and at + within_us <= wm_us:
                out.append((aid, stage, at + within_us))
                state.remove()
            elif stage > 0:
                state.update((stage, aid, at))
                state.setTimeoutTimestamp(
                    max(ceil_ms(at + within_us), wm_ms + 1))
            else:
                state.remove()
            yield emit(out)
            return
        if state.exists:
            stage, aid, at = state.get
        else:
            stage, aid, at = 0, 0, 0
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, None))
        for t, eid, c in sorted(rows):
            if stage > 0 and t - at > within_us:
                out.append((aid, stage, at + within_us))
                stage = 0
            ok = bool(c & stage_bits[stage])
            if ok:
                if stage == 0:
                    aid, at = eid, t
                if stage == K - 1:
                    stage = 0  # completed — no timeout
                else:
                    stage += 1
            elif stage > 0 and (strict[stage] or c & veto[stage]):
                # silent discard (possibly re-anchoring) — NOT a
                # timeout, matching Flink's NFA and the batch fold
                if c & stage_bits[0]:
                    stage, aid, at = 1, eid, t
                else:
                    stage = 0
        # the watermark may already be past a live run's deadline —
        # emit now instead of waiting for a timer round
        if stage > 0 and at + within_us <= wm_us:
            out.append((aid, stage, at + within_us))
            stage = 0
        if stage > 0:
            state.update((stage, aid, at))
            state.setTimeoutTimestamp(
                max(ceil_ms(at + within_us), wm_ms + 1))
        elif state.exists:
            state.remove()
        yield emit(out)
    return step


def zero_or_more_stepper_scalar(stage_bits: list[int], within_us: int,
                         strict: list[bool] | None = None,
                         key_cols: list[str] | None = None,
                         until_bit: int = 0):
    """applyInPandasWithState step for streaming zeroOrMore (r11 —
    replaces the r10 refusal): the batch sum-of-machines argument
    carries to streams because the two addends are INDEPENDENT
    machines over the same event sequence — so ONE keyed state row
    runs BOTH side by side and one counter accumulates their summed
    increments. Loop-length >= 1 matches step the fork-loop machinery
    (anchor sets + parked loop, until-kill included); loop-length 0
    matches step the PREFIX machinery — the (K-1)-stage fork machine,
    or a plain per-event counter when the prefix is the begin stage
    alone. State = the fork-loop stepper's row plus the prefix fork
    sets, all horizon-bounded by the same within density."""
    from collections import deque
    K = len(stage_bits)
    strict = strict or [False] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        if state.exists:
            got = state.get
            cnt = got[0]
            sets = [deque(sorted(s)) for s in got[1:K]]
            lp = deque(sorted(got[K]))
            psets = [deque(sorted(s)) for s in got[K + 1:]]
        else:
            cnt = 0
            sets = [deque() for _ in range(K - 1)]
            lp = deque()
            psets = [deque() for _ in range(max(K - 2, 0))]
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, None))
        for t, _, c in sorted(rows):
            for s in sets:
                while s and t - s[0] > within_us:
                    s.popleft()
            while lp and t - lp[0] > within_us:
                lp.popleft()
            for s in psets:
                while s and t - s[0] > within_us:
                    s.popleft()
            match = [bool(c & stage_bits[i]) for i in range(K)]
            iu = bool(c & until_bit)
            # -- loop addend: the fork-loop transition (≡
            #    fork_loop_stepper) --
            if match[K - 1] and not iu:
                if K >= 2:
                    cnt += len(sets[K - 2]) + len(lp)
                    _ext_sorted(lp, sets[K - 2])
                else:
                    cnt += 1 + len(lp)
                    _ins_sorted(lp, t)
            for i in range(K - 2, -1, -1):
                if strict[i + 1] or match[i + 1]:
                    base = deque()
                else:
                    base = sets[i]
                if match[i] and not (iu and i == K - 2):
                    if i == 0:
                        _ins_sorted(base, t)
                    else:
                        _ext_sorted(base, sets[i - 1])
                sets[i] = base
            if iu:
                lp = deque()
                if K >= 2:
                    sets[K - 2] = deque()
            # -- prefix addend: the (K-1)-stage fork transition (≡
            #    fork_stepper), or the plain anchor counter --
            if K == 2:
                if match[0]:
                    cnt += 1
            else:
                # the prefix machine's close stage is the FULL
                # pattern's penultimate stage (index K-2); its
                # penultimate set is psets[K-3] (valid for all K >= 3)
                if match[K - 2]:
                    cnt += len(psets[K - 3])
                for i in range(K - 3, -1, -1):
                    if strict[i + 1] or match[i + 1]:
                        base = deque()
                    else:
                        base = psets[i]
                    if match[i]:
                        if i == 0:
                            _ins_sorted(base, t)
                        else:
                            _ext_sorted(base, psets[i - 1])
                    psets[i] = base
        state.update((cnt, *[list(s) for s in sets], list(lp),
                      *[list(s) for s in psets]))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


# ---------------------------------------------------------------------------
# r14: vectorized fork/loop stepper family (VERDICT_r13 item 4).
#
# The per-event Python dict/deque transitions above were the engine's
# measured streaming bound (0.2-0.66 M events/s per key). Every run in
# these machines is INDEPENDENT and its trajectory DETERMINISTIC (a run
# awaiting stage j advances at the first event after its position whose
# mask carries bit j, under its own anchor-time expiry), so the whole
# batch advances as numpy searchsorted chains over run arrays — see
# cep_vec.py. The scalar factories stay as the dispatch fallback for
# shapes outside the vectorized envelope (strict one_or_more awaits,
# 1-stage loops), and tests/test_cep_vec_equiv.py pins scalar ==
# vectorized over randomized multi-batch streams, strict/veto/until/
# consec and carried state included. State schemas, output frames and
# counts are bit-identical by construction.
# ---------------------------------------------------------------------------




def fork_stepper(type_codes: dict[str, int] | None,
                 stage_codes: list[int],
                 within_us: int | None,
                 strict: list[bool] | None = None,
                 key_cols: list[str] | None = None,
                 veto: list[int] | None = None):
    """Vectorized twin of fork_stepper_scalar: anchor-set runs advance
    as searchsorted chains over per-bit position indexes (cep_vec) —
    O(K) vectorized rounds per batch instead of per-event Python."""
    K = len(stage_codes)
    if K < 2:
        return fork_stepper_scalar(type_codes, stage_codes, within_us,
                                   strict, key_cols, veto)
    strict = strict or [False] * K
    veto = veto or [0] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd

        from flink_tutorial_broadcast_spark import cep_vec as V
        if state.exists:
            got = state.get
            cnt, carried = got[0], [sorted(s) for s in got[1:]]
        else:
            cnt, carried = 0, [[] for _ in range(K - 1)]
        t, c = V.sorted_batch(pdf_iter, nk, type_codes)
        if t.size:
            A, J, P = V.make_runs(t, c, stage_codes, carried)
            arr_a, _, alive = V.advance(
                t, c, stage_codes, strict, veto, within_us, A, J, P, K)
            cnt += int(arr_a.size)
            carried = V.survivor_sets(A, J, P, alive, int(t[-1]),
                                      within_us, K)
        state.update((cnt, *carried))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def fork_loop_stepper(type_codes: dict[str, int] | None,
                      stage_codes: list[int], within_us: int,
                      strict: list[bool] | None = None,
                      key_cols: list[str] | None = None,
                      until_bit: int = 0, consec: bool = False):
    """Vectorized twin of fork_loop_stepper_scalar: the prefix runs
    advance as searchsorted chains, and the loop stage's counting is a
    prefix-count difference per run (a parked run contributes one
    match per close event inside its horizon, before its next until
    event; consecutive() restricts to the unbroken close run) — no
    per-event Python at all."""
    K = len(stage_codes)
    strict_l = strict or [False] * K
    if K < 2 or strict_l[K - 1]:
        return fork_loop_stepper_scalar(type_codes, stage_codes,
                                        within_us, strict, key_cols,
                                        until_bit, consec)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        from flink_tutorial_broadcast_spark import cep_vec as V
        if state.exists:
            got = state.get
            cnt = got[0]
            carried = [sorted(s) for s in got[1:K]]
            lp_in = sorted(got[K])
        else:
            cnt = 0
            carried = [[] for _ in range(K - 1)]
            lp_in = []
        t, c = V.sorted_batch(pdf_iter, nk, type_codes)
        sets_out = carried
        lp_out = lp_in
        if t.size:
            t_last = int(t[-1])
            iu_arr = ((c & until_bit) != 0) if until_bit else None
            if K == 2:
                A, J, P = V.make_runs(t, c, stage_codes, [[]],
                                      anchor_block=iu_arr)
                arr_a, arr_p = A, P
                prefix_sets = []
            else:
                A, J, P = V.make_runs(t, c, stage_codes,
                                      carried[:K - 2])
                arr_a, arr_p, alive = V.advance(
                    t, c, stage_codes, strict_l, None, within_us,
                    A, J, P, K - 1, block_last=iu_arr)
                prefix_sets = V.survivor_sets(A, J, P, alive, t_last,
                                              within_us, K - 1)
            # runs carried in the awaiting-loop set enter at p = -1
            cw = np.asarray(carried[K - 2], dtype=np.int64)
            arr_a = np.concatenate([cw, arr_a])
            arr_p = np.concatenate(
                [np.full(cw.size, -1, dtype=np.int64), arr_p])
            counts, parked, waiting = V.loop_counts(
                t, c, stage_codes[K - 1], until_bit, within_us,
                consec, arr_a, arr_p, t_last)
            cnt += int(counts.sum())
            lpa = np.asarray(lp_in, dtype=np.int64)
            if lpa.size:
                lcounts, lparked, _ = V.loop_counts(
                    t, c, stage_codes[K - 1], until_bit, within_us,
                    consec, lpa, np.full(lpa.size, -1, np.int64),
                    t_last, from_parked=True)
                cnt += int(lcounts.sum())
                lp_keep = lpa[lparked]
            else:
                lp_keep = lpa
            sets_out = prefix_sets + [np.sort(arr_a[waiting]).tolist()]
            lp_out = np.sort(
                np.concatenate([lp_keep, arr_a[parked]])).tolist()
        state.update((cnt, *sets_out, lp_out))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def fork_group_loop_stepper(stage_bits: list[int], gl: int,
                            within_us: int,
                            key_cols: list[str] | None = None):
    """Vectorized twin of fork_group_loop_stepper_scalar: completions
    re-enter the chain at stage K-gl (the back-edge), so the machine
    is the fork chain iterated to a fixpoint — each iteration is one
    vectorized advance over the cycling runs."""
    K = len(stage_bits)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd

        from flink_tutorial_broadcast_spark import cep_vec as V
        if state.exists:
            got = state.get
            cnt, carried = got[0], [sorted(s) for s in got[1:K]]
        else:
            cnt, carried = 0, [[] for _ in range(K - 1)]
        t, c = V.sorted_batch(pdf_iter, nk, None)
        if t.size:
            t_last = int(t[-1])
            A, J, P = V.make_runs(t, c, stage_bits, carried)
            arr_a, arr_p, alive = V.advance(
                t, c, stage_bits, [False] * K, None, within_us,
                A, J, P, K)
            cnt += int(arr_a.size)   # first completions
            carried = V.survivor_sets(A, J, P, alive, t_last,
                                      within_us, K)
            if arr_a.size:
                # back-edge cycles: every completed run re-awaits
                # stage K-gl from its completion position — the
                # successor function is run-independent, so the
                # orbit is shared and per-run counting is binary
                # lifting over it (cep_vec.group_loop_orbit)
                extra, surv = V.group_loop_orbit(
                    t, c, stage_bits, gl, within_us, arr_a, arr_p,
                    t_last, K)
                cnt += extra
                if surv:
                    for stage, a in surv:
                        carried[stage - 1].append(a)
                    carried = [sorted(s) for s in carried]
        state.update((cnt, *carried))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def group_zom_stepper(stage_bits: list[int], gl: int, within_us: int,
                      key_cols: list[str] | None = None):
    """Vectorized twin of group_zom_stepper_scalar: the group-loop
    machine plus the prefix addend (a plain fork chain over the first
    K-gl stages, or an anchor counter when the prefix is begin alone),
    both vectorized, one summed counter."""
    K = len(stage_bits)
    lo = K - gl
    key_cols = key_cols or ["key"]
    nk = len(key_cols)
    inner = fork_group_loop_stepper(stage_bits, gl, within_us,
                                    key_cols=key_cols)

    def step(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        from flink_tutorial_broadcast_spark import cep_vec as V

        class _Shim:
            """Present the group-loop slice of the state row to the
            inner vectorized stepper."""
            hasTimedOut = False

            def __init__(self, outer):
                self._o = outer
                self._loop_out = None

            @property
            def exists(self):
                return self._o.exists

            @property
            def get(self):
                got = self._o.get
                return got[:K]

            def update(self, v):
                self._loop_out = v

        if state.exists:
            got = state.get
            pcarried = [sorted(s) for s in got[K:]]
        else:
            pcarried = [[] for _ in range(max(lo - 1, 0))]
        shim = _Shim(state)
        frames = list(pdf_iter)
        for _ in inner(key, iter(frames), shim):
            pass
        cnt = shim._loop_out[0]
        loop_sets = shim._loop_out[1:]
        t, c = V.sorted_batch(iter(frames), nk, None)
        if t.size:
            if lo == 1:
                cnt += int(np.count_nonzero((c & stage_bits[0]) != 0))
            else:
                A, J, P = V.make_runs(t, c, stage_bits, pcarried)
                arr_a, _, alive = V.advance(
                    t, c, stage_bits, [False] * lo, None, within_us,
                    A, J, P, lo)
                cnt += int(arr_a.size)
                pcarried = V.survivor_sets(A, J, P, alive, int(t[-1]),
                                           within_us, lo)
        state.update((cnt, *loop_sets, *pcarried))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def fork_loop_combos_stepper(stage_bits: list[int], within_us: int,
                             strict: list[bool] | None = None,
                             key_cols: list[str] | None = None,
                             until_bit: int = 0):
    """Vectorized twin of fork_loop_combos_stepper_scalar: a parked
    run's subsequence register doubles at every close it survives, so
    its total contribution over M in-horizon closes is the CLOSED FORM
    (r0+1)*(2^M - 1) (fresh runs park at r0=1 after contributing 1
    from the awaiting set: total 2^M - 1) and its end register is
    (r0+1)*2^M - 1 — Python bigints per run, never per event. The
    density guard fires exactly where the scalar loop would: the first
    close at which some surviving register reaches 2^62 - 1."""
    K = len(stage_bits)
    strict_l = strict or [False] * K
    if K < 2 or strict_l[K - 1]:
        return fork_loop_combos_stepper_scalar(stage_bits, within_us,
                                               strict, key_cols,
                                               until_bit)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        from flink_tutorial_broadcast_spark import cep_vec as V
        if state.exists:
            got = state.get
            cnt = got[0]
            carried = [sorted(s) for s in got[1:K]]
            lp_in = sorted(zip(got[K], got[K + 1]))
        else:
            cnt = 0
            carried = [[] for _ in range(K - 1)]
            lp_in = []
        t, c = V.sorted_batch(pdf_iter, nk, None)
        sets_out = carried
        lp_t = [a for a, _ in lp_in]
        lp_r = [r for _, r in lp_in]
        if t.size:
            t_last = int(t[-1])
            iu_arr = ((c & until_bit) != 0) if until_bit else None
            if K == 2:
                A, J, P = V.make_runs(t, c, stage_bits, [[]],
                                      anchor_block=iu_arr)
                arr_a, arr_p = A, P
                prefix_sets = []
            else:
                A, J, P = V.make_runs(t, c, stage_bits,
                                      carried[:K - 2])
                arr_a, arr_p, alive = V.advance(
                    t, c, stage_bits, strict_l, None, within_us,
                    A, J, P, K - 1, block_last=iu_arr)
                prefix_sets = V.survivor_sets(A, J, P, alive, t_last,
                                              within_us, K - 1)
            cw = np.asarray(carried[K - 2], dtype=np.int64)
            arr_a = np.concatenate([cw, arr_a])
            arr_p = np.concatenate(
                [np.full(cw.size, -1, dtype=np.int64), arr_p])
            counts, parked, waiting = V.loop_counts(
                t, c, stage_bits[K - 1], until_bit, within_us, False,
                arr_a, arr_p, t_last)
            lpa = np.asarray(lp_t, dtype=np.int64)
            if lpa.size:
                lcounts, lparked, _ = V.loop_counts(
                    t, c, stage_bits[K - 1], until_bit, within_us,
                    False, lpa, np.full(lpa.size, -1, np.int64),
                    t_last, from_parked=True)
            else:
                lcounts = np.empty(0, np.int64)
                lparked = np.empty(0, bool)
            # density guard — fault exactly where the scalar per-close
            # loop does: at the EARLIEST close (event order) at which a
            # parked register has reached the exact-BIGINT bound, for
            # the first such run in parked (anchor µs, register) order.
            # A run's register before its j-th register close is
            # (r0+1)*2^(j-1) - 1, monotone in j, so its tripping close
            # is found in <= ~62 doublings; the fault names the
            # minimum (close position, anchor, register) over runs
            trips = []

            def _trip(r0: int, m_count: int, a: int, p: int,
                      parks: int) -> None:
                # register closes follow entry position p, after the
                # close that parks a fresh run (`parks` = 1)
                if m_count < 1 or \
                        (r0 + 1) * (1 << (m_count - 1)) - 1 \
                        < _COMBOS_REG_LIMIT:
                    return
                reg, j = r0, 0
                while reg < _COMBOS_REG_LIMIT:
                    reg, j = 2 * reg + 1, j + 1
                closes = (c & stage_bits[K - 1]) != 0
                if until_bit:
                    closes &= (c & until_bit) == 0
                cpos = np.flatnonzero(closes)
                k = int(np.searchsorted(cpos, p, side="right"))
                trips.append((int(cpos[k + parks + j]), a, reg))

            total = 0
            for i in range(arr_a.size):
                m = int(counts[i])
                if m:
                    # parks at its first close (contributing 1 from
                    # the awaiting set), then m-1 register closes
                    _trip(1, m - 1, int(arr_a[i]), int(arr_p[i]), 1)
                    total += (1 << m) - 1
            for i in range(lpa.size):
                m = int(lcounts[i])
                if m:
                    r0 = int(lp_r[i])
                    _trip(r0, m, int(lpa[i]), -1, 0)
                    total += (r0 + 1) * ((1 << m) - 1)
            if trips:
                raise _combos_fault(key, min(trips)[2])
            cnt += total
            new_lp = []
            for i in range(lpa.size):
                if lparked[i]:
                    m = int(lcounts[i])
                    r0 = int(lp_r[i])
                    new_lp.append((int(lpa[i]),
                                   (r0 + 1) * (1 << m) - 1))
            for i in range(arr_a.size):
                if parked[i]:
                    m = int(counts[i])
                    new_lp.append((int(arr_a[i]), (1 << m) - 1))
            new_lp.sort()
            lp_t = [a for a, _ in new_lp]
            lp_r = [r for _, r in new_lp]
            sets_out = prefix_sets + [np.sort(arr_a[waiting]).tolist()]
        state.update((cnt, *sets_out, lp_t, lp_r))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def zero_or_more_stepper(stage_bits: list[int], within_us: int,
                         strict: list[bool] | None = None,
                         key_cols: list[str] | None = None,
                         until_bit: int = 0):
    """Vectorized twin of zero_or_more_stepper_scalar: the fork-loop
    addend plus the prefix fork addend, both as searchsorted chains,
    one summed counter (the batch sum-of-machines argument carries
    verbatim)."""
    K = len(stage_bits)
    strict_l = strict or [False] * K
    if K < 2 or strict_l[K - 1]:
        return zero_or_more_stepper_scalar(stage_bits, within_us,
                                           strict, key_cols, until_bit)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)
    loop_inner = fork_loop_stepper(None, stage_bits, within_us,
                                   strict, key_cols=key_cols,
                                   until_bit=until_bit)

    def step(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        from flink_tutorial_broadcast_spark import cep_vec as V

        class _Shim:
            hasTimedOut = False

            def __init__(self, outer):
                self._o = outer
                self._loop_out = None

            @property
            def exists(self):
                return self._o.exists

            @property
            def get(self):
                got = self._o.get
                return got[:K + 1]

            def update(self, v):
                self._loop_out = v

        if state.exists:
            got = state.get
            pcarried = [sorted(s) for s in got[K + 1:]]
        else:
            pcarried = [[] for _ in range(max(K - 2, 0))]
        shim = _Shim(state)
        frames = list(pdf_iter)
        for _ in loop_inner(key, iter(frames), shim):
            pass
        cnt = shim._loop_out[0]
        loop_state = shim._loop_out[1:]
        t, c = V.sorted_batch(iter(frames), nk, None)
        if t.size:
            if K == 2:
                cnt += int(np.count_nonzero((c & stage_bits[0]) != 0))
            else:
                A, J, P = V.make_runs(t, c, stage_bits, pcarried)
                arr_a, _, alive = V.advance(
                    t, c, stage_bits, strict_l, None, within_us,
                    A, J, P, K - 1)
                cnt += int(arr_a.size)
                pcarried = V.survivor_sets(A, J, P, alive, int(t[-1]),
                                           within_us, K - 1)
        state.update((cnt, *loop_state, *pcarried))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def fork_rel_stepper(stage_bits: list[int], rels: list,
                     acols: list[str], vcols: list[str],
                     within_us: int | None,
                     key_cols: list[str] | None = None,
                     srcs: list[str] | None = None,
                     pcols: list[str] | None = None):
    """applyInPandasWithState twin of _fork_rel_machine (r10): the
    forking NFA whose anchor sets carry per-anchor payloads (anchor µs
    + one double per referenced anchor column) so anchor-relative
    stage conditions evaluate per run — qualifying anchors promote or
    complete-and-consume, the rest keep awaiting. Since r11 the
    payloads also carry PREV slots (where_prev on the fork family):
    refreshed at every promotion — the promotion event is the new
    prev for every run it promotes. State = cnt + per set: parallel
    (t, value..., prev...) arrays, bounded by within-horizon anchor
    density. NaN/None operands fail every comparison (including !=),
    matching the SQL coalesce(..., false) rule."""
    import math
    import operator as _op
    OPS = {">": _op.gt, ">=": _op.ge, "<": _op.lt, "<=": _op.le,
           "=": _op.eq, "!=": _op.ne}
    K = len(stage_bits)
    srcs = srcs or ["anchor"] * K
    pcols = pcols or []
    nA = len(acols)
    nP = len(pcols)
    apos = {c: j for j, c in enumerate(acols)}
    ppos = {c: j for j, c in enumerate(pcols)}
    vpos = {c: j for j, c in enumerate(vcols)}
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        if state.exists:
            got = state.get
            cnt = got[0]
            sets = []
            w_ = 1 + nA + nP
            for i in range(K - 1):
                t_arr = got[1 + i * w_]
                v_arrs = [got[2 + i * w_ + j] for j in range(nA)]
                p_arrs = [got[2 + nA + i * w_ + j] for j in range(nP)]
                entries = sorted(zip(t_arr, *v_arrs, *p_arrs))
                sets.append([(e[0], tuple(e[1:1 + nA]),
                              tuple(e[1 + nA:])) for e in entries])
        else:
            cnt, sets = 0, [[] for _ in range(K - 1)]
        rows = []
        for pdf in pdf_iter:
            t = (pdf.iloc[:, nk].to_numpy("datetime64[ns]")
                 .astype("int64") // 1000).tolist()
            eid = pdf.iloc[:, nk + 1].tolist()
            c = pdf.iloc[:, nk + 2].tolist()
            vv = [pdf.iloc[:, nk + 3 + j].astype(float).tolist()
                  for j in range(len(vcols))]
            rows.extend(zip(t, eid, c,
                            *(vv or [[]] * 0)) if vcols
                        else zip(t, eid, c))
        for row in sorted(rows):
            t, _, c = row[0], row[1], row[2]
            ev = row[3:]

            def relok(i, a):
                r = rels[i - 1]
                if r is None:
                    return True
                col, op, acol, sc, off = r
                x = ev[vpos[col]]
                av = (a[2][ppos[acol]] if srcs[i - 1] == "prev"
                      else a[1][apos[acol]])
                if x is None or av is None or math.isnan(x) \
                        or math.isnan(av):
                    return False
                return OPS[op](x, av * sc + off)

            if within_us is not None:
                for s in sets:
                    while s and t - s[0][0] > within_us:
                        s.pop(0)
            match = [bool(c & stage_bits[i]) for i in range(K)]
            old = [list(s) for s in sets]  # pre-event snapshot
            if match[K - 1]:
                cnt += sum(1 for a in old[K - 2] if relok(K, a))
            for i in range(1, K):  # building set s_i (1-based stage i)
                j = i - 1
                # anchors taken by stage i+1 (0-based bit i) leave;
                # with a rel only the qualifying ones — the rest STAY
                if match[i]:
                    kept = [a for a in old[j] if not relok(i + 1, a)]
                else:
                    kept = old[j]
                incoming = []
                if match[i - 1]:  # stage i's own bit (0-based i-1)
                    if i == 1:
                        # at stage 2 the prev IS the anchor itself
                        incoming = [(t,
                                     tuple(ev[vpos[cn]]
                                           for cn in acols),
                                     tuple(ev[vpos[cn]]
                                           for cn in pcols))]
                    else:
                        src = old[j - 1]
                        incoming = ([a for a in src if relok(i, a)]
                                    if rels[i - 1] is not None else src)
                        if pcols:
                            # promotion refreshes every run's prev
                            newp = tuple(ev[vpos[cn]] for cn in pcols)
                            incoming = [(a[0], a[1], newp)
                                        for a in incoming]
                sets[j] = kept + incoming
            # keep sorted by t (late arrivals only; in-order is free)
            for j in range(K - 1):
                if any(sets[j][k][0] > sets[j][k + 1][0]
                       for k in range(len(sets[j]) - 1)):
                    sets[j].sort()
        flat = [cnt]
        for s in sets:
            flat.append([a[0] for a in s])
            for j in range(nA):
                flat.append([a[1][j] for a in s])
            for j in range(nP):
                flat.append([a[2][j] for a in s])
        state.update(tuple(flat))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def skip_strategy_stepper(stage_bits: list[int], mode: str,
                          jn: int | None, within_us: int | None,
                          key_cols: list[str] | None = None,
                          bindings: bool = False):
    """applyInPandasWithState twin of _skip_strategy_matches (r10):
    streaming AfterMatchSkipStrategy counts. The noSkip enumeration's
    candidates complete in (end event, anchor) order — exactly the
    batch prune's processing order — and a live stream delivers
    closing events in that order, so the kill-interval prune runs
    INLINE: state = a per-key event counter (the rn position space),
    the fork-matches anchor sets extended with (rn, named-stage rn)
    payloads, the emitted count, and the live kill intervals. Interval
    GC: an interval can only ever kill a candidate whose start rn is a
    live anchor's rn, so intervals with hi below the minimum live
    anchor rn are dropped each step — with within() the anchor sets
    expire, so the interval list is bounded by the same horizon
    density as the anchor state itself. With ``bindings=True`` (r11 —
    replaces the divergences-row-15 refusal) the stepper APPENDS one
    row per surviving candidate instead of emitting running counts:
    (match_no, start_event_id, end_event_id, span_us), match_no being
    the per-key completion index — byte-identical to the batch
    _skip_strategy_matches output because survivals happen in exactly
    the batch prune's candidate order."""
    K = len(stage_bits)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        if state.exists:
            got = state.get
            cnt, rn_next = got[0], got[1]
            lo, hi = list(got[2]), list(got[3])
            sets = []
            for i in range(K - 1):
                t_a = got[4 + i * 4]
                id_a = got[5 + i * 4]
                rn_a = got[6 + i * 4]
                nrn_a = got[7 + i * 4]
                sets.append(sorted(zip(t_a, id_a, rn_a, nrn_a)))
        else:
            cnt, rn_next = 0, 0
            lo, hi = [], []
            sets = [[] for _ in range(K - 1)]
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, None))
        out = []
        for t, eid, c in sorted(rows):
            rn = rn_next
            rn_next += 1
            if within_us is not None:
                sets = [[a for a in s if t - a[0] <= within_us]
                        for s in sets]
            match = [bool(c & stage_bits[i]) for i in range(K)]
            old = [list(s) for s in sets]
            if match[K - 1]:
                # candidates complete now, in anchor (rn) order
                for a in sorted(old[K - 2], key=lambda a: a[2]):
                    s_rn = a[2]
                    if any(l <= s_rn <= h for l, h in zip(lo, hi)):
                        continue
                    cnt += 1
                    if bindings:
                        out.append((cnt, a[1], eid, t - a[0]))
                    if mode == "to_next":
                        lo.append(s_rn)
                        hi.append(s_rn)
                    elif mode in ("past_last", "past_last_event"):
                        lo.append(s_rn)
                        hi.append(rn)
                    else:
                        named = a[3] if jn is not None and jn < K - 1 \
                            else rn
                        lo.append(s_rn + 1)
                        hi.append(named - 1)
            for i in range(1, K):  # building set s_i
                j = i - 1
                kept = [] if match[i] else old[j]
                incoming = []
                if match[i - 1]:
                    if i == 1:
                        incoming = [(t, eid, rn,
                                     rn if jn == 0 else 0)]
                    elif jn == i - 1:
                        incoming = [(a[0], a[1], a[2], rn)
                                    for a in old[j - 1]]
                    else:
                        incoming = old[j - 1]
                sets[j] = kept + incoming
            # interval GC — nothing left alive can start below m
            live = [a[2] for s in sets for a in s]
            if lo:
                m = min(live) if live else rn_next
                keep = [k2 for k2 in range(len(lo)) if hi[k2] >= m]
                if len(keep) < len(lo):
                    lo = [lo[k2] for k2 in keep]
                    hi = [hi[k2] for k2 in keep]
        flat = [cnt, rn_next, lo, hi]
        for s in sets:
            flat.extend(([a[0] for a in s], [a[1] for a in s],
                         [a[2] for a in s], [a[3] for a in s]))
        state.update(tuple(flat))
        if bindings:
            yield pd.DataFrame(
                {**{kc: [key[i]] * len(out)
                    for i, kc in enumerate(key_cols)},
                 "match_no": [m for m, *_ in out],
                 "start_event_id": [s for _, s, *_ in out],
                 "end_event_id": [e for _, _, e, _ in out],
                 "span_us": [sp for *_, sp in out]})
        else:
            yield pd.DataFrame(
                {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
                 "n_matches": [cnt]})
    return step


def variant_union_stepper(variant_bits: list[list[int]],
                          within_us: int | None,
                          key_cols: list[str] | None = None):
    """applyInPandasWithState step for streaming optional()/times(a, b)
    (r10 — replaces the round-9 refusal): the batch union-of-variants
    argument carries over to streams because the <=32 variants are
    INDEPENDENT fork machines whose match sets partition the original
    pattern's matches — so run every variant's anchor-set machine side
    by side over ONE shared keyed state row, one event pass per
    micro-batch, and keep a single summed count. Each variant is the
    already-pinned fork_stepper transition (all-relaxed stages by
    construction: _variants refuses strict next(), the union gate
    refuses not_followed_by and where_rel, so no strict/veto handling
    is needed). State = (cnt, then each variant's s1..s_{K-1} anchor-µs
    arrays, flattened in variant order) — bounded by per-key density
    inside `within` exactly like the plain fork stepper, times the
    variant count. A 1-stage variant contributes no arrays; each of its
    condition hits adds 1 to cnt directly (the batch K==1 special
    case). [FLINK-API: Pattern#optional / #times(from, to) on a live
    stream]"""
    Ks = [len(b) for b in variant_bits]
    n_arrays = sum(K - 1 for K in Ks)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        from collections import deque

        import pandas as pd
        if state.exists:
            got = state.get
            cnt = got[0]
            flat = [deque(sorted(s)) for s in got[1:]]
        else:
            cnt = 0
            flat = [deque() for _ in range(n_arrays)]
        per_v, off = [], 0
        for K in Ks:
            per_v.append(flat[off:off + K - 1])
            off += K - 1
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, None))
        for t, _, c in sorted(rows):
            for vb, K, sets in zip(variant_bits, Ks, per_v):
                if K == 1:
                    if c & vb[0]:
                        cnt += 1
                    continue
                # per-variant fork transition (see fork_stepper): the
                # sorted-by-begin invariant makes expiry a prefix pop
                if within_us is not None:
                    for s in sets:
                        while s and t - s[0] > within_us:
                            s.popleft()
                match = [bool(c & vb[i]) for i in range(K)]
                if match[K - 1]:
                    cnt += len(sets[K - 2])  # count BEFORE any update
                for i in range(K - 2, -1, -1):
                    base = deque() if match[i + 1] else sets[i]
                    if match[i]:
                        if i == 0:
                            _ins_sorted(base, t)
                        else:
                            _ext_sorted(base, sets[i - 1])
                    sets[i] = base
        state.update((cnt, *[list(s) for v in per_v for s in v]))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def relaxed_rel_stepper(stage_bits: list[int], rels: list,
                        vcols: list[str], within_us: int | None,
                        strict: list[bool] | None = None,
                        key_cols: list[str] | None = None,
                        veto: list[int] | None = None,
                        srcs: list[str] | None = None,
                        aggs: list | None = None):
    """applyInPandasWithState step for the single-anchor machine WITH
    anchor-relative conditions (where_rel) and, since r10,
    previous-element conditions (where_prev — `srcs[i] == 'prev'`
    compares against the LAST MATCHED element's values, refreshed per
    advance, instead of the anchor's): keyed state carries the
    anchor's referenced column values plus the prev element's, and the
    per-await compare runs exactly like the batch fold. Input columns:
    keys, time, tiebreak, mask, then one double per entry of `vcols`
    (the Spark-side projection casts). NaN operands compare False —
    the same rule the batch fold's coalesce pins."""
    import operator
    ops = {">": operator.gt, ">=": operator.ge, "<": operator.lt,
           "<=": operator.le, "=": operator.eq, "!=": operator.ne}
    K = len(stage_bits)
    strict = strict or [False] * K
    veto = veto or [0] * K
    srcs = srcs or ["anchor"] * K
    aggs = aggs or [None] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)
    vidx = {c: i for i, c in enumerate(vcols)}
    # aggregate registers (where_agg, r11): one float slot per
    # (kind, column) — sum (serves avg too), min, max; reset at
    # anchoring, NULL(NaN)-poisoning combine per advance
    sum_cols = sorted({a[1] for a in aggs if a and a[0] in ("sum",
                                                            "avg")})
    min_cols = sorted({a[1] for a in aggs if a and a[0] == "min"})
    max_cols = sorted({a[1] for a in aggs if a and a[0] == "max"})
    ridx = {}
    for c in sum_cols:
        ridx[("sum", c)] = len(ridx)
    for c in min_cols:
        ridx[("min", c)] = len(ridx)
    for c in max_cols:
        ridx[("max", c)] = len(ridx)
    nreg = len(ridx)

    def _reset_regs(vs):
        return ([vs[vidx[c]] for c in sum_cols]
                + [vs[vidx[c]] for c in min_cols]
                + [vs[vidx[c]] for c in max_cols])

    def step(key, pdf_iter, state):
        import pandas as pd
        if state.exists:
            got = state.get
            cnt, stage, anchor = got[0], got[1], got[2]
            avs = list(got[3:3 + len(vcols)])
            pvs = list(got[3 + len(vcols):3 + 2 * len(vcols)])
            regs = list(got[3 + 2 * len(vcols):])
        else:
            cnt, stage, anchor = 0, 0, 0
            avs = [0.0] * len(vcols)
            pvs = [0.0] * len(vcols)
            regs = [0.0] * nreg
        rows = []
        for pdf in pdf_iter:
            t = (pdf.iloc[:, nk].to_numpy("datetime64[ns]")
                 .astype("int64") // 1000).tolist()
            ids = pdf.iloc[:, nk + 1].tolist()
            cs = pdf.iloc[:, nk + 2].tolist()
            extras = [pdf.iloc[:, nk + 3 + j].astype(float).tolist()
                      for j in range(len(vcols))]
            rows.extend(zip(t, ids, cs, *extras))
        for row in sorted(rows):
            t, _, c, *vs = row
            if within_us is not None and stage > 0 \
                    and t - anchor > within_us:
                stage = 0
            ok = bool(c & stage_bits[stage])
            r = rels[stage]
            if ok and r is not None:
                col, op, acol, sc, off = r
                ev = vs[vidx[col]]
                ref = (pvs if srcs[stage] == "prev" else avs)
                av = ref[vidx[acol]]
                # a missing operand (NULL → NaN through pandas) fails
                # the condition, matching the fold's coalesce(False)
                if ev != ev or av != av:
                    ok = False
                else:
                    ok = bool(ops[op](ev, av * sc + off))
            a = aggs[stage]
            if ok and a is not None:
                fn_, col, op, rhs = a
                ev = float(vs[vidx[col]])
                if fn_ == "count":
                    val = float(stage + 1)
                elif fn_ == "sum":
                    val = regs[ridx[("sum", col)]] + ev
                elif fn_ == "avg":
                    val = (regs[ridx[("sum", col)]] + ev) / (stage + 1)
                elif fn_ == "min":
                    rv = regs[ridx[("min", col)]]
                    val = float("nan") if (rv != rv or ev != ev) \
                        else min(rv, ev)
                else:
                    rv = regs[ridx[("max", col)]]
                    val = float("nan") if (rv != rv or ev != ev) \
                        else max(rv, ev)
                # NaN (a poisoned register or operand) fails ANY op —
                # including !=, which Python would evaluate True
                ok = False if val != val else bool(ops[op](val, rhs))
            if ok:
                fv = [float(v) for v in vs]
                if stage == 0:
                    anchor, avs = t, fv
                    regs = _reset_regs(fv)
                else:
                    regs = ([regs[ridx[("sum", c)]] + fv[vidx[c]]
                             for c in sum_cols]
                            + [float("nan")
                               if (regs[ridx[("min", c)]]
                                   != regs[ridx[("min", c)]]
                                   or fv[vidx[c]] != fv[vidx[c]])
                               else min(regs[ridx[("min", c)]],
                                        fv[vidx[c]])
                               for c in min_cols]
                            + [float("nan")
                               if (regs[ridx[("max", c)]]
                                   != regs[ridx[("max", c)]]
                                   or fv[vidx[c]] != fv[vidx[c]])
                               else max(regs[ridx[("max", c)]],
                                        fv[vidx[c]])
                               for c in max_cols])
                pvs = fv
                if stage == K - 1:
                    cnt, stage = cnt + 1, 0
                else:
                    stage += 1
            elif stage > 0 and (strict[stage] or c & veto[stage]):
                if c & stage_bits[0]:
                    stage, anchor = 1, t
                    avs = [float(v) for v in vs]
                    pvs = [float(v) for v in vs]
                    regs = _reset_regs(avs)
                else:
                    stage = 0
        state.update((cnt, stage, anchor, *avs, *pvs, *regs))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt], "stage": [stage]})
    return step


def any_dp_stepper(stage_codes: list[int],
                   key_cols: list[str] | None = None):
    """applyInPandasWithState step for the followedByAny counting DP —
    the cheapest stepper in the engine: state is K longs per key
    (partial-subsequence counts per stage), O(1) per event, UNBOUNDED
    history with constant state. Top-down counter update keeps the
    pre-event snapshot implicit (one event never takes two positions
    of the same subsequence)."""
    K = len(stage_codes)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        cs = list(state.get) if state.exists else [0] * K
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, None))
        for _, _, c in sorted(rows):
            for i in range(K - 1, -1, -1):
                if c & stage_codes[i]:
                    cs[i] += 1 if i == 0 else cs[i - 1]
        state.update(tuple(cs))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cs[K - 1]]})
    return step


def any_table_stepper(stage_codes: list[int], within_us: int,
                      key_cols: list[str] | None = None):
    """applyInPandasWithState step for the horizon-bounded
    followedByAny DP — the anchor-aligned partial-count table as
    keyed state: parallel arrays (anchor t, n_0..n_{K-2}) with the
    same sorted-prefix-pop expiry the fork steppers use; the
    combinatorial partial count lives in the counters, so state stays
    bounded by anchor density inside the horizon."""
    K = len(stage_codes)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import numpy as np
        import pandas as pd
        if state.exists:
            got = state.get
            cnt = got[0]
            ts = np.array(got[1], dtype=np.int64)
            ns = [np.array(got[2 + j], dtype=np.int64)
                  for j in range(K - 1)]
            if len(ts) > 1 and (np.diff(ts) < 0).any():
                order = np.argsort(ts, kind="stable")
                ts = ts[order]
                ns = [n[order] for n in ns]
        else:
            cnt = 0
            ts = np.empty(0, dtype=np.int64)
            ns = [np.empty(0, dtype=np.int64) for _ in range(K - 1)]
        # growth-doubling buffers with a live window [lo, hi): expiry
        # advances lo (no copy), anchors append at hi, and the
        # per-event column adds are ONE vectorized numpy op over the
        # live slice instead of a Python loop per anchor — the r9
        # table-stepper hot-loop fix (measured ~40x on the stress
        # tier; the batch fold's transform() was already JVM-side)
        cap = max(16, 2 * len(ts))
        buf_t = np.empty(cap, dtype=np.int64)
        buf_t[:len(ts)] = ts
        buf_n = [np.empty(cap, dtype=np.int64) for _ in range(K - 1)]
        for j in range(K - 1):
            buf_n[j][:len(ts)] = ns[j]
        lo, hi = 0, len(ts)
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, None))
        for t, _, c in sorted(rows):
            lo += int(np.searchsorted(buf_t[lo:hi], t - within_us,
                                      side="left"))
            hits = [bool(c & b) for b in stage_codes]
            if hits[K - 1]:
                cnt += int(buf_n[K - 2][lo:hi].sum())
            for i in range(K - 2, 0, -1):
                if hits[i]:
                    buf_n[i][lo:hi] += buf_n[i - 1][lo:hi]
            if hits[0]:
                if hi == cap:
                    live = hi - lo
                    cap = max(16, 2 * live + 1)
                    nt = np.empty(cap, dtype=np.int64)
                    nt[:live] = buf_t[lo:hi]
                    nn = [np.empty(cap, dtype=np.int64)
                          for _ in range(K - 1)]
                    for j in range(K - 1):
                        nn[j][:live] = buf_n[j][lo:hi]
                    buf_t, buf_n, lo, hi = nt, nn, 0, live
                if hi > lo and t < buf_t[hi - 1]:
                    # rare late arrival: insert keeping t sorted
                    pos = lo + int(np.searchsorted(
                        buf_t[lo:hi], t, side="left"))
                    buf_t[pos + 1:hi + 1] = buf_t[pos:hi]
                    buf_t[pos] = t
                    for j in range(K - 1):
                        buf_n[j][pos + 1:hi + 1] = buf_n[j][pos:hi]
                        buf_n[j][pos] = 1 if j == 0 else 0
                else:
                    buf_t[hi] = t
                    for j in range(K - 1):
                        buf_n[j][hi] = 1 if j == 0 else 0
                hi += 1
        state.update((cnt, buf_t[lo:hi].tolist(),
                      *[buf_n[j][lo:hi].tolist()
                        for j in range(K - 1)]))
        yield pd.DataFrame(
            {**{kc: [key[i]] for i, kc in enumerate(key_cols)},
             "n_matches": [cnt]})
    return step


def absence_stepper(a_type: str, b_type: str, within_us: int,
                    key_cols: list[str] | None = None,
                    mask_mode: bool = False):
    """Streaming ABSENCE pattern [FLINK-API: Pattern.begin(a)
    .notFollowedBy(b).within(d) on a live stream — Flink's NFA arms a
    TIMER per pending anchor and emits on timeout]: the
    applyInPandasWithState twin of the batch anti-join. State carries
    the pending anchors (t µs, id); a qualifying `b` (a.t < b.t <=
    a.t + d) answers and removes its anchors; an anchor whose deadline
    `a.t + d` falls behind the event-time WATERMARK can never be
    answered by on-time data, so it emits as an unanswered-anchor row
    (append mode) — the onTimer() path, via
    GroupStateTimeout.EventTimeTimeout with the timeout armed at the
    earliest pending deadline. Input must be `withWatermark`'d (Spark
    enforces this for event-time timeouts — a loud AnalysisException,
    not a silent hang).

    `mask_mode=True` means the event column carries a Spark-computed
    CONDITION MASK instead of the type string — bit 1 = anchor
    condition, bit 2 = answering condition (how where()/or_where()
    predicates reach streaming absence; an event satisfying BOTH
    answers earlier anchors AND parks itself, matching the batch
    anti-join's independent filters exactly — the band (t_a, t_a+d]
    is strict at the left edge, so it never answers itself)."""
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd

        def emit(rows):
            if rows:
                return [pd.DataFrame(
                    {**{kc: [key[i]] * len(rows)
                        for i, kc in enumerate(key_cols)},
                     "anchor_id": [i for _, i in rows]})]
            return []

        wm_ms = state.getCurrentWatermarkMs()
        # Deadlines compare in µs against the ms watermark (t + d <=
        # wm*1000): flooring the deadline to ms would emit an anchor as
        # unanswered up to 999 µs EARLY, while an on-time answer could
        # still arrive — a false absence row on sub-ms data (div row 12
        # pins the inclusive horizon). Timer re-arms CEIL to ms so the
        # timer never fires before the true µs deadline has passed.
        wm_us = wm_ms * 1000
        ceil_ms = lambda us: -(-us // 1000)

        def split_and_park(ts, ids):
            # pending sorted by anchor t, so due (deadline at or behind
            # the watermark) is a PREFIX: one bisect, no scan; the
            # earliest live deadline is ts[pos] + within_us directly
            pos = bisect.bisect_right(ts, wm_us - within_us)
            due = list(zip(ts[:pos], ids[:pos]))
            if pos < len(ts):
                state.update((ts[pos:], ids[pos:]))
                state.setTimeoutTimestamp(
                    max(ceil_ms(ts[pos] + within_us), wm_ms + 1))
            elif state.exists:
                state.remove()
            return due

        if state.hasTimedOut:
            t_arr, id_arr = state.get
            order = sorted(range(len(t_arr)), key=lambda k: t_arr[k])
            yield from emit(split_and_park(
                [t_arr[k] for k in order], [id_arr[k] for k in order]))
            return
        if state.exists:
            t_arr, id_arr = state.get
            order = sorted(range(len(t_arr)), key=lambda k: t_arr[k])
            ts = [t_arr[k] for k in order]
            ids = [id_arr[k] for k in order]
        else:
            ts, ids = [], []
        rows = []
        if mask_mode:
            def is_a(v):
                return bool(v & 1)

            def is_b(v):
                return bool(v & 2)
        else:
            def is_a(v):
                return v == a_type

            def is_b(v):
                return v == b_type
        for pdf in pdf_iter:
            rows.extend(r for r in _batch_rows(pdf, nk, None)
                        if is_a(r[2]) or is_b(r[2]))
        for t, eid, ty in sorted(rows):
            if is_a(ty):
                if not ts or t >= ts[-1]:
                    ts.append(t)
                    ids.append(eid)
                else:  # late arrival older than a carried anchor
                    pos = bisect.bisect_left(ts, t)
                    ts.insert(pos, t)
                    ids.insert(pos, eid)
            if is_b(ty) and ts:
                # answered anchors (at < t <= at + d) are a CONTIGUOUS
                # range [t - d, t) of the sorted list: two bisects and
                # one del instead of rebuilding the list per b event
                lo = bisect.bisect_left(ts, t - within_us)
                hi = bisect.bisect_left(ts, t)
                if hi > lo:
                    del ts[lo:hi]
                    del ids[lo:hi]
        # anchors already past the watermark horizon emit NOW (their
        # on-time answer window is closed); the rest arm the timer
        yield from emit(split_and_park(ts, ids))
    return step


def chain_absence_stepper(stage_bits: list[int], b_bit: int,
                          within_us: int,
                          strict: list[bool] | None = None,
                          key_cols: list[str] | None = None):
    """Streaming K-stage ANCHORED-CHAIN absence (r10 — replaces the
    round-9 refusal) [FLINK-API: Pattern.begin(a).followedBy(c)...
    .notFollowedBy(b).within(d) on a live stream]: the VERDICT-r9
    composition — the prefix pattern's match extraction machine (the
    relaxed skip-past-last automaton relaxed_matches_stepper pins)
    fused with the 2-stage absence timer machinery, arming the
    deadline timer PER EXTRACTED PREFIX MATCH instead of per bare
    anchor. One keyed state row carries the prefix registers (stage,
    anchor_id, anchor µs) plus the pending completed-prefix set as
    parallel arrays sorted by anchor time (a_t, a_id, e_t = the
    prefix's last-element µs). Per event: advance the prefix machine
    first (a completion at t parks with e_t = t); then a `b`-condition
    hit kills every pending entry in the batch anti-join's band
    (e_t < t AND t <= a_t + d — strict left edge, so a completion
    event satisfying b never kills itself). An anchor whose deadline
    a_t + d falls behind the event-time watermark emits as a surviving
    (keys, anchor_id) row — append mode, ≡ the batch composition's
    output restricted to watermark-passed deadlines. Same µs-deadline
    ceil-to-ms timer discipline as absence_stepper."""
    K = len(stage_bits)
    strict = strict or [False] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd

        def emit(rows):
            if rows:
                return [pd.DataFrame(
                    {**{kc: [key[i]] * len(rows)
                        for i, kc in enumerate(key_cols)},
                     "anchor_id": [i for _, i in rows]})]
            return []

        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        ceil_ms = lambda us: -(-us // 1000)

        def split_and_park(reg, a_t, a_id, e_t):
            # pending sorted by anchor t: due deadlines are a prefix
            pos = bisect.bisect_right(a_t, wm_us - within_us)
            due = list(zip(a_t[:pos], a_id[:pos]))
            if pos < len(a_t) or reg != (0, 0, 0):
                state.update((*reg, a_t[pos:], a_id[pos:], e_t[pos:]))
                if pos < len(a_t):
                    state.setTimeoutTimestamp(
                        max(ceil_ms(a_t[pos] + within_us), wm_ms + 1))
            elif state.exists:
                state.remove()
            return due

        if state.exists:
            st, aid, at, a_t, a_id, e_t = state.get
            reg = (st, aid, at)
            order = sorted(range(len(a_t)), key=lambda k: a_t[k])
            a_t = [a_t[k] for k in order]
            a_id = [a_id[k] for k in order]
            e_t = [e_t[k] for k in order]
        else:
            reg, a_t, a_id, e_t = (0, 0, 0), [], [], []
        if state.hasTimedOut:
            yield from emit(split_and_park(reg, a_t, a_id, e_t))
            return
        stage, anchor_id, anchor_t = reg
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, None))
        for t, eid, c in sorted(rows):
            # 1 — prefix automaton (≡ relaxed_matches_stepper)
            if stage > 0 and t - anchor_t > within_us:
                stage = 0
            if c & stage_bits[stage]:
                if stage == 0:
                    anchor_id, anchor_t = eid, t
                if stage == K - 1:
                    pos = bisect.bisect_left(a_t, anchor_t)
                    a_t.insert(pos, anchor_t)
                    a_id.insert(pos, anchor_id)
                    e_t.insert(pos, t)
                    stage = 0
                else:
                    stage += 1
            elif strict[stage] and stage > 0:
                if c & stage_bits[0]:
                    stage, anchor_id, anchor_t = 1, eid, t
                else:
                    stage = 0
            # 2 — absence veto over the pending set (band is strict at
            # e_t, so the completion above never kills itself)
            if c & b_bit and a_t:
                lo = bisect.bisect_left(a_t, t - within_us)
                keep = [i for i in range(lo, len(a_t))
                        if not (e_t[i] < t)]
                if len(keep) < len(a_t) - lo:
                    a_t = a_t[:lo] + [a_t[i] for i in keep]
                    a_id = a_id[:lo] + [a_id[i] for i in keep]
                    e_t = e_t[:lo] + [e_t[i] for i in keep]
        yield from emit(split_and_park(
            (stage, anchor_id, anchor_t), a_t, a_id, e_t))
    return step


def relaxed_matches_stepper(type_codes: dict[str, int] | None,
                            stage_codes: list[int],
                            within_us: int | None,
                            strict: list[bool] | None = None,
                            key_cols: list[str] | None = None):
    """Streaming MATCH EXTRACTION for the single-anchor skip-past-last
    machine [FLINK-API: PatternStream.select on the live stream]: state
    carries (n_matches, stage, anchor_id, anchor µs); each micro-batch
    APPENDS one row per newly-completed match with its bindings, so the
    union of emissions converges to the batch
    compile_pattern_matches rows — including matches whose anchor
    arrived in an earlier micro-batch."""
    K = len(stage_codes)
    strict = strict or [False] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        cnt, stage, anchor_id, anchor_t = (
            state.get if state.exists else (0, 0, 0, 0))
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, type_codes))
        out = []
        for t, eid, c in sorted(rows):
            if within_us is not None and stage > 0 \
                    and t - anchor_t > within_us:
                stage = 0
            if c & stage_codes[stage]:
                if stage == 0:
                    anchor_id, anchor_t = eid, t
                if stage == K - 1:
                    cnt += 1
                    out.append((cnt, anchor_id, eid, t - anchor_t))
                    stage = 0
                else:
                    stage += 1
            elif strict[stage] and stage > 0:
                if c & stage_codes[0]:
                    stage, anchor_id, anchor_t = 1, eid, t
                else:
                    stage = 0
        state.update((cnt, stage, anchor_id, anchor_t))
        if out:
            yield pd.DataFrame(
                {**{kc: [key[i]] * len(out)
                    for i, kc in enumerate(key_cols)},
                 "match_no": [m for m, *_ in out],
                 "start_event_id": [s for _, s, _, _ in out],
                 "end_event_id": [e for _, _, e, _ in out],
                 "span_us": [sp for *_, sp in out]})
    return step


def fork_matches_stepper(type_codes: dict[str, int] | None,
                         stage_codes: list[int],
                         within_us: int | None,
                         strict: list[bool] | None = None,
                         key_cols: list[str] | None = None):
    """Streaming match extraction for the FORKING NFA: state carries
    per-stage (t, id) anchor pairs as parallel arrays plus the running
    match count; every closing event APPENDS one row per surviving
    penultimate anchor — one close, possibly many matches, across
    micro-batch boundaries."""
    K = len(stage_codes)
    strict = strict or [False] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        if state.exists:
            got = state.get
            cnt = got[0]
            sets = [list(zip(got[1 + 2 * i], got[2 + 2 * i]))
                    for i in range(K - 1)]
        else:
            cnt, sets = 0, [[] for _ in range(K - 1)]
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, type_codes))
        out = []
        for t, eid, c in sorted(rows):
            if within_us is not None:
                sets = [[a for a in s if t - a[0] <= within_us]
                        for s in sets]
            match = [bool(c & stage_codes[i]) for i in range(K)]
            snap = [list(s) for s in sets]
            if match[K - 1]:
                for a_t, a_id in snap[K - 2]:
                    cnt += 1
                    out.append((cnt, a_id, eid, t - a_t))
            for i in range(K - 1):
                if strict[i + 1]:  # strict awaits drain-or-die
                    base = []
                else:
                    base = [] if match[i + 1] else snap[i]
                if match[i]:
                    incoming = [(t, eid)] if i == 0 else snap[i - 1]
                    sets[i] = base + incoming
                else:
                    sets[i] = base
        state.update((cnt,
                      *[x for s in sets
                        for x in ([a for a, _ in s], [b for _, b in s])]))
        if out:
            yield pd.DataFrame(
                {**{kc: [key[i]] * len(out)
                    for i, kc in enumerate(key_cols)},
                 "match_no": [m for m, *_ in out],
                 "start_event_id": [s for _, s, _, _ in out],
                 "end_event_id": [e for _, _, e, _ in out],
                 "span_us": [sp for *_, sp in out]})
    return step


def kmp_matches_stepper(type_codes: dict[str, int],
                        stage_codes: list[int],
                        key_cols: list[str] | None = None):
    """Streaming match extraction for STRICT chains (r9): the KMP
    stepper plus a ring buffer of the last K events' (t, id) — a
    fixed-string match always occupies the last K consecutive events,
    so on completion the buffer head IS the anchor. Appends one row
    per match; restart-after-match keeps the count non-overlapping,
    exactly the batch _strict_matches greedy fold."""
    K = len(stage_codes)
    fail = _kmp_failure(stage_codes)
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        from collections import deque

        import pandas as pd
        if state.exists:
            got = state.get
            cnt, j = got[0], got[1]
            buf = deque(zip(got[2], got[3]), maxlen=K)
        else:
            cnt, j, buf = 0, 0, deque(maxlen=K)
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, type_codes))
        out = []
        for t, eid, c in sorted(rows):
            buf.append((t, eid))
            while j > 0 and c != stage_codes[j]:
                j = fail[j]
            if c == stage_codes[j]:
                j += 1
            if j == K:
                cnt += 1
                a_t, a_id = buf[0]
                out.append((cnt, a_id, eid, t - a_t))
                j = 0  # restart: non-overlapping count
        state.update((cnt, j,
                      [a for a, _ in buf], [b for _, b in buf]))
        if out:
            yield pd.DataFrame(
                {**{kc: [key[i]] * len(out)
                    for i, kc in enumerate(key_cols)},
                 "match_no": [m for m, *_ in out],
                 "start_event_id": [s for _, s, _, _ in out],
                 "end_event_id": [e for _, _, e, _ in out],
                 "span_us": [sp for *_, sp in out]})
    return step


def fork_loop_matches_stepper(type_codes: dict[str, int] | None,
                              stage_codes: list[int], within_us: int,
                              strict: list[bool] | None = None,
                              key_cols: list[str] | None = None,
                              until_bit: int = 0,
                              consec: bool = False):
    """Streaming match extraction for the BOUNDED LOOP (fork_loop, r9):
    fork_matches_stepper plus the horizon-bounded loop array of (t, id)
    anchor pairs — each in-horizon closing event appends one match row
    per live anchor (fresh penultimate first, then parked loop — the
    same order the batch fold writes, so match numbering converges)
    and parks the fresh anchors. r13: `until_bit`/`consec` carry the
    count stepper's kill rules verbatim (fork_loop_stepper) so
    until()/consecutive() bindings stream too — previously an until()
    pattern reaching this stepper silently dropped the stop
    condition."""
    K = len(stage_codes)
    strict = strict or [False] * K
    key_cols = key_cols or ["key"]
    nk = len(key_cols)

    def step(key, pdf_iter, state):
        import pandas as pd
        if state.exists:
            got = state.get
            cnt = got[0]
            sets = [list(zip(got[1 + 2 * i], got[2 + 2 * i]))
                    for i in range(K - 1)]
            lp = list(zip(got[2 * K - 1], got[2 * K]))
        else:
            cnt, sets, lp = 0, [[] for _ in range(K - 1)], []
        rows = []
        for pdf in pdf_iter:
            rows.extend(_batch_rows(pdf, nk, type_codes))
        out = []
        for t, eid, c in sorted(rows):
            sets = [[a for a in s if t - a[0] <= within_us]
                    for s in sets]
            lp = [a for a in lp if t - a[0] <= within_us]
            match = [bool(c & stage_codes[i]) for i in range(K)]
            iu = bool(c & until_bit)
            snap = [list(s) for s in sets]
            if match[K - 1] and not iu:
                for a_t, a_id in snap[K - 2] + lp:
                    cnt += 1
                    out.append((cnt, a_id, eid, t - a_t))
                lp = lp + snap[K - 2]
            elif consec:
                lp = []  # non-match kills parked runs (until events
                # fall through to the iu clear below)
            for i in range(K - 1):
                if strict[i + 1]:
                    base = []
                else:
                    base = [] if match[i + 1] else snap[i]
                if match[i] and not (iu and i == K - 2):
                    incoming = [(t, eid)] if i == 0 else snap[i - 1]
                    sets[i] = base + incoming
                else:
                    sets[i] = base
            if iu:
                lp = []
                sets[K - 2] = []
        state.update((cnt,
                      *[x for s in sets
                        for x in ([a for a, _ in s],
                                  [b for _, b in s])],
                      [a for a, _ in lp], [b for _, b in lp]))
        if out:
            yield pd.DataFrame(
                {**{kc: [key[i]] * len(out)
                    for i, kc in enumerate(key_cols)},
                 "match_no": [m for m, *_ in out],
                 "start_event_id": [s for _, s, _, _ in out],
                 "end_event_id": [e for _, _, e, _ in out],
                 "span_us": [sp for *_, sp in out]})
    return step


def _key_schema(sdf: DataFrame, keys: list[str]) -> str:
    """The key columns' Spark SQL DDL for the output schemas — derived,
    not assumed, so string/int (and composite) keys stream too."""
    from pyspark.sql.types import AtomicType

    cols = []
    for k in keys:
        dt = sdf.schema[k].dataType
        if not isinstance(dt, AtomicType):
            raise NotImplementedError(
                f"streaming pattern() needs an atomic key column; "
                f"{k!r} is {dt.simpleString()}")
        cols.append(f"{k} {dt.simpleString()}")
    return ", ".join(cols)


def _masked(sdf: DataFrame, pat: Pattern, keys: list[str], time_col: str,
            tiebreak_col: str, event_col: str, *extra) -> DataFrame:
    """The mask steppers' positional input [FLINK-API: keyBy(a, b) —
    COMPOSITE keys]: keys first, then time, tiebreak and the condition
    MASK `__m` (computed JVM-side by _cond_mask_col, so where()/
    or_where() predicates never run per-row Python), then any value
    columns. The steppers echo every key column back by NAME."""
    return sdf.select(*keys, time_col, tiebreak_col,
                      _cond_mask_col(pat, event_col).alias("__m"), *extra)


def _sets_schema(K: int, *extra: str) -> str:
    """State schema of the forking steppers: the count, the K-1
    anchor-set arrays, then the machine's extra columns."""
    return "cnt long, " + ", ".join(
        [f"s{i} array<long>" for i in range(1, K)] + list(extra))


def _skip_state_schema(K: int) -> str:
    return ("cnt long, rn long, klo array<long>, khi array<long>"
            + "".join(f", s{i}t array<long>, s{i}i array<long>"
                      f", s{i}r array<long>, s{i}n array<long>"
                      for i in range(1, K)))


def compile_pattern_stream(pat: Pattern, sdf: DataFrame,
                           keys: list[str], time_col: str,
                           tiebreak_col: str, event_col: str) -> DataFrame:
    """Compile `pat` over a STREAMING keyed DataFrame into the
    keyed-state NFA (update-mode running counts; the LAST emission per
    key equals the batch answer once the stream drains — the
    convergence the streaming twins pin). ABSENCE patterns compile to
    the timer-driven unanswered-anchor stepper (append mode; requires a
    `withWatermark`'d input — Flink's notFollowedBy timers map to
    event-time timeouts). The refusals batch and streaming share live
    in the gate helpers both call (_zom_loop, _union_variants,
    _family, _payload_machine); only the stream-specific ones are
    here."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # every branch sets the stepper `fn`, its input `proj`, the output
    # columns after the keys and the state schema; the absence
    # branches also switch to append mode with event-time timers
    out_cols = "n_matches long"
    mode, timeout = "Update", GroupStateTimeout.NoTimeout
    loop_pat = _zom_loop(pat)
    variants = None if loop_pat is not None else _union_variants(pat)
    if loop_pat is not None:
        # streaming zeroOrMore (r11): both addends already had
        # steppers (prefix fork + fork loop); the batch match-set
        # partition argument (loop length 0 vs >= 1) is order-free, so
        # one state row runs them side by side and sums — see
        # zero_or_more_stepper
        if loop_pat._family() != "fork_loop":
            raise NotImplementedError(
                "streaming zeroOrMore carries the bounded fork-loop "
                "shape only — final relaxed one_or_more().optional() "
                "under within(d) + no_skip()")
        xp = loop_pat._expanded()
        K = len(xp.stages)
        proj = _masked(sdf, xp, keys, time_col, tiebreak_col, event_col)
        fn = zero_or_more_stepper(_stage_bits(xp), xp.within_us,
                                  _strict_flags(xp), key_cols=keys,
                                  until_bit=_until_bit(xp))
        state = _sets_schema(K, "lp array<long>",
                             *[f"p{i} array<long>" for i in range(1, K - 1)])
    elif variants is not None:
        # r10/r13: streaming optional()/times(a, b), stage or group —
        # the batch union-of-variants argument is ORDER-FREE (fixed
        # variants with disjoint binding shapes sum per key), so all
        # <=32 variant steppers run side by side on ONE keyed state row
        codes = _cond_codes(pat)
        bits = [[1 << (codes[s.cond_key()] - 1) for s in v.stages]
                for v in variants]
        proj = _masked(sdf, pat, keys, time_col, tiebreak_col, event_col)
        state = "cnt long" + "".join(
            f", v{vi}s{i} array<long>"
            for vi, b in enumerate(bits) for i in range(1, len(b)))
        fn = variant_union_stepper(bits, pat.within_us, key_cols=keys)
    elif getattr(pat, "_gzom", None) is not None:
        # streaming GROUP zeroOrMore (r13): prefix-only + back-edge
        # loop addends run side by side in one state row — see
        # group_zom_stepper for the sum-of-machines argument.
        pat._family()   # the shared group gates (within required)
        lo, hi = pat._gzom
        bits = _stage_bits(pat)
        proj = _masked(sdf, pat, keys, time_col, tiebreak_col, event_col)
        state = ("cnt long"
                 + "".join(f", s{i} array<long>"
                           for i in range(1, len(bits)))
                 + "".join(f", p{i} array<long>" for i in range(1, lo)))
        fn = group_zom_stepper(bits, hi - lo, pat.within_us,
                               key_cols=keys)
    else:
        fam = pat._family()
        if fam not in ("relaxed", "relaxed_within", "fork", "fork_loop",
                       "fork_group_loop", "absence", "absence_chain",
                       "strict", "any_dp", "any_dp_within",
                       "skip_strategy"):
            raise NotImplementedError(
                "streaming pattern() carries the relaxed followed_by "
                "machines (skip-past-last, bounded, no_skip, bounded "
                "one_or_more incl. looping groups), followed_by_any "
                "(counting DP), strict chains (KMP), timer-driven "
                "absence (2-stage and anchored-chain), and the "
                "skip_to_* strategies")
        payload = _payload_machine(pat, fam)
        xp = pat._expanded()
        K = len(xp.stages)
        if fam == "skip_strategy":
            # r10: streaming AfterMatchSkipStrategy counts — the
            # closing events arrive in exactly the batch prune's
            # candidate order, so the kill-interval prune runs inline
            proj = _masked(sdf, xp, keys, time_col, tiebreak_col,
                           event_col)
            state = _skip_state_schema(K)
            fn = skip_strategy_stepper(_stage_bits(xp), pat.skip,
                                       _skip_ref_index(pat),
                                       xp.within_us, key_cols=keys)
        elif payload == "loop_agg":
            # r11: streaming twin of _fork_loop_agg_machine — parked
            # runs carry (t, register, loop length) in parallel arrays
            agg = xp.stages[-1].agg
            proj = _masked(sdf, xp, keys, time_col, tiebreak_col,
                           event_col,
                           F.col(agg[1]).cast("double").alias("__v"))
            fn = fork_loop_agg_stepper(_stage_bits(xp), agg,
                                       xp.within_us, _strict_flags(xp),
                                       key_cols=keys,
                                       until_bit=_until_bit(xp))
            state = _sets_schema(K, "lp_t array<long>",
                                 "lp_r array<double>", "lp_n array<long>")
        elif payload == "fork_rel":
            # r10: streaming where_rel on the forking family — the
            # keyed-state twin of _fork_rel_machine (per-anchor payloads
            # as parallel t/value arrays in the state row)
            rels = [s.rel for s in xp.stages]
            fsrcs = [s.rel_src for s in xp.stages]
            acols = sorted({r[2] for r, sc in zip(rels, fsrcs)
                            if r and sc == "anchor"})
            pcols = sorted({r[2] for r, sc in zip(rels, fsrcs)
                            if r and sc == "prev"})
            vcols = sorted({r[0] for r in rels if r} | set(acols)
                           | set(pcols))
            proj = _masked(sdf, xp, keys, time_col, tiebreak_col,
                           event_col,
                           *[F.col(c).cast("double").alias(f"__v_{c}")
                             for c in vcols])
            state = "cnt long" + "".join(
                f", s{i}t array<long>" + "".join(
                    f", s{i}v{j} array<double>"
                    for j in range(len(acols)))
                + "".join(
                    f", s{i}p{j} array<double>"
                    for j in range(len(pcols)))
                for i in range(1, K))
            fn = fork_rel_stepper(_stage_bits(xp), rels, acols, vcols,
                                  xp.within_us, key_cols=keys,
                                  srcs=fsrcs, pcols=pcols)
        elif payload == "relaxed_rel":
            awaits = _await_stages(xp)
            rels = [s.rel for s in awaits]
            aggs = [s.agg for s in awaits]
            vcols = sorted({r[0] for r in rels if r}
                           | {r[2] for r in rels if r}
                           | {a[1] for a in aggs if a})
            nreg = (len({a[1] for a in aggs
                         if a and a[0] in ("sum", "avg")})
                    + len({a[1] for a in aggs if a and a[0] == "min"})
                    + len({a[1] for a in aggs if a and a[0] == "max"}))
            proj = _masked(sdf, xp, keys, time_col, tiebreak_col,
                           event_col,
                           *[F.col(c).cast("double").alias(f"__v_{c}")
                             for c in vcols])
            fn = relaxed_rel_stepper(_stage_bits(xp), rels, vcols,
                                     xp.within_us, _strict_flags(xp),
                                     key_cols=keys,
                                     veto=_veto_codes(xp),
                                     srcs=[s.rel_src for s in awaits],
                                     aggs=aggs)
            out_cols = "n_matches long, stage long"
            state = ("cnt long, stage long, anchor long"
                     + "".join(f", av{i} double"
                               for i in range(len(vcols)))
                     + "".join(f", pv{i} double"
                               for i in range(len(vcols)))
                     + "".join(f", rg{i} double" for i in range(nreg)))
        elif fam == "strict":
            # Fixed-string chains (next-chains; times(n) expands to
            # one) run on the KMP failure-function automaton (r9): O(K)
            # state, O(1)/event, equal to the batch regex's leftmost
            # non-overlapping count for ANY stage string — repeated
            # types (login→login→alert) included. Only one_or_more
            # (variable-length greedy) genuinely needs backtracking and
            # stays batch-side.
            if any(s.one_or_more for s in pat.stages):
                raise NotImplementedError(
                    "streaming strict chains do not carry one_or_more() "
                    "(unbounded backtracking); run in batch mode (the "
                    "regex path)")
            _no_preds(pat, "streaming strict pattern()")
            proj = sdf.select(*keys, time_col, tiebreak_col, event_col)
            fn = kmp_stepper(_type_codes(xp), _stage_codes(xp),
                             key_cols=keys)
            out_cols = "n_matches long, stage long"
            state = "cnt long, stage long"
        elif fam == "absence":
            if pat._has_preds():
                if pat.stages[0].cond_key() == pat.stages[1].cond_key():
                    raise NotImplementedError(
                        "streaming absence with identical anchor and "
                        "answer conditions is not compiled — run in "
                        "batch mode (the anti-join handles it)")
                proj = _masked(sdf, pat, keys, time_col, tiebreak_col,
                               event_col)
                fn = absence_stepper("", "", pat.within_us,
                                     key_cols=keys, mask_mode=True)
            else:
                proj = sdf.select(*keys, time_col, tiebreak_col,
                                  event_col)
                fn = absence_stepper(pat.stages[0].event_type,
                                     pat.stages[1].event_type,
                                     pat.within_us, key_cols=keys)
            out_cols = "anchor_id long"
            state = "t_arr array<long>, id_arr array<long>"
            mode, timeout = "Append", GroupStateTimeout.EventTimeTimeout
        elif fam == "absence_chain":
            # r10: streaming anchored-CHAIN absence — the batch
            # composition (prefix match extraction anti-joined over the
            # band) becomes ONE stepper: the relaxed skip-past-last
            # extraction automaton fused with the 2-stage timer
            # machinery, deadline armed per extracted prefix match (see
            # chain_absence_stepper)
            if pat.skip == "no_skip":
                raise NotImplementedError(
                    "streaming anchored-chain absence carries the "
                    "skip-past-last prefix only — a noSkip prefix forks "
                    "overlapping matches whose pending deadlines would "
                    "need per-run payloads; run in batch mode (the "
                    "composition handles it)")
            if _has_mid_nfb(pat):
                raise NotImplementedError(
                    "streaming anchored-chain absence with a mid-pattern "
                    "not_followed_by is not compiled — run in batch mode")
            proj = _masked(sdf, xp, keys, time_col, tiebreak_col,
                           event_col)
            b_bit = 1 << (_cond_codes(xp)[xp.stages[-1].cond_key()] - 1)
            fn = chain_absence_stepper(
                _stage_bits(xp), b_bit, xp.within_us,
                _strict_flags(xp), key_cols=keys)
            out_cols = "anchor_id long"
            state = ("stage long, aid long, at long, a_t array<long>, "
                     "a_id array<long>, e_t array<long>")
            mode, timeout = "Append", GroupStateTimeout.EventTimeTimeout
        else:
            proj = _masked(sdf, xp, keys, time_col, tiebreak_col,
                           event_col)
            scodes = _stage_bits(xp)
            K = len(scodes)  # awaits only — mid-pattern NFB stages veto
            sflags = _strict_flags(xp)
            vcodes = _veto_codes(xp)
            w = xp.within_us
            if fam == "any_dp":
                state = ", ".join(f"c{i} long" for i in range(1, K + 1))
                fn = any_dp_stepper(scodes, key_cols=keys)
            elif fam == "any_dp_within":
                state = "cnt long, t array<long>, " + ", ".join(
                    f"n{j} array<long>" for j in range(K - 1))
                fn = any_table_stepper(scodes, w, key_cols=keys)
            elif fam == "relaxed":
                out_cols = "n_matches long, stage long"
                state = "cnt long, stage long"
                fn = relaxed_stepper(None, scodes, sflags, key_cols=keys,
                                     veto=vcodes)
            elif fam == "relaxed_within":
                out_cols = "n_matches long, stage long"
                state = "cnt long, stage long, anchor long"
                fn = relaxed_within_stepper(None, scodes, w, sflags,
                                            key_cols=keys, veto=vcodes)
            elif fam == "fork_group_loop":
                state = _sets_schema(K)
                glo, ghi = xp._gloop
                fn = fork_group_loop_stepper(scodes, ghi - glo, w,
                                             key_cols=keys)
            elif fam == "fork_loop" and xp.stages[-1].combos:
                _refuse_one_stage_combos(xp)
                state = _sets_schema(K, "lp_t array<long>",
                                     "lp_c array<long>")
                fn = fork_loop_combos_stepper(scodes, w, sflags,
                                              key_cols=keys,
                                              until_bit=_until_bit(xp))
            elif fam == "fork_loop":
                state = _sets_schema(K, "lp array<long>")
                fn = fork_loop_stepper(None, scodes, w, sflags,
                                       key_cols=keys,
                                       until_bit=_until_bit(xp),
                                       consec=xp.stages[-1].consec)
            else:
                state = _sets_schema(K)
                fn = fork_stepper(None, scodes, w, sflags, key_cols=keys,
                                  veto=vcodes)
    return proj.groupBy(*keys).applyInPandasWithState(
        fn, outputStructType=f"{_key_schema(sdf, keys)}, {out_cols}",
        stateStructType=state, outputMode=mode, timeoutConf=timeout)


def compile_pattern_timeouts_stream(pat: Pattern, sdf: DataFrame,
                                    keys: list[str], time_col: str,
                                    tiebreak_col: str,
                                    event_col: str) -> DataFrame:
    """Streaming twin of compile_pattern_timeouts — append-mode
    timed-out-partial rows, emitted on event-observed expiry or
    watermark-passed deadlines (timer). Same gates as batch
    (_timeouts_gates)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    xp = _timeouts_gates(pat)
    proj = _masked(sdf, xp, keys, time_col, tiebreak_col, event_col)
    fn = timeout_stepper(_stage_bits(xp), xp.within_us,
                         _strict_flags(xp), key_cols=keys,
                         veto=_veto_codes(xp))
    return proj.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=f"{_key_schema(sdf, keys)}, anchor_id long, "
                         "stages_matched long, timeout_at_us long",
        stateStructType="stage long, aid long, at long",
        outputMode="Append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout)


def compile_pattern_matches_stream(pat: Pattern, sdf: DataFrame,
                                   keys: list[str], time_col: str,
                                   tiebreak_col: str,
                                   event_col: str) -> DataFrame:
    """Streaming `pattern_matches()` [FLINK-API: PatternStream.select
    on a live stream]: the keyed-state steppers carry anchor BINDINGS
    (not just counts) and append one row per newly-completed match —
    (key, match_no, start_event_id, end_event_id, span_us) — so a match
    whose anchor arrived three micro-batches ago still emits exact
    bindings. Append output mode: each match is emitted exactly once;
    the accumulated sink equals the batch compile_pattern_matches.
    Same gates as batch (_matches_gates) — so an until() pattern can
    never reach a stepper that ignores its stop condition."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    fam, xp = _matches_gates(pat)
    K = len(xp.stages)
    sflags = _strict_flags(xp)
    if fam == "skip_strategy":
        # r11: the counts stepper already runs the kill-interval prune
        # inline and survivals happen in exactly the batch prune's
        # candidate order — so bindings emission is the same stepper
        # in append mode, one row per surviving candidate
        proj = _masked(sdf, xp, keys, time_col, tiebreak_col, event_col)
        state = _skip_state_schema(K)
        fn = skip_strategy_stepper(_stage_bits(xp), pat.skip,
                                   _skip_ref_index(pat), xp.within_us,
                                   key_cols=keys, bindings=True)
    elif fam == "strict":
        _no_preds(xp, "streaming strict pattern_matches()")
        proj = sdf.select(*keys, time_col, tiebreak_col, event_col)
        state = ("cnt long, stage long, buf_t array<long>, "
                 "buf_id array<long>")
        fn = kmp_matches_stepper(_type_codes(xp), _stage_codes(xp),
                                 key_cols=keys)
    else:
        # relaxed family: the mask column carries the (possibly
        # predicate-refined, possibly overlapping) stage conditions
        proj = _masked(sdf, xp, keys, time_col, tiebreak_col, event_col)
        scodes = _stage_bits(xp)
        if fam == "fork_loop":
            state = "cnt long, " + ", ".join(
                [f"s{i}_t array<long>, s{i}_id array<long>"
                 for i in range(1, K)]
                + ["lp_t array<long>", "lp_id array<long>"])
            fn = fork_loop_matches_stepper(None, scodes, xp.within_us,
                                           sflags, key_cols=keys,
                                           until_bit=_until_bit(xp),
                                           consec=xp.stages[-1].consec)
        elif fam == "fork":
            state = "cnt long, " + ", ".join(
                f"s{i}_t array<long>, s{i}_id array<long>"
                for i in range(1, K))
            fn = fork_matches_stepper(None, scodes, xp.within_us,
                                      sflags, key_cols=keys)
        else:
            state = ("cnt long, stage long, anchor_id long, "
                     "anchor_t long")
            fn = relaxed_matches_stepper(None, scodes, xp.within_us,
                                         sflags, key_cols=keys)
    return proj.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=f"{_key_schema(sdf, keys)}, match_no long, "
                         "start_event_id long, end_event_id long, "
                         "span_us long",
        stateStructType=state, outputMode="Append",
        timeoutConf=GroupStateTimeout.NoTimeout)
