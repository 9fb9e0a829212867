"""Rule registry — the control plane of the active warehouse.

The reference keeps rules in Flink broadcast state, upserted by
``common/ProcessingUtils.java:18-29`` and expired/refreshed in
``operator/DynamicKeyFunction.java:62-66,120-128``. Here the registry
is a driver-side table (rules are control data: few and tiny — the
data plane stays fully distributed), optionally persisted to a JSON
file so a restarted pipeline resumes with the same standing queries.

Covers SURVEY §2.7: C1 upsert/delete, C2 re-trigger refresh, C3/F4 TTL
expiry, C4 CONTROL verbs (DELETE_RULES_ALL / CLEAR_STATE_ALL /
CLEAR_STATE_ALL_STOP / EXPORT_RULES_CURRENT).
"""

from __future__ import annotations

import logging
import os
import time
from collections import Counter
from dataclasses import dataclass, field

from activedatawarehouseprototype_spark.rules.model import (
    ControlType,
    Rule,
    RuleState,
)


_log = logging.getLogger(__name__)


def _now_ms() -> int:
    return time.time_ns() // 1_000_000


@dataclass
class RuleRegistry:
    persist_path: str | None = None
    rules: dict[int, Rule] = field(default_factory=dict)
    # set by CLEAR_STATE_ALL*/EXPORT control verbs; consumed by the loop
    clear_state_requested: bool = False
    stop_requested: bool = False
    exported: list[Rule] = field(default_factory=list)
    # rule JSON dropped on the way in (apply_json, load), by reason:
    # the parse error's class name, or "no queryId"
    dropped: Counter = field(default_factory=Counter)

    # -- C1 upsert/delete + C2 re-trigger refresh ------------------------

    def apply(self, rule: Rule, now_ms: int | None = None) -> None:
        """Apply one incoming rule message (the broadcast-element path,
        DynamicKeyFunction.processBroadcastElement:108-144)."""
        now = _now_ms() if now_ms is None else now_ms
        if rule.query_state is RuleState.CONTROL:
            self._control(rule)
            return
        if rule.query_state is RuleState.DELETE:
            self.rules.pop(rule.query_id, None)
            self._persist()
            return
        # C2: an incoming rule matching an existing one on
        # (windowFilterRules, activeId) is a re-trigger of the same
        # standing query — reuse its id, refresh its expiry
        # (DynamicKeyFunction.java:120-128). DOCUMENTED DEVIATION: the
        # reference matches on (activeId, filters) alone, which
        # collapses SIBLING ECA children — two templates of one parent
        # spawn with the same active_id and (after key pinning)
        # identical filters, so the second child would overwrite the
        # first and one standing query silently vanishes. The match
        # here additionally requires the aggregation signature, so a
        # true re-trigger (the identical query re-sent) still refreshes
        # in place while distinct sibling templates coexist.
        if rule.active_id is not None:
            for existing in self.rules.values():
                if (
                    existing.active_id == rule.active_id
                    and [f.to_dict() for f in existing.window_filter_rules]
                    == [f.to_dict() for f in rule.window_filter_rules]
                    and existing.aggregator_function_type
                    == rule.aggregator_function_type
                    and existing.aggregate_field_name
                    == rule.aggregate_field_name
                    and existing.limit_operator_type
                    == rule.limit_operator_type
                    and existing.limit == rule.limit
                    and existing.window_milliseconds
                    == rule.window_milliseconds
                    and existing.frequency_milliseconds
                    == rule.frequency_milliseconds
                ):
                    rule.query_id = existing.query_id
                    if rule.last_time and rule.last_time > 0:
                        rule.active_time = now + rule.last_time
                    break
        # ACTIVE and PAUSE both sit in the registry; only ACTIVE is
        # evaluated (ProcessingUtils.java:18-29).
        self.rules[rule.query_id] = rule
        self._persist()

    def apply_json(self, s: str, now_ms: int | None = None) -> None:
        """Parse-and-apply; unparseable rules are dropped like the
        reference's RuleDeserializer (rule/RuleDeserializer.java:23-40),
        and counted in ``dropped``."""
        rule = self._parse(s)
        if rule is None:
            return
        if rule.query_id is None and rule.query_state is not RuleState.CONTROL:
            self._drop("no queryId", s)
            return
        self.apply(rule, now_ms)

    def _parse(self, s: str) -> Rule | None:
        try:
            return Rule.from_json(s)
        except Exception as e:
            self._drop(type(e).__name__, s)
            return None

    def _drop(self, reason: str, s: str) -> None:
        self.dropped[reason] += 1
        _log.warning("rule JSON dropped (%s): %.200s", reason, s.strip())

    # -- C3/F4 TTL expiry -------------------------------------------------

    def sweep_expired(self, now_ms: int | None = None) -> list[Rule]:
        """Delete rules past their expiry instant
        (DynamicKeyFunction.java:62-66: activeTime set, passed, and
        lastTime > 0). Returns the expired rules."""
        now = _now_ms() if now_ms is None else now_ms
        expired = [
            r
            for r in self.rules.values()
            if r.active_time is not None
            and r.active_time < now
            and (r.last_time or 0) > 0
        ]
        for r in expired:
            del self.rules[r.query_id]
        if expired:
            self._persist()
        return expired

    # -- C4 CONTROL verbs --------------------------------------------------

    def _control(self, rule: Rule) -> None:
        ct = rule.control_type
        if ct is ControlType.DELETE_RULES_ALL:
            self.rules.clear()
            self._persist()
        elif ct is ControlType.CLEAR_STATE_ALL:
            self.clear_state_requested = True
        elif ct is ControlType.CLEAR_STATE_ALL_STOP:
            self.clear_state_requested = True
            self.stop_requested = True
        elif ct is ControlType.EXPORT_RULES_CURRENT:
            self.exported = list(self.rules.values())

    # -- reads -------------------------------------------------------------

    def active(self) -> list[Rule]:
        return [r for r in self.rules.values() if r.query_state is RuleState.ACTIVE]

    def widest_window_ms(self) -> int:
        """Eviction horizon = widest ACTIVE window (the reference tracks
        this under WIDEST_RULE_KEY, DynamicQueryFunction.java:311-327)."""
        return max(
            (r.window_milliseconds or 0 for r in self.active()), default=0
        )

    # -- persistence ---------------------------------------------------------

    def _persist(self) -> None:
        if not self.persist_path:
            return
        tmp = self.persist_path + ".tmp"
        with open(tmp, "w") as f:
            for r in self.rules.values():
                f.write(r.to_json() + "\n")
        os.replace(tmp, self.persist_path)

    @classmethod
    def load(cls, persist_path: str) -> "RuleRegistry":
        reg = cls(persist_path=persist_path)
        if os.path.exists(persist_path):
            with open(persist_path) as f:
                for line in f:
                    if not line.strip():
                        continue
                    # drop-on-error parity with apply_json (the
                    # RuleDeserializer contract): one corrupted line
                    # must not abort startup and take down every
                    # healthy standing query; id-less lines are
                    # rejected the same way apply_json rejects them
                    r = reg._parse(line)
                    if r is None:
                        continue
                    if r.query_id is None:
                        reg._drop("no queryId", line)
                        continue
                    reg.rules[r.query_id] = r
        return reg
