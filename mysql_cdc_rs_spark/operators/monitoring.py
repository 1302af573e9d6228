"""Action-strategy message routing (R4).

Reference: incoming wss messages dispatch by ActionType via a strategy
factory (reference web/src/wss/strategy/factory.rs:42-57;
/root/reference/web/src/wss/wss_action_type.rs: CONNECTION=0,
StartBinlog=1, IGNORE=10, Unknown=-1 — StartBinlog gets a real handler,
IGNORE is dropped, everything else falls to the Unknown strategy).

Spark-first restatement: message routing is a single routing COLUMN + one
pass (the R1 fan-out machinery), never per-message dispatch: strategies
register into a factory dict exactly like register.rs; unregistered actions
fall through to the ``unknown`` strategy; IGNORE routes to ``ignored`` with
no payload.  At 10^12 messages this is one narrow projection — no UDF, no
shuffle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# action -> payload Column factory (takes the messages DataFrame's columns)
_STRATEGIES: dict[str, Callable[[DataFrame], Column]] = {}

ACTION_IGNORE = "IGNORE"
ROUTE_HANDLED = "handled"
ROUTE_IGNORED = "ignored"
ROUTE_UNKNOWN = "unknown"


def register_wss_strategy(action: str):
    """Register a payload strategy for an action type (register.rs analog)."""

    def deco(fn: Callable[[DataFrame], Column]):
        _STRATEGIES[action] = fn
        return fn

    return deco


def registered_actions() -> list[str]:
    return sorted(_STRATEGIES)


@register_wss_strategy("StartBinlog")
def _start_binlog(msgs: DataFrame) -> Column:
    """StartBinlogStrategyEvent analog: acknowledge with the request data."""
    return F.concat(F.lit("binlog-started:"), F.coalesce(F.col("data"), F.lit("")))


def dispatch_messages(msgs: DataFrame) -> DataFrame:
    """(.., action, data) -> (.., route, payload) in ONE column-only pass.

    route: 'handled' (registered strategy), 'ignored' (IGNORE — the
    reference returns no response), 'unknown' (fall-through strategy,
    payload names the unhandled action like UnknownStrategyEvent does).
    """
    payload = None
    for action, fn in sorted(_STRATEGIES.items()):
        p = fn(msgs)
        payload = (
            p
            if payload is None
            else F.when(F.col("action") == action, p).otherwise(payload)
        )
    # full CASE: registered -> handled, IGNORE -> ignored, else unknown
    is_reg = F.col("action").isin(registered_actions())
    is_ign = F.col("action") == ACTION_IGNORE
    route_col = (
        F.when(is_reg, F.lit(ROUTE_HANDLED))
        .when(is_ign, F.lit(ROUTE_IGNORED))
        .otherwise(F.lit(ROUTE_UNKNOWN))
    )
    payload_col = (
        F.when(is_reg, payload)
        .when(is_ign, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("unknown-action:"), F.col("action")))
    )
    return msgs.withColumn("route", route_col).withColumn("payload", payload_col)
