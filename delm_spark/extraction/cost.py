"""Cost tracking and budget enforcement (E10/E11).

The reference tracks tokens with tiktoken and multiplies by a per-model
price table, checking a budget between batches
(/root/reference/src/delm/utils/cost_tracker.py:34-75,
core/extraction_manager.py:193-195). Here token counts are columns the
extraction UDF already emits (`delm_input_tokens`/`delm_output_tokens`,
~4-chars/token estimate); totals are one aggregation, and the budget check
runs driver-side between stage actions — a coarser guarantee than the
reference's per-chunk check (a running Spark stage cannot be preempted
mid-action), documented per SURVEY §7.4.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delm_spark.extraction.extract import IN_TOKENS_COL, OUT_TOKENS_COL

#: USD per 1M tokens (input, output). Same shape and values as the
#: reference's price DB (utils/model_price_database.py:9-119 — public list
#: prices); flat keys ("model" or "provider/model") instead of tuples.
PRICE_PER_1M: dict[str, tuple[float, float]] = {
    "gpt-4.1": (2.00, 8.00),
    "gpt-4.1-mini": (0.40, 1.60),
    "gpt-4.1-nano": (0.10, 0.40),
    "o3": (2.00, 8.00),
    "o4-mini": (1.10, 4.40),
    "gpt-4o": (5.00, 20.00),
    "gpt-4o-mini": (0.60, 2.40),
    "claude-opus-4-20250514": (15.00, 75.00),
    "claude-sonnet-4-20250514": (3.00, 15.00),
    "claude-3-7-sonnet-20250219": (3.00, 15.00),
    "claude-3-5-sonnet-20241022": (3.00, 15.00),
    "claude-3-5-haiku-20241022": (0.80, 4.00),
    "deterministic-rules": (0.0, 0.0),  # the in-sandbox backend is free
}


def lookup_price(model: str) -> tuple[float, float]:
    """Price lookup tolerant of 'provider/model' strings (the reference
    keys on (provider, model), model_price_database.py:121-160)."""
    key = model.split("/", 1)[-1]
    return PRICE_PER_1M.get(key, PRICE_PER_1M.get(model, (0.0, 0.0)))


@dataclass
class CostSummary:
    input_tokens: int
    output_tokens: int
    cost_usd: float
    #: tokens served from the persistent cache this run — informational;
    #: they add NO cost (reference cost_tracker.py:43-57: cache hits are
    #: free; a fully-warm run reports cost_usd == 0)
    cached_input_tokens: int = 0
    cached_output_tokens: int = 0


def summarize_cost(extracted: DataFrame, model: str = "deterministic-rules") -> CostSummary:
    """One aggregation over the extraction output's token columns.

    In dedup mode the join fans per-distinct-text token counts back out to
    every duplicate row; cost is per extraction CALL (the reference's cache
    hits add no cost, cost_tracker.py:43-57), so sum over distinct cache
    keys when the key column is present, and rows served from the
    persistent cache (delm_cache_hit) are tallied separately at zero cost —
    a warm rerun with zero backend calls reports cost_usd == 0."""
    from delm_spark.constants import CACHE_HIT_COL, CACHE_KEY_COL

    if CACHE_KEY_COL in extracted.columns:
        extracted = extracted.dropDuplicates([CACHE_KEY_COL])
    hit = (
        F.col(CACHE_HIT_COL)
        if CACHE_HIT_COL in extracted.columns
        else F.lit(False)
    )
    fresh = F.when(~F.coalesce(hit, F.lit(False)), F.lit(1)).otherwise(F.lit(0))
    row = extracted.agg(
        F.coalesce(F.sum(F.col(IN_TOKENS_COL) * fresh), F.lit(0)).alias("it"),
        F.coalesce(F.sum(F.col(OUT_TOKENS_COL) * fresh), F.lit(0)).alias("ot"),
        F.coalesce(F.sum(F.col(IN_TOKENS_COL) * (1 - fresh)), F.lit(0)).alias("cit"),
        F.coalesce(F.sum(F.col(OUT_TOKENS_COL) * (1 - fresh)), F.lit(0)).alias("cot"),
    ).collect()[0]
    p_in, p_out = lookup_price(model)
    cost = row["it"] / 1e6 * p_in + row["ot"] / 1e6 * p_out
    return CostSummary(
        int(row["it"]), int(row["ot"]), cost, int(row["cit"]), int(row["cot"])
    )


class BudgetExceededError(RuntimeError):
    """Raised when a stage would be scheduled past the configured
    max_budget (reference extraction_manager.py:193-195: processing stops
    once accumulated spend crosses the budget; completed results are
    kept)."""


def estimate_input_cost(
    chunks: DataFrame, text_col: str, model: str = "gpt-4o-mini"
) -> float:
    """Pre-flight input-token cost estimate (reference
    utils/cost_estimation.py:29-107): length/4 token proxy, native agg."""
    toks = chunks.agg(
        F.coalesce(F.sum(F.ceil(F.length(text_col) / 4)), F.lit(0)).alias("t")
    ).collect()[0]["t"]
    return toks / 1e6 * lookup_price(model)[0]
