"""Agent-trajectory analytics over transcript tables: tool-sequence
mining and canonical-entity timelines (north-star extensions).

The input table (conv_id, turn_idx, role, text, tool, ts) is an *agent*
transcript: tool turns record which tool the agent invoked. Two analyses
a transcript-curation pipeline runs before using the corpus as training
data:

- `tool_sequences` — frequent consecutive tool n-grams ("which tool
  chains do agents actually execute"), the support table behind
  trajectory filtering (drop conversations exercising only degenerate
  chains) and behind curriculum mixing by tool diversity.
- `entity_timeline` — per canonical entity: first/last mention time,
  mention counts, conversation spread. The temporal companion to
  `kg/analytics.triple_provenance`: an entity asserted by one
  conversation in one minute is a different trust class from one
  mentioned across months.

The reference (Center-for-Applied-AI/delm) has no trajectory or temporal
analytics (its pipeline is per-record extraction only, `src/delm/delm.py`);
these follow the repo's oracle discipline — exact integer arithmetic
(epoch seconds, counts), so DuckDB re-derives every value bit-for-bit.

Scale notes (100 TB / 1000-executor framing):

- `tool_sequences`: ONE shuffle on conv_id for the per-conversation
  window (lead over turn order), then one map-side-combinable
  aggregation on the n-gram string. The window partition is a single
  conversation — bounded by conversation length, never corpus-wide, so
  hot conversations skew a partition by at most their own turn count.
- `entity_timeline`: the triple side joins the transcript side on the
  natural key (conv_id, turn_idx) — a sort-merge join both sides of
  which are already hash-distributed by conv_id in the pipeline, then
  one aggregation on entity id. No broadcast of the corpus, no
  all-pairs structure; a hyper-frequent entity lands on one reducer
  with partial aggregates only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def tool_sequences(transcripts: DataFrame, n: int = 2) -> DataFrame:
    """Consecutive tool n-grams across conversations with support counts.

    A tool n-gram is `n` successive tool turns (rows with role='tool'
    and a non-null tool) of one conversation in turn order — successive
    among tool turns, i.e. user/assistant turns in between do not break
    the chain (the standard sequence-mining view of an agent trajectory).

    Returns (tool_seq, n_occurrences, n_convs). `tool_seq` joins tool
    names with '>'.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.filter(
        (F.col("role") == "tool") & F.col("tool").isNotNull()
    )
    steps = [F.col("tool")] + [
        F.lead("tool", i).over(w) for i in range(1, n)
    ]
    grams = t.select(
        F.col("conv_id").alias("__conv"),
        F.concat_ws(">", *steps).alias("tool_seq"),
        steps[-1].alias("__last"),
    ).filter(F.col("__last").isNotNull())
    return (
        grams.groupBy("tool_seq")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("__conv").alias("n_convs"),
        )
        # drops n-grams seen only under a null conv_id
        .filter(F.col("n_convs") >= 1)
    )


def entity_timeline(triples: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Temporal profile per canonical entity.

    Joins the extracted triples back to the transcript turns they came
    from (natural key conv_id, turn_idx) and aggregates per entity
    (appearing as subject or object):

      n_mentions    — total triple endpoints naming the entity,
      n_convs       — distinct conversations,
      first_ts, last_ts — epoch seconds (BIGINT) of the earliest and
                      latest mentioning turn,
      span_sec      — last_ts - first_ts, the entity's active span.
    """
    ts_map = transcripts.select(
        F.col("conv_id").alias("__conv"),
        F.col("turn_idx").alias("__turn"),
        F.col("ts").cast("long").alias("__epoch"),
    )
    ents = triples.select(
        F.col("conv_id").alias("__conv"),
        F.col("turn_idx").alias("__turn"),
        F.explode(F.array(F.col("subj_id"), F.col("obj_id"))).alias("entity"),
    )
    joined = ents.join(ts_map, ["__conv", "__turn"])
    return joined.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("__conv").alias("n_convs"),
        F.min("__epoch").alias("first_ts"),
        F.max("__epoch").alias("last_ts"),
        (F.max("__epoch") - F.min("__epoch")).alias("span_sec"),
    )


#: full severity chain, most severe first — the order disposition picks
INTEGRITY_RULES = (
    "dup_turn_idx",
    "gap_turn_idx",
    "ts_regression",
    "role_repeat",
    "empty_text",
)

_RULE_COUNTER = {
    "dup_turn_idx": "n_dup_turn_idx",
    "gap_turn_idx": "n_gap_turn_idx",
    "ts_regression": "n_ts_regressions",
    "role_repeat": "n_role_repeats",
    "empty_text": "n_empty_text",
}


def transcript_integrity(transcripts: DataFrame) -> DataFrame:
    """Per-conversation structural QA over the transcript table — the
    admission gate a 10^12-turn corpus needs BEFORE extraction: a
    conversation with duplicated or missing turn indices, out-of-order
    timestamps, stuck roles, or empty turns produces garbage triples and
    should be quarantined, not extracted.

    One window pass (lag over turn order within a conversation) feeds
    one aggregation on conv_id — the window partition is a single
    conversation (bounded by its own turn count, never corpus-wide), and
    the groupBy reuses the window's hash distribution, so the whole gate
    is a single shuffle. Exact integer counters:

      n_turns             — rows in the conversation,
      n_dup_turn_idx      — rows beyond the first per turn_idx,
      n_gap_turn_idx      — missing indices in [0, max(turn_idx)],
      n_ts_regressions    — turns whose ts < the previous turn's ts,
      n_role_repeats      — turns repeating the previous turn's role,
      n_empty_text        — null-or-blank text turns,
      n_tool_turns        — turns with a tool recorded,
      disposition         — first failing rule in the fixed severity
                            order dup_turn_idx > gap_turn_idx >
                            ts_regression > role_repeat > empty_text,
                            else 'ok' (the first-drop-wins discipline of
                            curate.run_curation).

    Gating a corpus is this report plus a `left_semi` join of the
    transcripts on the `conv_id`s a caller accepts (`disposition == 'ok'`,
    or a filter on the counters when some rules should only report:
    agent transcripts legitimately repeat roles, assistant tool call then
    assistant text).
    """
    # (ts, role) tiebreak: with duplicated turn indices (exactly the
    # corruption this gate detects) a turn_idx-only order would leave
    # the lag neighbors engine-dependent; the full key is a total order
    # on every lag-compared column, so counts are deterministic
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", "role")
    flagged = transcripts.select(
        "conv_id",
        F.col("turn_idx").alias("__turn"),
        F.when(F.col("ts") < F.lag("ts").over(w), 1)
        .otherwise(0)
        .alias("__ts_reg"),
        F.when(F.col("role") == F.lag("role").over(w), 1)
        .otherwise(0)
        .alias("__role_rep"),
        F.when(
            F.col("text").isNull() | (F.trim(F.col("text")) == ""), 1
        )
        .otherwise(0)
        .alias("__empty"),
        F.when(
            F.col("tool").isNotNull() & (F.col("tool") != ""), 1
        )
        .otherwise(0)
        .alias("__tool"),
    )
    agg = flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        (F.count(F.lit(1)) - F.countDistinct("__turn"))
        .cast("long")
        .alias("n_dup_turn_idx"),
        (F.max("__turn") + 1 - F.countDistinct("__turn"))
        .cast("long")
        .alias("n_gap_turn_idx"),
        F.sum("__ts_reg").cast("long").alias("n_ts_regressions"),
        F.sum("__role_rep").cast("long").alias("n_role_repeats"),
        F.sum("__empty").cast("long").alias("n_empty_text"),
        F.sum("__tool").cast("long").alias("n_tool_turns"),
    )
    disposition = F.lit("ok")
    # build the when-chain back-to-front so severity order is preserved
    for rule in reversed(INTEGRITY_RULES):
        disposition = F.when(
            F.col(_RULE_COUNTER[rule]) > 0, F.lit(rule)
        ).otherwise(disposition)
    return agg.select("*", disposition.alias("disposition"))


def context_windows(transcripts: DataFrame, k: int = 3) -> DataFrame:
    """Rolling conversational context per turn — the north star's
    "window-ordered turn assembly" as a standalone operator: each turn
    paired with its previous `k` turns rendered `role: text` and joined
    with newlines, the prompt-context block a context-aware extraction
    backend consumes.

    One shuffle (conv_id window); the frame is rowsBetween(-k, -1) so
    a hot conversation costs O(k * its own turn count), never
    corpus-wide state. Output adds:

      context          — previous-k-turn block ('' for turn 0),
      n_context_turns  — rows actually in the frame (< k at the head).

    Deterministic under duplicated turn indices via the same total
    order as transcript_integrity (turn, ts, role)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "ts", "role")
        .rowsBetween(-k, -1)
    )
    line = F.concat_ws(": ", F.col("role"), F.coalesce(F.col("text"), F.lit("")))
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.concat_ws("\n", F.collect_list(line).over(w)).alias("context"),
        F.size(F.collect_list(line).over(w)).cast("long").alias("n_context_turns"),
    )


def turn_latency(transcripts: DataFrame) -> DataFrame:
    """Per-conversation response-latency profile in exact integer epoch
    seconds — the transcript-QA companion to transcript_integrity: a
    conversation whose assistant turns arrive hours apart is a different
    training class from a tight interactive session, and latency
    percentiles are what an agent-infra team actually monitors.

    One conv_id shuffle (lag window) feeding one aggregation that reuses
    the window's hash distribution. Exact integers only (sums + counts +
    maxes, no floats) so DuckDB re-derives every value:

      n_turns            — rows,
      span_sec           — last ts - first ts,
      sum_latency_sec    — sum of consecutive-turn deltas (= span when
                           timestamps are monotone),
      max_latency_sec    — largest single gap,
      asst_n             — assistant turns with a predecessor,
      asst_sum_latency_sec / asst_max_latency_sec — gaps preceding
                           assistant turns (user-perceived wait)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", "role")
    delta = (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w))
    flagged = transcripts.select(
        "conv_id",
        F.col("ts").cast("long").alias("__epoch"),
        delta.alias("__delta"),
        F.when(F.col("role") == "assistant", delta).alias("__asst_delta"),
    )
    return flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        (F.max("__epoch") - F.min("__epoch")).cast("long").alias("span_sec"),
        F.coalesce(F.sum("__delta"), F.lit(0)).cast("long").alias("sum_latency_sec"),
        F.coalesce(F.max("__delta"), F.lit(0)).cast("long").alias("max_latency_sec"),
        F.count("__asst_delta").cast("long").alias("asst_n"),
        F.coalesce(F.sum("__asst_delta"), F.lit(0))
        .cast("long")
        .alias("asst_sum_latency_sec"),
        F.coalesce(F.max("__asst_delta"), F.lit(0))
        .cast("long")
        .alias("asst_max_latency_sec"),
    )
