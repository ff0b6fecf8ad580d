"""Composed corpus-curation pipeline: raw documents in, training-ready
packed corpus out.

Chains the curation operator family in the canonical order a
training-data pipeline runs it:

  1. exact dedup        keep the smallest id per byte-identical
                        normalized text (sha2 groupBy)
  2. near-dup           MinHash-LSH candidates + exact Jaccard on the
                        exact-dedup survivors; greedy keep-first (drop
                        any doc with a qualifying smaller-id partner)
  3. quality            Gopher repetition/quality rules (map-only)
  4. decontamination    word-n-gram overlap against a held-out test set
                        (broadcast semi-join), when one is provided
  5. PII redaction      regex replace on the survivors' text
  6. sequence packing   token-budget pack assignment via the two-phase
                        distributed prefix sum

Every stage is a native DataFrame program (the only shuffles: the two
dedup signature aggregations, the pack prefix sum, and the final
disposition join — quality is map-only, decontam shuffles only doc ids,
redaction is pure expression work). Every document receives exactly one
disposition: the FIRST stage that dropped it, or 'kept' with its pack
assignment — so the output is a complete audit trail, and the whole
chain is reproducible in the DuckDB correctness oracle
(curation_pipeline_docs).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delm_spark.operators.curation import (
    decontaminate,
    gopher_quality,
    redact_pii,
)
from delm_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    normalize_text,
)
from delm_spark.operators.packing import pack_sequences

__all__ = [
    "CurationConfig",
    "run_curation",
    "TranscriptCurationConfig",
    "assemble_conversations",
    "run_transcript_curation",
]


@dataclass
class CurationConfig:
    """Knobs for `run_curation`; defaults mirror the standalone demos."""

    near_dup_threshold: Optional[float] = 0.5  # Jaccard; None disables stage 2
    quality: bool = True
    decontam_n: int = 8
    redact: bool = True
    pack_budget: Optional[int] = 2048
    #: pack_sequences block width (id div block_size); raise it when ids
    #: are sparse/hashed so the per-block offset table stays tiny
    pack_block_size: int = 100_000


def run_curation(
    docs: DataFrame,
    test_df: Optional[DataFrame] = None,
    config: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Run the composed curation chain. Returns one row per INPUT doc:
    (id_col, status, pack_id, n_tokens) where status is 'kept' or the
    first stage that dropped the doc ('exact_dup' | 'near_dup' |
    'quality' | 'contaminated'); pack_id/n_tokens are null for dropped
    docs. Kept docs' text is PII-redacted before token counting, so the
    packs describe the corpus actually shipped to training.

    Multi-consumed stage frames are eagerly localCheckpoint-ed (pitfall:
    a frame consumed by N branches of one action recomputes its whole
    upstream N times — the LSH+Jaccard subtree would otherwise run once
    for the survivor anti-join and again for the disposition join)."""
    # NULL text must still receive a disposition row (an equi-join on a
    # null hash would silently drop it): normalize to '' at the door —
    # null/empty docs dedup together and carry zero tokens
    base = docs.select(
        id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )

    # stage 1: exact dedup — smallest id per normalized content hash
    keyed = base.withColumn("__h", F.sha2(normalize_text(F.col(text_col)), 256))
    winners = keyed.groupBy("__h").agg(F.min(id_col).alias("__keep"))
    exact = keyed.join(winners, "__h").select(
        id_col, text_col, (F.col(id_col) == F.col("__keep")).alias("__exact_keep")
    )
    exact = exact.localCheckpoint(eager=True)
    s1 = exact.filter("__exact_keep").select(id_col, text_col)

    # stage 2: near-dup — greedy keep-first over verified LSH pairs
    if config.near_dup_threshold is not None:
        cand = minhash_lsh_pairs(s1, text_col, id_col)
        verified = ngram_jaccard_pairs(
            s1,
            text_col,
            id_col,
            threshold=config.near_dup_threshold,
            candidates=cand,
        )
        losers = (
            verified.select(F.col("id_b").alias(id_col))
            .distinct()
            .localCheckpoint(eager=True)
        )
        s2 = s1.join(losers, id_col, "left_anti")
    else:
        losers = None
        s2 = s1

    # stage 3: Gopher quality rules (map-only)
    if config.quality:
        flags = (
            gopher_quality(s2, text_col, id_col)
            .select(id_col, "pass_quality")
            .localCheckpoint(eager=True)
        )
        s3 = s2.join(flags.filter("pass_quality = 1"), id_col, "left_semi")
        failed_quality = flags.filter("pass_quality = 0").select(id_col)
    else:
        s3 = s2
        failed_quality = None

    # stage 4: decontamination against the held-out set
    if test_df is not None:
        verdicts = decontaminate(
            s3,
            test_df,
            text_col,
            id_col,
            n=config.decontam_n,
        ).select(id_col, "contaminated").localCheckpoint(eager=True)
        s4 = s3.join(verdicts.filter("contaminated = 0"), id_col, "left_semi")
        contaminated = verdicts.filter("contaminated = 1").select(id_col)
    else:
        s4 = s3
        contaminated = None

    # stage 5 + 6: redact survivors, then pack them
    kept = s4.select(
        id_col,
        (redact_pii(F.col(text_col)) if config.redact else F.col(text_col)).alias(
            text_col
        ),
    )
    if config.pack_budget is not None:
        packed = pack_sequences(
            kept,
            text_col,
            id_col,
            budget=config.pack_budget,
            block_size=config.pack_block_size,
        )
    else:
        from delm_spark.operators.text import whitespace_token_count

        packed = kept.select(
            id_col,
            whitespace_token_count(F.col(text_col)).cast("long").alias("n_tokens"),
            F.lit(None).cast("long").alias("pack_id"),
        )

    # disposition: first-drop-wins, exactly one row per input doc
    disp = exact.select(
        id_col,
        F.when(~F.col("__exact_keep"), F.lit("exact_dup")).alias("__s1"),
    )
    for frame, label in (
        (losers, "near_dup"),
        (failed_quality, "quality"),
        (contaminated, "contaminated"),
    ):
        if frame is not None:
            disp = disp.join(
                frame.withColumn(f"__{label}", F.lit(label)), id_col, "left"
            )
        else:
            disp = disp.withColumn(f"__{label}", F.lit(None).cast("string"))
    return (
        disp.join(packed.select(id_col, "n_tokens", "pack_id"), id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col("__s1"),
                F.col("__near_dup"),
                F.col("__quality"),
                F.col("__contaminated"),
                F.lit("kept"),
            ).alias("status"),
            "pack_id",
            "n_tokens",
        )
    )


# ---------------------------------------------------------------------------
# Transcript-payload curation: raw conversations in, packed corpus out
# ---------------------------------------------------------------------------

@dataclass
class TranscriptCurationConfig:
    """Knobs for `run_transcript_curation`. Structural thresholds are
    integers (compared with integer cross-multiplication) so keep/drop
    decisions are exact in any engine."""

    min_turns: int = 4          # conversations shorter than this: 'too_short'
    max_tool_pct: int = 40      # tool-role turns above this %: 'tool_heavy'
    near_dup_threshold: Optional[float] = 0.5
    decontam_n: int = 8
    redact: bool = True
    pack_budget: Optional[int] = 400


def conv_pack_key(col):
    """60-bit engine-portable numeric key from md5(conv_id): the curation
    chain (exact-dup min-id winner, keep-first near-dup, pack prefix-sum
    order) needs a NUMERIC total order over conversations, and a hash
    order is actually preferable to lexicographic for packing — packs mix
    sources/time instead of preserving corpus runs. Collisions (~n^2/2^61)
    would merge two conversations' dispositions; at 10^9 conversations
    that is ~1 expected collision — acceptable for curation bookkeeping,
    NOT for payload keys."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def assemble_conversations(turns: DataFrame) -> DataFrame:
    """One row per conversation: turn texts joined in turn_idx order as
    'role: text' lines, plus structural counters. collect_list is bounded
    by conversation length (same contract as the KG pipeline's turn
    assembly) — ONE shuffle on conv_id, skew handled by AQE the same way
    the flagship pipeline handles hot conversations."""
    g = turns.groupBy("conv_id").agg(
        F.array_sort(
            F.collect_list(F.struct("turn_idx", "role", "text"))
        ).alias("__arr"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0))
        .cast("long")
        .alias("n_tool_turns"),
    )
    line = lambda x: F.concat(  # noqa: E731
        F.coalesce(x["role"], F.lit("")),
        F.lit(": "),
        F.coalesce(x["text"], F.lit("")),
    )
    return g.select(
        "conv_id",
        F.concat_ws("\n", F.transform("__arr", line)).alias("text"),
        "n_turns",
        "n_tool_turns",
    )


def run_transcript_curation(
    turns: DataFrame,
    test_df: Optional[DataFrame] = None,
    config: TranscriptCurationConfig = TranscriptCurationConfig(),
) -> DataFrame:
    """Curate raw multi-turn transcripts (the BASELINE.json input shape:
    conv_id, turn_idx, role, text, ...) into a training-ready packed
    corpus — the upstream stage a user runs BEFORE KG construction:

      1. assemble     turns -> one document per conversation
      2. structural   'too_short' (< min_turns) and 'tool_heavy'
                      (> max_tool_pct % tool-role turns) gates — map-only
                      integer tests on the assembly's own counters
      3. generic      run_curation over the assembled documents keyed by
         chain        the md5 pack key: exact dedup, MinHash near-dup,
                      PII redaction, sequence packing

    Returns exactly one (conv_id, status, pack_id, n_tokens) row per
    input conversation; status is the FIRST stage that dropped it
    ('too_short' | 'tool_heavy' | 'exact_dup' | 'near_dup') or 'kept'.
    """
    asm = assemble_conversations(turns).localCheckpoint(eager=True)
    structural = asm.select(
        "conv_id",
        # null conv_id first: a null key never equi-matches, so without an
        # explicit disposition such a conversation would silently vanish
        # from BOTH output branches
        F.when(F.col("conv_id").isNull(), F.lit("invalid_conv"))
        .when(F.col("n_turns") < config.min_turns, F.lit("too_short"))
        .when(
            F.col("n_tool_turns") * 100 > F.col("n_turns") * config.max_tool_pct,
            F.lit("tool_heavy"),
        )
        .alias("__sdrop"),
    )
    keyed = (
        asm.join(structural.filter("__sdrop IS NULL"), "conv_id", "left_semi")
        .select("conv_id", conv_pack_key(F.col("conv_id")).alias("pack_key"), "text")
    )
    # pack_sequences blocks on `id div block_size`; with UNIFORM 60-bit
    # md5 keys the default width (100k) would make every key its own
    # block and push the whole offset table through one global window.
    # Scale the width so ~1 block per 100k survivors (uniformity makes
    # block populations ~Poisson(100k)); the output is width-invariant.
    n_surv = keyed.count()
    # cap at the full key range: below ~100k survivors ONE block is right
    # (and an uncapped value would overflow int64 on the JVM side)
    block = min(max(((1 << 60) * 100_000) // max(n_surv, 1), 1), 1 << 60)
    curated = run_curation(
        keyed.select("pack_key", "text"),
        test_df=test_df,
        config=CurationConfig(
            near_dup_threshold=config.near_dup_threshold,
            quality=False,  # Gopher bounds are per-document prose rules;
            # transcript structure is gated by stage 2 instead
            decontam_n=config.decontam_n,
            redact=config.redact,
            pack_budget=config.pack_budget,
            pack_block_size=block,
        ),
        text_col="text",
        id_col="pack_key",
    )
    linked = (
        keyed.select("conv_id", "pack_key")
        .join(curated, "pack_key")
        .select("conv_id", "status", "pack_id", "n_tokens")
    )
    dropped = structural.filter("__sdrop IS NOT NULL").select(
        "conv_id",
        F.col("__sdrop").alias("status"),
        F.lit(None).cast("long").alias("pack_id"),
        F.lit(None).cast("long").alias("n_tokens"),
    )
    return linked.unionByName(dropped)
