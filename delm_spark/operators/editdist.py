"""Edit-distance similarity join via FastSS deletion-neighborhood
blocking (Bocek et al. 2007) — the typo-pair primitive entity
canonicalization needs next to embedding blocking (`kg/linking.py`):
find all string pairs within Levenshtein distance d without comparing
all pairs.

FastSS invariant: if lev(a, b) <= d then a and b share at least one
common variant reachable by deleting <= d characters from each. So the
join is: explode every string to its (<= d)-deletion neighborhood, ONE
equi-join on the variant, distinct the candidate pairs, and refine with
the exact native `levenshtein` — never an all-pairs product.

Scale notes (100 TB / 1000-executor framing):

- The neighborhood of a length-L string has 1 + L variants at d=1 and
  O(L^2/2) more at d=2 — bounded by the STRING, not the corpus. The
  operator is built for short join keys (entity surfaces, titles,
  codes); `max_len` hard-caps the blow-up and longer strings fall out
  with a dedicated flag rather than silently exploding.
- Variants generate natively (transform over a character-index
  sequence + array_distinct): no Python, no UDF, and the same
  construction is SQL-reproducible (list_transform in DuckDB).
- A pair sharing several variants is deduplicated by a distinct on the
  (id_a, id_b) candidate — bounded by the two neighborhoods' product,
  i.e. by string length squared, never corpus-sized.
- Hot variants (short strings collapse to few variants — the empty
  string at d >= L) are the skew surface: `min_len` drops keys whose
  whole neighborhood would flood one bucket, mirroring the hub cut in
  `kg/completion.link_prediction_scores`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def deletion_variants(s: Column, d: int) -> Column:
    """Array of the distinct strings reachable from `s` by deleting at
    most `d` (1 or 2) characters, including `s` itself. Pure native
    expression: transform over character indices."""
    if d not in (1, 2):
        raise ValueError(f"d must be 1 or 2, got {d}")
    n = F.length(s)

    def drop1(i: Column) -> Column:
        # delete 0-based position i
        return F.concat(F.substring(s, 1, i), s.substr(i + F.lit(2), n))

    one = F.transform(F.sequence(F.lit(0), n - 1), drop1)
    base = F.concat(F.array(s), one)
    if d == 1:
        return F.array_distinct(base)

    def drop2(i: Column, j: Column) -> Column:
        # delete 0-based positions i < j in one pass over the original
        return F.concat(
            F.substring(s, 1, i),
            s.substr(i + F.lit(2), j - i - 1),
            s.substr(j + F.lit(2), n),
        )

    two = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.sequence(i + 1, n - 1), lambda j: drop2(i, j)
            ),
        )
    )
    return F.array_distinct(F.concat(base, two))


#: (min, max) key length in characters that takes part in the pair search
KEY_LEN = (3, 64)


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    max_edits: int = 1,
) -> DataFrame:
    """All pairs (id_a < id_b) whose `col` strings are within Levenshtein
    distance `max_edits` (1 or 2): FastSS deletion-neighborhood blocking
    + one variant equi-join + exact native levenshtein refine.

    Keys outside `KEY_LEN` are excluded (short keys flood the variant
    buckets, long keys blow up the d=2 neighborhood quadratically).
    Returns (id_a, id_b, str_a, str_b, lev) ordered by nothing — callers
    sort.
    """
    keys = df.select(
        F.col(id_col).alias("id"), F.col(col).alias("s")
    ).filter(
        F.col("s").isNotNull()
        & F.length("s").between(*KEY_LEN)
    )
    exploded = keys.select(
        "id", "s",
        F.explode(deletion_variants(F.col("s"), max_edits)).alias("v"),
    )
    a = exploded.select(
        F.col("id").alias("id_a"), F.col("s").alias("str_a"), "v"
    )
    b = exploded.select(
        F.col("id").alias("id_b"), F.col("s").alias("str_b"), "v"
    )
    cand = (
        a.join(b, "v")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "str_a", "str_b")
        .distinct()
    )
    return cand.select(
        "id_a", "id_b", "str_a", "str_b",
        F.levenshtein("str_a", "str_b").cast("long").alias("lev"),
    ).filter(F.col("lev") <= max_edits)
