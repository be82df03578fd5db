"""Fuzzy string matching: edit-distance self-join with q-gram prefix
filtering (Ed-Join family; Xiao, Wang & Lin, VLDB 2008 — public
algorithm).

The reference deduplicates station/feature names during ingest
(semantic parity: ingestor registration keys); at corpus scale the same
operator canonicalizes near-identical entity names (e.g. vendor or
domain strings in a training-data pipeline).

Scale design: the all-pairs edit-distance join is O(n^2) in the number
of DISTINCT names. Prefix filtering bounds it: one edit destroys at
most q overlapping q-grams, so two strings within edit distance d must
share at least one gram among each string's q*d+1 RAREST grams (rarity
by global gram frequency, ties by gram text — a deterministic total
order both engines reproduce). Candidate generation therefore shuffles
on the prefix grams only — rare grams by construction, so bucket sizes
stay small and no gram becomes a hot key. The exact ``levenshtein``
gate (JVM built-in, whole-stage codegen) runs on candidates only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def qgrams(names: DataFrame) -> DataFrame:
    """Distinct positional-collapsed 2-grams per name: (name, gram)."""
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("name") - 1),
            lambda i: F.col("name").substr(i, F.lit(2)),
        )
    )
    # guard: for names shorter than 2, sequence(1, len-1) would DESCEND
    # ([1, 0]) and emit bogus truncated grams — such names have no 2-grams
    grams = F.when(F.length("name") >= 2, grams).otherwise(
        F.array().cast("array<string>")
    )
    # the transform lambda gets its own projection: next to an aliased
    # column in ONE select it trips Spark 4's lateral-column-alias check
    # (INTERNAL_ERROR LateralColumnAliasReference)
    return (
        names.withColumn("_grams", grams)
        .select("name", F.explode("_grams").alias("gram"))
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
) -> DataFrame:
    """All pairs of DISTINCT names within max_dist = 2 edit operations
(q = 2-gram prefixes).

    Pipeline: distinct name domain -> distinct q-grams -> global gram
    frequencies (one small agg) -> per-name prefix = the q*max_dist+1
    rarest grams -> equi-join on prefix gram -> length filter
    (|len(a)-len(b)| <= d is a necessary condition) -> exact
    ``levenshtein`` verify. Names shorter than ``q`` have no grams and
    are excluded (document the precondition rather than special-case).

    Correctness of the filter: d edits destroy <= q*d distinct q-grams,
    so if edit_distance(a, b) <= d the gram sets differ by <= q*d
    elements per side; two prefix sets of size q*d+1 drawn from the
    same global order then cannot be disjoint.
    """
    prefix_size = 5  # q * max_dist + 1 for q = 2, max_dist = 2
    names = (
        df.select(F.col(name_col).alias("name"))
        .filter(F.col("name").isNotNull() & (F.length("name") >= 2))
        .distinct()
    )
    grams = qgrams(names)
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_freq"))
    w = Window.partitionBy("name").orderBy(F.col("_freq").asc(), F.col("gram").asc())
    prefix = (
        grams.join(freq, "gram")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_size)
        .select("name", "gram")
    )
    a = prefix.select(F.col("name").alias("name_a"), "gram")
    b = prefix.select(F.col("name").alias("name_b"), "gram")
    cand = (
        a.join(b, "gram")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .dropDuplicates(["name_a", "name_b"])
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= 2
        )
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 2)
        .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))
    )
