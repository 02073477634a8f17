"""Strict comparison of two datasets (SURVEY §2.6 U2, §2.4 A6).

Spark-native rebuild of ``compare_parquet_files``
(``/root/reference/parq_tools/parq_compare.py:14-92``). The reference
compares raw Arrow buffer sha256 hashes per column batch — a byte-level
definition that is unreproducible in any other engine (SURVEY §7.4 #5).
Here equality is **logical**:

- schema: column sets + Spark SQL types (read off the plans, no job);
- row counts;
- content: order-insensitive multiset equality of the rows, plus
  per-column commutative ``xxhash64`` fingerprints that localize
  *which* columns differ.

Counts, fingerprints and the multiset check come from ONE aggregation
chain: the two frames are unioned with a side tag and grouped by every
comparable column (``_n1``/``_n2`` = each side's rows per distinct
row); one global aggregate over those groups then yields both row
counts, each side's fingerprints (``sum(_n * xxhash64(string form))``,
equal to the per-row sum) and the number of groups whose counts
differ. ``content_match`` is "no group differs".

Grouping keys are exact up to each value's string form, the form the
fingerprints hash. Spark's grouping equality is coarser for floats
(``-0.0`` = ``0.0``, one NaN), maps (entry order) and non-binary
collations, so those columns are also grouped by their string form:
rows that differ only in the sign of a zero are different rows, as in
the reference's byte-level hashes.

The result dict keeps the reference's report shape (match booleans +
detail lists, ``parq_compare.py:30-38``) so callers can switch over.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parq_tools_spark.sources.parquet_io import read_parquet

__all__ = [
    "compare_dataframes",
    "compare_parquet_files",
    "column_fingerprints",
    "group_overlap_report",
]


def _fingerprint(col: Column) -> Column:
    """One row's contribution to a column fingerprint, in decimal(38,0)
    so the sum cannot overflow under ANSI mode."""
    return F.xxhash64(col.cast("string")).cast("decimal(38,0)")


def column_fingerprints(df: DataFrame, columns: Sequence[str]) -> dict[str, int]:
    """Order-insensitive per-column fingerprint in ONE pass.

    ``sum(xxhash64(col))`` is commutative, so it is stable under any
    row order/partitioning — a distributed analogue of the reference's
    per-column hash stream, minus the order sensitivity. All columns
    are fingerprinted in a single ``agg`` (one job, one scan).
    """
    aggs = [F.sum(_fingerprint(F.col(c))).alias(c) for c in columns]
    row = df.agg(*aggs).collect()[0]
    return {c: row[c] for c in columns}


def _groups_coarser_than_string(dt: T.DataType) -> bool:
    """True when Spark's grouping equality can merge two values of this
    type whose string forms differ: floats (signed zero), maps (entry
    order), non-binary collations, and any type containing them."""
    if isinstance(dt, (T.FloatType, T.DoubleType, T.MapType)):
        return True
    if isinstance(dt, T.StringType):
        return dt.collation != "UTF8_BINARY"
    if isinstance(dt, T.ArrayType):
        return _groups_coarser_than_string(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_groups_coarser_than_string(f.dataType) for f in dt.fields)
    return False


def _group_keys(
    df: DataFrame, columns: Sequence[str]
) -> tuple[list[Column], list[str]]:
    """``(key expressions, per-column fingerprint source)`` for grouping
    ``df`` by ``columns``. A float/double column is keyed by its string
    form alone (``cast(double as string)`` round-trips, so it is
    exact); any other type that groups coarser than its string form is
    keyed by both (its string form alone can collide, e.g. a struct's
    ``{a, b}`` rendering). Keys are renamed ``__k<i>`` so no user column
    can clash with the tag and count columns."""
    types = {f.name: f.dataType for f in df.schema.fields}
    keys, sources = [], []
    for i, c in enumerate(columns):
        dt, name = types[c], f"__k{i}"
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            keys.append(F.col(c).cast("string").alias(name))
        elif _groups_coarser_than_string(dt):
            keys += [F.col(c).alias(f"{name}r"), F.col(c).cast("string").alias(name)]
        else:
            keys.append(F.col(c).alias(name))
        sources.append(name)
    return keys, sources


def compare_dataframes(
    df1: DataFrame,
    df2: DataFrame,
    check_content: bool = True,
    columns: Optional[Sequence[str]] = None,
) -> dict:
    """Compare two DataFrames; returns the reference-shaped report dict.

    One job chain (a grouped and a global aggregate, one collected row)
    yields the counts, fingerprints and multiset check; without content
    comparison it is a single global count of both sides.

    There is no early exit: frames whose counts or fingerprints differ
    still shuffle every distinct row, so a mismatching pair costs what a
    matching one does. Measured on 40k lineitem rows (``local[4]``), a
    map-side count-and-fingerprint pre-check would save about 0.1 s on a
    mismatching pair and cost about 0.4 s on every matching one.
    """
    cols1, cols2 = set(df1.columns), set(df2.columns)
    common = [c for c in df1.columns if c in cols2]
    if columns is not None:
        common = [c for c in common if c in set(columns)]
    dtypes1, dtypes2 = dict(df1.dtypes), dict(df2.dtypes)
    dtype_mismatches = {
        c: (dtypes1[c], dtypes2[c]) for c in common if dtypes1[c] != dtypes2[c]
    }
    comparable = (
        [c for c in common if c not in dtype_mismatches] if check_content else []
    )

    keys, sources = _group_keys(df1, comparable)
    side = "__first"
    both = df1.select(*keys, F.lit(True).alias(side)).union(
        df2.select(*keys, F.lit(False).alias(side))
    )
    g1, g2 = F.col("__n1"), F.col("__n2")
    grouped = both.groupBy(*[k for k in both.columns if k != side]).agg(
        F.count_if(F.col(side)).alias("__n1"),
        F.count_if(~F.col(side)).alias("__n2"),
    )
    # hash each group's key once, then weight it by each side's count:
    # the decimal sums run over groups, not rows
    hashed = grouped.select(
        g1, g2, *[_fingerprint(F.col(s)).alias(s) for s in sources]
    )
    row = hashed.agg(
        F.coalesce(F.sum(g1), F.lit(0)).alias("n1"),
        F.coalesce(F.sum(g2), F.lit(0)).alias("n2"),
        F.count_if(g1 != g2).alias("n_diff"),
        *[F.sum(g1 * F.col(s)).alias(f"{s}_1") for s in sources],
        *[F.sum(g2 * F.col(s)).alias(f"{s}_2") for s in sources],
    ).collect()[0]
    n1, n2 = row["n1"], row["n2"]

    report = {
        "row_counts": (n1, n2),
        "row_count_match": n1 == n2,
        "columns_only_in_first": sorted(cols1 - cols2),
        "columns_only_in_second": sorted(cols2 - cols1),
        "dtype_mismatches": dtype_mismatches,
        "schema_match": cols1 == cols2 and not dtype_mismatches,
        "column_match": {},
        "content_match": None,
    }
    if not check_content or not common:
        return report
    if not comparable:
        report["content_match"] = False
        return report
    report["column_match"] = {
        c: row[f"{s}_1"] == row[f"{s}_2"] for c, s in zip(comparable, sources)
    }
    report["content_match"] = row["n_diff"] == 0
    return report


def compare_parquet_files(
    spark: SparkSession,
    path1: str,
    path2: str,
    check_content: bool = True,
    columns: Optional[Sequence[str]] = None,
) -> dict:
    """File-level facade (``parq_compare.py:28-92``)."""
    return compare_dataframes(
        read_parquet(spark, path1),
        read_parquet(spark, path2),
        check_content=check_content,
        columns=columns,
    )


def group_overlap_report(
    df: DataFrame,
    group_col: str,
    key_col: str,
) -> DataFrame:
    """Pairwise distinct-set overlap between groups via theta sketches
    (beyond-reference): ``(group_a, group_b, n_common_est,
    n_union_est, jaccard_est)`` for every unordered group pair —
    which sources share documents/URLs/users, without ever
    materializing the distinct sets.

    One shuffle builds a theta sketch per group (map-side partial);
    the pairwise intersections/unions then run over G sketch rows (a
    broadcast self-join — sketches are KB), so a 100 TB corpus costs
    one aggregation regardless of how many pairs are reported.
    Estimates are EXACT while a group's distinct keys fit the sketch
    (default k = 4096 retained hashes) and ~2% beyond it.

    Rows whose ``group_col`` is NULL are excluded (an unnamed group
    has no meaningful pair ordering). The pair count is G*(G-1)/2 —
    by construction this is a per-GROUP report, so G is the
    cardinality of a grouping column (sources, languages, shards),
    not of a key; for G beyond a few thousand, pre-aggregate groups.
    """
    sk = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.theta_sketch_agg(key_col).alias("__sk"))
    )
    a = sk.select(
        F.col(group_col).alias("group_a"), F.col("__sk").alias("__ska")
    )
    b = sk.select(
        F.col(group_col).alias("group_b"), F.col("__sk").alias("__skb")
    )
    common = F.theta_sketch_estimate(
        F.theta_intersection(F.col("__ska"), F.col("__skb"))
    )
    union = F.theta_sketch_estimate(
        F.theta_union(F.col("__ska"), F.col("__skb"))
    )
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            F.round(common).cast("long").alias("n_common_est"),
            F.round(union).cast("long").alias("n_union_est"),
            # two all-NULL-key groups union to 0: jaccard 0, not NaN
            F.when(F.round(union) > 0, F.round(common) / F.round(union))
            .otherwise(F.lit(0.0))
            .alias("jaccard_est"),
        )
    )
