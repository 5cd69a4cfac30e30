"""Skew-aware deterministic partition assignment.

north_rule: "skewed giant repos are salted and range-partitioned
explicitly".  A giant repo (rows above the per-partition target) is
split into ``ceil(rows / target)`` salt buckets keyed by
``xxhash64(path)`` — salting by *path*, never by commit, so every
``(repo, path)`` commit chain stays whole inside one partition (the
CHAIN codec needs complete chains; cf. SURVEY.md §7 hard-part (c)).
Small repos hash into a shared bucket range.

Partition ids are *content-deterministic* (derived from repo names and
row counts, not from cluster size or scheduling), so a resumed run
reproduces the identical partition -> rows mapping — the analog of the
reference's snapshot-head determinism
(/root/reference/deltoid/src/snapshot/delta.rs:89-95).

Scale note (100 TB / 10^12 files): the per-repo count aggregate is one
map-side-combined shuffle over (repo) — output rows == number of
repos.  Only repos *above threshold* are collected to the driver
(bounded: at most total_rows/target of them); everything else flows
through a broadcast-joined map, so no driver-side iteration over data.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

DEFAULT_TARGET_ROWS = 20_000


def assign_partitions(
    df: DataFrame,
    target_rows: int = DEFAULT_TARGET_ROWS,
    key_cols: tuple[str, ...] = ("repo", "path"),
) -> tuple[DataFrame, int]:
    """Add a deterministic ``part_id`` column; return (df, n_partitions).

    key_cols[0] is the coarse grouping key (repo); a giant group is
    salted by key_cols[1] (path), or by key_cols[0] itself when it is
    the only key, so chains keyed by the full key tuple never split.
    """
    salt_map, base, n_small = build_partition_map(df, target_rows, key_cols)
    out = apply_partition_map(df, salt_map, base, n_small, key_cols)
    return out, base + n_small


def build_partition_map(
    df: DataFrame,
    target_rows: int = DEFAULT_TARGET_ROWS,
    key_cols: tuple[str, ...] = ("repo", "path"),
) -> tuple[list[tuple[str, int, int]], int, int]:
    """Derive (giant salt map, giant base, n_small_buckets) from the data.

    The map is a tiny, persistable artifact: append runs must reuse the
    ORIGINAL map so new rows land in the same partitions as the chains
    they extend (a re-derived map from a different batch would remap
    everything).
    """
    group_col = key_cols[0]
    # one aggregate over the group key: tiny output, cached so the giants
    # filter and the global total reuse it instead of rescanning the input
    counts = df.groupBy(group_col).agg(F.count("*").alias("n")).cache()
    # a giant's group is kept as Spark's text of the key, whatever the
    # key's type: the persisted map stores it in a string column and
    # apply_partition_map casts it back, so the value is exact both ways
    giants = [
        (r["grp"], int(r["n"]))
        for r in counts.filter(F.col("n") > target_rows)
        .select(F.col(group_col).cast("string").alias("grp"), "n")
        .collect()
    ]
    giants.sort()  # deterministic base-id assignment
    base = 0
    salt_map: list[tuple[str, int, int]] = []  # group, base_id, n_salts
    for grp, n in giants:
        n_salts = math.ceil(n / target_rows)
        salt_map.append((grp, base, n_salts))
        base += n_salts
    # how many buckets for the long tail of small groups
    total = counts.agg(F.sum("n")).collect()[0][0] or 0
    counts.unpersist()
    giant_total = sum(n for _, n in giants)
    n_small = max(1, math.ceil((total - giant_total) / target_rows))
    return salt_map, base, n_small


def apply_partition_map(
    df: DataFrame,
    salt_map: list[tuple[str, int, int]],
    base: int,
    n_small: int,
    key_cols: tuple[str, ...] = ("repo", "path"),
) -> DataFrame:
    """Assign part_ids from a (possibly persisted) partition map.

    Groups not in the map — e.g. repos first seen by an append batch —
    hash into the shared small-bucket range, so the map stays valid as
    the table grows (compaction can rebalance later)."""
    group_col = key_cols[0]
    # a single key column salts by itself: a giant key's rows all hash to
    # one of its buckets, so its chain stays whole
    salt_col = key_cols[1] if len(key_cols) > 1 else group_col
    small_rows = df.sparkSession.createDataFrame(
        [(r, b, s) for r, b, s in salt_map],
        f"{group_col} string, base_id long, n_salts long",
    ).withColumn(group_col, F.col(group_col).cast(df.schema[group_col].dataType))
    return (
        df.join(F.broadcast(small_rows), group_col, "left")
        .withColumn(
            "part_id",
            F.when(
                F.col("base_id").isNotNull(),
                F.col("base_id") + F.pmod(F.xxhash64(salt_col), F.col("n_salts")),
            ).otherwise(F.lit(base) + F.pmod(F.xxhash64(group_col), F.lit(n_small))),
        )
        .drop("base_id", "n_salts")
    )
