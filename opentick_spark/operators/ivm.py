"""Incremental view maintenance (IVM) for grouped aggregates over the
commit log — keep a SUM/COUNT-shaped aggregate current by applying a
snapshot diff to persisted state instead of rescanning the fact table.

The 100 TB story: a day's delta is MBs against a corpus that is TBs.
The diff's OUTPUT is delta-sized, but computing it is not:
`TableStore.diff(from_seq, include_old=True)` resolves both snapshots
and full-outer-joins them, two table-sized latest-wins shuffles plus a
table-sized join; `TableStore.log_diff` is the delta-sized form (the
log tail plus a point lookup of the touched keys). Downstream of the
diff, the signed-delta aggregate below shuffles only diff rows on the
group key, and the merge joins #groups-sized state with
#touched-groups-sized delta.

Classic self-maintainable-view theory (Gupta & Mumick, "Maintenance of
Materialized Views: Problems, Techniques, and Applications", IEEE Data
Eng. Bull. 1995): SUM and COUNT are self-maintainable under inserts
AND deletes when a per-group COUNT rides along — a group is dropped
exactly when its maintained count reaches zero. That invariant is why
`group_delta` always carries ``__ivm_n`` even if the caller only asked
for sums, and why `merge_agg_state` filters ``__ivm_n > 0`` (never
``sum != 0``: a group whose sum happens to cancel to zero but still
has live rows must survive).

Correctness contract (pinned by tests/test_ivm.py against a full
recompute over randomized add/upsert/delete/key-move sequences):

    maintain(state@s0, diff(s0, s1)) == recompute(read@s1)

including rows whose GROUP KEY itself changes (the old row retracts
from the old group, the new row inserts into the new group — which is
why retraction needs the diff's ``old_*`` columns, not just the PK).

No reference parity (open-trade/opentick has no materialized-view
surface); this extends the incremental block that `TableStore.diff` /
`incremental_dedup` / `incremental_neardup_assign` established.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-group live-row count, the self-maintainability witness
IVM_COUNT = "__ivm_n"


def group_delta(
    diff: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """Signed per-group delta from a ``TableStore.diff(...,
    include_old=True)`` frame: +1/+value for the new side of
    added|changed rows, −1/−value for the old side of changed|removed
    rows. A changed row contributes BOTH — that is what makes group-key
    moves and value updates a single uniform rule instead of cases.

    Output: ``group_cols``, ``__ivm_n`` (count delta), and one
    ``delta_<c>`` per sum column. NULL measure values contribute 0 to
    sums (SQL SUM ignores NULLs) but ±1 to the count, matching what a
    recompute's COUNT(*) would see. One diff-sized shuffle on the
    group key; the fact table is never touched."""
    missing = [
        c for c in group_cols + sum_cols if f"old_{c}" not in diff.columns
    ]
    if missing:
        raise ValueError(
            f"diff frame lacks old_* columns for {missing}; call "
            "TableStore.diff(..., include_old=True)"
        )
    # r16 (the merge_into fork-recompute lesson, guide §2.4): the
    # previous plus/minus formulation FILTERED the diff twice and
    # unioned — the diff relation (a full-outer join of two time-travel
    # snapshots, table.py) re-executed once per leg with nothing
    # pinning it. A changed row legitimately emits TWO rows (new-side
    # +1, old-side −1, possibly under DIFFERENT group keys), so the
    # single-pass shape is explode-of-structs: build 0–2 signed entries
    # per diff row and inline them — one evaluation of the diff, one
    # Generate instead of a Union of two subtree copies.
    chg = F.col("change")
    plus_entry = F.struct(
        *[F.col(c).alias(c) for c in group_cols],
        F.lit(1).cast("long").alias(IVM_COUNT),
        *[
            F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(
                f"delta_{c}"
            )
            for c in sum_cols
        ],
    )
    minus_entry = F.struct(
        *[F.col(f"old_{c}").alias(c) for c in group_cols],
        F.lit(-1).cast("long").alias(IVM_COUNT),
        *[
            (-F.coalesce(F.col(f"old_{c}").cast("double"), F.lit(0.0))).alias(
                f"delta_{c}"
            )
            for c in sum_cols
        ],
    )
    entries = F.array_compact(
        F.array(
            F.when(chg.isin("added", "changed"), plus_entry),
            F.when(chg.isin("removed", "changed"), minus_entry),
        )
    )
    return (
        diff.select(F.explode(entries).alias("__e"))
        .select("__e.*")
        .groupBy(*group_cols)
        .agg(
            F.sum(IVM_COUNT).alias(IVM_COUNT),
            *[F.sum(f"delta_{c}").alias(f"delta_{c}") for c in sum_cols],
        )
    )


def merge_agg_state(
    state: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Merge a ``group_delta`` frame into persisted aggregate state
    (columns: ``group_cols``, ``__ivm_n``, one ``sum_<c>`` per
    measure). Full-outer join on the group key — #groups-sized vs
    #touched-groups-sized, a broadcast in any realistic corpus — then
    coalesce-add, then drop groups whose live-row count reached zero.

    Returns the complete new state (write it back over the old state;
    with a group-keyed TableStore the zero-count groups become
    tombstone deletes and the rest a latest-wins upsert commit)."""
    d = delta.select(
        *[F.col(c).alias(f"__dk_{c}") for c in group_cols],
        F.col(IVM_COUNT).alias("__d_n"),
        *[F.col(f"delta_{c}").alias(f"__d_{c}") for c in sum_cols],
    )
    # NULL-safe equality: a NULL group key is a legal group (SQL GROUP
    # BY puts all NULLs in one group); a plain equi-join would never
    # match it and the state row + delta row would both survive as
    # duplicates instead of merging (pinned by
    # test_ivm_null_group_key_merges).
    cond = F.lit(True)
    for c in group_cols:
        cond = cond & state[c].eqNullSafe(d[f"__dk_{c}"])
    j = state.join(d, cond, "full_outer")
    merged = j.select(
        *[
            F.coalesce(state[c], d[f"__dk_{c}"]).alias(c)
            for c in group_cols
        ],
        (
            F.coalesce(F.col(IVM_COUNT), F.lit(0))
            + F.coalesce(F.col("__d_n"), F.lit(0))
        ).alias(IVM_COUNT),
        *[
            (
                F.coalesce(F.col(f"sum_{c}"), F.lit(0.0))
                + F.coalesce(F.col(f"__d_{c}"), F.lit(0.0))
            ).alias(f"sum_{c}")
            for c in sum_cols
        ],
    )
    return merged.filter(F.col(IVM_COUNT) > 0)


def full_state(
    rows: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """The recompute that IVM avoids — used once to seed the state at
    the base snapshot, and by tests as the equivalence oracle."""
    return rows.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias(IVM_COUNT),
        *[F.sum(F.col(c).cast("double")).alias(f"sum_{c}") for c in sum_cols],
    )
