"""Keyed CDC merge — the core operators of the reference engine.

Reference semantics (linz-bde-uploader, /root/reference):

- J1 delete detection   `_bde_CreateIncDeletes`
  sql/02-bde_control_functions.sql.in:2228-2262
- J2 insert detection   `_bde_CreateIncInserts`  :2264-2298
- J3 update classify    `_bde_CreateIncUpdates`  :2300-2373
- J4 key-swap repair    `_bde_FixChangedIncKeyRecords` :2146-2226
- J5 full-table diff    via table_version.ver_apply_table_differences,
  called at :1914-1928
- J6 change application via table_version._ver_apply_changes, :1759-1765
- A7 row tolerance      `_bde_CheckTableCount` :2006-2085
- P1 valid columns      `bde_SelectValidColumns` :1336-1375

All joins are equi-joins on a single integer surrogate key. The change
list is tiny relative to the table, so it is broadcast; the staged
snapshot and current table join on the key (sort-merge / shuffled-hash
chosen by Catalyst+AQE; with a bucketed store both sides co-locate and
the shuffle disappears).

Scale notes (100 TB design):
- ``classify_actions`` computes the whole I/U/D/0/X action set in ONE
  pass: broadcast the change keys, full-outer join staged vs current
  restricted to changed keys. No per-action re-scan of the big table.
- ``apply_actions`` rewrites only rows whose key appears in the action
  set (left_anti + union) — with a hash-bucketed store this is a
  partition-pruned rewrite, not a full-table rewrite.
- ``merge_tagged`` is classify + apply as ONE lazy plan whose rows
  carry their action (its full form, with no change list, is the
  EP3 diff applied); ``MergeObservation`` counts the actions in the
  store write that consumes it, so every driver load writes its
  result and its stats in one store write, with no separate stats
  pass. That write keeps either the new state (a full snapshot) or
  only the tagged rows, D rows as key tombstones (a delta segment the
  store merges on read), and the observed row count is the new
  state's either way. Only a table with a maintained view also
  persists ``classify_actions``' frame, which its view refresh reads
  several times.
- the row comparison is a null-safe column expression (whole-stage
  codegen), never a Python UDF. It and the action rule are written as
  SQL text (functions/sqltext.py), so building a merge plan costs a
  fixed number of py4j calls per DataFrame operation, not one or more
  per column reference.

The maintained-view (IVM) family — ``maintain_aggregate``,
``maintain_extrema``, ``maintain_topk``, ``maintain_sums``,
``maintain_join``, ``maintain_distinct`` and the two sketch members in
operators/sketches.py — shares one algebra, each decision written once:

- ``_delta_rows`` is the one place the action codes split into the
  current rows a merge removes (D/U/X) and the staged rows it adds
  (I/U/X); ``delta_keys`` gives their broadcast keys;
- ``touched_groups``, ``touched_group_semi`` and ``drop_groups`` are
  the touched-group parts, compared null-safely by ``groups_match``;
- ``_refresh_touched`` is the one partial-refresh body: recompute a
  view shape over the touched groups' merged rows, carry every other
  group forward;
- each view has one shape function (``aggregate_view``,
  ``extrema_view``, ``topk_view``, ``distinct_view``, ``join_view``),
  used by both the direct seed (view_refresh.seed_views) and the
  ``old=None`` bootstrap of its ``maintain_*``.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from linz_bde_uploader_spark.cache import persist
from linz_bde_uploader_spark.functions.sqltext import ident, literal

# Action codes, matching the reference exactly
# (sql/02-bde_control_functions.sql.in:1750-1765):
#   I insert, U update, D delete, 0 null update (row identical),
#   X update touching a unique-constraint column (reference applies as
#   delete+insert to dodge transient unique violations; Spark has no
#   unique constraints so X is applied like U but kept distinct for
#   stats parity).
ACTION_INSERT = "I"
ACTION_UPDATE = "U"
ACTION_DELETE = "D"
ACTION_NULL_UPDATE = "0"
ACTION_KEY_CHANGE = "X"
# merge_tagged's action column: NULL on a row the change list does
# not name
ACTION_COL = "_action"
# a merge removes the current row of a D/U/X key and adds the staged
# row of an I/U/X key (an update does both)
_REMOVES = (ACTION_DELETE, ACTION_UPDATE, ACTION_KEY_CHANGE)
_ADDS = (ACTION_INSERT, ACTION_UPDATE, ACTION_KEY_CHANGE)

# Default bound for the inline touched-group path (touched_group_semi
# inline_threshold): a refresh touching at most this many groups
# collects them (bounded — LIMIT N+1) and prunes via a STATIC
# partition filter: ONE scan of the merged base, no null-branch
# second scan, no DPP subquery machinery. Measured 4-6x cheaper than
# DPP at sf10 (SCALE_SOAK.json pruned_recompute_soak: 0.13 s static
# vs 0.61 s DPP vs 0.87 s unpruned) and ~0.3-0.5 s cheaper per
# refresh at sf0.1 bench scale. Touched sets larger than the bound
# fall back to the join form, so the driver collect is a declared
# constant that cannot scale with data.
TOUCHED_INLINE_DEFAULT = 64


def mark_selective_for_dpp(df: DataFrame,
                           cols: list[str]) -> DataFrame:
    """Unlock dynamic partition pruning for a touched-group frame.

    The partial-refresh family (maintain_extrema / maintain_topk /
    sketches.maintain_hll) rescans ONLY touched groups — but without
    physical-layout support that "rescan" is a full scan plus a
    filter, so the O(changes) claim dies at the scan. When the base
    is stored partitioned by the group column, Spark's DPP can prune
    the rescan to the touched partitions; its PartitionPruning rule,
    however, only fires when the pruning side shows a "likely
    selective" predicate (a Filter with a comparison — Spark's
    `isLikelySelective`), and a touched-group frame derived via
    semi-join + distinct has none, so DPP silently stays off
    (measured: `dedup scan of 15M rows for a 10% recompute`,
    SCALE_SOAK.json).

    This helper states the selectivity the operator KNOWS (touched
    groups are a strict subset of the group domain) in the one form
    the heuristic can see: an always-true comparison.
    ``xxhash64(group_cols) >= Long.MinValue`` holds for every row
    including NULL groups (xxhash64 never returns NULL and its range
    is exactly [Long.MinValue, Long.MaxValue]), costs one hash per
    touched GROUP (not per row), and is not constant-folded because
    the left side is non-foldable. Pinned by
    tests/test_plan_shapes.py::test_maintain_extrema_recompute_prunes
    — if a Spark upgrade starts folding it or stops accepting it as
    selective, that test fails loudly rather than the plan silently
    degrading to full scans."""
    return df.filter(
        F.xxhash64(*[F.col(c) for c in cols])
        >= F.lit(-(2 ** 63)))


def _delta_rows(actions: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(removed, added)``: the actions rows whose current row a
    merge removes (D/U/X) and whose staged row it adds (I/U/X) — the
    one place the family splits an actions frame by action code."""
    return (actions.filter(F.col("action").isin(*_REMOVES)),
            actions.filter(F.col("action").isin(*_ADDS)))


def delta_keys(actions: DataFrame, key: str = "key"
               ) -> tuple[DataFrame, DataFrame]:
    """``(removed, added)``: the broadcast keys, named ``key``, of the
    current rows a merge removes and of the staged rows it adds."""
    return tuple(F.broadcast(rows.select(F.col("key").alias(key)))
                 for rows in _delta_rows(actions))


def carried_touched_groups(actions: DataFrame,
                           group_cols: list[str],
                           del_only: bool = False) -> DataFrame | None:
    """Derive the touched-group relation from an actions frame that
    was built with ``classify_actions(..., carry_cols=group_cols)``
    — O(|changes|), no scan of the base table. Returns None when the
    actions frame does not carry the group columns (callers fall
    back to the semi-join derivation over current/staged).

    ``del_only=True`` returns just the groups that LOSE rows (the
    current side of D/U/X) — maintain_hll's recompute trigger;
    otherwise both sides union (groups losing rows ∪ groups gaining
    rows), the maintain_extrema/topk/distinct touched set."""
    cols = set(actions.columns)
    if not all(f"_old_{g}" in cols and f"_new_{g}" in cols
               for g in group_cols):
        return None
    removed, added = _delta_rows(actions)

    def groups(rows, prefix):
        return rows.select(*[F.col(f"{prefix}{g}").alias(g)
                             for g in group_cols])
    touched = groups(removed, "_old_")
    if not del_only:
        touched = touched.unionByName(groups(added, "_new_"))
    return mark_selective_for_dpp(touched.distinct(), group_cols)


def fallback_touched_groups(current: DataFrame, staged: DataFrame,
                            actions: DataFrame, key: str,
                            group_cols: list[str],
                            del_only: bool = False) -> DataFrame:
    """Semi-join derivation of the touched-group relation for an
    actions frame built WITHOUT carried group columns — an O(N)
    key-semi-join scan of current/staged (key + group columns only),
    unlike :func:`carried_touched_groups`' O(|changes|) read of the
    actions frame.

    The result is PERSISTED (released with the engine's other caches
    by ``cache.release_caches()``): the consumer
    evaluates the relation several times — the bounded inline probe
    collect, both semi-join branches when the probe overflows the
    inline threshold, and the untouched-view anti join — and without
    the persist each evaluation re-runs the two base-table scans
    (measured as the r14 advice item this closes). The carried path
    needs no persist: its derivation is a projection of the
    |changes|-sized actions frame.

    ``del_only`` mirrors carried_touched_groups: just the groups
    that LOSE rows (maintain_hll's recompute trigger)."""
    del_keys, ins_keys = delta_keys(actions, key)
    touched = current.join(del_keys, key, "left_semi").select(*group_cols)
    if not del_only:
        touched = touched.unionByName(
            staged.join(ins_keys, key, "left_semi").select(*group_cols))
    return mark_selective_for_dpp(
        persist(touched.distinct(), StorageLevel.MEMORY_AND_DISK),
        group_cols)


def touched_groups(current: DataFrame, staged: DataFrame,
                   actions: DataFrame, key: str, group_cols: list[str],
                   del_only: bool = False) -> DataFrame:
    """The touched-group relation of a refresh: carried from the
    actions frame when it holds the group columns, else the semi-join
    fallback (see the two functions above).

    Cache note: the fallback persists its relation through
    ``cache.persist`` and the returned plan is lazy, so the persist
    cannot be dropped here. Long-lived sessions issuing repeated
    non-carried refreshes must call ``cache.release_caches()``
    between refreshes; the carried path persists nothing."""
    touched = carried_touched_groups(actions, group_cols, del_only)
    if touched is None:
        touched = fallback_touched_groups(current, staged, actions, key,
                                          group_cols, del_only)
    return touched


def groups_match(left: DataFrame, right: DataFrame,
                 group_cols: list[str]) -> Column:
    """Null-safe equality of two frames' group columns: GROUP BY's
    one-NULL-group semantics as a join condition."""
    return reduce(lambda a, b: a & b,
                  [left[g].eqNullSafe(right[g]) for g in group_cols])


def drop_groups(df: DataFrame, groups: DataFrame,
                group_cols: list[str]) -> DataFrame:
    """``df`` without the rows whose group is in ``groups``: a
    broadcast null-safe anti join."""
    d, t = df.alias("_d"), F.broadcast(groups).alias("_t")
    return d.join(t, groups_match(d, t, group_cols), "left_anti")


def _inline_groups(rows: list, group_cols: list[str]) -> Column:
    """The collected touched groups as ONE ``IN`` predicate. A single
    group column is ``g IN (...)``, with ``OR g IS NULL`` when a NULL
    group is touched; several are one struct ``IN``, whose struct
    equality compares fields null-safely. Either way the predicate
    stays one expression whatever the group count, so whole-stage
    codegen stays on (an OR of per-group equalities outgrows the
    64 KB method limit)."""
    if len(group_cols) > 1:
        return F.struct(*group_cols).isin(
            [F.struct(*[F.lit(r[g]).alias(g) for g in group_cols])
             for r in rows])
    g = F.col(group_cols[0])
    values = [r[group_cols[0]] for r in rows]
    present = [v for v in values if v is not None]
    cond = g.isin(present) if present else F.lit(False)
    return cond | g.isNull() if None in values else cond


def touched_group_semi(merged: DataFrame, touched: DataFrame,
                       group_cols: list[str],
                       null_safe: bool = True,
                       inline_threshold: int = 0) -> DataFrame:
    """Left-semi restrict ``merged`` to the touched groups, in the
    one shape dynamic partition pruning can use.

    GROUP BY treats NULL as one group, so the recompute family
    compares groups null-safely — but Spark plans a null-safe
    equi-join with ``coalesce``/``isnull``-wrapped keys, and DPP
    only prunes when the join key is the bare partition column. A
    single null-safe semi join therefore ALWAYS full-scans a
    group-partitioned base. Split instead:

    - touched groups with no NULL member join on plain column-name
      equality — the partition attribute stays bare, DPP prunes the
      scan to those groups' partitions (pinned by
      tests/test_plan_shapes.py::test_maintain_extrema_recompute_prunes);
    - the rare touched group containing a NULL goes through the
      null-safe join. When no such group exists — every real refresh
      — the broadcast side is empty and AQE's empty-relation
      propagation eliminates that branch at runtime, so the planned
      second scan never executes.

    Plain equality on the fast branch is exact for it: a NULL-group
    merged row cannot equal a non-null touched row under either
    semantics, and non-null rows compare identically.

    ``null_safe=False`` drops the slow branch entirely — for group
    columns the caller KNOWS contain no NULLs (declared NOT NULL,
    synthetic buckets, calendar columns). This matters beyond plan
    aesthetics: AQE submits leaf stages concurrently, so even an
    always-empty slow branch pays its full merged scan before
    empty-relation propagation can cancel the join (measured at
    sf10: the empty branch's scan cost the entire full-rebuild
    time, erasing the pruning win — SCALE_SOAK.json
    pruned_recompute_soak).

    ``inline_threshold > 0`` enables the strongest pruning form: the
    touched groups are collected (a BOUNDED driver collect — at most
    threshold+1 rows fetched; if more exist the code falls back to
    the join path, so the collect can never scale with data) and
    inlined as one literal ``IN`` predicate (:func:`_inline_groups`),
    which reaches the scan as a STATIC PartitionFilter — no subquery
    machinery, no broadcast, the same plan a hand-written ``WHERE
    month IN (...)`` gets. Measured at sf10/80 partitions: static
    0.13 s vs DPP 0.61 s vs unpruned 0.87 s for the same semi-join.
    This is the affected-partition pattern every incremental
    lakehouse job uses; the threshold makes its driver cost a
    declared constant. NULL groups stay matched null-safely on this
    path regardless of ``null_safe``."""
    if inline_threshold > 0:
        rows = touched.limit(inline_threshold + 1).collect()
        if len(rows) <= inline_threshold:
            if not rows:
                return merged.filter(F.lit(False))
            return merged.filter(_inline_groups(rows, group_cols))
    nn = reduce(lambda a, b: a & b,
                [F.col(g).isNotNull() for g in group_cols])
    fast = merged.join(F.broadcast(touched.filter(nn)),
                       group_cols, "left_semi")
    if not null_safe:
        return fast
    m = merged.alias("m")
    t = F.broadcast(touched.filter(~nn)).alias("t")
    return fast.unionByName(
        m.join(t, groups_match(m, t, group_cols), "left_semi"))


@dataclass
class MergeStats:
    """Per-load counts, mirroring bde_control.upload_stats
    (sql/01-bde_control_tables.sql:177-217)."""

    ninsert: int = 0
    nupdate: int = 0
    nnullupdate: int = 0
    ndelete: int = 0


def select_valid_columns(file_columns: list[str], table_columns: list[str]) -> list[str]:
    """P1: ordered intersection of file fields with target table columns.

    Order follows the *file* header; extra file fields are dropped;
    zero overlap is a hard error (lib/LINZ/BdeUpload.pm:1030-1033).
    """
    target = {c.lower() for c in table_columns}
    valid = [c for c in file_columns if c.lower() in target]
    if not valid:
        raise ValueError(
            "no columns of the source file match the target table "
            f"(file={file_columns!r}, table={table_columns!r})"
        )
    return valid


def rows_equal_expr(left: str, right: str, columns: list[str]) -> str:
    """SQL text of the null-safe all-columns-equal comparison of the
    ``left`` and ``right`` aliases (the reference generates per-column
    null-safe compare SQL via table_version `_ver_get_compare_sql`;
    here it is one codegen-friendly conjunction)."""
    return " AND ".join(
        ["true"] + [f"({ident(left, c)} <=> {ident(right, c)})"
                    for c in columns])


def any_differs_expr(left: str, right: str, columns: list[str]) -> str:
    """SQL text that is true when some column of ``columns`` differs
    null-safely between the two aliases."""
    return " OR ".join(
        ["false"] + [f"(NOT ({ident(left, c)} <=> {ident(right, c)}))"
                     for c in columns])


def prepare_change_table(changes: DataFrame, table_name: str,
                         tablename_col: str = "tablename",
                         key_col: str = "tablekeyvalue") -> DataFrame:
    """P4+P5: normalize case, keep this table's keys, project + dedup.

    Reference: `_bde_PrepareChangeTable` lowercases table names
    (sql/02-bde_control_functions.sql.in:1479-1480) and the per-table
    extraction filters `tablename = lower(<t>)` projecting the key
    (:1695-1708).
    """
    return (
        changes
        .filter(F.lower(F.col(tablename_col)) == table_name.lower())
        .select(F.col(key_col).alias("key"))
        .distinct()
    )


def fix_key_swaps(staged: DataFrame, current: DataFrame, change_keys: DataFrame,
                  key: str, unique_cols: list[str]) -> DataFrame:
    """J4: key-swap repair.

    Landonline sometimes swaps primary values between rows: a staged row
    carries a *unique-constraint* value that currently belongs to a row
    with a DIFFERENT key. The displaced current key must join the change
    set (as a delete/update candidate) or the merge would leave a
    phantom duplicate of the unique value.

    Reference: `_bde_FixChangedIncKeyRecords`
    (sql/02-bde_control_functions.sql.in:2146-2226) — θ-join
    `NEW.u = CUR.u AND NEW.key <> CUR.key`, NOT EXISTS dedup against the
    change list.

    Returns the augmented change-key DataFrame (column ``key``).
    """
    if not unique_cols:
        return change_keys
    extra = None
    stg = staged.select(key, *unique_cols).alias("n")
    cur = current.select(key, *unique_cols).alias("c")
    for u in unique_cols:
        displaced = (
            stg.join(
                cur,
                # null-rejecting = like the reference's theta-join: two
                # NULL unique values are NOT a swap (a null-safe match
                # would near-cross-join all NULL rows and mark valid
                # keys for deletion)
                (F.col(f"n.{u}") == F.col(f"c.{u}"))
                & (F.col(f"n.{key}") != F.col(f"c.{key}")),
                "inner",
            )
            .select(F.col(f"c.{key}").alias("key"))
        )
        extra = displaced if extra is None else extra.unionByName(displaced)
    missing = extra.distinct().join(change_keys, "key", "left_anti")
    return change_keys.unionByName(missing)


def _change_key_set(change_keys: DataFrame) -> DataFrame:
    """The broadcast, de-duplicated change-key relation (column
    ``key``) that restricts both sides of a classify."""
    return F.broadcast(
        change_keys.select(F.col("key").cast("long")).distinct())


def _classify_join(current: DataFrame, staged: DataFrame,
                   chg: DataFrame | None, key: str,
                   side_cols: list[str]) -> DataFrame:
    """The full-outer join of the two sides, each projected to ``key``
    + ``side_cols`` and aliased ``cur`` and ``stg``: restricted to the
    change-key residues when ``chg`` (a ``_change_key_set``) is given,
    whole for a full diff (``chg`` None)."""
    def side(df, alias):
        if chg is not None:
            df = df.join(chg, df[key] == chg["key"], "left_semi")
        return df.selectExpr(f"{ident(key)} AS `key`",
                             *map(ident, side_cols)).alias(alias)

    return side(current, "cur").join(
        side(staged, "stg"), F.col("cur.key") == F.col("stg.key"),
        "full_outer")


# the key of a ``_classify_join`` row, whichever side holds it
_EITHER_KEY = f"coalesce({ident('cur', 'key')}, {ident('stg', 'key')})"


def _action(key: str, compare_cols: list[str], unique_cols: list[str],
            same: str | None = ACTION_NULL_UPDATE) -> str:
    """SQL text of the I/U/D/0/X action of a ``_classify_join`` row.
    ``same`` is the code of a key whose two rows are equal: '0' for a
    change list (a null update), None for a full diff, where an
    identical row is no change."""
    non_key_cols = [c for c in compare_cols if c != key]
    equal = rows_equal_expr("cur", "stg", non_key_cols)
    unique_changed = (any_differs_expr(
        "cur", "stg", [c for c in unique_cols if c != key])
        if unique_cols else "false")
    same_code = "NULL" if same is None else literal(same)
    return (f"CASE WHEN {ident('stg', 'key')} IS NULL "
            f"THEN {literal(ACTION_DELETE)} "
            f"WHEN {ident('cur', 'key')} IS NULL "
            f"THEN {literal(ACTION_INSERT)} "
            f"WHEN {equal} THEN CAST({same_code} AS STRING) "
            f"WHEN {unique_changed} THEN {literal(ACTION_KEY_CHANGE)} "
            f"ELSE {literal(ACTION_UPDATE)} END")


def classify_actions(current: DataFrame, staged: DataFrame, change_keys: DataFrame,
                     key: str, compare_cols: list[str],
                     unique_cols: list[str] | None = None,
                     carry_cols: list[str] | None = None) -> DataFrame:
    """J1+J2+J3 in one pass: produce the action DataFrame
    ``(key, action ∈ {I,U,D,0,X})`` for keys named in the change list.

    Semantics (reference `_bde_CreateIncDeletes/Inserts/Updates`):
      - key in change ∧ in current ∧ not in staged          -> D
      - key in change ∧ in staged  ∧ not in current         -> I
      - key in change ∧ in both:
          all compare columns null-safe equal               -> 0
          a unique-constraint column changed                -> X
          otherwise                                         -> U
      - key in change ∧ in neither                          -> (no row)

    Physical plan: the change-key list is broadcast into BOTH big-table
    scans (semi-join reduces each side to changed keys only — at 100 TB
    this is the difference between scanning millions vs billions of
    rows), then a key-partitioned full-outer join of the two small
    residues. With a bucketed store the residue join is shuffle-free.

    ``carry_cols``: optionally carry these columns' BOTH sides into
    the output as ``_old_<c>`` (current row) / ``_new_<c>`` (staged
    row) — NULL on the side an I/D action lacks. The classify join
    already holds both rows, so carrying is free; it is what lets
    the partial-refresh IVM family derive its touched-group set from
    the |changes|-sized actions frame instead of re-scanning the
    base table by key (an O(N) scan that would otherwise bound every
    "O(changes)" refresh from below — see maintain_extrema's
    touched derivation). The default output schema is unchanged.
    """
    unique_cols = unique_cols or []
    carry_cols = carry_cols or []
    side_cols = list(dict.fromkeys(
        list(compare_cols) + [c for c in carry_cols
                              if c not in compare_cols]))
    joined = _classify_join(current, staged, _change_key_set(change_keys),
                            key, side_cols)
    return joined.selectExpr(
        f"{_EITHER_KEY} AS `key`",
        f"{_action(key, compare_cols, unique_cols)} AS `action`",
        *[f"{ident('cur', c)} AS {ident(f'_old_{c}')}" for c in carry_cols],
        *[f"{ident('stg', c)} AS {ident(f'_new_{c}')}" for c in carry_cols],
    )


def apply_actions(current: DataFrame, staged: DataFrame, actions: DataFrame,
                  key: str) -> DataFrame:
    """J6: apply the action set to the current table.

    Reference applies via table_version `_ver_apply_changes`
    (delete/update/insert loops); X rows are applied as delete+insert
    (:2335-2352). In Spark the equivalent relational rewrite is:

        kept    = current  ANTI JOIN touched-keys(D,U,X)
        upserts = staged  SEMI JOIN  upsert-keys(I,U,X)
        result  = kept ∪ upserts

    Rows with action '0' are untouched by construction. On a
    hash-bucketed store only buckets containing touched keys need
    rewriting (partition-pruned merge).
    """
    touched, upserted = delta_keys(actions)
    kept = current.join(touched, current[key] == touched["key"], "left_anti")
    ups = staged.join(upserted, staged[key] == upserted["key"], "left_semi")
    return kept.unionByName(ups.select(*current.columns))


def _stats_of(counts: dict[str, int]) -> MergeStats:
    """A3: the ledger's I/U/0/D counts from per-action counts. X
    counts as BOTH an insert and a delete for stats parity (the
    reference applies X as delete+insert; see FIXTURES.md F2 golden
    stats: the re-keyed row lands as +1 insert +1 delete)."""
    x = counts.get(ACTION_KEY_CHANGE, 0)
    return MergeStats(
        ninsert=counts.get(ACTION_INSERT, 0) + x,
        nupdate=counts.get(ACTION_UPDATE, 0),
        nnullupdate=counts.get(ACTION_NULL_UPDATE, 0),
        ndelete=counts.get(ACTION_DELETE, 0) + x,
    )


def merge_stats(actions: DataFrame) -> MergeStats:
    """A3: I/U/0/D counts of an actions frame, by one aggregate
    action. The driver observes its loads' stats in the store write
    instead (:class:`MergeObservation`)."""
    return _stats_of({r["action"]: r["n"] for r in
                      actions.groupBy("action")
                      .agg(F.count("*").alias("n")).collect()})


def merge_tagged(current: DataFrame, staged: DataFrame,
                 change_keys: DataFrame | None, key: str,
                 unique_cols: list[str] | None = None) -> DataFrame:
    """J1-J3 + J6 as one lazy plan: the merged table plus one row per
    deleted key, every row tagged in ``ACTION_COL``.

        kept     = current ANTI JOIN change keys          (tag NULL)
        changed  = classify's full-outer residue join, each row the
                   current row for D and 0 and the staged row for
                   I/U/X                                   (tag = action)
        result   = kept ∪ changed

    Dropping the D rows gives exactly ``apply_actions(current,
    staged, classify_actions(...))`` for tables whose key is unique
    on each side (an action-0 row is the current row, as apply
    keeps it). The tags let :class:`MergeObservation` count the
    actions in the same pass that writes the result, so the load
    needs no persisted actions frame and no stats action: the
    reference, too, gets its upload stats as a by-product of the
    apply (sql/02-bde_control_functions.sql.in:1576-1818).

    ``change_keys`` None is the full form, J5's diff applied: the
    whole of both sides is joined, ``kept`` is empty, and an
    identical row is the current row with no tag, so the observed
    stats are :func:`full_diff`'s I/U/D with no null updates.

    The chosen side travels as one struct. Choosing per column would
    repeat the action expression (itself a comparison of every
    column) once per column, and the optimizer's cost grows with the
    square of the table's width."""
    cols = current.columns
    chg = None if change_keys is None else _change_key_set(change_keys)
    action = _action(key, cols, unique_cols or [],
                     ACTION_NULL_UPDATE if chg is not None else None)

    def side(alias):
        return f"struct({', '.join(ident(alias, c) for c in cols)})"

    adds = ", ".join(map(literal, _ADDS))
    row = (f"CASE WHEN ({action}) IN ({adds}) THEN {side('stg')} "
           f"ELSE {side('cur')} END")
    changed = (_classify_join(current, staged, chg, key, cols)
               .selectExpr(f"{row} AS _row", f"{action} AS {ACTION_COL}")
               .select("_row.*", ACTION_COL))
    if chg is None:
        return changed
    kept = (current.join(chg, current[key] == chg["key"], "left_anti")
            .withColumn(ACTION_COL, F.lit(None).cast("string")))
    return kept.unionByName(changed)


class MergeObservation:
    """The I/U/0/D/X counts and the written row count of a
    :func:`merge_tagged` plan, observed in the action that consumes
    it. ``apply`` is the store write's ``clustered`` hook; ``result``
    blocks until that action has finished."""

    _CODES = (ACTION_INSERT, ACTION_UPDATE, ACTION_NULL_UPDATE,
              ACTION_DELETE, ACTION_KEY_CHANGE)

    def __init__(self):
        self._obs = Observation()

    def apply(self, tagged: DataFrame, segment: bool = False) -> DataFrame:
        """Observe ``tagged``'s tags and its new state's row count,
        then keep the rows a store version holds: for a full snapshot
        the new state (the D rows and the tag column dropped), for a
        delta segment (``segment``, see ``TableStore.write``) every
        tagged row with its tag: I, U, X and the null-update 0 rows,
        and D rows as key tombstones. So a segment holds every new row
        of each key it names, which is what lets the fold replace the
        key's stored rows wholesale (a staged file repeating a changed
        key included)."""
        tag = F.col(ACTION_COL)
        written = ~tag.eqNullSafe(ACTION_DELETE)
        observed = tagged.observe(
            self._obs,
            *[F.count(F.when(tag == a, 1)).alias(f"n_{a}")
              for a in self._CODES],
            F.count(F.when(written, 1)).alias("rows"))
        if segment:
            return observed.filter(tag.isNotNull())
        return observed.filter(written).drop(ACTION_COL)

    def result(self) -> tuple[MergeStats, int]:
        """``(stats, rows written)``."""
        m = self._obs.get
        return _stats_of({a: m[f"n_{a}"] for a in self._CODES}), m["rows"]


def full_diff(current: DataFrame, staged: DataFrame, key: str,
              compare_cols: list[str]) -> DataFrame:
    """J5: full-table diff for `-full-incremental` loads.

    Reference: table_version.ver_apply_table_differences (called at
    sql/02-bde_control_functions.sql.in:1914-1928) computes I/U/D
    between the current table and a complete new snapshot by key;
    identical rows produce no action.

    The ``(key, action)`` projection of classify's join and action
    rule in their full form (no change list, so both sides scan
    fully) — the same plan :func:`merge_tagged` writes for an EP3
    load. This is the sort-merge-join path, and the place where a
    bucketed/co-partitioned store pays off most.
    """
    non_key_cols = [c for c in compare_cols if c != key]
    return (
        _classify_join(current, staged, None, key, non_key_cols)
        .selectExpr(f"{_EITHER_KEY} AS `key`",
                    f"{_action(key, compare_cols, [], None)} AS `action`")
        .filter("`action` IS NOT NULL")
    )


def check_tolerance(new_count: int, prev_count: int,
                    tol_error: float | None, tol_warning: float | None) -> str:
    """A7: row-count tolerance gate (`_bde_CheckTableCount`,
    sql/02-bde_control_functions.sql.in:2006-2085; config
    conf/tables.conf:44-46).

    expected = ceil(prev_count * tol); fail if new < expected(error),
    warn if new < expected(warning). Returns 'ok' | 'warning' | 'error'.

    NOTE the reference's early-return fires when
    `row_tol_error IS NOT NULL AND row_tol_warning IS NULL` (:2054),
    contradicting its own comment; we implement the *intended*
    semantics (skip only when both are NULL) — divergence documented in
    SURVEY.md §2.4 A7.
    """
    import math

    if tol_error is None and tol_warning is None:
        return "ok"
    if tol_error is not None and new_count < math.ceil(prev_count * tol_error):
        return "error"
    if tol_warning is not None and new_count < math.ceil(prev_count * tol_warning):
        return "warning"
    return "ok"


def aggregate_view(df: DataFrame, group_cols: list[str],
                   value_col: str,
                   value_type: str = "decimal(12,2)") -> DataFrame:
    """The aggregate view shape — (group_cols..., n, n_vals, total):
    row count, non-null value count and DECIMAL(38,2) value sum.
    Shared by :func:`maintain_aggregate`'s bootstrap and the direct
    seeding path. It counts the CAST column, not the raw one: a
    non-null value that casts to NULL is no value, in the seed as in
    the delta."""
    v = F.col(value_col).cast(value_type)
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n"), F.count(v).alias("n_vals"),
        F.sum(v).cast("decimal(38,2)").alias("total"))


def extrema_view(df: DataFrame, group_cols: list[str], value_col: str,
                 value_type: str = "decimal(12,2)") -> DataFrame:
    """The min/max view shape — (group_cols..., n, vmin, vmax) of the
    value cast to ``value_type``. Shared by :func:`maintain_extrema`
    and the direct seeding path."""
    v = F.col(value_col).cast(value_type)
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n"), F.min(v).alias("vmin"),
        F.max(v).alias("vmax"))


def topk_view(df: DataFrame, group_cols: list[str], key: str,
              value_col: str, k: int,
              value_type: str = "decimal(12,2)") -> DataFrame:
    """The top-k view shape — (group_cols..., rank, key, value) with
    rank = row_number over (value DESC, key ASC), a total order so
    the view is set-deterministic. Single source of truth for
    :func:`maintain_topk`'s recompute/bootstrap AND the direct
    seeding path (view_refresh.seed_views): both MUST rank
    identically or an L0 seed and a later L5 refresh would disagree
    on ties. The rank<=k filter is WindowGroupLimit-pruned (pinned
    by tests/test_plan_shapes.py)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_v").desc(), F.col(key).asc())
    return (df.select(*group_cols, F.col(key),
                      F.col(value_col).cast(value_type).alias("_v"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(*group_cols, F.col("rank").cast("bigint"),
                    F.col(key), F.col("_v").alias(value_col)))


def distinct_view(df: DataFrame, group_cols: list[str],
                  value_col: str) -> DataFrame:
    """The distinct-count view shape — (group_cols..., n,
    n_distinct), both BIGINT. Shared by :func:`maintain_distinct`
    and the direct seeding path. Two-key hash aggregate ((group,
    value) then group), NOT count-distinct-with-other-aggs: keeping
    n as the sum of first-level multiplicities avoids Catalyst's
    Expand doubling of the input stream."""
    per_value = (df.groupBy(*group_cols, value_col)
                 .agg(F.count("*").alias("_m")))
    return (per_value.groupBy(*group_cols)
            .agg(F.sum("_m").cast("bigint").alias("n"),
                 F.count(value_col).alias("n_distinct")))


def join_view(fact: DataFrame, key: str, dim: DataFrame,
              fact_join_col: str, dim_join_col: str,
              fact_cols: list[str], dim_cols: list[str]) -> DataFrame:
    """The enriched join view shape — (key, *fact_cols, *dim_cols) of
    ``fact`` inner-joined to ``dim``. Shared by :func:`maintain_join`
    and the direct seeding path."""
    return (fact.join(dim, fact[fact_join_col] == dim[dim_join_col],
                      "inner")
            .select(fact[key], *[fact[c] for c in fact_cols],
                    *[dim[c] for c in dim_cols]))


def _refresh_touched(current: DataFrame, staged: DataFrame,
                     actions: DataFrame, key: str,
                     group_cols: list[str], merged: DataFrame,
                     shape, old: DataFrame | None,
                     groups_nullable: bool,
                     inline_threshold: int) -> DataFrame:
    """The partial-refresh body of maintain_extrema, maintain_topk and
    maintain_distinct: ``shape`` (a view shape of a frame) recomputed
    over the touched groups' merged rows, unioned with every
    untouched group of ``old`` — or of ``shape(merged)`` when ``old``
    is None (the bootstrap / differential-test path: same result, not
    O(changes))."""
    touched = touched_groups(current, staged, actions, key, group_cols)
    recomputed = shape(touched_group_semi(
        merged, touched, group_cols, null_safe=groups_nullable,
        inline_threshold=inline_threshold))
    base = old if old is not None else shape(merged)
    return drop_groups(base, touched, group_cols).unionByName(recomputed)


def maintain_aggregate(current: DataFrame, staged: DataFrame,
                       actions: DataFrame, key: str,
                       group_cols: list[str], value_col: str,
                       value_type: str = "decimal(12,2)",
                       old_agg: DataFrame | None = None) -> DataFrame:
    """Incremental materialized-aggregate maintenance over a CDC
    action set: given per-group (n, n_vals, total) state, produce the
    post-merge aggregate WITHOUT rescanning the merged table — the
    materialized-view delta algebra (count and sum are
    self-maintainable aggregates; the non-null value count rides
    along so SQL's NULL-sum-of-no-values semantics survive).

    Delta relation:
      action D/U/X  -> the current row's (group, -1, -value)
      action I/U/X  -> the staged  row's (group, +1, +value)
      action 0      -> no rows
    The old aggregate unions with the delta and one bounded-key
    re-aggregate yields the new state; groups whose count reaches 0
    drop out. Updates that MOVE a row between groups are handled for
    free (subtract from the old group, add to the new one).

    Scale shape: the action list is the broadcast side of two semi
    joins, so only changed-key rows are touched — at 100 TB this is
    the difference between O(|changes|) and re-aggregating billions
    of rows per refresh. Values accumulate as DECIMAL so the
    subtract/add arithmetic is exact: an incrementally-maintained
    float sum would drift from the direct recompute, and the whole
    point (proven differentially by ``cdc_incremental_agg``'s oracle,
    which recomputes the aggregate directly from the merged state) is
    bit-equality with a from-scratch refresh.

    Reference analog: the reference maintains its upload_stats ledger
    incrementally per merge (sql/02-bde_control_functions.sql.in
    :2300-2373 counts actions as it classifies); this generalizes the
    same idea to user-facing aggregates."""
    v = F.col(value_col).cast(value_type)
    acc = "decimal(38,2)"
    vn = F.when(v.isNotNull(), F.lit(1)).otherwise(F.lit(0)).cast("long")
    del_keys, ins_keys = delta_keys(actions, key)
    if old_agg is None:
        old_agg = aggregate_view(current, group_cols, value_col,
                                 value_type)
    # the stored view (group_cols, n, n_vals, total) from the previous
    # refresh — the truly-incremental path: no scan of current beyond
    # the changed keys below
    old = old_agg.select(
        *group_cols, F.col("n").cast("long").alias("_dn"),
        F.col("n_vals").cast("long").alias("_dv"),
        F.col("total").cast(acc).alias("_ds"))
    neg = current.join(del_keys, key, "left_semi").select(
        *group_cols, F.lit(-1).cast("long").alias("_dn"),
        (-vn).alias("_dv"), (-v).cast(acc).alias("_ds"))
    pos = staged.join(ins_keys, key, "left_semi").select(
        *group_cols, F.lit(1).cast("long").alias("_dn"),
        vn.alias("_dv"), v.cast(acc).alias("_ds"))
    # n_vals (count of NON-NULL values) is maintained alongside n so
    # the sum can be reported as SQL does: NULL when a group retains
    # rows but no non-null values — the delta arithmetic alone would
    # report 0 there (sum-of-nothing vs empty-sum, the classic IVM
    # trap; caught by the hypothesis property test).
    return (
        old.unionByName(neg).unionByName(pos)
        .groupBy(*group_cols)
        .agg(F.sum("_dn").cast("long").alias("n"),
             F.sum("_dv").cast("long").alias("n_vals"),
             F.sum("_ds").cast(acc).alias("_total"))
        .filter(F.col("n") > 0)
        .withColumn("total", F.when(F.col("n_vals") > 0, F.col("_total"))
                    .otherwise(F.lit(None).cast(acc)))
        .drop("_total")
    )


def maintain_extrema(current: DataFrame, staged: DataFrame,
                     actions: DataFrame, key: str,
                     group_cols: list[str], value_col: str,
                     merged: DataFrame,
                     old_extrema: DataFrame | None = None,
                     value_type: str = "decimal(12,2)",
                     groups_nullable: bool = True,
                     touched_inline_threshold: int = TOUCHED_INLINE_DEFAULT) -> DataFrame:
    """Partial-refresh maintenance for NON-self-maintainable
    aggregates (min/max): deleting a group's extremum cannot be
    undone by delta arithmetic, so the standard technique recomputes
    ONLY the touched groups from the merged state and carries every
    untouched group forward from the stored view.

    Touched groups = groups of current rows named by D/U/X actions
    union groups of staged rows named by I/U/X (an update can move a
    row between groups, touching both). When ``actions`` carries the
    group columns (``classify_actions(..., carry_cols=group_cols)``)
    the touched set derives from the actions frame alone —
    O(|changes|), no key semi-join rescan of current/staged; without
    carry it falls back to the semi-join derivation (O(N) scan of
    the two sides' key+group columns). The touched-group relation is
    |changed keys|-bounded and broadcasts; the recompute scans only
    those groups' merged rows — partition-pruned via DPP on a
    group-partitioned base (touched_group_semi) — and untouched view
    rows pass through with an anti join. Group keys compare
    null-safely so a NULL group is one group, exactly as GROUP BY
    treats it; ``groups_nullable=False`` drops the null-group branch
    for NOT-NULL group columns (see touched_group_semi for why that
    branch costs a full scan under AQE even when empty).

    Returns (group_cols, n, vmin, vmax). With ``old_extrema=None``
    the untouched side is computed from ``merged`` directly (the
    bootstrap / differential-test path — same result, not O(changes)).

    Cache note: the non-carried fallback persists its touched
    relation (see :func:`touched_groups`)."""
    return _refresh_touched(
        current, staged, actions, key, group_cols, merged,
        lambda df: extrema_view(df, group_cols, value_col, value_type),
        old_extrema, groups_nullable, touched_inline_threshold)


def maintain_topk(current: DataFrame, staged: DataFrame,
                  actions: DataFrame, key: str,
                  group_cols: list[str], value_col: str,
                  merged: DataFrame, k: int = 3,
                  old_topk: DataFrame | None = None,
                  value_type: str = "decimal(12,2)",
                  groups_nullable: bool = True,
                  touched_inline_threshold: int = TOUCHED_INLINE_DEFAULT) -> DataFrame:
    """Partial-refresh maintenance for a per-group TOP-K view — the
    third member of the IVM family, generalizing
    :func:`maintain_extrema` (min/max = top-1 both directions) to the
    leaderboard shape analytics dashboards and heavy-hitter monitors
    store. Top-k is not self-maintainable for exactly the extrema
    reason, one rank deeper: deleting a group's rank-3 row needs the
    rank-4 row, which the view no longer holds — so touched groups
    recompute from the merged state and untouched groups carry
    forward from the stored view.

    Touched-group derivation, null-safe group comparison, and the
    O(|touched groups' rows|) refresh bound are shared with
    maintain_extrema (same broadcast shapes). The recompute ranks
    with one window per touched group (value DESC, key ASC tie-break
    — total order, so the view is set-deterministic); the touched
    relation is |changed keys|-bounded, and Spark's WindowGroupLimit
    prunes each group's window input to k rows per map partition, so
    no straggler holds more than the touched slice.

    Returns (group_cols..., rank, key, value-as-``value_type``).
    ``old_topk=None`` recomputes the untouched side from ``merged``
    directly (bootstrap / differential-test path). Cache note: the
    non-carried fallback persists its touched relation (see
    :func:`touched_groups`)."""
    return _refresh_touched(
        current, staged, actions, key, group_cols, merged,
        lambda df: topk_view(df, group_cols, key, value_col, k,
                             value_type),
        old_topk, groups_nullable, touched_inline_threshold)


def maintain_sums(current: DataFrame, staged: DataFrame,
                  actions: DataFrame, key: str,
                  group_cols: list[str], sum_cols: list[str],
                  old_sums: DataFrame | None = None) -> DataFrame:
    """Delta maintenance for a per-group COUNT + multi-SUM view of
    integer metrics — the n-column generalization of
    :func:`maintain_aggregate`'s self-maintainable core, for views
    whose every measure is a sum of NON-NULL integers: row counts,
    byte/char totals, and order-independent hash checksums (a sum of
    per-row hashes IS a delta-maintainable integrity stamp — the
    shard-manifest shape). One delta union maintains all measures at
    once: D/U/X rows subtract their (1, measures), I/U/X staged rows
    add theirs, groups reaching zero rows drop out, and group-moving
    updates are handled for free. O(|changes|) per refresh, same
    broadcast-semi-join shapes as the rest of the family.

    Restriction vs maintain_aggregate: measures must be non-null
    (integer metrics are, by construction) — the NULL-sum bookkeeping
    (n_vals) is deliberately omitted, so a NULLable measure belongs
    in maintain_aggregate instead.

    Returns (group_cols..., n, *sum_cols) — all BIGINT."""
    del_keys, ins_keys = delta_keys(actions, key)
    if old_sums is not None:
        old = old_sums.select(
            *group_cols, F.col("n").cast("long").alias("_dn"),
            *[F.col(c).cast("long").alias(f"_d_{c}")
              for c in sum_cols])
    else:
        old = current.groupBy(*group_cols).agg(
            F.count("*").alias("_dn"),
            *[F.sum(F.col(c).cast("long")).alias(f"_d_{c}")
              for c in sum_cols])
    neg = current.join(del_keys, key, "left_semi").select(
        *group_cols, F.lit(-1).cast("long").alias("_dn"),
        *[(-F.col(c)).cast("long").alias(f"_d_{c}") for c in sum_cols])
    pos = staged.join(ins_keys, key, "left_semi").select(
        *group_cols, F.lit(1).cast("long").alias("_dn"),
        *[F.col(c).cast("long").alias(f"_d_{c}") for c in sum_cols])
    return (
        old.unionByName(neg).unionByName(pos)
        .groupBy(*group_cols)
        .agg(F.sum("_dn").cast("long").alias("n"),
             *[F.sum(f"_d_{c}").cast("long").alias(c)
               for c in sum_cols])
        .filter(F.col("n") > 0)
    )


def maintain_join(current: DataFrame, staged: DataFrame,
                  actions: DataFrame, key: str,
                  dim: DataFrame, fact_join_col: str, dim_join_col: str,
                  fact_cols: list[str], dim_cols: list[str],
                  old_view: DataFrame | None = None) -> DataFrame:
    """Delta maintenance of an enriched JOIN view ``V = fact ⋈ dim``
    under fact-side CDC actions — the fifth IVM member, and the
    contrast case that completes the taxonomy: where min/max, top-k
    and distinct-count views need a touched-group rescan of the merged
    state, an inner-join view IS self-maintainable given the dimension
    (the classic delta-join rule, ΔV = ΔF ⋈ D):

      V_new = (V_old  ∖  rows whose fact key is in D/U/X)
              ∪ ((staged ⋉ I/U/X keys) ⋈ dim)

    No scan of the merged fact table at all: the removal side is a
    broadcast anti join of the stored view against the |changes|-bounded
    action keys, and the insertion side joins only the |changes| staged
    rows against the dimension — at 100 TB the refresh cost is
    O(|changes| · join) instead of re-joining billions of fact rows.
    Rows whose ``fact_join_col`` finds no dimension partner are absent
    from the view (inner-join semantics), and the delta preserves that
    for free: removals delete by fact key (removing exactly the view
    rows that existed), additions add exactly what the inner join
    yields. Fact-side updates (U/X) are remove+add, so a row whose
    join column moves between dimension partners relocates correctly.

    Assumes the dimension is static across the refresh (the
    star-schema upload shape: the reference re-points child tables at
    freshly-merged parents per level-0/level-5 cycle rather than
    maintaining views across simultaneous two-sided changes —
    bin/linz_bde_uploader.pl table ordering). Dimension-side changes
    would add the symmetric F ⋈ ΔD term; out of scope here.

    Returns (key, *fact_cols, *dim_cols). ``old_view=None`` computes
    the pre-merge view from ``current`` directly (bootstrap /
    differential-test path — same result, not O(changes))."""
    del_keys, ins_keys = delta_keys(actions, key)
    shape = (dim, fact_join_col, dim_join_col, fact_cols, dim_cols)
    base = old_view if old_view is not None else join_view(
        current, key, *shape)
    kept = base.join(del_keys, key, "left_anti")
    added = join_view(staged.join(ins_keys, key, "left_semi"), key, *shape)
    return kept.unionByName(added)


def maintain_distinct(current: DataFrame, staged: DataFrame,
                      actions: DataFrame, key: str,
                      group_cols: list[str], value_col: str,
                      merged: DataFrame,
                      old_distinct: DataFrame | None = None,
                      groups_nullable: bool = True,
                      touched_inline_threshold: int = TOUCHED_INLINE_DEFAULT) -> DataFrame:
    """Partial-refresh maintenance for a per-group COUNT(DISTINCT
    value) view — the fourth IVM member. Distinct counts are the
    textbook NON-self-maintainable aggregate under deletes: removing
    a row only decrements the count if it was the LAST holder of its
    value in the group, and (n, n_distinct) state cannot answer that
    — you would need the full per-(group, value) multiplicity map,
    which at 100 TB is the table again. So it takes the same
    partial-refresh split as :func:`maintain_extrema`: groups the
    action set touches recompute their distinct count from the
    merged state (an O(|touched groups' rows|) scan bounded by the
    broadcast touched-keys relation), untouched groups carry forward
    from the stored view via a null-safe anti join.

    Returns (group_cols..., n, n_distinct) — both BIGINT, so the
    published shape is oracle-portable by construction (ORACLE.md).
    ``old_distinct=None`` recomputes the untouched side from
    ``merged`` directly (bootstrap / differential-test path).

    The within-group distinct recompute is a two-key hash aggregate
    ((group, value) then group), NOT an expand-based
    count-distinct-with-other-aggs: keeping n via sum of the first
    aggregate's multiplicities avoids Catalyst's Expand doubling of
    the touched-row stream.

    Reference analog: the reference's per-upload statistics count
    distinct affected keys per table incrementally as each change
    applies (sql/02-bde_control_functions.sql.in:2300-2373); this
    generalizes that ledger shape to user-facing distinct-count
    views.

    Cache note: the non-carried fallback persists its touched
    relation (see :func:`touched_groups`)."""
    return _refresh_touched(
        current, staged, actions, key, group_cols, merged,
        lambda df: distinct_view(df, group_cols, value_col),
        old_distinct, groups_nullable, touched_inline_threshold)
