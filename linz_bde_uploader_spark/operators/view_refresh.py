"""Maintained-view refresh shared by the STREAMING upload
(streaming/events.streaming_cdc_upload) and the BATCH CLI driver
(driver.BdeUploader): one implementation of the dataset-stamp replay
guard and the per-family maintenance calls, so the two paths cannot
drift. Each view a ``ViewSpec`` declares is one entry of ``_views``:
its table suffix, its seed (the view's one shape function in
operators/merge.py or operators/sketches.py) and its ``maintain_*``
refresh; ``seed_views`` and ``refresh_views`` are each one loop over
those entries.

Reference contract: derived state stays consistent with the merge
inside the same dataset transaction — the reference runs its
bde_postupload_* maintenance functions within the dataset scope
(sql/02-bde_control_functions.sql.in:2595-2676) and wraps each
dataset's work in one transaction (lib/LINZ/BdeDatabase.pm:455-510).
Here the equivalent guarantee is recovery-based instead of
transactional: every view table carries the dataset it last
incorporated as its store revision comment (C8), a view write is
skipped when that stamp is AT OR PAST the incoming dataset, and every
view write lands before the base pointer flips (the batch driver
writes views inside the base write's verdict, the streaming path
before its base write). Datasets apply in sorted order, so stamps
are monotone and ">= ds" means "a crashed run already applied this
delta". The comparison must be ordered, not equality: for a crashed
multi-dataset run [d1, d2] that died after d2's view write but
before d2's base pointer flipped, the re-run replays d1 first — its
all-'0' refresh is a no-op delta, but an equality guard would
re-STAMP the view back to d1, letting d2's delta apply a second time
and silently double-count the view. With the ordered guard the d1
replay leaves the d2 stamp in place. Before a view write the delta
is re-derivable from the still-pre-merge base; after it the stamp
skips the double-apply — every crash window replays to the same
state, with no cross-table transaction. (Dataset names are
fixed-width timestamps, so lexicographic order is chronological
order — the O1 repository-ordering invariant.)

Scale shape: each refresh is the delta algebra of operators/merge.py
— O(|changes|) for the self-maintainable views (agg, join, cms), a
recompute of only the touched groups' merged rows for the others —
never a rebuild from the whole merged base table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linz_bde_uploader_spark.operators import merge as M


@dataclass
class ViewSpec:
    """Which maintained views a table carries.

    - ``group_cols`` + ``value_col``: an aggregate view
      ``<table>__agg`` (group_cols, n, n_vals, total) maintained by
      the self-maintainable delta algebra, plus — when ``minmax`` —
      an extrema view ``<table>__minmax`` (group_cols, n, vmin, vmax)
      maintained by touched-group partial refresh.
    - ``join``: an enriched join view ``<table>__join`` maintained by
      the delta-join rule; keys ``dim`` (static dimension DataFrame),
      ``fact_col``, ``dim_col``, ``fact_cols``, ``dim_cols``.
    - ``hll_key`` (requires ``group_cols``): a distinct-count sketch
      view ``<table>__hll`` — the per-group HLL register table for
      ndv(hll_key) — maintained by ``operators/sketches.maintain_hll``
      (max-merge on insert-only groups, touched-group recompute on
      row loss). Read it with ``sketches.hll_estimate``.
    - ``cms_key``: a count-min frequency-sketch view
      ``<table>__cms`` — the 4x1024 counter table over cms_key —
      maintained by ``operators/sketches.maintain_cms``. CMS is a
      LINEAR sketch, so unlike hll_key it needs no group_cols and
      no recompute branch: deletes subtract, inserts add. Read it
      with ``sketches.cms_lookup``.
    - ``topk`` (requires ``group_cols`` + ``value_col``): a per-group
      leaderboard view ``<table>__topk`` (group_cols, rank, key,
      value) maintained by ``merge.maintain_topk`` (touched-group
      partial refresh; ranking is value DESC, key ASC — the
      set-deterministic total order ``merge.topk_view`` defines for
      both the seed and the refresh).
    - ``distinct_col`` (requires ``group_cols``): a per-group
      COUNT(DISTINCT distinct_col) view ``<table>__distinct``
      (group_cols, n, n_distinct) maintained by
      ``merge.maintain_distinct`` (last-holder deletes force the
      same touched-group recompute split).
    """

    group_cols: list[str] | None = None
    value_col: str | None = None
    minmax: bool = False
    join: dict | None = None
    value_type: str = "decimal(12,2)"
    hll_key: str | None = None
    cms_key: str | None = None
    topk: int | None = None
    distinct_col: str | None = None

    def __post_init__(self):
        # fail at registration, not as a silently-absent view
        if self.hll_key is not None and not self.group_cols:
            raise ValueError("ViewSpec.hll_key requires group_cols")
        if self.topk is not None and (
                not self.group_cols or self.value_col is None):
            raise ValueError(
                "ViewSpec.topk requires group_cols and value_col")
        if self.topk is not None and self.topk < 1:
            raise ValueError("ViewSpec.topk must be >= 1")
        if self.distinct_col is not None and not self.group_cols:
            raise ValueError("ViewSpec.distinct_col requires group_cols")

    @property
    def carry_cols(self) -> list[str] | None:
        """The group columns ``classify_actions`` carries (free: the
        classify join holds both rows), so every partial-refresh view
        derives its touched groups O(changes) from the actions frame
        instead of re-scanning the base by key."""
        return sorted(set(self.group_cols)) if self.group_cols else None


def _behind(store, view_table: str, ds: str) -> bool:
    stamp = store.current_dataset(view_table)
    return stamp is None or stamp < ds


def _views(spec: ViewSpec, key: str):
    """``(suffix, seed, maintain)`` of every view ``spec`` declares, in
    write order. ``seed(df)`` is the view of a state, by the view's
    one shape function; ``maintain(cur, stg, actions, merged, old)``
    is its refresh through one merge, ``old=None`` (no stored view
    yet) bootstrapping."""
    from linz_bde_uploader_spark.operators import sketches as SK

    g, v, vt = spec.group_cols, spec.value_col, spec.value_type
    if spec.join is not None:
        j = (spec.join["dim"], spec.join["fact_col"], spec.join["dim_col"],
             spec.join["fact_cols"], spec.join["dim_cols"])
        yield ("join", lambda df: M.join_view(df, key, *j),
               lambda cur, stg, a, merged, old: M.maintain_join(
                   cur, stg, a, key, *j, old_view=old))
    if spec.hll_key is not None:
        hk = F.col(spec.hll_key).cast("string")
        yield ("hll", lambda df: SK.hll_registers(df, g, hk),
               lambda cur, stg, a, merged, old: SK.maintain_hll(
                   cur, stg, a, key, g, hk, merged, old_regs=old))
    if spec.cms_key is not None:
        ck = F.col(spec.cms_key).cast("string")
        yield ("cms", lambda df: SK.cms_build(df.select(ck.alias("tok"))),
               lambda cur, stg, a, merged, old: SK.maintain_cms(
                   cur, stg, a, key, ck, old_cms=old))
    if spec.topk is not None:
        yield ("topk",
               lambda df: M.topk_view(df, g, key, v, spec.topk,
                                      value_type=vt),
               lambda cur, stg, a, merged, old: M.maintain_topk(
                   cur, stg, a, key, g, v, merged, k=spec.topk,
                   old_topk=old, value_type=vt))
    if spec.distinct_col is not None:
        dc = spec.distinct_col
        yield ("distinct", lambda df: M.distinct_view(df, g, dc),
               lambda cur, stg, a, merged, old: M.maintain_distinct(
                   cur, stg, a, key, g, dc, merged, old_distinct=old))
    if g is None or v is None:
        return
    yield ("agg", lambda df: M.aggregate_view(df, g, v, vt),
           lambda cur, stg, a, merged, old: M.maintain_aggregate(
               cur, stg, a, key, g, v, value_type=vt, old_agg=old))
    if spec.minmax:
        yield ("minmax", lambda df: M.extrema_view(df, g, v, vt),
               lambda cur, stg, a, merged, old: M.maintain_extrema(
                   cur, stg, a, key, g, v, merged, old_extrema=old,
                   value_type=vt))


def seed_views(store, table_name: str, df: DataFrame, ds: str,
               spec: ViewSpec, key: str) -> None:
    """Direct-recompute seeding for snapshot semantics: the streaming
    bootstrap batch and the batch driver's level-0 replace both
    install the views as the view shapes of the new state — there is
    no prior view to delta against (bootstrap) or the whole base was
    just replaced (L0), so O(changes) does not apply.

    The seed writes past the dataset-stamp guard: a snapshot REPLACES
    the base, so any standing view state is invalid by definition —
    including a view stamped LATER than the incoming dataset (an
    operator-forced re-load over leftover derived state; dataset
    order says nothing there). The seed is a direct recompute, so
    re-running it on a crash replay is idempotent — the guard's
    double-apply hazard exists only for DELTAS."""
    for suffix, seed, _ in _views(spec, key):
        store.write(f"{table_name}__{suffix}", seed(df), dataset=ds)


def refresh_views(spark: SparkSession, store, table_name: str,
                  cur: DataFrame, stg: DataFrame, actions: DataFrame,
                  merged: DataFrame, ds: str, spec: ViewSpec,
                  key: str) -> None:
    """O(changes) incremental refresh of every view in ``spec``
    against one CDC merge's (current, staged, actions, merged)
    quadruple, each write behind the ordered dataset-stamp guard. A
    view with no stored table yet bootstraps (``old=None``).
    MUST be called before the base pointer flips: once the base is
    merged a replay classifies all-'0' and the view delta is no
    longer derivable, so any view still lagging at that point would
    stay stale forever. ``merged`` may be the written, not yet
    visible, base version (the batch driver's verdict)."""
    for suffix, _, maintain in _views(spec, key):
        vt = f"{table_name}__{suffix}"
        if _behind(store, vt, ds):
            old = store.read(spark, vt) if store.exists(vt) else None
            store.write(vt, maintain(cur, stg, actions, merged, old),
                        dataset=ds)
