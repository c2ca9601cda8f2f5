"""Deterministic sketches: HyperLogLog (cardinality), KMV
(similarity), count-min (frequency) — plus their IVM forms
(maintain_hll: max-branch, maintain_cms: linear branch).

Exact ``COUNT(DISTINCT x)`` is the classic 100 TB scale-killer: it
shuffles every distinct key. These sketches compress the distinct set
to a fixed-size summary whose aggregation is an ordinary map-side
combinable ``groupBy`` — and, unlike Spark's native
``approx_count_distinct`` (whose xxHash/HLL++ internals no other
engine reproduces), they are built on the repo's portable md5-derived
hashes with integer-exact register math, so a DuckDB oracle computes
the BIT-IDENTICAL estimate. A sketch query here hash-matches its
oracle like any exact query; the error-vs-exact property is pinned
separately in tests (HLL rsd ~= 1.04/sqrt(m); KMV ~= 1/sqrt(k-2)).

Portability rules (ORACLE.md doctrine):
- register index / remainder via integer ``DIV`` / ``%`` (never a
  double division of a >2^53 hash);
- rho from ``length(bin(w))`` — both engines print identical minimal
  binary strings, so leading-zero counting is integer-exact;
- register sums in integer 2^(53-rho) units (max 2^61, no overflow;
  the DuckDB HUGEINT sum is cast back to BIGINT in-query);
- the final estimate is the only floating step: one textually
  IDENTICAL expression on both sides built from IEEE-deterministic
  ops (+ the proven round(ln(..),12) idiom on the linear-counting
  branch), published as FLOOR'd integer micro-units.

The reference has no approximate aggregates (its only distinct-ish
operation is the COUNT(*) family in
sql/02-bde_control_functions.sql.in); this extends the engine for
training-data-pipeline cardinality work (dedup ratios, per-source
user/url counts) where exact distinct is unaffordable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linz_bde_uploader_spark.functions.hashing import hash60
from linz_bde_uploader_spark.operators.merge import (
    TOUCHED_INLINE_DEFAULT, delta_keys, drop_groups, touched_group_semi,
    touched_groups)
from linz_bde_uploader_spark.operators.topk import grouped_topk

# HLL geometry: m = 2^8 = 256 registers from the top 8 bits of the
# 60-bit portable hash; the remaining 52 bits feed rho. rsd ~= 6.5%.
HLL_M = 256
_P52 = 4503599627370496          # 2^52
_P53 = 9007199254740992.0        # 2^53 (exact in double)
# alpha_256. Every literal is e0-suffixed: a bare `0.7213` parses as
# a DECIMAL literal in BOTH engines, and decimal division semantics
# (result scale, rounding) are engine-specific — the e0 form is the
# DOUBLE literal in both, making the arithmetic IEEE-identical.
_ALPHA = "(0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0))"

# KMV: estimate from the k-th smallest distinct hash. rsd ~= 12.6%.
KMV_K = 64
_P60 = "1152921504606846976.0e0"   # 2^60 (exact in double)


def hll_est_micro_sql(s_expr: str, v_expr: str) -> str:
    """The HLL estimate in integer micro-units, as one SQL expression
    evaluated by BOTH engines (textual identity => IEEE identity).
    ``s_expr``: register sum in 2^(53-rho) units including the
    2^53-per-empty-register contribution; ``v_expr``: count of empty
    registers. Raw harmonic-mean estimate, with Flajolet's
    linear-counting correction below 2.5m when empty registers
    remain (the small-cardinality regime where raw HLL biases high).
    ln() is the one non-IEEE-specified op — rounded to 12 dp first,
    the idiom the unigram-LM and entropy queries proved
    driver-stable; every later step is deterministic double math."""
    raw = (f"({_ALPHA} * 65536.0e0 / "
           f"(CAST({s_expr} AS DOUBLE) / {_P53!r}e0))")
    lin = (f"floor(256.0e0 * round(ln(256.0e0 / CAST({v_expr} AS DOUBLE))"
           f", 12) * 1000000.0e0)")
    return (f"CAST(CASE WHEN {raw} <= 640.0e0 AND {v_expr} > 0 "
            f"THEN {lin} ELSE floor({raw} * 1000000.0e0) END AS BIGINT)")


def kmv_est_micro_sql(cnt_expr: str, kth_expr: str) -> str:
    """KMV estimate in integer micro-units, shared-text like
    :func:`hll_est_micro_sql`. Below k distinct hashes the sketch IS
    the exact distinct set, so the exact count is published."""
    return (f"CAST(CASE WHEN {cnt_expr} < {KMV_K} "
            f"THEN {cnt_expr} * 1000000 "
            f"ELSE floor({KMV_K - 1}.0e0 * ({_P60} / "
            f"CAST({kth_expr} AS DOUBLE)) * 1000000.0e0) END AS BIGINT)")


def hll_registers(df: DataFrame, group_cols: list[str],
                  key: Column) -> DataFrame:
    """Per-group HLL register table ``(group_cols..., idx, m)`` —
    the sketch's STATE, pure integers: register index from the top 8
    hash bits, ``m`` the max rho seen. One narrow codegen projection
    then one map-side-combinable groupBy; at most |groups| x 256
    rows leave the exchange regardless of input size. Register
    tables are max-mergeable: union + groupBy max combines sketches
    across partitions, days, or delta batches — the property
    :func:`maintain_hll` exploits. NULL keys are ignored, matching
    COUNT(DISTINCT) semantics (oracles filter the same way)."""
    return (
        df.filter(key.isNotNull())
        .select(*group_cols, hash60(key).alias("_h"))
        .select(*group_cols,
                F.expr(f"_h DIV {_P52}").alias("idx"),
                (F.col("_h") % F.lit(_P52)).alias("_w"))
        .select(*group_cols, "idx",
                F.when(F.col("_w") == 0, F.lit(53))
                 .otherwise(F.lit(53) - F.length(F.bin("_w")))
                 .cast("bigint").alias("_rho"))
        .groupBy(*group_cols, "idx").agg(F.max("_rho").alias("m")))


def hll_estimate(regs: DataFrame, group_cols: list[str],
                 est_col: str = "hll_est_micro") -> DataFrame:
    """Collapse a register table to the per-group estimate (integer
    micro-units, shared-text determinism — see module docstring)."""
    per = (
        regs.groupBy(*group_cols)
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                          "CAST(53 - m AS INT))")).alias("_s_obs"),
             F.count("*").alias("_vobs"))
        .select(*group_cols,
                (F.col("_s_obs")
                 + (F.lit(HLL_M) - F.col("_vobs"))
                 * F.lit(int(_P53))).alias("_s"),
                (F.lit(HLL_M) - F.col("_vobs")).alias("_v")))
    return per.select(
        *group_cols,
        F.expr(hll_est_micro_sql("_s", "_v")).alias(est_col))


def hll_distinct(df: DataFrame, group_cols: list[str], key: Column,
                 est_col: str = "hll_est_micro") -> DataFrame:
    """Per-group HLL distinct estimate of ``key`` (a string column
    expression), in integer micro-units.

    Plan shape: one narrow projection (hash + register split, all
    whole-stage-codegen built-ins), then two ordinary aggregations —
    (group, register) max-rho, then per-group register sum. Both
    combine map-side; the shuffled payload is at most
    |groups| x 256 register rows regardless of input size, which is
    the entire point at 100 TB. No UDFs, no windows, no collects."""
    return hll_estimate(hll_registers(df, group_cols, key),
                        group_cols, est_col)


def maintain_hll(current: DataFrame, staged: DataFrame,
                 actions: DataFrame, key: str,
                 group_cols: list[str], sketch_key: Column,
                 merged: DataFrame,
                 old_regs: DataFrame | None = None,
                 groups_nullable: bool = True,
                 touched_inline_threshold: int = TOUCHED_INLINE_DEFAULT) -> DataFrame:
    """Incremental maintenance of a per-group HLL register view
    through a CDC merge — the seventh IVM member, sitting between
    the self-maintainable family (count/sum deltas) and the
    touched-group recompute family (min/max/top-k):

    - **Insertions are free**: registers are max-mergeable, so
      groups that only GAIN rows absorb the staged rows' register
      delta with a union + max — no rescan, O(|inserted rows|).
    - **Row removal poisons a group's sketch** (a register's max
      contributor may be gone — same asymmetry as deleting an
      extremum), so groups that LOSE rows (current rows named by
      D/U/X actions; an update's new value lands via the insert
      side) recompute from the merged state, minmax-style:
      broadcast |touched groups|, partition-pruned rescan of their
      rows only, untouched register rows carry forward anti-join.

    Returns the refreshed ``(group_cols..., idx, m)`` register
    table. ``old_regs=None`` is the bootstrap path: the registers
    are computed from ``merged`` directly (same result, not
    O(changes)). Feed the result to :func:`hll_estimate` for the
    per-group distinct estimate.

    Reference anchor: the same derived-state-follows-merge contract
    as maintain_aggregate/maintain_extrema
    (sql/02-bde_control_functions.sql.in:2595-2676 post-upload
    functions keeping derived tables consistent in-transaction).

    Cache note: the non-carried fallback persists its touched
    relation into the cache registry — long-lived sessions must
    ``cache.release_caches()`` between repeated non-carried
    refreshes (see merge.touched_groups)."""
    if old_regs is None:
        return hll_registers(merged, group_cols, sketch_key)
    _, ins_keys = delta_keys(actions, key)
    # groups losing rows: only the CURRENT side of D/U/X names them.
    # With carried group columns (classify_actions carry_cols) the
    # set derives from the actions frame alone — O(changes);
    # mark_selective_for_dpp + touched_group_semi then let a
    # group-partitioned merged scan prune to these groups' partitions
    # (see merge.py for the DPP heuristic and null-split story). The
    # fallback derivation is persisted: it feeds the inline probe,
    # the semi branches AND two anti joins below.
    lost = touched_groups(current, staged, actions, key, group_cols,
                          del_only=True)
    recomputed = hll_registers(
        touched_group_semi(merged, lost, group_cols,
                           null_safe=groups_nullable,
                           inline_threshold=touched_inline_threshold),
        group_cols, sketch_key)
    add_regs = hll_registers(
        drop_groups(staged.join(ins_keys, key, "left_semi"), lost,
                    group_cols),
        group_cols, sketch_key)
    merged_untouched = (
        drop_groups(old_regs, lost, group_cols).unionByName(add_regs)
        .groupBy(*group_cols, "idx").agg(F.max("m").alias("m")))
    return merged_untouched.unionByName(recomputed)


def kmv_distinct(df: DataFrame, group_cols: list[str], key: Column,
                 est_col: str = "kmv_est_micro") -> DataFrame:
    """Per-group KMV (k-minimum-values) distinct estimate of ``key``
    in integer micro-units: keep the k smallest distinct 60-bit
    hashes per group; the k-th's fractional position estimates the
    density. Distinct-hash reduction first (map-side combinable),
    then the salted two-phase ``grouped_topk`` — no global window,
    the same scale shape as dedup_survivors. The sketch (k hashes
    per group) is also the mergeable summary: union + re-topk
    combines sketches from different partitions/days."""
    dist = (df.filter(key.isNotNull())
              .select(*group_cols, hash60(key).alias("_h"))
              .distinct())
    top = grouped_topk(dist, list(group_cols), [F.col("_h")], KMV_K,
                       salt_expr=F.col("_h"))
    per = (top.groupBy(*group_cols)
           .agg(F.count("*").alias("_cnt"), F.max("_h").alias("_kth")))
    return per.select(
        *group_cols,
        F.expr(kmv_est_micro_sql("_cnt", "_kth")).alias(est_col))


# Count-min sketch: d independent hash rows x w counters. Point
# estimate = min over rows (one-sided: never underestimates).
CMS_D = 4
CMS_W = 1024


def cms_counter_expr(row: int, key: str = "tok") -> str:
    """Spark-SQL counter index of ``key`` in hash row ``row``:
    md5-derived 32-bit slice mod w, a distinct salt prefix per row
    making the rows independent hashes. The hex-to-int step is the
    one place the two engines need different TEXT (Spark ``conv``,
    DuckDB ``CAST('0x'||..)``) — same paired-form convention as
    functions/hashing.py, bit-identical values."""
    h = (f"CAST(conv(substring(md5(CONCAT('{row}:', {key})), "
         f"25, 8), 16, 10) AS BIGINT)")
    return f"({h} % {CMS_W})"


def sql_cms_counter_expr(row: int, key: str = "tok") -> str:
    """DuckDB rendering of :func:`cms_counter_expr`."""
    h = (f"CAST('0x' || substring(md5(CONCAT('{row}:', {key})), "
         f"25, 8) AS BIGINT)")
    return f"({h} % {CMS_W})"


def cms_build(toks: DataFrame, token_col: str = "tok",
              count_col: str | None = None) -> DataFrame:
    """Count-min sketch of a token stream: ``(row, idx, c)`` counter
    table, d x w = 4096 integer cells regardless of input size — the
    frequency-estimation sibling of the HLL registers (cardinality)
    and KMV minima (similarity). Counters are SUMS, so sketches
    merge by union + groupBy-sum (fully mergeable, partial
    aggregation map-side); the whole build is one explode(d) + one
    combinable groupBy, no UDF/window/collect. NULL tokens are
    ignored (COUNT-of-occurrences semantics).

    ``count_col``: build from a PRE-AGGREGATED (token, count)
    relation instead of the raw stream — each token contributes
    ``count_col`` to its cells (sum instead of count), yielding the
    bit-identical counter table since counters are linear. Lets a
    caller that already has the vocabulary feed the sketch without a
    second pass over the corpus (r19, guide §1.2)."""
    rows = F.array(*[
        F.struct(F.lit(i).alias("row"),
                 F.expr(cms_counter_expr(i, token_col)).alias("idx"))
        for i in range(CMS_D)])
    cells = (toks.filter(F.col(token_col).isNotNull())
             .select(F.col(token_col).alias("tok"),
                     *([F.col(count_col).alias("_n")]
                       if count_col else []),
                     F.explode(rows).alias("cell")))
    agg = (F.sum("_n").cast("long") if count_col
           else F.count("*")).alias("c")
    return (cells.groupBy(F.col("cell.row").alias("row"),
                          F.col("cell.idx").alias("idx"))
            .agg(agg))


def cms_lookup(cms: DataFrame, probes: DataFrame,
               token_col: str = "tok") -> DataFrame:
    """Point-frequency estimates for ``probes`` (a small DataFrame of
    tokens): min over the d rows of each token's counter. The probe
    side is broadcast; the sketch is 4096 rows — the lookup never
    touches the original stream. One-sided error: estimates are
    >= the true count, over by at most ~2N/w with high probability."""
    joined = None
    for i in range(CMS_D):
        p = (probes.select(F.col(token_col).alias("tok"))
             .withColumn("row", F.lit(i))
             .withColumn("idx", F.expr(cms_counter_expr(i, "tok"))))
        joined = p if joined is None else joined.unionByName(p)
    return (F.broadcast(joined).join(cms, ["row", "idx"], "left")
            .groupBy("tok")
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
                 .alias("cms_count")))


def maintain_cms(current: DataFrame, staged: DataFrame,
                 actions: DataFrame, key: str, sketch_key: Column,
                 old_cms: DataFrame | None = None) -> DataFrame:
    """Incremental maintenance of a CMS counter view through a CDC
    merge — and the reason it completes the IVM taxonomy: CMS is a
    LINEAR sketch (counters are sums), so it is FULLY
    self-maintainable, like count/sum aggregates and unlike the
    max-based HLL registers. Removed rows' cells subtract, added
    rows' cells add, and there is NO recompute branch at any
    granularity — deletes are as cheap as inserts, the property
    max-sketches structurally cannot have (maintain_hll recomputes
    groups that lose rows because max has no inverse; sums do).
    O(|changed rows| x d) cell deltas against the 4096-row view.
    Cells that return to zero are dropped so the maintained table
    stays identical to a from-scratch build. ``old_cms=None`` is the
    bootstrap path: the old counters are built from ``current``
    (same result as a build over the merged state, not
    O(changes))."""
    del_keys, ins_keys = delta_keys(actions, key)
    if old_cms is None:
        old_cms = cms_build(current.select(sketch_key.alias("tok")))
    removed = cms_build(
        current.join(del_keys, key, "left_semi")
        .select(sketch_key.alias("tok"))) \
        .withColumn("c", -F.col("c"))
    added = cms_build(
        staged.join(ins_keys, key, "left_semi")
        .select(sketch_key.alias("tok")))
    return (old_cms.unionByName(added).unionByName(removed)
            .groupBy("row", "idx").agg(F.sum("c").alias("c"))
            .filter(F.col("c") > 0))
