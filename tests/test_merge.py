"""CDC merge golden tests — scenario from FIXTURES.md F1/F2, matching
reference t/linz_bde_uploader.t:656-711 (level 0) and :1176-1221
(level 5 merge: 3 ins, 2 upd, 1 del, 0 null-upd -> 5 rows)."""

import pytest
from pyspark.sql import functions as F

from linz_bde_uploader_spark.operators import merge as M


@pytest.fixture()
def golden(spark):
    cols = ["pri_id", "sequence", "lin_id", "reversed", "audit_id"]
    cur = spark.createDataFrame([
        (4457328, 1, 29694591, "Y", 80401148),
        (4457327, 2, 29694578, "N", 80401149),
        (4457326, 3, 11960041, "Y", 80401150),
    ], cols)
    stg = spark.createDataFrame([
        (4457328, 10, 29694591, "Y", 80401148),
        (4457327, 20, 29694578, "N", 80401149),
        (4457326, 3, 11960041, "Y", 100),
        (4457330, 4, 29694600, "N", 300),
        (4457331, 5, 29694601, "Y", 400),
    ], cols)
    chg = spark.createDataFrame(
        [(80401150,), (300,), (400,), (100,), (80401148,), (80401149,)], ["key"])
    return cur, stg, chg, cols


def test_classify_golden(golden):
    cur, stg, chg, cols = golden
    actions = M.classify_actions(cur, stg, chg, "audit_id", cols)
    got = {r.key: r.action for r in actions.collect()}
    assert got == {80401150: "D", 300: "I", 400: "I", 100: "I",
                   80401148: "U", 80401149: "U"}


def test_apply_golden(golden):
    cur, stg, chg, cols = golden
    actions = M.classify_actions(cur, stg, chg, "audit_id", cols)
    result = M.apply_actions(cur, stg, actions, "audit_id")
    rows = {r.audit_id: r.sequence for r in result.collect()}
    # golden post-merge: audit_ids 100,80401149,80401148,300,400 with
    # sequences 3,20,10,4,5
    assert rows == {100: 3, 80401149: 20, 80401148: 10, 300: 4, 400: 5}


def test_stats_golden(golden):
    cur, stg, chg, cols = golden
    actions = M.classify_actions(cur, stg, chg, "audit_id", cols)
    s = M.merge_stats(actions)
    assert (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete) == (3, 2, 0, 1)


def test_merge_tagged_wide_table_through_store(spark, tmp_path):
    """A 40-column table merged as one tagged plan through the store
    write: the written rows are ``apply_actions``' rows and the
    observed stats are ``merge_stats``' stats. The optimized write
    plan holds a fixed number of CASE expressions whatever the width:
    the chosen side travels as one struct, so the action expression
    (a comparison of every column) is not repeated per column."""
    from linz_bde_uploader_spark.sources.store import TableStore

    n = 40
    vals = [F.concat(F.lit(f"v{i}_"), (F.col("id") % (i + 2)).cast("string"))
            .alias(f"c{i}") for i in range(n - 1)]
    cur = spark.range(60).select("id", *vals)
    moved = (F.col("id") % 3 == 0).cast("int")  # a third of rows differ
    stg = spark.range(20, 80).select("id", *[
        F.concat(F.lit(f"v{i}_"), (F.col("id") % (i + 2) + moved)
                 .cast("string")).alias(f"c{i}") for i in range(n - 1)])
    chg = spark.range(10, 70).select(F.col("id").alias("key"))

    observed = M.MergeObservation()
    store = TableStore(str(tmp_path / "store"))
    store.write("t", M.merge_tagged(cur, stg, chg, "id"), key="id",
                clustered=observed.apply)
    got_stats, got_rows = observed.result()

    actions = M.classify_actions(cur, stg, chg, "id", cur.columns)
    want = sorted(map(tuple, M.apply_actions(cur, stg, actions,
                                             "id").collect()))
    assert sorted(map(tuple, store.read(spark, "t").collect())) == want
    assert got_rows == len(want)
    assert got_stats == M.merge_stats(actions)
    assert (got_stats.ninsert, got_stats.ndelete) == (10, 10)

    qe = (M.MergeObservation().apply(M.merge_tagged(cur, stg, chg, "id"))
          ._jdf.queryExecution())
    spark.conf.set("spark.sql.debug.maxToStringFields", 10 * n)
    try:
        plan = qe.optimizedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
    assert f"c{n - 2}" in plan   # the plan string is not truncated
    assert plan.count("CASE WHEN") < 12


def test_null_update_action(spark):
    """Key in change list but row identical -> action '0'."""
    cols = ["a", "k"]
    cur = spark.createDataFrame([(1, 10), (2, 20)], cols)
    stg = spark.createDataFrame([(1, 10), (99, 20)], cols)
    chg = spark.createDataFrame([(10,), (20,)], ["key"])
    actions = M.classify_actions(cur, stg, chg, "k", cols)
    got = {r.key: r.action for r in actions.collect()}
    assert got == {10: "0", 20: "U"}
    s = M.merge_stats(actions)
    assert s.nnullupdate == 1 and s.nupdate == 1


def test_change_key_absent_everywhere(spark):
    """Key named in change list but in neither table -> no action row."""
    cols = ["a", "k"]
    cur = spark.createDataFrame([(1, 10)], cols)
    stg = spark.createDataFrame([(1, 10)], cols)
    chg = spark.createDataFrame([(555,)], ["key"])
    actions = M.classify_actions(cur, stg, chg, "k", cols)
    assert actions.count() == 0


def test_unique_col_change_is_X(spark):
    """A changed unique-constraint column -> X (applied as del+ins;
    stats count both — reference :2335-2352)."""
    cols = ["u", "v", "k"]
    cur = spark.createDataFrame([(100, 1, 10)], cols)
    stg = spark.createDataFrame([(200, 1, 10)], cols)
    chg = spark.createDataFrame([(10,)], ["key"])
    actions = M.classify_actions(cur, stg, chg, "k", cols, unique_cols=["u"])
    assert actions.first().action == "X"
    s = M.merge_stats(actions)
    assert (s.ninsert, s.ndelete, s.nupdate) == (1, 1, 0)
    # apply folds X into delete+insert
    res = M.apply_actions(cur, stg, actions, "k")
    assert [tuple(r) for r in res.collect()] == [(200, 1, 10)]


def test_key_swap_repair(spark):
    """J4: staged row reuses a unique value owned by a different
    current key -> displaced key pulled into the change set
    (_bde_FixChangedIncKeyRecords, reference :2146-2226)."""
    cols = ["u", "k"]
    cur = spark.createDataFrame([(100, 1), (200, 2)], cols)
    # staged: unique value 100 moved from key 1 to key 3; key 1 gone
    stg = spark.createDataFrame([(100, 3), (200, 2)], cols)
    chg = spark.createDataFrame([(3,)], ["key"])
    fixed = M.fix_key_swaps(stg, cur, chg, "k", ["u"])
    keys = {r.key for r in fixed.collect()}
    assert keys == {3, 1}  # displaced old key 1 added
    actions = M.classify_actions(cur, stg, fixed, "k", cols)
    got = {r.key: r.action for r in actions.collect()}
    assert got == {3: "I", 1: "D"}
    res = M.apply_actions(cur, stg, actions, "k")
    assert sorted(tuple(r) for r in res.collect()) == [(100, 3), (200, 2)]


def test_full_diff(spark):
    """J5: full-table diff for -full-incremental (identical rows -> no
    action)."""
    cols = ["a", "k"]
    cur = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], cols)
    stg = spark.createDataFrame([(1, 10), (99, 20), (4, 40)], cols)
    diff = M.full_diff(cur, stg, "k", cols)
    got = {r.key: r.action for r in diff.collect()}
    assert got == {20: "U", 30: "D", 40: "I"}


def test_merge_tagged_full_form(spark):
    """``merge_tagged`` with no change list is J5's diff applied: its
    written (non-D) rows are ``apply_actions(cur, stg, full_diff)``'s
    rows and its observed stats are ``full_diff``'s I/U/D with no null
    updates — identical rows (NULL values included) carry no tag, and
    keys on one side only are inserts and deletes."""
    schema = "k long, a int, b string"
    cur = spark.createDataFrame([
        (1, None, "x"), (2, 5, None), (3, 7, "y"), (4, None, None),
        (5, 1, "z")], schema)
    stg = spark.createDataFrame([
        (1, None, "x"), (2, 5, "w"), (3, None, "y"), (4, None, None),
        (6, 2, "n")], schema)
    diff = M.full_diff(cur, stg, "k", cur.columns)
    assert {r.key: r.action for r in diff.collect()} == \
        {2: "U", 3: "U", 5: "D", 6: "I"}

    observed = M.MergeObservation()
    got = sorted(map(tuple, observed.apply(
        M.merge_tagged(cur, stg, None, "k")).collect()), key=repr)
    stats, rows = observed.result()
    want = sorted(map(tuple, M.apply_actions(cur, stg, diff, "k")
                      .collect()), key=repr)
    assert got == want
    assert rows == len(want) == 5
    assert stats == M.merge_stats(diff) == M.MergeStats(
        ninsert=1, nupdate=2, nnullupdate=0, ndelete=1)


def test_select_valid_columns():
    assert M.select_valid_columns(
        ["id", "tablename", "tablekeyvalue", "action", "timestamp"],
        ["tablename", "tablekeyvalue", "action"],
    ) == ["tablename", "tablekeyvalue", "action"]
    with pytest.raises(ValueError):
        M.select_valid_columns(["x", "y"], ["a", "b"])


def test_prepare_change_table(spark):
    chg = spark.createDataFrame(
        [(1, "CRS_Parcel_Bndry", 10, "I"), (2, "other_table", 20, "U"),
         (3, "crs_parcel_bndry", 10, "U")],
        ["id", "tablename", "tablekeyvalue", "action"])
    out = M.prepare_change_table(chg, "crs_parcel_bndry")
    assert {r.key for r in out.collect()} == {10}


@pytest.mark.parametrize("new,prev,tol_e,tol_w,want", [
    (100, 100, 0.20, 0.95, "ok"),
    (94, 100, 0.20, 0.95, "warning"),
    (19, 100, 0.20, 0.95, "error"),
    (0, 100, None, None, "ok"),       # both NULL -> skip (intended semantics)
    (50, 100, 0.20, None, "ok"),
    (10, 100, 0.20, None, "error"),
])
def test_tolerance(new, prev, tol_e, tol_w, want):
    assert M.check_tolerance(new, prev, tol_e, tol_w) == want


def test_maintain_aggregate_handles_group_moves(spark):
    """Incremental aggregate maintenance: U that changes the GROUP
    column must move the row's contribution between groups; I adds,
    D subtracts, a group emptied by deletes disappears."""
    from decimal import Decimal

    from linz_bde_uploader_spark.operators import merge as M

    cols = "k long, grp string, v double"
    cur = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0), (9, "C", 7.0)], cols)
    stg = spark.createDataFrame(
        [(1, "B", 10.0),            # U: moves A -> B
         (2, "A", 25.0),            # U: value change in place
         (4, "A", 40.0)], cols)     # I: new row
    # 3 deleted (only member of ... no, B keeps k=1), 9 deleted (C empties)
    chg = spark.createDataFrame([(1,), (2,), (3,), (4,), (9,)], ["key"])
    actions = M.classify_actions(cur, stg, chg, "k", ["k", "grp", "v"])
    got = {r["grp"]: (r["n"], r["n_vals"], r["total"]) for r in
           M.maintain_aggregate(cur, stg, actions, "k",
                                ["grp"], "v").collect()}
    assert got == {"A": (2, 2, Decimal("65.00")),  # 25 (k2) + 40 (k4)
                   "B": (1, 1, Decimal("10.00"))}  # k1 moved in, k3 gone


def test_maintain_distinct_last_holder_semantics(spark):
    """The case that makes COUNT(DISTINCT) non-self-maintainable,
    pinned deterministically: deleting ONE of two holders of a value
    must not decrement the group's distinct count; deleting the LAST
    holder must. Also: a group move carries the value's holdership
    across groups, and NULL values count in n but not n_distinct."""
    from linz_bde_uploader_spark.operators import merge as M

    cols = "k long, grp string, v string"
    cur = spark.createDataFrame(
        [(1, "A", "x"), (2, "A", "x"),   # two holders of A/x
         (3, "A", "y"),                  # sole holder of A/y
         (4, "B", "z"), (5, "B", None)], cols)
    stg = spark.createDataFrame(
        [(2, "A", "x"),                  # k=1 deleted: x still held
         (4, "A", "z"),                  # U: moves B's z into A
         (5, "B", None)], cols)          # null value survives
    chg = spark.createDataFrame([(1,), (3,), (4,)], ["key"])
    actions = M.classify_actions(cur, stg, chg, "k", ["k", "grp", "v"])
    merged = M.apply_actions(cur, stg, actions, "k")
    got = {r["grp"]: (r["n"], r["n_distinct"]) for r in
           M.maintain_distinct(cur, stg, actions, "k", ["grp"], "v",
                               merged).collect()}
    # A: rows {2:x, 4:z} -> n=2, distinct {x,z}=2 (y's last holder
    #    k=3 deleted, one x holder survived the k=1 delete)
    # B: row {5:None} -> n=1, distinct 0 (NULL excluded)
    assert got == {"A": (2, 2), "B": (1, 0)}


def test_maintain_join_delta_semantics(spark):
    """The delta-join rule pinned deterministically: a fact update
    that moves a row between dimension partners relocates it in the
    view; an update that points the join column at NO partner (or
    NULL) drops the row from the view; inserting a dangling fact row
    adds nothing; deleting an enriched row removes exactly it."""
    from linz_bde_uploader_spark.operators import merge as M

    cols = "k long, ck long, v string"
    cur = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"),    # enriched via d10, d20
         (3, 99, "c"),                  # dangling: not in view
         (4, 10, "d")], cols)
    stg = spark.createDataFrame(
        [(1, 20, "a"),                  # U: partner d10 -> d20
         (2, None, "b"),                # U: join col -> NULL, leaves view
         (5, 99, "e"),                  # I: dangling, never enters view
         (6, 10, "f")], cols)           # I: enriched via d10
    chg = spark.createDataFrame([(1,), (2,), (4,), (5,), (6,)], ["key"])
    dim = spark.createDataFrame([(10, "ten"), (20, "twenty")],
                                "d_key long, d_name string")
    actions = M.classify_actions(cur, stg, chg, "k", ["k", "ck", "v"])
    got = {r["k"]: (r["v"], r["d_name"]) for r in
           M.maintain_join(cur, stg, actions, "k", dim, "ck", "d_key",
                           ["v"], ["d_name"]).collect()}
    # k=1 moved to twenty, k=2 left the view, k=3 untouched-dangling,
    # k=4 deleted, k=5 dangling insert, k=6 enriched insert
    assert got == {1: ("a", "twenty"), 6: ("f", "ten")}


def test_maintain_aggregate_from_full_diff(spark):
    """The L0 full-incremental path: full_diff's I/U/D action set
    drives the same view maintenance — the refreshed aggregate must
    equal a direct aggregate over the staged snapshot (which IS the
    merged state under full-replace semantics)."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import merge as M

    cols = "k long, grp string, v double"
    cur = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)], cols)
    stg = spark.createDataFrame(
        [(1, "B", 10.0), (2, "A", 25.0), (5, "C", 50.0)], cols)
    actions = M.full_diff(cur, stg, "k", ["k", "grp", "v"]) \
        .select("key", "action")
    got = {r["grp"]: (r["n"], r["n_vals"], r["total"]) for r in
           M.maintain_aggregate(cur, stg, actions, "k",
                                ["grp"], "v").collect()}
    want = {r["grp"]: (r["n"], r["n_vals"], r["total"]) for r in
            stg.groupBy("grp").agg(
                F.count("*").alias("n"), F.count("v").alias("n_vals"),
                F.sum(F.col("v").cast("decimal(12,2)"))
                .cast("decimal(38,2)").alias("total")).collect()}
    assert got == want and got["C"] == (1, 1, Decimal("50.00"))


def test_maintain_sums_multi_measure_delta(spark):
    """The n-column sum view (count + chars + checksum) through one
    delta union: group-moving update relocates all measures, a
    group's last delete drops it, and the checksum subtract/add
    equals a recompute."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import merge as M

    cols = "k long, grp string, chars long, ck long"
    cur = spark.createDataFrame(
        [(1, "A", 10, 111), (2, "A", 20, 222),
         (3, "B", 5, 333)], cols)
    stg = spark.createDataFrame(
        [(1, "B", 12, 444),          # U: moves A -> B, both measures
         (4, "A", 40, 555)], cols)   # I
    chg = spark.createDataFrame([(1,), (3,), (4,)], ["key"])
    actions = M.classify_actions(cur, stg, chg, "k",
                                 ["k", "grp", "chars", "ck"])
    got = {r["grp"]: (r["n"], r["chars"], r["ck"]) for r in
           M.maintain_sums(cur, stg, actions, "k", ["grp"],
                           ["chars", "ck"]).collect()}
    # A: k2 stays + k4 inserted; B: k3 deleted, k1 moved in
    assert got == {"A": (2, 60, 777), "B": (1, 12, 444)}


def _ivm_fixture(spark, with_nulls=False):
    """current/staged/change triple with group-moving updates,
    deletes, inserts — the full partial-refresh exercise."""
    import pyspark.sql.functions as F

    rows = [(i, str(i % 5) if not (with_nulls and i % 11 == 0)
             else None, float(i * 7 % 101)) for i in range(300)]
    cur = spark.createDataFrame(rows, "k long, g string, v double")
    stg = (cur.filter("k % 3 != 0 OR k < 30")
           .withColumn("g", F.when(F.col("k") % 4 == 0,
                                   F.lit("moved")).otherwise(F.col("g")))
           .withColumn("v", F.when(F.col("k") % 2 == 0,
                                   F.col("v") + 500.0)
                       .otherwise(F.col("v"))))
    new = spark.createDataFrame(
        [(1000 + i, "newgrp", 9.0 + i) for i in range(5)],
        "k long, g string, v double")
    stg = stg.unionByName(new)
    chg = (cur.select(F.col("k").alias("key"))
           .unionByName(new.select(F.col("k").alias("key"))))
    return cur, stg, chg


@pytest.mark.parametrize("with_nulls", [False, True])
def test_carried_actions_touched_equivalence(spark, with_nulls):
    """classify_actions(carry_cols=...) + the carried-actions fast
    path must produce EXACTLY the views of the semi-join fallback —
    across deletes, inserts, group-moving updates and (parametrized)
    NULL groups."""
    from linz_bde_uploader_spark.operators import merge as M

    cur, stg, chg = _ivm_fixture(spark, with_nulls)
    plain = M.classify_actions(cur, stg, chg, "k", ["g", "v"])
    carried = M.classify_actions(cur, stg, chg, "k", ["g", "v"],
                                 carry_cols=["g"])
    assert "_old_g" in carried.columns and "_new_g" in carried.columns
    # action classification itself is unchanged by carrying
    assert (sorted((r.key, r.action) for r in plain.collect())
            == sorted((r.key, r.action) for r in carried.collect()))
    merged = M.apply_actions(cur, stg, carried, "k")
    old = cur.groupBy("g").agg(
        F.count("*").alias("n"),
        F.min(F.col("v").cast("decimal(12,2)")).alias("vmin"),
        F.max(F.col("v").cast("decimal(12,2)")).alias("vmax"))

    def norm(df):
        return sorted(str(tuple(r)) for r in df.collect())

    for fn, kw in [(M.maintain_extrema, {"old_extrema": old}),
                   (M.maintain_topk, {"old_topk": None}),
                   (M.maintain_distinct, {"old_distinct": None})]:
        got_plain = fn(cur, stg, plain, "k", ["g"], "v", merged, **kw)
        got_carried = fn(cur, stg, carried, "k", ["g"], "v", merged,
                         **kw)
        assert norm(got_plain) == norm(got_carried), fn.__name__
        # both must equal the from-scratch truth where applicable
        if fn is M.maintain_extrema:
            truth = merged.groupBy("g").agg(
                F.count("*").alias("n"),
                F.min(F.col("v").cast("decimal(12,2)")).alias("vmin"),
                F.max(F.col("v").cast("decimal(12,2)")).alias("vmax"))
            assert norm(got_carried) == norm(truth)


def test_carried_actions_hll_equivalence(spark):
    from linz_bde_uploader_spark.operators import merge as M
    from linz_bde_uploader_spark.operators import sketches as SK

    cur, stg, chg = _ivm_fixture(spark)
    carried = M.classify_actions(cur, stg, chg, "k", ["g", "v"],
                                 carry_cols=["g"])
    merged = M.apply_actions(cur, stg, carried, "k")
    skey = F.col("k").cast("string")
    old_regs = SK.hll_registers(cur, ["g"], skey)
    got = SK.maintain_hll(cur, stg, carried, "k", ["g"], skey,
                          merged, old_regs=old_regs)
    truth = SK.hll_registers(merged, ["g"], skey)
    assert (sorted(tuple(r) for r in got.collect())
            == sorted(tuple(r) for r in truth.collect()))


def test_groups_nullable_false_matches_on_nonnull_groups(spark):
    """The null-branch-free fast path must be value-identical to the
    default on NOT-NULL group columns (its documented contract)."""
    from linz_bde_uploader_spark.operators import merge as M

    cur, stg, chg = _ivm_fixture(spark, with_nulls=False)
    acts = M.classify_actions(cur, stg, chg, "k", ["g", "v"],
                              carry_cols=["g"])
    merged = M.apply_actions(cur, stg, acts, "k")
    a = M.maintain_extrema(cur, stg, acts, "k", ["g"], "v", merged,
                           old_extrema=None)
    b = M.maintain_extrema(cur, stg, acts, "k", ["g"], "v", merged,
                           old_extrema=None, groups_nullable=False)
    assert (sorted(tuple(r) for r in a.collect())
            == sorted(tuple(r) for r in b.collect()))


@pytest.mark.parametrize("with_nulls", [False, True])
def test_touched_inline_threshold_matches_join_path(spark, with_nulls):
    """The bounded-inline static-pruning path (touched groups
    collected and inlined as a literal predicate) must be
    value-identical to the join path — including NULL groups, which
    inline as IS NULL — and must fall back cleanly when the touched
    set exceeds the threshold."""
    from linz_bde_uploader_spark.operators import merge as M

    cur, stg, chg = _ivm_fixture(spark, with_nulls)
    acts = M.classify_actions(cur, stg, chg, "k", ["g", "v"],
                              carry_cols=["g"])
    merged = M.apply_actions(cur, stg, acts, "k")

    def norm(df):
        return sorted(str(tuple(r)) for r in df.collect())

    # threshold=0 pins the JOIN path explicitly (since r14 the
    # DEFAULT is bounded-inline, so omitting it would compare the
    # inline path against itself)
    base = norm(M.maintain_extrema(cur, stg, acts, "k", ["g"], "v",
                                   merged, old_extrema=None,
                                   touched_inline_threshold=0))
    inl = norm(M.maintain_extrema(cur, stg, acts, "k", ["g"], "v",
                                  merged, old_extrema=None,
                                  touched_inline_threshold=64))
    assert base == inl
    # threshold smaller than the touched set -> silent fallback,
    # same values
    tiny = norm(M.maintain_extrema(cur, stg, acts, "k", ["g"], "v",
                                   merged, old_extrema=None,
                                   touched_inline_threshold=2))
    assert base == tiny


def test_touched_inline_threshold_boundary(spark):
    """The inline/fallback boundary is exact: a touched set of
    exactly `threshold` groups takes the inline form (no join in the
    restricted plan), one more group falls back to the semi join.
    The LIMIT threshold+1 collect is what makes the driver cost a
    declared constant — this pins that the fallback really engages
    rather than inlining an unbounded predicate."""
    from linz_bde_uploader_spark.operators import merge as M

    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("g"),
        (F.col("id") % 97).alias("v"))
    touched3 = spark.createDataFrame([(1,), (4,), (7,)], "g long")

    at = M.touched_group_semi(base, touched3, ["g"],
                              inline_threshold=3)
    plan_at = at._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan_at, (
        "exactly-at-threshold set did not inline:\n" + plan_at)
    assert {r.g for r in at.select("g").distinct().collect()} \
        == {1, 4, 7}

    over = M.touched_group_semi(base, touched3, ["g"],
                                inline_threshold=2)
    plan_over = over._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan_over, (
        "over-threshold set did not fall back to the join form:\n"
        + plan_over)
    assert {r.g for r in over.select("g").distinct().collect()} \
        == {1, 4, 7}



def test_touched_inline_struct_in_matches_join_path(spark):
    """Several group columns inline as one struct ``IN``, whose field
    comparison is null-safe: the inlined restriction keeps exactly
    the rows the null-safe join path keeps, NULL members, DECIMAL and
    DATE groups included."""
    import datetime as dt
    from decimal import Decimal

    from linz_bde_uploader_spark.operators import merge as M

    base = spark.createDataFrame(
        [(i, i % 5 if i % 7 else None,
          Decimal(i % 3) if i % 11 else None,
          dt.date(2020, 1, 1 + i % 4)) for i in range(200)],
        "k long, a long, b decimal(12,2), d date")
    touched = base.filter(F.col("k") % 9 == 0)
    for cols in (["a", "b"], ["a", "b", "d"]):
        t = touched.select(*cols).distinct()
        inl = M.touched_group_semi(base, t, cols, inline_threshold=64)
        assert "Join" not in \
            inl._jdf.queryExecution().executedPlan().toString()
        join = M.touched_group_semi(base, t, cols, inline_threshold=0)
        assert sorted(r.k for r in inl.collect()) == \
            sorted(r.k for r in join.collect())

def test_fallback_touched_derivation_cached_once(spark):
    """The semi-join fallback touched derivation (actions WITHOUT
    carried group columns) is persisted before its multiple uses —
    the bounded inline probe, the >threshold join branches, and the
    untouched anti join — so the O(N) current/staged scan runs once
    per refresh, not up to four times (r14 advice/verdict item).
    Pinned by the InMemoryTableScan in the consuming plan."""
    from linz_bde_uploader_spark.operators import merge as M

    cur, stg, chg = _ivm_fixture(spark, False)
    plain = M.classify_actions(cur, stg, chg, "k", ["g", "v"])
    merged = M.apply_actions(cur, stg, plain, "k")
    old = cur.groupBy("g").agg(
        F.count("*").alias("n"),
        F.min(F.col("v").cast("decimal(12,2)")).alias("vmin"),
        F.max(F.col("v").cast("decimal(12,2)")).alias("vmax"))
    # threshold=0: the join path evaluates touched in BOTH semi
    # branches plus the anti join — all three must read the cache
    out = M.maintain_extrema(cur, stg, plain, "k", ["g"], "v",
                             merged, old_extrema=old,
                             touched_inline_threshold=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, (
        "fallback touched derivation is not cached — the base-table "
        "semi-join scan re-runs per consumer:\n" + plan)
    # and the default (inline probe) path reuses the same cache for
    # the anti join after the probe collect materialized it
    out2 = M.maintain_extrema(cur, stg, plain, "k", ["g"], "v",
                              merged, old_extrema=old)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan2
    from linz_bde_uploader_spark.cache import release_caches
    release_caches()
