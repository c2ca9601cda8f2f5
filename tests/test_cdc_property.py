"""Property-based check of the CDC core (operators/merge.py):
classify_actions + apply_actions + merge_stats, and the single-plan
merge_tagged the driver writes, against a pure-Python reference
model, over randomized current/staged/changeset states — the
reference's golden fixtures pin one scenario; this pins the
semantics across the state space (null values, overlapping and
disjoint key sets, keys in neither table, empty changesets).
"""

import os

import pytest

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from linz_bde_uploader_spark.operators import merge as M

# heavy module: excluded from the inner-loop run (pytest.ini, -m "not slow")
pytestmark = pytest.mark.slow

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("a", T.IntegerType(), True),
    T.StructField("b", T.StringType(), True),
])

CHG_SCHEMA = T.StructType([
    T.StructField("tablename", T.StringType()),
    T.StructField("tablekeyvalue", T.LongType()),
])

val = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
sval = st.one_of(st.none(), st.sampled_from(["x", "y"]))
table = st.dictionaries(st.integers(min_value=0, max_value=11),
                        st.tuples(val, sval), max_size=8)
keys = st.sets(st.integers(min_value=0, max_value=13), max_size=10)


def model(cur, stg, chg):
    """Reference semantics (SURVEY §2.3 J1-J3, §2.4 A2-A3)."""
    actions = {}
    for k in chg:
        in_c, in_s = k in cur, k in stg
        if in_c and not in_s:
            actions[k] = "D"
        elif in_s and not in_c:
            actions[k] = "I"
        elif in_c and in_s:
            actions[k] = "0" if cur[k] == stg[k] else "U"
    final = dict(cur)
    for k, a in actions.items():
        if a == "D":
            del final[k]
        elif a in ("I", "U"):
            final[k] = stg[k]
    return actions, final


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table, chg=keys)
def test_cdc_matches_model(spark, cur, stg, chg):
    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    chgdf = M.prepare_change_table(
        spark.createDataFrame([("T1", k) for k in sorted(chg)] or [],
                              CHG_SCHEMA), "t1")

    actions = M.classify_actions(curdf, stgdf, chgdf, "id",
                                 ["a", "b"]).cache()
    want_actions, want_final = model(cur, stg, chg)

    got_actions = {r.key: r.action for r in actions.collect()}
    assert got_actions == want_actions

    stats = M.merge_stats(actions)
    assert stats.ninsert == sum(a == "I" for a in want_actions.values())
    assert stats.nupdate == sum(a == "U" for a in want_actions.values())
    assert stats.nnullupdate == sum(a == "0" for a in want_actions.values())
    assert stats.ndelete == sum(a == "D" for a in want_actions.values())

    merged = M.apply_actions(curdf, stgdf, actions, "id")
    got_final = {r.id: (r.a, r.b) for r in merged.collect()}
    assert got_final == want_final
    actions.unpersist()


def swap_model(cur, stg, chg, u):
    """``model`` with J4 key-swap repair and X actions on the unique
    column at tuple index ``u`` (None: no unique column). A current
    key whose unique value a staged row with a different key carries
    joins the change set; an update that changes the unique value is
    X, applied as an update."""
    if u is not None:
        chg = set(chg) | {
            ck for nk, nrow in stg.items() for ck, crow in cur.items()
            if nk != ck and nrow[u] is not None and nrow[u] == crow[u]}
    actions, final = model(cur, stg, chg)
    for k, a in actions.items():
        if a == "U" and u is not None and cur[k][u] != stg[k][u]:
            actions[k] = "X"
    return actions, final


chg_list = st.lists(st.integers(min_value=0, max_value=13), max_size=10)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table, chg=chg_list,
       u=st.sampled_from([None, 0, 1]))
@example(cur={0: (1, "x"), 1: (None, None)}, stg={}, chg=[0, 1, 1],
         u=None)                                        # all deletes
@example(cur={}, stg={2: (1, None), 3: (None, "y")}, chg=[2, 3, 3],
         u=0)                                           # all inserts
@example(cur={0: (1, "x"), 1: (2, "y")}, stg={0: (2, "x"), 1: (1, "y")},
         chg=[0], u=0)                                  # key swap: X, X
@example(cur={0: (1, "x")}, stg={0: (1, "x")}, chg=[12, 13, 13],
         u=1)                                           # keys in neither
def test_single_plan_merge_matches_model(spark, cur, stg, chg, u):
    """The driver's single-plan merge (``merge_tagged`` observed by
    ``MergeObservation`` in the pass that consumes it) writes the same
    rows and reports the same stats as classify_actions +
    apply_actions + merge_stats and as the pure-Python model — with
    duplicate change keys, keys in neither table, NULL compare values,
    and key swaps on a unique column (X counts as +1 I and +1 D)."""
    from pyspark.sql import functions as F

    unique_cols = [] if u is None else [["a", "b"][u]]
    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    chgdf = M.fix_key_swaps(stgdf, curdf, M.prepare_change_table(
        spark.createDataFrame([("T1", k) for k in chg], CHG_SCHEMA), "t1"),
        "id", unique_cols)

    observed = M.MergeObservation()
    written = observed.apply(
        M.merge_tagged(curdf, stgdf, chgdf, "id", unique_cols)
        .repartition(F.col("id")))
    got_rows = sorted(map(tuple, written.collect()))
    got_stats, got_n = observed.result()

    actions = M.classify_actions(curdf, stgdf, chgdf, "id",
                                 ["id", "a", "b"],
                                 unique_cols=unique_cols).cache()
    three_op_stats = M.merge_stats(actions)
    three_op_rows = sorted(map(tuple, M.apply_actions(
        curdf, stgdf, actions, "id").collect()))
    actions.unpersist()

    want_actions, want_final = swap_model(cur, stg, chg, u)
    n = {a: sum(x == a for x in want_actions.values())
         for a in ("I", "U", "0", "D", "X")}
    want_stats = M.MergeStats(ninsert=n["I"] + n["X"], nupdate=n["U"],
                              nnullupdate=n["0"],
                              ndelete=n["D"] + n["X"])
    assert got_rows == three_op_rows
    assert got_rows == sorted((k, a, b) for k, (a, b) in want_final.items())
    assert got_stats == three_op_stats == want_stats
    assert got_n == len(want_final)


def diff_model(cur, stg):
    out = {}
    for k in set(cur) | set(stg):
        if k not in stg:
            out[k] = "D"
        elif k not in cur:
            out[k] = "I"
        elif cur[k] != stg[k]:
            out[k] = "U"
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table)
def test_full_diff_matches_model(spark, cur, stg):
    """J5: the full-snapshot diff emits exactly the I/U/D set (equal
    rows produce no action) for any pair of table states."""
    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    got = {r.key: r.action for r in
           M.full_diff(curdf, stgdf, "id", ["id", "a", "b"]).collect()}
    assert got == diff_model(cur, stg)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table)
def test_full_form_merge_matches_model(spark, cur, stg):
    """J5 applied: ``merge_tagged`` with no change list writes the
    staged snapshot and observes the model diff's I/U/D counts with no
    null updates, for any pair of table states (NULL values and keys
    on one side only included)."""
    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    observed = M.MergeObservation()
    got = sorted(map(tuple, observed.apply(
        M.merge_tagged(curdf, stgdf, None, "id")).collect()), key=repr)
    stats, n = observed.result()
    want = diff_model(cur, stg)
    count = {a: sum(x == a for x in want.values()) for a in "IUD"}
    assert got == sorted(((k, a, b) for k, (a, b) in stg.items()),
                         key=repr)
    assert n == len(stg)
    assert stats == M.MergeStats(ninsert=count["I"], nupdate=count["U"],
                                 ndelete=count["D"])


load = st.one_of(
    st.tuples(st.just("L5"), table, chg_list, st.sampled_from([None, 0, 1]),
              st.just(None)),
    st.tuples(st.just("EP3"), table, st.just([]), st.just(None),
              st.just(None)))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(first=table, loads=st.lists(load, min_size=2, max_size=5))
@example(first={k: (k % 4, "x") for k in range(8)},
         # two segments, then EP3 folds the chain (either bound)
         loads=[("L5", {0: (9, "y"), 1: (9, "y")}, [0, 1], None, None),
                ("L5", {2: (9, "y")}, [2], None, None),
                ("EP3", {k: (k % 4, "x") for k in range(4, 12)}, [], None,
                 None),
                ("L5", {5: (1, None)}, [5, 6], 1, None)])
@example(first={k: (k % 4, "x") for k in range(12)},
         # a staged file repeating a changed key: its equal row (a null
         # update, the current row) and its U row both stay
         loads=[("L5", {2: (2, "x")}, [2], None, (2, 2, "y"))])
def test_store_chain_matches_model(spark, first, loads):
    """Level-5 and EP3 loads written through the store as the driver
    writes them (``merge_tagged`` observed by ``MergeObservation``,
    ``store.write(onto=...)``): after every load the read equals the
    pure-Python model in the table's column order and equals what
    ``compact`` writes, the observed row count is the pointer's, and
    a load onto a chain past the fold bound writes a full snapshot —
    on small tables, whose chains cross the bound often. A load's
    fifth field, given only by the last load of an explicit example,
    is one more staged row for a changed key that the staged file
    already holds: the full snapshot keeps it beside the model's row,
    and so must the folded read."""
    import shutil
    import tempfile

    from linz_bde_uploader_spark.sources import store as S

    root = tempfile.mkdtemp(prefix="chain-")
    try:
        store = S.TableStore(os.path.join(root, "store"))
        store.write("t", spark.createDataFrame(
            [(k, a, b) for k, (a, b) in sorted(first.items())], SCHEMA),
            key="id", rows=len(first))
        state = dict(first)
        for kind, stg, chg, u, dup in loads:
            prev = store._payload("t")
            chain = store._chain("t", prev["version"])
            chain_rows = (store._chain_record("t", prev["version"])
                          or {"chain_rows": 0})["chain_rows"]
            cur = store.read(spark, "t")
            extra = [] if dup is None else [dup]
            stgdf = spark.createDataFrame(
                [(k, a, b) for k, (a, b) in sorted(stg.items())] + extra,
                SCHEMA)
            if kind == "L5":
                unique_cols = [] if u is None else [["a", "b"][u]]
                chgdf = M.fix_key_swaps(stgdf, cur, M.prepare_change_table(
                    spark.createDataFrame([("T1", k) for k in chg],
                                          CHG_SCHEMA), "t1"),
                    "id", unique_cols)
                tagged = M.merge_tagged(cur, stgdf, chgdf, "id", unique_cols)
                state = swap_model(state, stg, chg, u)[1]
            else:
                tagged = M.merge_tagged(cur, stgdf, None, "id")
                state = dict(stg)
            observed = M.MergeObservation()
            store.write("t", tagged, key="id", clustered=observed.apply,
                        verdict=lambda new, o=observed: o.result()[1],
                        onto=prev["version"])
            payload = store._payload("t")
            if (len(chain) > S.MAX_SEGMENTS
                    or chain_rows > S.FOLD_RATIO * prev["rows"]):
                assert store._chain("t", payload["version"]) == \
                    [payload["version"]]
            else:
                assert store._chain("t", payload["version"]) == \
                    chain + [payload["version"]]
            want = sorted([(k, a, b) for k, (a, b) in state.items()]
                          + extra, key=repr)
            got = store.read(spark, "t")
            assert got.columns == ["id", "a", "b"]
            assert sorted(map(tuple, got.collect()), key=repr) == want
            assert payload["rows"] == len(want)
            copy = os.path.join(root, f"compact{payload['version']}")
            shutil.copytree(store.root, copy)
            compacted = S.TableStore(copy)
            v = compacted.compact(spark, "t")
            assert compacted._chain("t", v) == [v]
            assert sorted(map(tuple, compacted.read(spark, "t").collect()),
                          key=repr) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table, chg=keys)
def test_maintain_aggregate_equals_direct_refresh(spark, cur, stg, chg):
    """IVM property over the randomized CDC state space: the
    incrementally-maintained per-group aggregate must equal a direct
    aggregate over apply_actions' merged output — for every
    combination of inserts, deletes, in-place updates, group-moving
    updates, and no-ops, with null group keys and null values."""
    from decimal import Decimal

    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    chgdf = spark.createDataFrame(
        [(k,) for k in sorted(chg)],
        T.StructType([T.StructField("key", T.LongType(), False)]))
    actions = M.classify_actions(curdf, stgdf, chgdf, "id", ["id", "a", "b"])
    # group by the nullable string col, sum the nullable int col
    got = {r["b"]: (r["n"], r["n_vals"], r["total"]) for r in
           M.maintain_aggregate(curdf, stgdf, actions, "id",
                                ["b"], "a").collect()}
    merged = M.apply_actions(curdf, stgdf, actions, "id")
    from pyspark.sql import functions as F
    want = {r["b"]: (r["n"], r["n_vals"], r["total"]) for r in
            merged.groupBy("b").agg(
                F.count("*").alias("n"),
                F.count("a").alias("n_vals"),
                F.sum(F.col("a").cast("decimal(12,2)"))
                .cast("decimal(38,2)").alias("total")).collect()}
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table, chg=keys)
def test_maintain_extrema_equals_direct_refresh(spark, cur, stg, chg):
    """Partial-refresh min/max over the randomized CDC state space:
    carry-forward (untouched groups, from the pre-merge view) +
    recompute (touched groups, from the merged state) must equal a
    direct aggregate over the merged table — including NULL group
    keys, extremum deletions, and group-moving updates."""
    from pyspark.sql import functions as F

    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    chgdf = spark.createDataFrame(
        [(k,) for k in sorted(chg)],
        T.StructType([T.StructField("key", T.LongType(), False)]))
    actions = M.classify_actions(curdf, stgdf, chgdf, "id", ["id", "a", "b"])
    merged = M.apply_actions(curdf, stgdf, actions, "id")
    v = F.col("a").cast("decimal(12,2)")
    old = curdf.groupBy("b").agg(
        F.count("*").alias("n"), F.min(v).alias("vmin"),
        F.max(v).alias("vmax"))
    got = {r["b"]: (r["n"], r["vmin"], r["vmax"]) for r in
           M.maintain_extrema(curdf, stgdf, actions, "id", ["b"], "a",
                              merged, old_extrema=old).collect()}
    want = {r["b"]: (r["n"], r["vmin"], r["vmax"]) for r in
            merged.groupBy("b").agg(
                F.count("*").alias("n"), F.min(v).alias("vmin"),
                F.max(v).alias("vmax")).collect()}
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table, chg=keys)
def test_maintain_views_under_key_swaps_and_x_actions(spark, cur, stg, chg):
    """Adversarial IVM property (r7 verdict order): classify WITH
    unique_cols so the action set contains X (key-change) rows and
    the key-swap repair augments the change set — the one action
    class the other IVM properties never generate. The randomized
    tables collide freely on the unique column, so this drives
    displaced-key deletes, X-classified re-keys, group moves, and
    extremum deletions through BOTH maintained views; each must
    still equal a direct aggregate over the merged state. Rules the
    operator in or out independently of any oracle-rendering
    question (the cdc_minmax_refresh driver red was rendering — the
    pandas emulation proved it — but the operator deserves its own
    adversarial pin)."""
    from pyspark.sql import functions as F

    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    chgdf = spark.createDataFrame(
        [(k,) for k in sorted(chg)],
        T.StructType([T.StructField("key", T.LongType(), False)]))
    actions = M.classify_actions(curdf, stgdf, chgdf, "id",
                                 ["id", "a", "b"],
                                 unique_cols=["a"]).cache()
    merged = M.apply_actions(curdf, stgdf, actions, "id")
    v = F.col("a").cast("decimal(12,2)")

    got_agg = {r["b"]: (r["n"], r["n_vals"], r["total"]) for r in
               M.maintain_aggregate(curdf, stgdf, actions, "id",
                                    ["b"], "a").collect()}
    want_agg = {r["b"]: (r["n"], r["n_vals"], r["total"]) for r in
                merged.groupBy("b").agg(
                    F.count("*").alias("n"),
                    F.count("a").alias("n_vals"),
                    F.sum(v).cast("decimal(38,2)").alias("total"))
                .collect()}
    assert got_agg == want_agg

    old = curdf.groupBy("b").agg(
        F.count("*").alias("n"), F.min(v).alias("vmin"),
        F.max(v).alias("vmax"))
    got_mm = {r["b"]: (r["n"], r["vmin"], r["vmax"]) for r in
              M.maintain_extrema(curdf, stgdf, actions, "id", ["b"], "a",
                                 merged, old_extrema=old).collect()}
    want_mm = {r["b"]: (r["n"], r["vmin"], r["vmax"]) for r in
               merged.groupBy("b").agg(
                   F.count("*").alias("n"), F.min(v).alias("vmin"),
                   F.max(v).alias("vmax")).collect()}
    assert got_mm == want_mm
    actions.unpersist()


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table, chg=keys)
def test_maintain_topk_equals_direct_refresh(spark, cur, stg, chg):
    """Third IVM member: the partially-refreshed per-group top-k
    leaderboard (carry-forward untouched groups + recompute touched
    groups) must equal a direct ranking over the merged state — for
    every combination of inserts, deletes, rank-evicting deletions,
    group moves, X actions (unique_cols drives the key-swap path),
    NULL group keys, and NULL values (NULLs sort last under the
    DESC total order on both paths by construction: the rank runs
    over the cast value with key tie-break)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    chgdf = spark.createDataFrame(
        [(k,) for k in sorted(chg)],
        T.StructType([T.StructField("key", T.LongType(), False)]))
    actions = M.classify_actions(curdf, stgdf, chgdf, "id",
                                 ["id", "a", "b"],
                                 unique_cols=["a"]).cache()
    merged = M.apply_actions(curdf, stgdf, actions, "id")
    v = F.col("a").cast("decimal(12,2)")

    old = (curdf.select("b", "id", v.alias("_v"))
           .withColumn("rank", F.row_number().over(
               Window.partitionBy("b").orderBy(F.col("_v").desc(),
                                               F.col("id").asc())))
           .filter(F.col("rank") <= 2)
           .select("b", F.col("rank").cast("bigint"), "id",
                   F.col("_v").alias("a")))
    got = {(r["b"], r["rank"]): (r["id"], r["a"]) for r in
           M.maintain_topk(curdf, stgdf, actions, "id", ["b"], "a",
                           merged, k=2, old_topk=old).collect()}
    want = {(r["b"], r["rank"]): (r["id"], r["a"]) for r in
            merged.select("b", "id", v.alias("_v"))
            .withColumn("rank", F.row_number().over(
                Window.partitionBy("b").orderBy(F.col("_v").desc(),
                                                F.col("id").asc())))
            .filter(F.col("rank") <= 2)
            .select("b", F.col("rank").cast("bigint"), "id",
                    F.col("_v").alias("a")).collect()}
    assert got == want
    actions.unpersist()


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table, chg=keys)
def test_maintain_distinct_equals_direct_refresh(spark, cur, stg, chg):
    """Fourth IVM member: the partially-refreshed per-group
    (n, n_distinct) view must equal a direct COUNT / COUNT(DISTINCT)
    over the merged state — including the defining hard case
    (deleting one of several holders of a value must NOT decrement
    the distinct count; deleting the last holder must), group moves,
    NULL group keys, and NULL values (excluded from the distinct
    count but counted in n, SQL semantics on both paths)."""
    from pyspark.sql import functions as F

    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    chgdf = spark.createDataFrame(
        [(k,) for k in sorted(chg)],
        T.StructType([T.StructField("key", T.LongType(), False)]))
    actions = M.classify_actions(curdf, stgdf, chgdf, "id",
                                 ["id", "a", "b"]).cache()
    merged = M.apply_actions(curdf, stgdf, actions, "id")
    old = (curdf.groupBy("b", "a").agg(F.count("*").alias("_m"))
           .groupBy("b")
           .agg(F.sum("_m").cast("bigint").alias("n"),
                F.count("a").alias("n_distinct")))
    got = {r["b"]: (r["n"], r["n_distinct"]) for r in
           M.maintain_distinct(curdf, stgdf, actions, "id", ["b"],
                               "a", merged,
                               old_distinct=old).collect()}
    want = {r["b"]: (r["n"], r["n_distinct"]) for r in
            merged.groupBy("b").agg(
                F.count("*").cast("bigint").alias("n"),
                F.countDistinct("a").alias("n_distinct")).collect()}
    assert got == want
    actions.unpersist()


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table, chg=keys)
def test_maintain_join_equals_direct_refresh(spark, cur, stg, chg):
    """Fifth IVM member: the delta-join-maintained enriched view
    (stored view minus D/U/X fact keys, plus I/U/X staged rows joined
    to the dimension) must equal a direct re-join of the merged state
    — including updates that move a row between dimension partners,
    join columns that are NULL or dangling (value 3 has no dimension
    row: absent from the view on both paths, inner-join semantics),
    rank-free deletes of enriched rows, and X actions via the
    unique_cols key-swap path."""
    from pyspark.sql import functions as F  # noqa: F401

    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    chgdf = spark.createDataFrame(
        [(k,) for k in sorted(chg)],
        T.StructType([T.StructField("key", T.LongType(), False)]))
    dim = spark.createDataFrame([(0, "p"), (1, "q"), (2, "r")],
                                "d_key int, d_name string")
    actions = M.classify_actions(curdf, stgdf, chgdf, "id",
                                 ["id", "a", "b"],
                                 unique_cols=["a"]).cache()
    merged = M.apply_actions(curdf, stgdf, actions, "id")

    def enrich(fact):
        return (fact.join(dim, fact["a"] == dim["d_key"], "inner")
                .select(fact["id"], fact["b"], dim["d_name"]))

    old = enrich(curdf)
    got = {r["id"]: (r["b"], r["d_name"]) for r in
           M.maintain_join(curdf, stgdf, actions, "id", dim,
                           "a", "d_key", ["b"], ["d_name"],
                           old_view=old).collect()}
    want = {r["id"]: (r["b"], r["d_name"]) for r in
            enrich(merged).collect()}
    assert got == want
    actions.unpersist()


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table, chg=keys)
def test_maintain_hll_equals_direct_refresh(spark, cur, stg, chg):
    """The seventh IVM member over the randomized CDC state space:
    max-merge (insert-only groups) + recompute (groups losing rows)
    must equal a from-scratch register build over the merged state —
    including NULL group keys, NULL sketch keys (ignored, like
    COUNT(DISTINCT)), group-moving updates, and groups that vanish
    entirely."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import sketches as SK

    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    chgdf = spark.createDataFrame(
        [(k,) for k in sorted(chg)],
        T.StructType([T.StructField("key", T.LongType(), False)]))
    actions = M.classify_actions(curdf, stgdf, chgdf, "id",
                                 ["id", "a", "b"])
    merged = M.apply_actions(curdf, stgdf, actions, "id")
    skey = F.col("a").cast("string")   # nullable sketch key
    old = SK.hll_registers(curdf, ["b"], skey)
    got = {(r["b"], r.idx): r.m for r in
           SK.maintain_hll(curdf, stgdf, actions, "id", ["b"], skey,
                           merged, old_regs=old).collect()}
    want = {(r["b"], r.idx): r.m for r in
            SK.hll_registers(merged, ["b"], skey).collect()}
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cur=table, stg=table, chg=keys)
def test_maintain_cms_equals_direct_refresh(spark, cur, stg, chg):
    """The linear-sketch IVM branch over the randomized CDC state
    space: pure delta arithmetic (subtract removed cells, add added
    cells, drop zeros) must equal a from-scratch CMS of the merged
    state — including NULL sketch keys (ignored) and rows that churn
    through updates. No recompute branch exists to fall back on, so
    this equality IS the operator."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import sketches as SK

    curdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(cur.items())], SCHEMA)
    stgdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(stg.items())], SCHEMA)
    chgdf = spark.createDataFrame(
        [(k,) for k in sorted(chg)],
        T.StructType([T.StructField("key", T.LongType(), False)]))
    actions = M.classify_actions(curdf, stgdf, chgdf, "id",
                                 ["id", "a", "b"])
    merged = M.apply_actions(curdf, stgdf, actions, "id")
    skey = F.col("a").cast("string")
    old = SK.cms_build(curdf.select(skey.alias("tok")))
    got = {(r.row, r.idx): r.c for r in
           SK.maintain_cms(curdf, stgdf, actions, "id", skey,
                           old).collect()}
    want = {(r.row, r.idx): r.c for r in
            SK.cms_build(merged.select(skey.alias("tok"))).collect()}
    assert got == want
