"""Generator determinism and the expected-state model's semantics."""

import filecmp
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

MODEL = gen.load_model()

# FIXTURES.md F1/F2: crs_parcel_bndry keyed by audit_id
PAB = gen.TableSpec("crs_parcel_bndry", "pab1", [
    ("pri_id", "integer", True), ("sequence", "integer", True),
    ("lin_id", "integer", True), ("reversed", "char", True),
    ("audit_id", "integer", False)], key="audit_id")
F1 = ["4457328|1|29694591|Y|80401148", "4457327|2|29694578|N|80401149",
      "4457326|3|11960041|Y|80401150"]
F2_FILE = ["4457328|10|29694591|Y|80401148", "4457327|20|29694578|N|80401149",
           "4457326|3|11960041|Y|100", "4457330|4|29694600|N|300",
           "4457331|5|29694601|Y|400"]
F2_XAUD = [80401150, 300, 400, 100, 80401148, 80401149]


def _state(lines):
    tm = gen.TableModel(PAB, MODEL)
    raw = {int(line.split("|")[4]): tuple(line.split("|")) for line in lines}
    return tm.state(raw)


def _tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def test_generator_is_deterministic(tmp_path):
    a = gen.build("cdc_large", 7, str(tmp_path / "a"), MODEL, rows=300)
    b = gen.build("cdc_large", 7, str(tmp_path / "b"), MODEL, rows=300)
    c = gen.build("cdc_large", 8, str(tmp_path / "c"), MODEL, rows=300)
    files = _tree(tmp_path / "a")
    assert files == _tree(tmp_path / "b") and len(files) == 3
    for f in files:
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f,
                           shallow=False)
    assert a.final == b.final and a.jobs[0].stats == b.jobs[0].stats
    assert c.final != a.final


def test_full_snapshot_jobs_and_inputs(tmp_path):
    wl = gen.build("full_snapshot", 1, str(tmp_path), MODEL, rows=500)
    ep1, ep3 = wl.jobs
    assert ep1.kwargs == {"level0": True, "before": gen.L0_SECOND}
    assert ep3.kwargs == {"full_incremental": True}
    assert ep1.stats == {("crs_parcel", gen.L0_DATASET): (500, 0, 0, 0)}
    ins, upd, null, dele = ep3.stats[("crs_parcel", gen.L0_SECOND)]
    assert null == 0 and ins > 0 and upd > 0 and dele > 0
    assert wl.final["crs_parcel"][0] == 500 + ins - dele
    assert set(wl.final) == {"crs_parcel", "crs_parcel__agg",
                             "crs_parcel__minmax"}
    assert ep1.input_rows == 500
    assert ep1.input_bytes == os.path.getsize(
        tmp_path / "level_0" / gen.L0_DATASET / "par1.crs")


def test_cdc_changes_cover_every_action(tmp_path):
    wl = gen.build("cdc_large", 3, str(tmp_path), MODEL, rows=2000)
    (job,) = wl.jobs
    (acts,) = job.actions.values()
    assert all(acts[a] > 0 for a in "IUD0X")
    assert set(wl.final) == {"crs_parcel", "crs_parcel__agg",
                             "crs_parcel__minmax"}
    assert job.compared == 20   # 1% of 2000, at least 8


def test_many_small_changes_every_table_in_one_dataset(tmp_path):
    wl = gen.build("cdc_many_small", 3, str(tmp_path), MODEL, rows=500)
    names = [s.name for s in gen.small_specs()]
    assert len(names) >= 2
    assert wl.setup.stats == {(t, gen.L0_DATASET): (500, 0, 0, 0)
                              for t in names}
    (job,) = wl.jobs
    assert job.kwargs == {"level5": True}
    assert set(job.stats) == {(t, gen.L5_DATASET) for t in names}
    for acts in job.actions.values():
        assert all(acts[a] > 0 for a in "IUD0") and acts["X"] == 0
    assert set(wl.final) == set(wl.setup_final) == set(names)
    assert job.compared == 10 * len(names)   # 2% of 500 per table
    # one change table names the keys of every table
    xaud = tmp_path / "level_5" / gen.L5_DATASET / "xaud.crs"
    body = xaud.read_text().split("{CRS-DATA}\n")[1].splitlines()
    assert {line.split("|")[1] for line in body} == set(names)
    assert len(body) == job.input_rows - sum(
        wl.input_files[str(tmp_path / "level_5" / gen.L5_DATASET /
                           f"{s.tag}.crs")] for s in gen.small_specs())


def test_model_matches_f1_f2_golden_semantics():
    old = _state(F1)
    assert len(old) == 3
    stats, post, acts = gen.level5_result(PAB, old, _state(F2_FILE), F2_XAUD)
    assert stats == (3, 2, 0, 1)
    seq = PAB.index("sequence")
    assert {k: r[seq] for k, r in post.items()} == {
        100: 3, 300: 4, 400: 5, 80401148: 10, 80401149: 20}


def test_model_unique_swap_is_x_and_displaced_keys_join():
    spec = gen.TableSpec("t", "t", [("id", "integer", False),
                                    ("u", "integer", True),
                                    ("v", "integer", True)], unique=["u"])
    old = {1: (1, 10, 0), 2: (2, 20, 0), 3: (3, 30, 0)}
    swapped = {1: (1, 20, 0), 2: (2, 10, 0), 3: (3, 30, 0)}
    stats, post, acts = gen.level5_result(spec, old, swapped, [1, 2])
    assert acts["X"] == 2 and stats == (2, 0, 0, 2) and post == swapped
    # key 3 is not named, but a new row takes its unique value: it is
    # displaced into the change set and classified (here: updated away)
    moved = {1: (1, 30, 0), 2: (2, 20, 0), 3: (3, 31, 0)}
    assert gen.classify(spec, old, moved, [1]) == {1: "X", 3: "X"}
    # null unique values never displace
    nulls = {1: (1, None, 0), 2: (2, None, 1)}
    assert gen.classify(spec, nulls, nulls, []) == {}


def test_model_full_diff():
    old = {1: ("a",), 2: ("b",), 3: ("c",)}
    new = {2: ("b",), 3: ("C",), 4: ("d",)}
    stats, post, _ = gen.diff_result(old, new)
    assert stats == (1, 1, 0, 1) and post == new


def test_cleanse_model_follows_the_conf():
    assert len(MODEL.char_map) > 250 and MODEL.enforced
    # 1:1 fold, kept macron, multi-character rule, deleted control,
    # unmapped non-ASCII
    assert MODEL.text("é ā … ß a\x07b ♯ 中") == "e ā ... ss ab ? ?"
    assert MODEL.text(None) is None
    assert MODEL.datetime("1899-12-31 23:59:59") == "1800-01-01 00:00:00"
    assert MODEL.datetime("1900-01-01 00:00:00") == "1900-01-01 00:00:00"
    assert MODEL.geometry("LINESTRING(172.123456 -41.5,7 -1)") == \
        "SRID=4167;LINESTRING(332.123456 -41.5,167 -1)"
    assert MODEL.value("decimal", "12.5") == Decimal("12.5")
    assert gen.canon(Decimal("12.5"), "decimal") == "12.5000000000"
    assert gen.canon(None, "integer") == "\\N"


def test_cleanse_model_agrees_with_the_package_parser():
    """The model parses the conf on its own; both readings must agree."""
    sys.path.insert(0, os.path.dirname(gen.HERE))
    from linz_bde_uploader_spark.config import (
        load_conf, upload_config_from_conf,
    )

    cfg = upload_config_from_conf(load_conf(gen.UPLOAD_CONF)).cleanse
    assert cfg.char_map == MODEL.char_map
    assert (cfg.minimum_year, cfg.longitude_offset, cfg.utf8_enforced,
            cfg.utf8_unmapped, cfg.max_errors, cfg.wkt_prefix) == (
        MODEL.minimum_year, MODEL.offset, MODEL.enforced, MODEL.unmapped,
        MODEL.max_errors, MODEL.wkt_prefix)


def test_digest_is_order_independent():
    rows = [["1", "a"], ["2", "\\N"], ["3", "c"]]
    assert gen.digest(rows) == gen.digest(rows[::-1])
    assert gen.digest(rows) != gen.digest(rows[:2])
    assert gen.digest([["1", "a"]]) != gen.digest([["a", "1"]])
