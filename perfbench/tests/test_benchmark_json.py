"""BENCHMARK.json is well formed and names what run.py prints."""

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _names(section):
    return {m["name"]: m["unit"] for m in BENCH[section]}


def test_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert BENCH["command"][1:] == ["perfbench/run.py"]
    assert BENCH["paths"] == ["perfbench"]
    assert 1 <= BENCH["run_seconds"] <= 60
    names = [m["name"] for s in ("workloads", "end_to_end", "per_layer")
             for m in BENCH[s]]
    assert len(names) == len(set(names))
    for s in ("workloads", "end_to_end", "per_layer"):
        for m in BENCH[s]:
            assert NAME.match(m["name"]), m
    for m in BENCH["workloads"]:
        assert set(m) == {"name", "why"} and len(m["why"]) <= 200
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_workloads_match_the_generator():
    assert [w["name"] for w in BENCH["workloads"]] == [
        w for w in gen.WORKLOADS if w not in gen.HELD_BACK]
    assert run.parse_args(["--workload", "cdc_large", "--seed", "1",
                           "--seconds", "1"]).trace == 0


def _workload():
    wl = gen.Workload("x", "", "", [])
    wl.jobs = [gen.Job({}, {("t", "d"): (1, 0, 0, 0)},
                       {("t", "d"): {"I": 1}}, compared=4,
                       input_bytes=100, input_rows=10)]
    return wl


def test_end_to_end_names_match_what_the_command_prints():
    rounds = [{"upload_s": 2.0, "durations": {"a@d": 1.0, "b@d": 3.0},
               "bytes": 50},
              {"upload_s": 4.0, "durations": {"a@d": 2.0, "b@d": 2.0},
               "bytes": 50}]
    m = run.e2e_metrics(rounds, _workload(), 3.0, attempted=2, failed=0)
    assert {k: u for k, (_, u) in m.items()} == _names("end_to_end")
    assert m["upload_s"][0] == 2.0 and m["rows_per_s"][0] == 5
    # each load's fastest round: a 1.0, b 2.0
    assert m["table_p50_s"][0] == 1.5
    assert m["store_bytes_per_input_byte"][0] == 0.5
    assert m["loads_ok_frac"][0] == 1


def test_per_layer_names_match_what_the_command_prints():
    spark = {k: 1 for k in ("jobs", "stages", "tasks", "task_cpu_s",
                            "shuffle_write_bytes", "spill_bytes",
                            "outside_jobs_s")}
    layers = {"table": {"driver": {"calls": 2, "self_s": 1.0, "jobs": 8,
                                   "task_cpu_s": 0.5, "outside_jobs_s": 0.2}},
              "wall": 5.0, "crs_rows": 10, "crs_bytes": 100,
              "store_bytes": 10, "store_files": 2, "store_rows": 30,
              "rows_changed": 3, "view_writes": 1, "ledger_bytes": 7,
              "cache_left": 0, "spark": spark}
    probe = {"materialize_s": 1.0, "materialize_cpu_s": 1.0,
             "classify_s": 1.0, "full_diff_s": 1.0}
    m = run.layer_metrics([{"upload_s": 2.5, "layers": layers}],
                          [{"upload_s": 2.0}], probe, _workload())
    assert {k: u for k, (_, u) in m.items()} == _names("per_layer")
    assert m["driver.jobs_per_table"][0] == 4
    assert m["store.rows_written_per_row_changed"][0] == 10
    assert m["merge.useful_ratio"][0] == 0.25
    assert m["tracing.overhead_s"][0] == 0.5   # fastest traced - untraced
