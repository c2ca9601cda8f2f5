"""The SQL-text plan builders: the quoting helpers round-trip through
Spark's parser, and building a ``read_crs`` or ``merge_tagged`` plan
costs a number of py4j round trips that does not grow with the
cleanse map's rule count and grows by at most a small constant per
column."""

import contextlib

import pytest

from linz_bde_uploader_spark.functions.sqltext import ident, literal
from linz_bde_uploader_spark.operators import merge as M
from linz_bde_uploader_spark.sources.crs import (
    CleanseConfig, RowCheck, parse_header, read_crs,
)

# py4j calls a builder may add per column: one list element crossing
# to the JVM per selected expression, once per side of a join (the
# Column-built builders took one or more calls per column reference:
# merge_tagged about 100 per column)
PER_COLUMN = 2


@pytest.mark.parametrize("name", ["a`b", "a b", "`", "x.y", "ä ö"])
def test_ident_round_trips(spark, name):
    df = spark.range(1).selectExpr(f"id AS {ident(name)}")
    assert df.columns == [name]
    assert df.alias("t").selectExpr(ident("t", name)).columns == [name]


@pytest.mark.parametrize("value", [
    "it's", "back\\slash", "$1 and \\$2", "\\'", "'", "\\", "",
    "tab\tnew\nline\r", "\x01\x1f", "中\U0001F600", "%_", "\\u0041",
    "\\n",
])
def test_literal_round_trips(spark, value):
    assert spark.sql(f"SELECT {literal(value)} AS v").first().v == value
    df = spark.range(1).selectExpr(f"{literal(value)} AS v")
    assert df.filter(f"v = {literal(value)}").first().v == value


@contextlib.contextmanager
def _round_trips(spark):
    """Count the py4j commands sent to the JVM inside the block. The
    releases of garbage-collected JVM references are not counted:
    py4j queues them and flushes the queue at arbitrary commands."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    n = [0]

    def counting(command, *a, **k):
        n[0] += not command.startswith("m\n")
        return real(command, *a, **k)

    client.send_command = counting
    try:
        yield n
    finally:
        client.send_command = real


_TYPES = ["integer", "varchar(20)", "datetime", "date", "decimal(12,4)",
          "varchar(8)"]


def _crs(path, ncols):
    cols = [(f"c{i}", _TYPES[i % len(_TYPES)]) for i in range(ncols)]
    row = {"integer": "7", "varchar(20)": "a\\b é", "datetime":
           "2016-06-01 17:12:25", "date": "2016-06-01",
           "decimal(12,4)": "1.5", "varchar(8)": ""}
    lines = ["HEDR\t 2.0.0", "START\t 2016-06-01 17:12:25",
             "END\t 2016-06-01 17:12:25", "TABLE\tt"]
    lines += [f"COLUMN\t {n} {t} NULL" for n, t in cols]
    lines += ["{CRS-DATA}",
              "|".join(row[t] for _, t in cols) + "|"]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return path


def _rules(n_single, n_multi):
    """A map of ``n_single`` one-character rules (non-ASCII to '?',
    plus the default four) and ``n_multi`` multi-character ones."""
    cmap = {"|": " ", "\\": " ", "\n": "\\n", "\r": "\\r"}
    cmap.update({chr(0x100 + i): "?" for i in range(n_single - 4)})
    cmap.update({f"q{i}": f"Q{i}" for i in range(n_multi)})
    return CleanseConfig(char_map=cmap, utf8_enforced=True)


def test_read_crs_round_trips(spark, tmp_path):
    """``read_crs``' plan build (the driver's call, with a deferred
    check) costs the same number of round trips for a 20-rule and a
    310-rule map, and at most ``PER_COLUMN`` more per column."""
    maps = {20: _rules(18, 2), 310: _rules(295, 15)}
    assert [len(m.char_map) for m in maps.values()] == [20, 310]
    paths = {n: _crs(str(tmp_path / f"c{n}.crs"), n) for n in (6, 30)}

    def trips(ncols, rules):
        path = paths[ncols]
        header = parse_header(path)
        with _round_trips(spark) as n:
            read_crs(spark, path, header=header, cleanse=maps[rules],
                     check=RowCheck())
        return n[0]

    trips(6, 20)  # warm the session's lazily created JVM objects
    got = {(c, r): trips(c, r) for c in (6, 30) for r in (20, 310)}
    assert got[6, 20] == got[6, 310], got
    assert got[30, 20] == got[30, 310], got
    assert got[30, 20] - got[6, 20] <= PER_COLUMN * 24, got
    # the frame reads what it was built from
    df = read_crs(spark, paths[30], cleanse=maps[310], check=RowCheck())
    assert df.count() == 1 and df.first().c1 == "a b ?"


def test_merge_tagged_round_trips(spark):
    """``merge_tagged``'s plan build, level-5 and full form, costs at
    most ``PER_COLUMN`` more round trips per column."""
    def frames(ncols):
        cols = ["id"] + [f"id + {i} AS c{i}" for i in range(ncols - 1)]
        return (spark.range(10).selectExpr(*cols),
                spark.range(5, 15).selectExpr(*cols),
                spark.range(3, 8).selectExpr("id AS key"))

    def trips(ncols, full):
        cur, stg, chg = frames(ncols)
        with _round_trips(spark) as n:
            M.merge_tagged(cur, stg, None if full else chg, "id", ["c1"])
        return n[0]

    trips(6, False)
    for full in (False, True):
        narrow, wide = trips(6, full), trips(30, full)
        assert wide - narrow <= PER_COLUMN * 24, (full, narrow, wide)
