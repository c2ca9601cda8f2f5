import os

import pytest

from linz_bde_uploader_spark.sources.crs import (
    CleanseConfig, CrsReadError, cleanse_text, parse_header, read_crs,
)
from linz_bde_uploader_spark.functions.sqltext import literal
from tests.fixtures import PAB1_L0, UTF8, XAUD, write_crs


def test_parse_header(tmp_path):
    p = write_crs(str(tmp_path / "pab1.crs"), PAB1_L0)
    h = parse_header(p)
    assert h.table == "crs_parcel_bndry"
    assert h.field_names == ["pri_id", "sequence", "lin_id", "reversed", "audit_id"]
    assert [c.type_name for c in h.columns] == ["integer"] * 3 + ["char", "integer"]
    assert h.columns[4].nullable is False
    assert h.start_time == "2016-06-01 17:12:25"
    assert h.size == 562


def test_read_golden_level0(spark, tmp_path):
    """Golden 3-row load of crs_parcel_bndry
    (reference t/linz_bde_uploader.t:656-680)."""
    p = write_crs(str(tmp_path / "pab1.crs"), PAB1_L0)
    df = read_crs(spark, p)
    rows = sorted(df.collect(), key=lambda r: r.audit_id)
    assert [tuple(r) for r in rows] == [
        (4457328, 1, 29694591, "Y", 80401148),
        (4457327, 2, 29694578, "N", 80401149),
        (4457326, 3, 11960041, "Y", 80401150),
    ]
    assert dict(df.dtypes)["audit_id"] == "int"


def test_read_gzip(spark, tmp_path):
    p = write_crs(str(tmp_path / "pab1.crs.gz"), PAB1_L0, gz=True)
    assert read_crs(spark, p).count() == 3


def test_read_gzip_parse_parallelizes(spark, tmp_path):
    """gzip is not splittable, so the text scan is one task — the
    r16 ETL soak caught the whole split/cast/cleanse pipeline
    inheriting that single partition (172 s serial vs 90 s fixed at
    3.6M rows). read_crs must redistribute gz lines before parsing;
    the plain read keeps its native splits (no gratuitous shuffle)."""
    gz = write_crs(str(tmp_path / "pab1.crs.gz"), PAB1_L0, gz=True)
    assert read_crs(spark, gz).rdd.getNumPartitions() \
        == spark.sparkContext.defaultParallelism
    plain = write_crs(str(tmp_path / "pab1.crs"), PAB1_L0)
    df = read_crs(spark, plain)
    assert "Exchange" not in df._jdf.queryExecution().executedPlan() \
        .toString().split("FileScan")[0]


def test_timestamp_and_null(spark, tmp_path):
    p = write_crs(str(tmp_path / "xaud.crs"), XAUD)
    df = read_crs(spark, p)
    assert dict(df.dtypes)["timestamp"] == "timestamp_ntz"
    assert df.count() == 6
    # empty field = NULL
    content = XAUD.replace("1|crs_parcel_bndry", "1|")
    p2 = write_crs(str(tmp_path / "xaud2.crs"), content)
    row = read_crs(spark, p2).filter("id = 1").first()
    assert row.tablename is None


def test_utf8_fidelity(spark, tmp_path):
    """UTF-8 round-trip of musical symbols (reference
    t/linz_bde_uploader.t:1263-1281)."""
    p = write_crs(str(tmp_path / "utf8.crs"), UTF8)
    df = read_crs(spark, p)
    vals = {r.id: r.des for r in df.collect()}
    assert vals == {1: "♯", 2: "♭", 3: "♮", 4: "–"}


def test_valid_column_projection(spark, tmp_path):
    """P1: extra file fields dropped via ordered intersection."""
    p = write_crs(str(tmp_path / "xaud.crs"), XAUD)
    df = read_crs(spark, p, valid_columns=["tablename", "tablekeyvalue", "action"])
    assert df.columns == ["tablename", "tablekeyvalue", "action"]


def test_error_budget(spark, tmp_path):
    """bde_copy column_count error + max_errors budget."""
    bad = PAB1_L0 + "1|2|3|\n"  # wrong column count
    p = write_crs(str(tmp_path / "bad.crs"), bad)
    with pytest.raises(CrsReadError):
        read_crs(spark, p)
    # budget of 1 tolerates it
    df = read_crs(spark, p, cleanse=CleanseConfig(max_errors=1))
    assert df.count() == 3



def test_read_crs_filter_order_cannot_raise(spark, tmp_path):
    """A filter on a parsed column may run before the data-row and
    column-count filters: Catalyst pushes it into the same Filter,
    and without whole-stage codegen (which a large predicate
    disables) the shared field pick is evaluated first for every
    line. The pick must then yield NULL, not raise, on header lines
    and on malformed rows the budget tolerates — and the rows are
    those of the unfiltered read."""
    import pyspark.sql.functions as F

    p = write_crs(str(tmp_path / "bad.crs"), PAB1_L0 + "1|2|3|\n7|\n")
    cfg = CleanseConfig(max_errors=2)
    a = F.col("audit_id")
    want = sorted(r.audit_id for r in read_crs(spark, p, cleanse=cfg)
                  .filter((a > 80401148) & (a < 10 ** 9)).collect())
    assert want == [80401149, 80401150]
    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = read_crs(spark, p, cleanse=cfg).filter(
            (a > 80401148) & (a < 10 ** 9))
        assert sorted(r.audit_id for r in got.collect()) == want
    finally:
        spark.conf.set(key, before)

def test_cleanse_char_map(spark):
    import pyspark.sql.functions as F
    cfg = CleanseConfig()
    df = spark.range(1).select(F.lit("a|b\\c\nd").alias("s"))
    out = df.select(F.expr(cleanse_text("s", cfg)).alias("s")).first().s
    assert out == "a b c\\nd"


def test_read_crlf_file(spark, tmp_path):
    """CRLF-encoded .crs files must load identically: the \r before
    the trailing '|' is stripped, not treated as a non-pipe ending
    (which would silently drop every data row)."""
    p = write_crs(str(tmp_path / "crlf.crs"), PAB1_L0.replace("\n", "\r\n"))
    df = read_crs(spark, p)
    assert df.count() == 3
    assert {r.audit_id for r in df.collect()} == {80401148, 80401149, 80401150}


def test_date_floor_uses_configured_sentinel(spark):
    """minimum_year floors to the CONFIGURED invalid_date_string —
    including the reference conf's dd/MM/yyyy spelling."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.sources.crs import CrsColumn, _cast_and_cleanse

    cfg = CleanseConfig(minimum_year=1900, invalid_date="01/01/1900")
    col = _cast_and_cleanse(literal("1850-06-15"), CrsColumn("d", "date", True), cfg)
    got = spark.range(1).select(F.expr(col).alias("d")).first()["d"]
    assert str(got) == "1900-01-01"


def test_wkt_offset_preserves_precision(spark):
    """The longitude offset must not round coordinates (a %g format
    would clip cadastral precision to 6 significant digits)."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.sources.crs import cleanse_wkt

    cfg = CleanseConfig(longitude_offset=160.0)
    raw = "POINT (14.76602860417 -36.84846000321)"
    got = spark.range(1).select(
        F.expr(cleanse_wkt(literal(raw), cfg)).alias("g")).first()["g"]
    assert got == "SRID=4167;POINT (174.76602860417 -36.84846000321)"

    # a fractional offset on an integer coordinate keeps its fraction
    cfg2 = CleanseConfig(longitude_offset=160.5)
    got2 = spark.range(1).select(
        F.expr(cleanse_wkt(literal("POINT (14 -41)"), cfg2)).alias("g")
    ).first()["g"]
    assert got2 == "SRID=4167;POINT (174.5 -41)"


def test_cleanse_single_pass_on_collision(spark):
    """When one rule's output is another rule's input ('x' -> '\\n'
    while '\\n' -> literal \\n), mapping must stay single-pass: the
    produced newline is NOT re-mapped (bde_copy scans input once)."""
    import pyspark.sql.functions as F
    cfg = CleanseConfig(char_map={"x": "\n", "\n": "\\n"})
    df = spark.range(1).select(F.lit("ax\nb").alias("s"))
    out = df.select(F.expr(cleanse_text("s", cfg)).alias("s")).first().s
    assert out == "a\n\\nb"


def test_date_floor(spark, tmp_path):
    """bde_copy minimum_year -> sentinel 1800-01-01 00:00:00
    (conf/linz_bde_uploader.conf:381-383)."""
    content = XAUD.replace("5|crs_parcel_bndry|80401148|U|2016-06-01 17:12:17|",
                           "5|crs_parcel_bndry|80401148|U|0800-01-01 00:00:00|")
    p = write_crs(str(tmp_path / "old.crs"), content)
    df = read_crs(spark, p, cleanse=CleanseConfig(minimum_year=1800))
    row = df.filter("id = 5").first()
    assert str(row.timestamp) == "1800-01-01 00:00:00"


def test_production_conf_block(spark):
    """Parity with the reference's real bde_copy configuration
    (conf/linz_bde_uploader.conf:349-1245): ~300 replace rules fold
    into one translate + a few regexps; utf8_encoding enforced maps
    unlisted non-ASCII chars to '?'."""
    import os
    import re as _re

    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.sources.crs import CleanseConfig, cleanse_text

    path = "/root/reference/conf/linz_bde_uploader.conf"
    if not os.path.exists(path):
        pytest.skip("reference checkout not available")
    block = _re.search(
        r"bde_copy_configuration << end_bde_copy_configuration(.*?)"
        r"end_bde_copy_configuration", open(path).read(), _re.S).group(1)
    cfg = CleanseConfig.from_conf_block(block)
    assert len(cfg.char_map) > 250 and cfg.utf8_enforced
    assert cfg.max_errors == 0 and cfg.longitude_offset == 160.0

    raw = "a|b\\c\x01d é ok – dash ♯sharp\ne"
    got = spark.range(1).select(
        F.expr(cleanse_text(literal(raw), cfg)).alias("t")).first()["t"]
    # | and \ -> space; \x01 control char deleted; é and – kept by the
    # UTF-8 map; ♯ unmapped -> '?'; newline -> literal \n
    assert got == "a b cd é ok – dash ?sharp\\ne"


def test_conf_block_parse():
    cfg = CleanseConfig.from_conf_block("""
minimum_year 0
invalid_datetime_string 1800-01-01 00:00:00
wkt_prefix SRID=4167;
longitude_offset 160.0
max_errors 0
replace | \\x20
replace \\\\ \\x20
replace \\x0A \\\\n
""")
    assert cfg.wkt_prefix == "SRID=4167;"
    assert cfg.longitude_offset == 160.0
    assert cfg.char_map["|"] == " "
    assert cfg.char_map["\\"] == " "
    assert cfg.char_map["\n"] == "\\n"


def test_wkt_cleanse(spark):
    import pyspark.sql.functions as F
    from linz_bde_uploader_spark.sources.crs import cleanse_wkt
    cfg = CleanseConfig()
    df = spark.range(1).select(F.lit("12 POINT(10.5 -41.2)").alias("g"))
    out = df.select(F.expr(cleanse_wkt("g", cfg)).alias("g")).first().g
    assert out == "SRID=4167;POINT(170.5 -41.2)"


def _render_crs(cols, rows):
    """Render a minimal valid .crs file for (name, sqltype) cols."""
    header = ["HEDR\t 2.0.0", "SOFTWARE prop V1", "SCHEMA\t V1.0",
              "USER\t crs_bde", "START\t 2016-06-01 17:12:25",
              "END\t 2016-06-01 17:12:25", "SQL\t SELECT 1",
              "TABLE\tprop_table"]
    for name, sqltype in cols:
        header.append(f"COLUMN\t {name:<30} {sqltype} NULL")
    header += ["DESC", "SIZE          1", "{CRS-DATA}"]
    body = []
    for row in rows:
        body.append("|".join("" if v is None else str(v)
                             for v in row) + "|")
    return "\n".join(header + body) + "\n"


def test_crs_roundtrip_property(spark, tmp_path):
    """Randomized S4/S5 roundtrip: any mix of int/bigint/varchar/
    datetime/decimal columns with NULLs must read back exactly (the
    golden fixtures pin one file; this pins the parser across the
    type/NULL space)."""
    from decimal import Decimal

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from linz_bde_uploader_spark.sources.crs import read_crs

    ints = st.one_of(st.none(), st.integers(-2**31 + 1, 2**31 - 1))
    longs = st.one_of(st.none(), st.integers(-2**62, 2**62))
    # '|' and '\\' are excluded: the cleanse stage maps both to a
    # space BY DESIGN (reference conf replace rules — see
    # CleanseConfig.char_map), so they cannot roundtrip identically
    texts = st.one_of(st.none(), st.text(
        alphabet=st.characters(
            codec="ascii", min_codepoint=33, max_codepoint=126,
            exclude_characters="|\\"),
        min_size=1, max_size=12))
    decs = st.one_of(st.none(), st.decimals(
        min_value=Decimal("-999999.9999"), max_value=Decimal("999999.9999"),
        allow_nan=False, allow_infinity=False, places=4))
    rowstrat = st.tuples(ints, longs, texts, decs)

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(rows=st.lists(rowstrat, min_size=1, max_size=6),
           idx=st.integers(0, 10**6))
    def run(rows, idx):
        cols = [("c_int", "integer"), ("c_big", "bigint"),
                ("c_txt", "varchar(20)"), ("c_dec", "decimal(12,4)")]
        p = str(tmp_path / f"prop_{idx}_{len(rows)}.crs")
        with open(p, "w") as f:
            f.write(_render_crs(cols, rows))
        got = [tuple(r) for r in
               read_crs(spark, p).orderBy("c_int", "c_big", "c_txt").collect()]
        want = sorted(
            [(a, b, t, None if d is None else Decimal(d).scaleb(0)
              .quantize(Decimal("1.0000000000")))
             for (a, b, t, d) in rows],
            key=lambda r: (r[0] is not None, r[0], r[1] is not None, r[1],
                           r[2] is not None, r[2]))
        got = sorted(got, key=lambda r: (r[0] is not None, r[0],
                                         r[1] is not None, r[1],
                                         r[2] is not None, r[2]))
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g[0] == w[0] and g[1] == w[1] and g[2] == w[2]
            if w[3] is None:
                assert g[3] is None
            else:
                assert g[3] == w[3]

    run()


def test_read_gzip_budget_single_pass(spark, tmp_path):
    """Single-pass gz ingest (r16 verdict): the budget check used to
    run a separate pass over the raw gz scan, so a CLEAN file — the
    common case — was serially decompressed twice. Now the
    repartitioned lines are persisted, the budget count fills the
    cache, and the projection must read FROM the cache (one
    decompress total, like the reference's one streaming bde_copy
    pass). The budget itself still enforces on gz — the trade is
    full-file counting instead of limit(1) fail-fast there."""
    from linz_bde_uploader_spark.cache import release_caches

    gz = write_crs(str(tmp_path / "ok.crs.gz"), PAB1_L0, gz=True)
    df = read_crs(spark, gz)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # projection reads the cache
    assert df.count() == 3
    # a corrupt gz still enforces the budget, and the failure path
    # must NOT leak its just-persisted line cache into the registry
    # (a validating session catching CrsReadError would otherwise
    # accumulate one full cached file copy per rejected file)
    from linz_bde_uploader_spark.cache import _PERSISTED

    n_before_fail = len(_PERSISTED)
    bad = PAB1_L0 + "1|2|3|\n"
    gz_bad = write_crs(str(tmp_path / "bad.crs.gz"), bad, gz=True)
    with pytest.raises(CrsReadError, match="max_errors=0"):
        read_crs(spark, gz_bad)
    assert len(_PERSISTED) == n_before_fail  # failure untracked itself
    # ...and a budget of 1 tolerates it, same as the plain path
    ok = read_crs(spark, gz_bad, cleanse=CleanseConfig(max_errors=1))
    assert ok.count() == 3
    # successful gz reads ARE tracked; the engine-wide release
    # actually frees them — the registry empties AND the tracked
    # relation itself drops to StorageLevel NONE (a registry that
    # emptied without unpersisting would leave useMemory/useDisk set)
    assert len(_PERSISTED) > n_before_fail
    cached_lines = _PERSISTED[-1]
    assert cached_lines.storageLevel.useMemory \
        or cached_lines.storageLevel.useDisk
    release_caches()
    assert not _PERSISTED
    assert not cached_lines.storageLevel.useMemory
    assert not cached_lines.storageLevel.useDisk


# ------------------------------------------------ gated cleanse chain

_CONF_FIXTURE = os.path.join(os.path.dirname(__file__), "data",
                             "linz_bde_uploader.conf")


def _fixture_cleanse():
    from linz_bde_uploader_spark.config import (
        load_conf, upload_config_from_conf)

    return upload_config_from_conf(load_conf(_CONF_FIXTURE)).cleanse


_GATE_CONFS = {
    "default": CleanseConfig,
    "conf_fixture": _fixture_cleanse,
    # ASCII sources (| and \), a multi-character source, a source
    # whose replacement holds regex specials, and a non-ASCII source
    "ascii_and_multichar": lambda: CleanseConfig(
        char_map={"|": " ", "\\": "/", "ab": "X", "\n": "\\n",
                  "é": "e", "~": "$1"},
        utf8_enforced=True),
}


def _gate_values(cfg):
    """Every character U+0000-U+024F (alone and inside ASCII text), a
    CJK and an astral character, every map source, "" and NULL."""
    chars = [chr(i) for i in range(0x250)] + ["中", "\U0001F600"]
    chars += list(cfg.char_map)
    return [None, ""] + chars + [f"xy {c} zw" for c in chars]


@pytest.mark.parametrize("conf", sorted(_GATE_CONFS))
def test_cleanse_gate_matches_ungated_chain(spark, conf):
    """The gate in front of the cleanse chain is exact: for every
    character U+0000-U+024F (alone and inside ASCII text), a CJK and
    an astral character, every map source, "" and NULL, the gated
    result equals the ungated chain."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.sources.crs import _cleanse_chain

    cfg = _GATE_CONFS[conf]()
    values = _gate_values(cfg)
    df = spark.createDataFrame([(v,) for v in values], "s string")
    chain, sources = _cleanse_chain("s", cfg)
    assert sources is not None  # the composed path, not the UDF
    rows = df.select("s", F.expr(cleanse_text("s", cfg)).alias("gated"),
                     F.expr(chain).alias("ungated")).collect()
    assert len(rows) == len(values)
    bad = [(r.s, r.gated, r.ungated) for r in rows
           if r.gated != r.ungated]
    assert not bad, bad[:5]
    # the gate passes plain text through untouched and NULL stays NULL
    by_value = {r.s: r.gated for r in rows}
    assert by_value["xy A zw"] == "xy A zw"
    assert by_value[None] is None


def _column_chain(col, cleanse):
    """The gated cleanse chain as ``cleanse_text`` built it from
    ``Column`` calls before it was written as SQL text (composed path
    only), kept as the reference the SQL text must match. The string
    helpers it calls are the module's own."""
    import re

    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.sources.crs import (
        _C0_DELETED, _java_replacement, _trigger_class,
    )

    kept_src, kept_dst, del_src, rx_rules, allowed = [], [], [], [], set()
    for src, dst in cleanse.char_map.items():
        allowed.update(ch for ch in dst if ord(ch) > 127)
        if len(src) == 1 and src == dst:
            allowed.add(src)
            continue
        if len(src) == 1 and len(dst) == 1:
            kept_src.append(src)
            kept_dst.append(dst)
        elif len(src) == 1 and dst == "":
            del_src.append(src)
        else:
            rx_rules.append((src, dst))
    assert not set(kept_dst) & {s for s, _ in rx_rules}
    out = col
    if kept_src or del_src:
        out = F.translate(out, "".join(kept_src + del_src), "".join(kept_dst))
    for src, dst in rx_rules:
        out = F.regexp_replace(out, re.escape(src), _java_replacement(dst))
    out = F.regexp_replace(out, _C0_DELETED, "")
    if cleanse.utf8_enforced:
        keep_class = "".join(re.escape(c) for c in sorted(allowed))
        out = F.regexp_replace(out, f"[^\\x00-\\x7F{keep_class}]",
                               _java_replacement(cleanse.utf8_unmapped))
    sources = set(kept_src + del_src).union(*(s for s, _ in rx_rules))
    return F.when(col.rlike(_trigger_class(frozenset(sources))),
                  out).otherwise(col)


@pytest.mark.parametrize("conf", sorted(_GATE_CONFS))
def test_sql_text_chain_matches_column_chain(spark, conf):
    """The cleanse chain written as SQL text gives, value for value,
    what the ``Column``-built chain gave, over the gate test's
    character set."""
    from pyspark.sql import functions as F

    cfg = _GATE_CONFS[conf]()
    values = _gate_values(cfg)
    df = spark.createDataFrame([(v,) for v in values], "s string")
    rows = df.select("s", F.expr(cleanse_text("s", cfg)).alias("text"),
                     _column_chain(F.col("s"), cfg).alias("ref")).collect()
    assert len(rows) == len(values)
    bad = [(r.s, r.text, r.ref) for r in rows if r.text != r.ref]
    assert not bad, bad[:5]


def test_cleanse_gate_keeps_composed_path_for_300_rules(spark):
    """A ~300-rule map still folds into the composed JVM expressions
    with the gate in front: no Python UDF in the plan."""
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts"))
    from etl_scale_soak import cleanse_path_taken
    from pyspark.sql import functions as F

    cmap = {chr(0x100 + i): "?" for i in range(290)}
    cmap.update({chr(c): "" for c in range(1, 9)})
    cmap.update({"|": " ", "\\": " ", "\n": "\\n", "\r": "\\r"})
    cfg = CleanseConfig(char_map=cmap, utf8_enforced=True)
    assert len(cfg.char_map) >= 300
    assert cleanse_path_taken(spark, cfg) == "composed"
    df = spark.range(1).select(
        F.expr(cleanse_text("CAST(id AS STRING)", cfg)).alias("t"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "PythonUDF" not in plan


def test_cleanse_multichar_replacement_with_dollar(spark):
    """A multi-character replacement holding '$' is a literal, not a
    Java group reference (it used to fail the whole load)."""
    from pyspark.sql import functions as F

    cfg = CleanseConfig.from_conf_block("replace \\u20ac EUR$\n"
                                        "replace ~ \\\\$1\n")
    assert cfg.char_map == {"€": "EUR$", "~": "\\$1"}
    got = spark.range(1).select(
        F.expr(cleanse_text(literal("5€ ~ok"), cfg)).alias("t")).first().t
    assert got == "5EUR$ \\$1ok"


def test_cleanse_utf8_unmapped_dollar(spark):
    """``utf8_replace_unmapped $`` replaces unmapped non-ASCII
    characters with a literal '$'."""
    from pyspark.sql import functions as F

    cfg = CleanseConfig.from_conf_block("utf8_encoding enforced\n"
                                        "utf8_replace_unmapped $\n")
    assert cfg.utf8_enforced and cfg.utf8_unmapped == "$"
    got = spark.range(1).select(
        F.expr(cleanse_text(literal("a♯b é"), cfg)).alias("t")).first().t
    assert got == "a$b $"
