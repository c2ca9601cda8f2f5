"""Layered conf files (-config-path/-config-extension/.test), the
log_settings block, and -keep-files — reference behavior spec:
bin/linz_bde_uploader.pl:80-93,184-213 and
t/linz_bde_uploader.t:94-317."""

import logging
import os

import pytest

from linz_bde_uploader_spark.config import (
    ConfigError, conf_table_lists, hooks_from_conf, load_conf,
    parse_conf_text, tables_conf_path, upload_config_from_conf,
)
from linz_bde_uploader_spark.control.logconf import (
    BufferedEmailHandler, apply_log_settings, close_log_handlers,
    parse_log_settings,
)

REFERENCE_CONF = "/root/reference/conf/linz_bde_uploader.conf"
# committed synthetic conf with every grammar feature of the reference
# one (plus a .test layer beside it): the grammar tests run everywhere,
# the production-parity tests only where the reference checkout is
CONF_FIXTURE = os.path.join(os.path.dirname(__file__), "data",
                            "linz_bde_uploader.conf")

TABLES_CONF = """
TABLE l5_change_table l5_change_table files xaud
TABLE crs_parcel_bndry key=audit_id row_tol=0.20,0.95 files pab1
"""


# ------------------------------------------------------------- parsing


def _reference_conf() -> dict[str, str]:
    if not os.path.exists(REFERENCE_CONF):
        pytest.skip("reference checkout not available")
    return load_conf(REFERENCE_CONF)


def test_parse_conf_fixture_end_to_end():
    """A production-shaped conf parses whole: plain keys, empty
    values, heredocs, {name} interpolation with {_configdir}, and the
    .test layer read last."""
    conf = load_conf(CONF_FIXTURE)
    assert conf["application_name"] == "BDE Loader Fixture"
    assert conf["db_user"] == ""  # empty value line
    assert conf["db_schema"] == "bde_control"
    assert conf["bde_tables_config"] == \
        os.path.join(os.path.dirname(CONF_FIXTURE), "tables.conf")
    # {db_schema}/{bde_schema} interpolation inside a heredoc, with
    # the {{id}} runtime placeholder preserved
    assert conf["db_connect_sql"] == (
        "SET search_path to bde_control, bde, public;\n"
        "SELECT bde_control.set_job_id({{id}});")
    assert conf["level5_starttime_warn_tolerance"] == "0.5"
    assert conf["max_file_errors"] == "10"
    # log_settings heredoc: appender options interpolate the smtp keys
    assert "bde-admin@example.org" in conf["log_settings"]
    assert "{log_email_address}" not in conf["log_settings"]
    assert "{{" not in conf["log_settings"]
    # the .test layer wins over the main file
    assert conf["db_connection"] == "dbname=bde_fixture_test"
    assert load_conf(CONF_FIXTURE, include_test=False)["db_connection"] \
        == "dbname=bde_fixture"


def test_parse_reference_conf_end_to_end():
    """The shipped production conf parses whole: plain keys, empty
    values, heredocs, {name} interpolation with {_configdir}."""
    conf = _reference_conf()
    assert conf["application_name"] == "LINZ BDE Loader"
    assert conf["db_user"] == ""  # empty value line
    assert conf["db_schema"] == "bde_control"
    # {_configdir} interpolation (conf:114)
    assert conf["bde_tables_config"] == \
        os.path.join(os.path.dirname(REFERENCE_CONF), "tables.conf")
    # {db_schema}/{bde_schema} interpolation inside a heredoc, with
    # the {{id}} runtime placeholder preserved (conf:49-52)
    assert "search_path to bde_control, bde, public" in conf["db_connect_sql"]
    assert conf["level5_starttime_warn_tolerance"] == "0.5"
    assert conf["max_file_errors"] == "10"
    # log_settings heredoc: email appender options interpolate the
    # smtp keys (conf:311-328)
    assert "linzdataserviceadmin@linz.govt.nz" in conf["log_settings"]
    assert "{log_email_address}" not in conf["log_settings"]
    assert "{{" not in conf["log_settings"]


def test_conf_fixture_bde_copy_block_feeds_cleanse():
    """The embedded bde_copy_configuration block becomes the cleanse
    config (S5), and the conf keys feed the upload config."""
    conf = load_conf(CONF_FIXTURE)
    cfg = upload_config_from_conf(conf)
    assert cfg.cleanse.wkt_prefix == "SRID=4167;"
    assert cfg.cleanse.longitude_offset == 160.0
    assert cfg.cleanse.utf8_enforced
    assert cfg.cleanse.minimum_year == 1900
    assert cfg.cleanse.char_map["\x01"] == ""   # delete rule
    assert cfg.cleanse.char_map["\u2013"] == "-"
    # the block sets max_errors 0 -> conf-level max_file_errors (10)
    # must NOT override it
    assert cfg.cleanse.max_errors == 0
    assert cfg.level5_starttime_warn_tolerance == 0.5
    assert cfg.level5_starttime_fail_tolerance == 0.0
    assert cfg.require_all_dataset_files
    inc, exc = conf_table_lists(conf)
    assert inc == ["crs_action", "crs_action_type", "crs_adjustment",
                   "crs_parcel", "crs_parcel_bndry", "crs_survey",
                   "crs_title"]
    assert exc == []


def test_reference_bde_copy_block_feeds_cleanse():
    """The embedded bde_copy_configuration block becomes the cleanse
    config (S5) with the production values (conf:349-421)."""
    conf = _reference_conf()
    cfg = upload_config_from_conf(conf)
    assert cfg.cleanse.wkt_prefix == "SRID=4167;"
    assert cfg.cleanse.longitude_offset == 160.0
    assert cfg.cleanse.utf8_enforced
    # the block sets max_errors 0 -> conf-level max_file_errors (10)
    # must NOT override it
    assert cfg.cleanse.max_errors == 0
    assert cfg.level5_starttime_warn_tolerance == 0.5
    assert cfg.level5_starttime_fail_tolerance == 0.0
    assert cfg.require_all_dataset_files
    inc, exc = conf_table_lists(conf)
    assert "crs_action" in inc and len(inc) > 50


def test_heredoc_and_runtime_placeholders(tmp_path):
    p = tmp_path / "c"
    p.write_text("""
a_value hello
hook_cmd notify {{id}} {a_value}
block <<EOT
line1 {a_value}
# not a comment inside heredoc
EOT
empty_key
""")
    conf = load_conf(str(p))
    assert conf["hook_cmd"] == "notify {{id}} hello"
    assert conf["block"] == "line1 hello\n# not a comment inside heredoc"
    assert conf["empty_key"] == ""
    with pytest.raises(ConfigError, match="unterminated"):
        parse_conf_text("x <<EOT\nnever closed")


def test_layering_main_ext_test(tmp_path):
    """t/linz_bde_uploader.t:232-317: extension overrides main, .test
    is parsed LAST and overrides the extension; non-overridden keys
    from every layer survive."""
    main = tmp_path / "cfg1"
    main.write_text("db_connection dbname=linz_db\nkeep_me from_main\n")
    (tmp_path / "cfg1.ext").write_text(
        "db_connection dbname=nonexist_override\nfrom_ext yes\n")
    conf = load_conf(str(main), extension="ext")
    assert conf["db_connection"] == "dbname=nonexist_override"
    (tmp_path / "cfg1.test").write_text("db_connection dbname=testdb\n")
    conf = load_conf(str(main), extension="ext")
    assert conf["db_connection"] == "dbname=testdb"   # .test wins
    assert conf["from_ext"] == "yes"                  # ext still parsed
    assert conf["keep_me"] == "from_main"
    # missing files error like the reference
    with pytest.raises(ConfigError, match="Cannot open configuration file"):
        load_conf(str(tmp_path / "nope"))
    with pytest.raises(ConfigError, match="Cannot open configuration file"):
        load_conf(str(main), extension="missing_ext")
    # default tables.conf location (bin:236-239)
    assert tables_conf_path({}, str(main)) == str(tmp_path / "tables.conf")


def test_hooks_from_conf_mapping(tmp_path):
    conf = parse_conf_text("""
start_event_hooks <<EOF
echo start {{id}}
EOF
error_event_hooks <<EOF
notify-admin {{id}}
second-command
EOF
""")
    hooks = hooks_from_conf(conf)
    assert hooks == {"start": ["echo start {{id}}"],
                     "error": ["notify-admin {{id}}", "second-command"]}


# -------------------------------------------------------- log_settings


def test_parse_log_settings_fixture_block():
    conf = load_conf(CONF_FIXTURE)
    parsed = parse_log_settings(conf["log_settings"])
    assert parsed["level"] == logging.DEBUG
    assert set(parsed["appenders"]) == {"ErrorEmail", "Email"}
    ee = parsed["appenders"]["ErrorEmail"]
    assert ee["class"].endswith("MailSender")
    assert ee["min_level"] == "warning"
    assert ee["to"] == "bde-admin@example.org"
    # continuation-line subject, with {application_name} interpolated
    assert ee["subject"] == "[BDE Loader Fixture] BDE upload errors"
    assert parsed["appenders"]["Email"]["min_level"] == "info"


def test_parse_log_settings_reference_block():
    conf = _reference_conf()
    parsed = parse_log_settings(conf["log_settings"])
    assert parsed["level"] == logging.DEBUG
    assert set(parsed["appenders"]) == {"ErrorEmail", "Email"}
    ee = parsed["appenders"]["ErrorEmail"]
    assert ee["class"].endswith("MailSender")
    assert ee["min_level"] == "warning"
    assert ee["to"] == "linzdataserviceadmin@linz.govt.nz"
    # continuation-line subject (conf:322-323)
    assert "BDE upload errors" in ee["subject"]


def test_file_appender_logs_failing_upload(tmp_path):
    """t/linz_bde_uploader.t:132-141 + 84-135: a File appender from
    log_settings receives the upload's error lines."""
    logf = tmp_path / "upload.log"
    block = f"""
log4perl.logger = DEBUG, File
log4perl.appender.File = Log::Log4perl::Appender::File
log4perl.appender.File.filename = {logf}
log4perl.appender.File.layout = Log::Log4perl::Layout::SimpleLayout
"""
    logger = logging.getLogger("linz_bde_uploader_spark")
    handlers = apply_log_settings(block, logger=logger)
    try:
        logger.error("table crs_parcel_bndry does not exist")
    finally:
        close_log_handlers(logger, handlers)
    content = logf.read_text()
    assert "ERROR" in content and "does not exist" in content


def test_email_buffer_fires_only_on_min_level():
    block = """
log4perl.logger = DEBUG, ErrorEmail
log4perl.appender.ErrorEmail = Log::Dispatch::Email::MailSender
log4perl.appender.ErrorEmail.min_level = warning
log4perl.appender.ErrorEmail.to = admin@example.org
log4perl.appender.ErrorEmail.from = noreply@example.org
log4perl.appender.ErrorEmail.subject = BDE upload errors
log4perl.appender.ErrorEmail.smtp = smtp.example.org
"""
    sent = []
    logger = logging.getLogger("test_email_buffer")
    logger.propagate = False
    handlers = apply_log_settings(block, logger=logger, mailer=sent.append)
    h = [x for x in handlers if isinstance(x, BufferedEmailHandler)][0]
    logger.info("all fine")           # below min_level: buffered, no send
    close_log_handlers(logger, handlers)
    assert sent == []
    handlers = apply_log_settings(block, logger=logger, mailer=sent.append)
    logger.info("context line")
    logger.error("upload failed")     # reaches min_level -> one email
    close_log_handlers(logger, handlers)
    assert len(sent) == 1
    assert sent[0]["to"] == "admin@example.org"
    assert "context line" in sent[0]["body"]
    assert "upload failed" in sent[0]["body"]


def test_empty_log_settings_stderr_default():
    """Reference issue #103: empty log_settings still logs (stderr
    handler installed, no crash)."""
    logger = logging.getLogger("test_empty_logset")
    logger.propagate = False
    handlers = apply_log_settings("", logger=logger)
    assert len(handlers) == 1
    assert isinstance(handlers[0], logging.StreamHandler)
    close_log_handlers(logger, handlers)


# -------------------------------------------------- conf-driven driver


def _write_spark_conf(tmp_path, repo_root) -> str:
    cfg = tmp_path / "uploader.conf"
    (tmp_path / "tables.conf").write_text(TABLES_CONF)
    cfg.write_text(f"""
application_name LINZ BDE Loader (spark)
bde_repository {repo_root}
spark_store_path {tmp_path}/store
spark_control_path {tmp_path}/ctl
bde_tables_config {{_configdir}}/tables.conf
level5_starttime_warn_tolerance 0.5
max_file_errors 10
""")
    return str(cfg)


def test_cli_conf_driven_end_to_end(spark, tmp_path):
    """A migrating user's flow: existing-style conf + -config-path
    drives the full upload (L0 then L5) with no --path flags."""
    from tests.fixtures import write_repository

    from linz_bde_uploader_spark import cli
    from linz_bde_uploader_spark.sources.store import TableStore

    repo_root = write_repository(str(tmp_path / "repo"))
    cfgpath = _write_spark_conf(tmp_path, repo_root)
    assert cli.main(["-c", cfgpath, "-rebuild"]) == 0
    store = TableStore(str(tmp_path / "store"))
    assert store.read(spark, "crs_parcel_bndry").count() == 5

    # a .test override can redirect the store (layering end-to-end);
    # the ledger moves with it or its watermarks suppress the re-run
    (tmp_path / "uploader.conf.test").write_text(
        f"spark_store_path {tmp_path}/store2\n"
        f"spark_control_path {tmp_path}/ctl2\n")
    assert cli.main(["-config-path", cfgpath, "-rebuild"]) == 0
    assert TableStore(str(tmp_path / "store2")) \
        .read(spark, "crs_parcel_bndry").count() == 5

    # missing conf file: reference wording, exit 1
    import io
    from contextlib import redirect_stderr
    buf = io.StringIO()
    with redirect_stderr(buf):
        rc = cli.main(["-c", str(tmp_path / "nope"), "-full"])
    assert rc == 1
    assert "Cannot open configuration file" in buf.getvalue()


def test_cli_keep_files_retains_scratch(spark, tmp_path):
    """-keep-files snapshots staged working data under
    <store>/scratch; without the flag nothing is written there
    (bin/linz_bde_uploader.pl:93, BdeUpload.pm:1167)."""
    from tests.fixtures import write_repository

    from linz_bde_uploader_spark import cli

    repo_root = write_repository(str(tmp_path / "repo"))
    cfgpath = _write_spark_conf(tmp_path, repo_root)
    assert cli.main(["-c", cfgpath, "-full"]) == 0
    assert not os.path.isdir(tmp_path / "store" / "scratch")
    # second run in a fresh store, keeping files
    (tmp_path / "uploader.conf.test").write_text(
        f"spark_store_path {tmp_path}/store_kept\n"
        f"spark_control_path {tmp_path}/ctl_kept\n")
    assert cli.main(["-c", cfgpath, "-full", "-keep-files"]) == 0
    scratch = tmp_path / "store_kept" / "scratch"
    assert os.path.isdir(scratch)
    kept = os.listdir(scratch)
    assert any("crs_parcel_bndry" in d and "_L0_" in d for d in kept)
    back = spark.read.parquet(str(scratch / kept[0]))
    assert back.count() == 3  # the staged L0 frame (golden fixture)


def test_conf_sql_hooks_run_through_driver(spark, tmp_path):
    """X2 via conf: db_upload_complete_sql's conditional DSL runs at
    job end with {{id}} substituted, against the real stats ledger
    (lib/LINZ/BdeDatabase.pm:571-636; conf:49-83)."""
    from tests.fixtures import write_repository

    from linz_bde_uploader_spark.catalog.tables import parse_tables_conf
    from linz_bde_uploader_spark.config import (
        load_conf, sql_hooks_from_conf, upload_config_from_conf,
    )
    from linz_bde_uploader_spark.control.ledger import Ledger
    from linz_bde_uploader_spark.driver import BdeUploader
    from linz_bde_uploader_spark.sources.repository import BdeRepository
    from linz_bde_uploader_spark.sources.store import TableStore

    cfg = tmp_path / "c"
    cfg.write_text("""
db_connect_sql <<EOT
SELECT 'connected job {{id}}' AS banner
EOT
db_upload_complete_sql <<EOT
if any crs_parcel_bndry loaded ? SELECT 'bndry loaded in {{id}}' AS msg;
if any no_such_table loaded ? SELECT 'never runs' AS msg
EOT
""")
    conf = load_conf(str(cfg))
    assert "{{id}}" not in sql_hooks_from_conf(conf)["connect"]
    ucfg = upload_config_from_conf(conf)
    ucfg.enable_sql_hooks = True
    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    up = BdeUploader(spark, repo, TableStore(str(tmp_path / "store")),
                     Ledger(str(tmp_path / "ctl")),
                     parse_tables_conf(TABLES_CONF), config=ucfg)
    ran: list[str] = []
    up.sql_runner = ran.append
    up.apply_updates(level0=True)
    assert any(ran), "connect + conditional complete hooks must fire"
    assert any("connected job 1" in s for s in ran)
    assert any("bndry loaded in 1" in s for s in ran)
    assert not any("never runs" in s for s in ran)
