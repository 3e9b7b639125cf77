"""CLI-surface tests: the option list is DERIVED from
``core.CLI_ATTRIBUTES`` (the engine's MooseX::Getopt::Dashes equivalent —
underscore attribute → dashed flag), so these pin (a) the derivation
rule, (b) the ``--user`` alias, and (c) the argument-validation exits,
all parse-only (no Spark session)."""

from __future__ import annotations

import pytest

from database_migrator_spark.migrator import cli
from database_migrator_spark.migrator.cli import build_parser, main
from database_migrator_spark.migrator.core import CLI_ATTRIBUTES, REQUIRED


def test_every_attribute_row_is_a_dashed_flag():
    p = build_parser()
    opts = {s for a in p._actions for s in a.option_strings}
    for attr, _kind, _default, _help, aliases in CLI_ATTRIBUTES:
        assert "--" + attr.replace("_", "-") in opts
        for alias in aliases:
            assert "--" + alias.replace("_", "-") in opts


def test_parse_round_trips_attribute_values():
    args = build_parser().parse_args(
        [
            "plan",
            "--database", "d1",
            "--migrations-dir", "/tmp/m",
            "--schema-file", "/tmp/s.sql",
            "--migration-table", "ledger",
            "--username", "u",
            "--password", "pw",
            "--host", "h",
            "--port", "1527",
            "--dry-run",
            "--verbose",
        ]
    )
    for attr, kind, _default, _help, _aliases in CLI_ATTRIBUTES:
        got = getattr(args, attr)  # derivation guarantees the dest exists
        if kind == "flag":
            assert got is (attr in ("dry_run", "verbose"))
    assert args.username == "u" and args.migration_table == "ledger"
    assert args.host == "h" and args.port == "1527"


def test_user_is_an_alias_for_username():
    args = build_parser().parse_args(
        ["plan", "--database", "d", "--migrations-dir", "/m", "--user", "alice"]
    )
    assert args.username == "alice"


def test_required_attrs_enforced_and_defaults_applied():
    required = {a for a, _k, d, _h, _al in CLI_ATTRIBUTES if d is REQUIRED}
    assert required == {"migrations_dir"}
    with pytest.raises(SystemExit):
        build_parser().parse_args(["plan", "--database", "d"])  # no --migrations-dir
    args = build_parser().parse_args(["plan", "--database", "d", "--migrations-dir", "/m"])
    assert args.migration_table == "applied_migration"


def test_quiet_verbose_mutually_exclusive_exit_2(capsys):
    rc = main(["plan", "--database", "d", "--migrations-dir", "/m", "--quiet", "--verbose"])
    assert rc == 2
    assert "mutually exclusive" in capsys.readouterr().err


def test_exactly_one_target_required_exit_2(capsys):
    rc = main(["plan", "--migrations-dir", "/m"])
    assert rc == 2
    assert "exactly one" in capsys.readouterr().err
    rc = main(
        ["plan", "--migrations-dir", "/m", "--database", "d", "--jdbc-url", "jdbc:derby:x"]
    )
    assert rc == 2
    assert "exactly one" in capsys.readouterr().err


@pytest.mark.parametrize("flag", ["--host", "--port"])
def test_host_and_port_are_rejected_exit_2(capsys, flag):
    rc = main(["plan", "--jdbc-url", "jdbc:derby:x", "--migrations-dir", "/m", flag, "h"])
    assert rc == 2
    assert "--jdbc-url" in capsys.readouterr().err


def test_missing_paths_fail_before_spark_starts(capsys, monkeypatch, tmp_path):
    def no_session(*_a, **_kw):
        raise AssertionError("Spark session started before the path checks")

    monkeypatch.setattr(cli, "get_session", no_session)
    rc = main(["plan", "--database", "d", "--migrations-dir", str(tmp_path / "missing")])
    assert rc == 1
    assert "migrations dir not found" in capsys.readouterr().err
    rc = main(
        [
            "migrate", "--database", "d", "--migrations-dir", str(tmp_path),
            "--schema-file", str(tmp_path / "missing.sql"),
        ]
    )
    assert rc == 1
    assert "schema file not found" in capsys.readouterr().err
