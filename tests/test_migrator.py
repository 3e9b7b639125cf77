"""Port of the reference's live end-to-end harness scenario
(lib/Test/Database/Migrator.pm:65-303, layout in FIXTURES.md §A) plus the
sort/dispatch edge cases from SURVEY.md §7 risk 4."""

from __future__ import annotations

import os
import random
import stat
import uuid

import pytest

from database_migrator_spark.migrator.core import MigrationError, Migrator
from database_migrator_spark.migrator.ddl import split_statements, translate_statement
from database_migrator_spark.migrator.ledger import CatalogLedger, FileLedger
from database_migrator_spark.migrator.model import (
    classify_file,
    numeric_or_alpha_key,
    scan_migration,
)

SCHEMA_SQL = """
CREATE TABLE applied_migration (
    migration  VARCHAR(250)   PRIMARY KEY
);

CREATE TABLE foo (
    foo_id     INTEGER        PRIMARY KEY,
    foo_name   VARCHAR(50)    NOT NULL
);
"""

FIRST_TABLES_SQL = """
CREATE TABLE bar ( bar_id INTEGER PRIMARY KEY, bar_name VARCHAR(50) NOT NULL );
CREATE TABLE baz ( baz_id INTEGER PRIMARY KEY, baz_name VARCHAR(50) NOT NULL );
"""

BAR_INDEX_SQL = "CREATE INDEX bar_bar_name ON bar (bar_name);\n"
BAZ_INDEX_SQL = "CREATE INDEX baz_baz_name ON baz (baz_name);\n"

CODE_MIGRATION = """
def migrate(migrator):
    migrator.spark.sql("CREATE TABLE myperlsub (id INT)")
"""

FAILING_PROGRAM = """#!/bin/sh
echo "Use of uninitialized value" >&2
exit 0
"""


@pytest.fixture()
def tree(tmp_path):
    (tmp_path / "schema.sql").write_text(SCHEMA_SQL)
    mig = tmp_path / "migrations"
    first = mig / "01-first"
    first.mkdir(parents=True)
    (first / "01-create-tables.sql").write_text(FIRST_TABLES_SQL)
    (first / "02-create-bar-table-index.sql").write_text(BAR_INDEX_SQL)
    second = mig / "02-second"
    second.mkdir()
    (second / "01-create-baz-table-index.sql").write_text(BAZ_INDEX_SQL)
    return tmp_path


def _migrator(spark, tree, **kw):
    db = kw.pop("database")
    return Migrator(
        spark,
        database=db,
        migrations_dir=str(tree / "migrations"),
        schema_file=str(tree / "schema.sql"),
        quiet=True,
        **kw,
    )


def _ledger_names(spark, db):
    return [
        r["migration"]
        for r in spark.table(f"{db}.applied_migration").orderBy("migration").collect()
    ]


def test_full_harness_scenario(spark, tree):
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        # run 1: create + bootstrap + 01,02 (Test/Database/Migrator.pm:70-137)
        assert not spark.catalog.databaseExists(db)
        m.create_or_update_database()
        assert spark.catalog.databaseExists(db)
        for t in ("foo", "bar", "baz"):
            assert spark.catalog.tableExists(f"{db}.{t}")
        assert _ledger_names(spark, db) == ["01-first", "02-second"]

        # run 2: idempotent (:139-144) — fresh Migrator (cached existence)
        m2 = _migrator(spark, tree, database=db)
        m2.create_or_update_database()
        assert _ledger_names(spark, db) == ["01-first", "02-second"]

        # run 3: code migration via the migrator handle (:145-162)
        third = tree / "migrations" / "03-third"
        third.mkdir()
        (third / "migrate.py").write_text(CODE_MIGRATION)
        m3 = _migrator(spark, tree, database=db)
        assert m3.has_pending_migrations == 1
        m3.create_or_update_database()
        assert spark.catalog.tableExists(f"{db}.myperlsub")
        assert _ledger_names(spark, db) == ["01-first", "02-second", "03-third"]

        # run 4: failing executable (stderr despite exit 0) must raise and
        # NOT be recorded (:164-188, 271-303)
        fourth = tree / "migrations" / "04-fourth"
        fourth.mkdir()
        prog = fourth / "migrate.sh"
        prog.write_text(FAILING_PROGRAM)
        prog.chmod(prog.stat().st_mode | stat.S_IXUSR)
        m4 = _migrator(spark, tree, database=db)
        with pytest.raises(MigrationError, match="Use of uninitialized"):
            m4.create_or_update_database()
        assert _ledger_names(spark, db) == ["01-first", "02-second", "03-third"]

        # dry run: pending migration is planned but nothing executes/records
        fifth = tree / "migrations" / "05-fifth"
        fifth.mkdir()
        (fifth / "01-t.sql").write_text("CREATE TABLE dryrun_t (x INT);")
        os.remove(prog)
        os.rmdir(fourth)
        m5 = _migrator(spark, tree, database=db, dry_run=True)
        assert [p.name for p in m5.pending_migrations()] == ["05-fifth"]
        m5.create_or_update_database()
        assert not spark.catalog.tableExists(f"{db}.dryrun_t")
        assert _ledger_names(spark, db) == ["01-first", "02-second", "03-third"]
    finally:
        m.drop_database()


# Adversarial directory names: numeric-prefix ties, missing prefixes,
# all-digit names, 11-digit numbers, dots and mixed case.
_rng = random.Random(7)
PENDING_CORPUS = {
    n
    for n in [
        "01-first", "01-bar", "01-foo", "1-one", "2-two", "10-ten", "0",
        "alpha", "Alpha", "-dash", "001-padded", "99999999999-big", "3.14-pi",
        "_u", "01", "010", "10a", "10A", "a10",
    ]
    + ["".join(_rng.choices("abcXYZ0123456789-._", k=_rng.randint(1, 12))) for _ in range(150)]
    if not n.startswith(".")
}


def test_pending_set_is_anti_join(spark, tree, tmp_path):
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    try:
        assert [p.name for p in m.pending_migrations()] == ["01-first", "02-second"]
        m.create_or_update_database()
        assert _migrator(spark, tree, database=db).pending_migrations() == []
    finally:
        m.drop_database()

    # pending = corpus − applied, in key order; a hidden directory and a
    # plain file are never migrations, and an applied name with no
    # directory is simply absent
    mig = tmp_path / "corpus"
    for n in PENDING_CORPUS:
        (mig / n).mkdir(parents=True)
    (mig / ".hidden").mkdir()
    (mig / "05-plain-file.sql").write_text("")
    applied = {"01-bar", "1-one", "10A", "99999999999-big", "gone-from-disk"}
    expected = sorted(PENDING_CORPUS - applied, key=numeric_or_alpha_key)

    db = f"migtest_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    spark.sql(f"CREATE TABLE {db}.applied_migration (migration STRING)")
    ledgers = [
        CatalogLedger(spark, f"{db}.applied_migration"),
        FileLedger(spark, str(tmp_path / "ledger")),
    ]
    try:
        for ledger in ledgers:
            for name in applied:
                ledger.record(name)
            m = Migrator(spark, db, str(mig), quiet=True, ledger=ledger)
            assert [p.name for p in m.pending_migrations()] == expected, type(ledger)
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_status_call_runs_at_most_one_spark_job(spark, tree):
    """A status call on a catalog ledger reads the ledger once (one Spark
    job); the set difference and the sort run on the driver."""
    db = f"migtest_{uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db)
    sc = spark.sparkContext
    try:
        m.create_or_update_database()
        group = f"status-{db}"
        sc.setJobGroup(group, group)
        try:
            assert _migrator(spark, tree, database=db).has_pending_migrations == 0
        finally:
            sc._jsc.clearJobGroup()  # noqa: SLF001
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # noqa: SLF001
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
    finally:
        m.drop_database()


def test_quiet_verbose_exclusive(spark, tree):
    with pytest.raises(ValueError):
        Migrator(spark, "x", str(tree), quiet=True, verbose=True)


# -- sort & dispatch edges (SURVEY.md §7 risk 4) ------------------------------
def test_numeric_or_alpha_sort_edges():
    # same number → alpha tie-break (Changes:41-43)
    assert numeric_or_alpha_key("01-bar") < numeric_or_alpha_key("01-foo")
    # missing numeric prefix sorts as 0 (Core.pm:279-280)
    assert numeric_or_alpha_key("alpha") == (0, "alpha")
    assert numeric_or_alpha_key("alpha") < numeric_or_alpha_key("1-x")
    # 2 < 10 numerically, not lexically
    names = sorted(["10-ten", "2-two", "1-one"], key=numeric_or_alpha_key)
    assert names == ["1-one", "2-two", "10-ten"]


def test_sql_match_anchored_vs_legacy(tmp_path):
    f = tmp_path / "data.sql.bak"
    f.write_text("-- not really sql")
    assert classify_file(str(f)).value == "code"  # anchored default
    assert classify_file(str(f), legacy_sql_match=True).value == "sql"  # Core.pm:176 quirk


def test_hidden_files_and_file_order(tmp_path):
    d = tmp_path / "01-m"
    d.mkdir()
    (d / "10-b.sql").write_text("")
    (d / "2-a.sql").write_text("")
    (d / ".hidden.sql").write_text("")
    (d / "sub").mkdir()
    m = scan_migration(str(d))
    assert [f.basename for f in m.files] == ["2-a.sql", "10-b.sql"]


# -- DDL shim ------------------------------------------------------------------
def test_split_statements_respects_quotes_and_comments():
    script = """
    CREATE TABLE a (x STRING); -- trailing; comment
    INSERT INTO a VALUES ('semi;colon');
    CREATE TABLE b (y INT)
    """
    stmts = split_statements(script)
    assert len(stmts) == 3
    assert "semi;colon" in stmts[1]


def test_translate_strips_constraints_and_indexes():
    assert translate_statement("CREATE INDEX i ON t (c)") is None
    out = translate_statement(
        "CREATE TABLE t (id INTEGER PRIMARY KEY AUTO_INCREMENT, s TEXT, u VARCHAR(5) UNIQUE)"
    )
    up = out.upper()
    assert "PRIMARY KEY" not in up and "AUTO_INCREMENT" not in up and "UNIQUE" not in up
    assert "STRING" in up


def test_translate_never_touches_string_literals():
    out = translate_statement(
        "INSERT INTO notes VALUES ('this is unique text with PRIMARY KEY words')"
    )
    assert "'this is unique text with PRIMARY KEY words'" in out


def test_translate_maps_serial_to_type():
    out = translate_statement("CREATE TABLE t (id SERIAL, name VARCHAR(10))")
    assert "BIGINT" in out.upper()
    # no dangling empty type
    assert "(id ," not in out.replace("  ", " ")


def test_translate_text_only_in_type_position():
    # a column literally named `text` must survive the TEXT→STRING rewrite
    out = translate_statement("CREATE TABLE documents (text TEXT, n INT)")
    assert "(text STRING" in out
    # cast position is a type position too
    out = translate_statement("CREATE TABLE t AS SELECT CAST(x AS TEXT) FROM s")
    assert "AS STRING)" in out
    # bare TEXT with no preceding identifier is left alone (not valid type DDL)
    assert translate_statement("SELECT 1") == "SELECT 1"
    # QUOTED column names still get their type rewritten (regression:
    # the type-position guard must not depend on an unquoted identifier),
    # and ANSI double-quoted identifiers become Spark backticks
    out = translate_statement('CREATE TABLE t ("note" TEXT, n INT)')
    assert "`note` STRING" in out
    # ...while TEXT inside a string literal still survives untouched
    out = translate_statement("INSERT INTO t VALUES ('some TEXT here')")
    assert "'some TEXT here'" in out


def test_split_statements_backslash_escaped_quote():
    stmts = split_statements(r"INSERT INTO t VALUES ('it\'s; done'); SELECT 1")
    assert len(stmts) == 2
    assert r"it\'s; done" in stmts[0]


def test_dry_run_skips_module_level_side_effects(spark, tmp_path, tree):
    import uuid as _uuid

    marker = tmp_path / "side_effect.txt"
    third = tree / "migrations" / "03-code"
    third.mkdir()
    (third / "migrate.py").write_text(
        f"open({str(marker)!r}, 'w').write('ran')\n"
        "def migrate(migrator):\n    pass\n"
    )
    db = f"migtest_{_uuid.uuid4().hex[:8]}"
    m = _migrator(spark, tree, database=db, dry_run=True)
    m.create_or_update_database()
    assert not marker.exists(), "dry_run executed module-level code"


def test_jdbc_ledger_raises_on_connection_failure(spark):
    from database_migrator_spark.migrator.ledger import JdbcLedger

    bad = JdbcLedger(spark, "jdbc:derby:/nonexistent_dir_perm/xx", "applied_migration")
    with pytest.raises(Exception):
        bad.exists()  # connectivity failure must propagate, not read as ∅


def test_file_ledger_atomic_commit_protocol(spark, tmp_path, monkeypatch):
    """SURVEY.md §2A row 16 atomic upgrade: a record() that crashes at ANY
    point before the rename commit leaves NO observable ledger row — only
    a dot-invisible staging file — and a retry then commits exactly one
    entry."""
    import os as _os

    from database_migrator_spark.migrator.ledger import FileLedger

    led = FileLedger(spark, str(tmp_path / "ledger"))
    assert not led.exists()  # missing dir = bootstrap ∅
    led.record("01-first")
    assert led.exists()
    assert [r["migration"] for r in led.applied_df().collect()] == ["01-first"]

    # crash exactly AT the commit point: write-ahead succeeds, rename dies
    real_rename = _os.rename

    def crashing_rename(src, dst):
        raise OSError("simulated crash at commit point")

    monkeypatch.setattr(_os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        led.record("02-second")
    monkeypatch.setattr(_os, "rename", real_rename)
    # the crashed record is NOT visible; the write-ahead leftover is a
    # dot-file readers ignore
    assert [r["migration"] for r in led.applied_df().collect()] == ["01-first"]
    leftovers = [f for f in _os.listdir(led.path) if f.startswith(".tmp-")]
    assert leftovers, "write-ahead file should survive the simulated crash"

    # crash DURING the write-ahead itself: fsync dies, staging is cleaned
    def crashing_fsync(fd):
        raise OSError("simulated crash mid write-ahead")

    monkeypatch.setattr(_os, "fsync", crashing_fsync)
    with pytest.raises(OSError, match="mid write-ahead"):
        led.record("03-third")
    monkeypatch.undo()
    assert [r["migration"] for r in led.applied_df().collect()] == ["01-first"]

    # retry after crash commits exactly once; re-record is idempotent
    led.record("02-second")
    led.record("02-second")
    assert [r["migration"] for r in sorted(led.applied_df().collect())] == [
        "01-first",
        "02-second",
    ]


def test_migrator_with_file_ledger_failure_not_recorded(spark, tree, tmp_path):
    """Full migrator run on the atomic FileLedger backend: applies both
    migrations, is idempotent on re-run, and a failing migration leaves
    the ledger untouched."""
    import stat as _stat

    from database_migrator_spark.migrator.ledger import FileLedger

    db = f"migtest_{uuid.uuid4().hex[:8]}"
    led = FileLedger(spark, str(tmp_path / "ledger"))
    m = Migrator(
        spark,
        database=db,
        migrations_dir=str(tree / "migrations"),
        schema_file=str(tree / "schema.sql"),
        quiet=True,
        ledger=led,
    )
    try:
        m.create_or_update_database()
        applied = sorted(r["migration"] for r in led.applied_df().collect())
        assert applied == ["01-first", "02-second"]

        # idempotent re-run through a fresh Migrator sharing the ledger
        m2 = Migrator(
            spark,
            database=db,
            migrations_dir=str(tree / "migrations"),
            schema_file=str(tree / "schema.sql"),
            quiet=True,
            ledger=FileLedger(spark, str(tmp_path / "ledger")),
        )
        assert m2.pending_migrations() == []

        # failing executable must not reach the ledger
        bad = tree / "migrations" / "03-bad"
        bad.mkdir()
        prog = bad / "migrate.sh"
        prog.write_text(FAILING_PROGRAM)
        prog.chmod(prog.stat().st_mode | _stat.S_IXUSR)
        m3 = Migrator(
            spark,
            database=db,
            migrations_dir=str(tree / "migrations"),
            schema_file=str(tree / "schema.sql"),
            quiet=True,
            ledger=FileLedger(spark, str(tmp_path / "ledger")),
        )
        with pytest.raises(MigrationError, match="Use of uninitialized"):
            m3.create_or_update_database()
        applied = sorted(r["migration"] for r in led.applied_df().collect())
        assert applied == ["01-first", "02-second"]
    finally:
        m.drop_database()


def test_missing_ledger_table_gives_contract_error(spark, tmp_path):
    """If the user's schema DDL omits the ledger table (the reference
    contract: Migrator.pm:140-153 — the schema must create it), the
    migration still applies (at-least-once) but record() must surface the
    CONTRACT, not a raw missing-table error."""
    (tmp_path / "schema.sql").write_text("CREATE TABLE only_t (id INT);\n")
    mig = tmp_path / "migrations" / "01-first"
    mig.mkdir(parents=True)
    (mig / "01-add.sql").write_text("CREATE TABLE added_t (id INT);\n")
    m = _migrator(spark, tmp_path, database="no_ledger_db")
    try:
        with pytest.raises(MigrationError, match="schema DDL must create"):
            m.create_or_update_database()
        # at-least-once: the migration itself WAS applied before the error
        assert spark.catalog.tableExists("no_ledger_db.added_t")
    finally:
        m.drop_database()
