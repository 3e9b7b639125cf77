"""JdbcMigrator over embedded Derby: pass-through DDL (PRIMARY KEY kept,
no shim), try-connect existence probe, ledger in the target database —
the reference's actual deployment shape (DBMS subclass + opaque SQL)."""

from __future__ import annotations

import pytest

from database_migrator_spark.migrator.jdbc import JdbcMigrator
from database_migrator_spark.migrator.ledger import JdbcLedger

SCHEMA_SQL = """
CREATE TABLE applied_migration (
    migration  VARCHAR(250)   PRIMARY KEY
);
CREATE TABLE foo (
    foo_id     INTEGER        PRIMARY KEY,
    foo_name   VARCHAR(50)    NOT NULL
)
"""


@pytest.fixture()
def tree(tmp_path):
    (tmp_path / "schema.sql").write_text(SCHEMA_SQL)
    mig = tmp_path / "migrations"
    first = mig / "01-first"
    first.mkdir(parents=True)
    (first / "01-bar.sql").write_text(
        "CREATE TABLE bar (bar_id INTEGER PRIMARY KEY, bar_name VARCHAR(50));"
        "CREATE INDEX bar_idx ON bar (bar_name)"
    )
    second = mig / "02-second"
    second.mkdir()
    (second / "01-data.sql").write_text("INSERT INTO foo VALUES (1, 'one')")
    return tmp_path


def test_jdbc_migrator_end_to_end(spark, tree, tmp_path):
    url = f"jdbc:derby:{tmp_path}/jmdb;create=true"
    m = JdbcMigrator(
        spark,
        jdbc_url=url,
        migrations_dir=str(tree / "migrations"),
        schema_file=str(tree / "schema.sql"),
        quiet=True,
    )
    assert not m._database_exists
    m.create_or_update_database()

    props = {}
    applied = sorted(r[0] for r in m.ledger.applied_df().collect())
    assert applied == ["01-first", "02-second"]
    # pass-through DDL: index statement executed for real (derby supports it)
    assert spark.read.jdbc(url, "bar", properties=props).columns == ["BAR_ID", "BAR_NAME"]
    rows = spark.read.jdbc(url, "foo", properties=props).collect()
    assert [(r[0], r[1]) for r in rows] == [(1, "one")]

    # idempotent second run against the live database
    m2 = JdbcMigrator(
        spark,
        jdbc_url=url,
        migrations_dir=str(tree / "migrations"),
        schema_file=str(tree / "schema.sql"),
        quiet=True,
    )
    assert m2._database_exists
    assert m2.pending_migrations() == []
    m2.create_or_update_database()
    applied2 = sorted(r[0] for r in m2.ledger.applied_df().collect())
    assert applied2 == applied


def test_existence_probe_ignores_create_value_case(spark, tree, tmp_path):
    """Derby attribute values are case-insensitive: probing a
    ``;create=True`` URL must neither create the database nor skip the
    schema file."""
    url = f"jdbc:derby:{tmp_path}/jmdb_case;create=True"
    m = JdbcMigrator(
        spark,
        jdbc_url=url,
        migrations_dir=str(tree / "migrations"),
        schema_file=str(tree / "schema.sql"),
        quiet=True,
    )
    assert not m._database_exists
    assert not (tmp_path / "jmdb_case").exists()
    m.create_or_update_database()
    for table in ("applied_migration", "foo", "bar"):
        assert JdbcLedger(spark, url, table).exists(), table
    assert sorted(r[0] for r in m.ledger.applied_df().collect()) == ["01-first", "02-second"]
