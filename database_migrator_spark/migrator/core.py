"""The migration engine (SURVEY.md §2A #1-#21).

The single piece of query logic in the reference is the pending set
(Core.pm:215-235):

    pending = sort_numeric_or_alpha( subdirs(migrations_dir) − applied )

Its inputs are directory names — a few thousand at most, whatever the
data scale — so it is a driver-side set difference: the ledger is read
once into a Python set (the reference's ``%ran`` hash) and the remaining
subdirectories are sorted with ``numeric_or_alpha_key``, the same key
that orders the files inside a migration. Everything else is ordered
driver-side orchestration — deliberately so: migrations are sequential by
contract (Core.pm:158-162), so the loop must never be parallelized across
migrations.
"""

from __future__ import annotations

import logging
import os
import subprocess
from contextlib import contextmanager
from functools import cached_property

from pyspark.sql import SparkSession

from .ddl import run_ddl_script
from .ledger import CatalogLedger, Ledger
from .model import FileKind, Migration, MigrationFile, numeric_or_alpha_key, scan_migration


class MigrationError(RuntimeError):
    pass


# Sentinel marking a CLI attribute as required on the command line.
REQUIRED = object()

# The CLI attribute table — this engine's equivalent of the reference
# deriving its whole option surface from Moose attributes via
# MooseX::Getopt::Dashes (Core.pm:20-24; attributes Core.pm:33-119): each
# public attribute listed here BECOMES a dashed ``--flag`` in
# ``migrator.cli.build_parser``, so the CLI can never drift from the
# object surface — adding an attribute row IS adding the flag. Entries:
# (attr, kind, default, help, aliases); kind "flag" → boolean store_true.
# The ``user`` alias mirrors the reference's BUILDARGS alias
# (Changes:30-32).
CLI_ATTRIBUTES: tuple[tuple[str, str, object, str, tuple[str, ...]], ...] = (
    ("database", "str", None, "Spark catalog database target", ()),
    ("migrations_dir", "str", REQUIRED, "root of the migration tree", ()),
    ("schema_file", "str", None, "schema DDL applied when creating a fresh database", ()),
    ("migration_table", "str", "applied_migration", "ledger table name", ()),
    ("username", "str", None, "connection user (JDBC targets)", ("user",)),
    ("password", "str", None, "connection password (JDBC targets)", ()),
    ("host", "str", None, "rejected: JDBC targets carry the host in --jdbc-url", ()),
    ("port", "str", None, "rejected: JDBC targets carry the port in --jdbc-url", ()),
    ("dry_run", "flag", False, "log every step without executing", ()),
    ("quiet", "flag", False, "log errors only", ()),
    ("verbose", "flag", False, "debug logging", ()),
)


class Migrator:
    """Create-or-update a database from a schema file + migration tree.

    Mirrors the reference's attribute surface (Core.pm:33-119): database,
    migrations_dir, schema_file, migration_table, username/password/host/
    port (JDBC targets), dry_run, quiet/verbose.
    """

    def __init__(
        self,
        spark: SparkSession,
        database: str,
        migrations_dir: str,
        schema_file: str | None = None,
        migration_table: str = "applied_migration",
        ledger: Ledger | None = None,
        dry_run: bool = False,
        quiet: bool = False,
        verbose: bool = False,
        legacy_sql_match: bool = False,
        logger: logging.Logger | None = None,
    ):
        if quiet and verbose:
            # Core.pm:133-139
            raise ValueError("quiet and verbose are mutually exclusive")
        self.spark = spark
        self.database = database
        self.migrations_dir = migrations_dir
        self.schema_file = schema_file
        self.migration_table = migration_table
        self.dry_run = dry_run
        self.quiet = quiet
        self.verbose = verbose
        self.legacy_sql_match = legacy_sql_match
        self.logger = logger or self._build_logger()
        self._ledger = ledger

    # -- logging (Core.pm:237-250) ----------------------------------------
    def _build_logger(self) -> logging.Logger:
        lg = logging.getLogger(f"database_migrator_spark.migrator.{self.database}")
        lg.setLevel(
            logging.CRITICAL if self.quiet else logging.DEBUG if self.verbose else logging.INFO
        )
        if not lg.handlers:
            h = logging.StreamHandler()
            h.setFormatter(logging.Formatter("%(levelname)s %(message)s"))
            lg.addHandler(h)
        lg.propagate = False
        return lg

    # -- ledger ------------------------------------------------------------
    @property
    def ledger(self) -> Ledger:
        if self._ledger is None:
            self._ledger = CatalogLedger(
                self.spark, f"{self.database}.{self.migration_table}"
            )
        return self._ledger

    # -- existence probe (Core.pm:65-71, 252-257) ---------------------------
    @cached_property
    def _database_exists(self) -> bool:
        return self.spark.catalog.databaseExists(self.database)

    # -- pending set: scan − applied, sorted (Core.pm:215-235) ---------------
    def pending_migrations(self) -> list[Migration]:
        # absent ledger table ⇒ applied = ∅ (Migrator.pm:155-162)
        applied = (
            {r[0] for r in self.ledger.applied_df().collect()}
            if self.ledger.exists()
            else set()
        )
        names = [
            e.name
            for e in os.scandir(self.migrations_dir)
            # Core.pm:232-233: non-hidden subdirectories only
            if e.is_dir() and not e.name.startswith(".") and e.name not in applied
        ]
        return [
            scan_migration(os.path.join(self.migrations_dir, n), self.legacy_sql_match)
            for n in sorted(names, key=numeric_or_alpha_key)
        ]

    @property
    def has_pending_migrations(self) -> int:  # Core.pm:80-83
        return len(self.pending_migrations())

    # -- orchestrator (Core.pm:141-156) --------------------------------------
    @contextmanager
    def _in_database(self):
        """Run with ``self.database`` as the current database so unqualified
        DDL in schema/migration files lands in the right namespace."""
        prev = self.spark.catalog.currentDatabase()
        # the memo, not a fresh probe: create_database keeps it truthful,
        # and a dry run leaves it False (nothing to switch into)
        if self._database_exists:
            self.spark.catalog.setCurrentDatabase(self.database)
        try:
            yield
        finally:
            self.spark.catalog.setCurrentDatabase(prev)

    def create_or_update_database(self) -> None:
        if not self._database_exists:
            self.logger.info("creating database %s", self.database)
            if not self.dry_run:
                self.create_database()
            if self.schema_file:
                self.logger.info("running schema DDL from %s", self.schema_file)
                with self._in_database():
                    self._run_ddl_file(self.schema_file)
        else:
            self.logger.debug("database %s already exists", self.database)
        self._run_migrations()

    def create_database(self) -> None:  # Core.pm:26-31 required method
        self.spark.sql(f"CREATE DATABASE `{self.database}`")
        # keep the memoized probe truthful for subsequent calls on this
        # instance (retry loops, library use, _in_database)
        self.__dict__["_database_exists"] = True

    def drop_database(self) -> None:  # test harness support (Core.pm:29)
        self.spark.sql(f"DROP DATABASE IF EXISTS `{self.database}` CASCADE")
        self.__dict__.pop("_database_exists", None)

    # -- apply loop: strictly ordered (Core.pm:158-162) -----------------------
    def _run_migrations(self) -> None:
        for migration in self.pending_migrations():
            self._run_one_migration(migration)

    def _run_one_migration(self, migration: Migration) -> None:
        self.logger.info("running migration %s", migration.name)
        with self._in_database():
            for mf in migration.files:
                self.logger.debug("  %s (%s)", mf.basename, mf.kind.value)
                if mf.kind is FileKind.SQL:
                    self._run_ddl_file(mf.path)
                elif mf.kind is FileKind.PROGRAM:
                    self._run_program(mf)
                else:
                    self._run_code(mf)
        # record AFTER all files succeed; failed migrations never recorded
        # (Core.pm:206-212); not atomic with the migration — documented
        # at-least-once, keep migrations idempotent (Migrator.pm:183-189)
        if not self.dry_run:
            try:
                self.ledger.record(migration.name)
            except Exception as e:
                # the reference contract: the USER's schema DDL must create
                # the ledger table (Migrator.pm:140-153; the reference's own
                # harness schema does, Test/Database/Migrator.pm:108-110).
                # Surface that contract instead of a raw missing-table error
                # — the migration itself HAS been applied (at-least-once).
                if not self.ledger.exists():
                    raise MigrationError(
                        f"migration {migration.name} was applied but could not "
                        f"be recorded: the ledger table "
                        f"{getattr(self.ledger, 'table', '')!r} does not exist. "
                        "Your schema DDL must create it (single required "
                        "column: migration STRING) — see the reference "
                        "contract, Migrator.pm:140-153."
                    ) from e
                raise

    # -- backend-portable SQL for code migrations ------------------------------
    def run_sql(self, stmt: str):
        """Execute one SQL statement against THIS migrator's target (the
        portable surface code migrations should use — the analogue of the
        reference passing the migrator with its dbh to eval'd code,
        Core.pm:196-202). Catalog targets run through spark.sql in the
        target database; JDBC targets override with pass-through."""
        with self._in_database():
            return self.spark.sql(stmt)

    # -- executors ------------------------------------------------------------
    def _run_ddl_file(self, path: str) -> None:
        with open(path, encoding="utf-8") as f:
            script = f.read()
        run_ddl_script(self.spark, script, dry_run=self.dry_run)

    def _run_program(self, mf: MigrationFile) -> None:
        """Subprocess executor (Core.pm:180-192): no stdin, no DB handle;
        fails on exit != 0 OR any stderr output (even with exit 0 — the
        reference's deliberately strict contract,
        Test/Database/Migrator.pm:271-303)."""
        if self.dry_run:
            return
        proc = subprocess.run(  # noqa: S603
            [mf.path], stdin=subprocess.DEVNULL, capture_output=True, text=True
        )
        if proc.returncode != 0 or proc.stderr:
            raise MigrationError(
                f"migration program {mf.path} failed: "
                f"exit={proc.returncode}, stderr={proc.stderr!r}"
            )

    def _run_code(self, mf: MigrationFile) -> None:
        """Code-migration executor (Core.pm:193-203): the file must define
        ``migrate(migrator)``; it receives this Migrator (and thus
        ``migrator.spark``), the analogue of the eval'd Perl closure
        receiving the migrator with its dbh. Always compiled; only called
        when not dry_run (Core.pm:198-200)."""
        with open(mf.path, encoding="utf-8") as f:
            source = f.read()
        code = compile(source, mf.path, "exec")
        if self.dry_run:
            # compile-only: module-level code may have side effects, so a
            # dry run must not exec it (Core.pm:198-200 compiles the Perl
            # sub without calling it)
            return
        namespace: dict = {}
        exec(code, namespace)  # noqa: S102
        fn = namespace.get("migrate")
        if not callable(fn):
            raise MigrationError(f"code migration {mf.path} does not define migrate(migrator)")
        fn(self)
