"""CLI surface mirroring the reference's MooseX::Getopt::Dashes options
(Core.pm:20-24, 121-139; README.md:115-125): the attribute-backed flags
are AUTO-DERIVED from ``core.CLI_ATTRIBUTES`` (underscore attribute →
dashed long flag, exactly the MooseX::Getopt::Dashes rule), with
``--user`` aliased to ``--username`` (BUILDARGS, Changes:30-32) and
quiet ⊕ verbose (BUILD). Verbs: ``migrate`` (create-or-update),
``plan``/``status`` (print the pending set — the engine's one real
query). Only engine extensions beyond the reference's attribute surface
(--jdbc-url, --ledger-dir, --legacy-sql-match) are declared by hand.
"""

from __future__ import annotations

import argparse
import os
import sys

from database_migrator_spark.session import get_session

from .core import CLI_ATTRIBUTES, REQUIRED, Migrator
from .jdbc import JdbcMigrator
from .ledger import FileLedger


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="spark-migrate",
        description="Create or update a Spark database from a migration tree.",
    )
    p.add_argument("verb", choices=["migrate", "plan", "status"], help="action to run")
    # attribute-derived flags: one dashed option per public attribute row
    for attr, kind, default, helptext, aliases in CLI_ATTRIBUTES:
        names = ["--" + a.replace("_", "-") for a in (attr, *aliases)]
        if kind == "flag":
            p.add_argument(*names, dest=attr, action="store_true", help=helptext)
        elif default is REQUIRED:
            p.add_argument(*names, dest=attr, required=True, help=helptext)
        else:
            p.add_argument(*names, dest=attr, default=default, help=helptext)
    # engine extensions (not reference attributes)
    p.add_argument(
        "--jdbc-url",
        help="JDBC target (e.g. jdbc:derby:/path;create=true) — DDL passes "
        "through verbatim, ledger lives in the target database",
    )
    p.add_argument(
        "--ledger-dir",
        help="directory for the atomic FileLedger backend (write-ahead + "
        "rename-commit) instead of the catalog/JDBC ledger table",
    )
    p.add_argument("--legacy-sql-match", action="store_true",
                   help="match .sql anywhere in the filename (reference quirk)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.quiet and args.verbose:
        print("error: --quiet and --verbose are mutually exclusive", file=sys.stderr)
        return 2
    if bool(args.database) == bool(args.jdbc_url):
        print("error: exactly one of --database / --jdbc-url is required", file=sys.stderr)
        return 2
    if args.host or args.port:
        print(
            "error: --host/--port are not used; JDBC targets carry host and "
            "port in --jdbc-url",
            file=sys.stderr,
        )
        return 2
    # check paths before starting Spark: a typo must not start a JVM or
    # leave metastore_db/ and derby.log behind
    if not os.path.isdir(args.migrations_dir):
        print(f"error: migrations dir not found: {args.migrations_dir}", file=sys.stderr)
        return 1
    if args.schema_file and not os.path.isfile(args.schema_file):
        print(f"error: schema file not found: {args.schema_file}", file=sys.stderr)
        return 1
    common = dict(
        migrations_dir=args.migrations_dir,
        schema_file=args.schema_file,
        migration_table=args.migration_table,
        dry_run=args.dry_run,
        quiet=args.quiet,
        verbose=args.verbose,
        legacy_sql_match=args.legacy_sql_match,
    )
    # catalog targets persist across processes only on the Hive/derby
    # catalog; JDBC targets keep everything in the target database
    spark = get_session("spark-migrate", persistent_catalog=not args.jdbc_url)
    if args.ledger_dir:
        common["ledger"] = FileLedger(spark, args.ledger_dir)
    if args.jdbc_url:
        props = {}
        if args.username:
            props["user"] = args.username
        if args.password:
            props["password"] = args.password
        m = JdbcMigrator(spark, jdbc_url=args.jdbc_url, jdbc_properties=props, **common)
    else:
        m = Migrator(spark, database=args.database, **common)
    try:
        if args.verb in ("plan", "status"):
            pending = m.pending_migrations()
            for mig in pending:
                print(mig.name)
            print(f"{len(pending)} pending migration(s)", file=sys.stderr)
            return 0
        m.create_or_update_database()
        return 0
    except Exception as e:  # surface a one-line error, not a JVM traceback
        print(f"error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
