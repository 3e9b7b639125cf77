"""The one JDBC connect path for the migrator (the reference's `_build_dbh`,
Core.pm:252-257): a ``java.sql.Connection`` through the session JVM.
Spark's DataFrame JDBC API cannot run arbitrary DDL or metadata probes,
so the JDBC migrator, its ledger and the pass-through DDL runner all
connect here."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def jdbc_connection(
    spark: SparkSession, url: str, properties: dict[str, str] | None = None
):
    """Yield an open connection to ``url``; closed on exit. Connection
    failures (refused, bad credentials, missing driver) raise."""
    jvm = spark._jvm  # noqa: SLF001
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        yield conn
    finally:
        conn.close()
