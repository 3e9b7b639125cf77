"""Applied-migration ledger (SURVEY.md §1.1): one table whose single
required column is named ``migration`` (reference Migrator.pm:140-153; the
column is named explicitly in the INSERT so users may add extra columns,
Changes:34-36).

Backends behind one interface:
- CatalogLedger — a Spark catalog table (parquet-backed). The append is
  not atomic with the migration itself, faithfully mirroring the
  reference's documented at-least-once semantics (Migrator.pm:183-189);
  a Delta-backed ledger would upgrade this to an atomic append and is the
  recommended production backend (jar not present in this environment).
- JdbcLedger — reads/writes the ledger over JDBC (the reference's actual
  I/O plane); requires a JDBC driver jar on the classpath, so it is
  import-safe but raises a clear error when used without one.
- FileLedger — an ATOMIC append via write-ahead temp file + rename
  commit: each applied migration is one dot-invisible staging file
  promoted to a committed entry by a single os.rename (atomic on POSIX;
  on object stores swap the rename for a conditional put). A crash at
  any point before the rename leaves only a dot-file that every reader
  ignores — no partial ledger row can ever be observed, closing the
  torn-append window the reference documents (Migrator.pm:183-189).
"""

from __future__ import annotations

import abc
import hashlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from .connection import jdbc_connection


class Ledger(abc.ABC):
    @abc.abstractmethod
    def exists(self) -> bool: ...

    @abc.abstractmethod
    def applied_df(self) -> DataFrame:
        """DataFrame with the single column ``migration: string``."""

    @abc.abstractmethod
    def record(self, name: str) -> None: ...


class CatalogLedger(Ledger):
    def __init__(self, spark: SparkSession, table: str = "applied_migration"):
        self.spark = spark
        self.table = table

    def exists(self) -> bool:
        # exact-match existence check — deliberately fixes the reference's
        # substring false-positive risk (`/\b\Q$table\E\b/` over
        # dbh->tables(), Core.pm:221)
        return self.spark.catalog.tableExists(self.table)

    def applied_df(self) -> DataFrame:
        return self.spark.table(self.table).select("migration")

    def record(self, name: str) -> None:
        # named column, parameterized literal (Core.pm:208-210)
        self.spark.sql(
            f"INSERT INTO {self.table} (migration) VALUES (:name)",  # noqa: S608
            args={"name": name},
        )


class FileLedger(Ledger):
    """Atomic applied-migration ledger on a filesystem directory.

    Commit protocol (SURVEY.md §2A row 16, atomic upgrade):
      1. write the migration name to ``.tmp-<uuid>`` inside the ledger
         directory and flush+fsync it (write-ahead);
      2. ``os.rename`` it to ``<sha256(name)[:32]>.rec`` — the COMMIT
         POINT. rename(2) is atomic on POSIX filesystems, and dot-files
         are invisible to both ``applied_df``'s reader and Spark's file
         sources, so a crash between 1 and 2 leaves no observable row;
      3. fsync the ledger DIRECTORY so the committed entry survives a
         power failure after record() returns (rename is atomic but not
         durable until its directory entry reaches disk).

    The committed filename is a pure function of the migration name, so
    a retry after a crash-after-commit simply overwrites the same entry
    — record() is idempotent, upgrading the reference's at-least-once
    ledger to exactly-once per migration name.
    """

    _SUFFIX = ".rec"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        # missing directory ⇒ applied = ∅ (the documented bootstrap rule,
        # Migrator.pm:155-162); bootstrap is create() / first record()
        return os.path.isdir(self.path)

    def create(self) -> None:
        os.makedirs(self.path, exist_ok=True)

    def _entries(self) -> list[str]:
        names = []
        for fn in sorted(os.listdir(self.path)):
            if fn.startswith(".") or not fn.endswith(self._SUFFIX):
                continue  # staging leftovers and foreign files are invisible
            with open(os.path.join(self.path, fn), encoding="utf-8") as f:
                names.append(f.read())
        return names

    def applied_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            [(n,) for n in self._entries()], "migration string"
        )

    def record(self, name: str) -> None:
        self.create()
        staged = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        digest = hashlib.sha256(name.encode("utf-8")).hexdigest()[:32]
        committed = os.path.join(self.path, digest + self._SUFFIX)
        fd = os.open(staged, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                f.write(name)
                f.flush()
                os.fsync(f.fileno())
        except BaseException:
            # crashed write-ahead: remove best-effort; even if this
            # cleanup itself dies, the dot-file is invisible to readers
            try:
                os.unlink(staged)
            finally:
                raise
        os.rename(staged, committed)  # COMMIT POINT (atomic)
        # The rename is atomic but not durable until the DIRECTORY entry
        # is on disk — without this fsync a power failure after record()
        # returns can roll back the commit (POSIX makes no ordering
        # promise for metadata). Best-effort on filesystems that reject
        # directory fsync (some network mounts): the atomicity guarantee
        # stands either way, only crash-durability degrades.
        try:
            dfd = os.open(self.path, os.O_RDONLY)
        except OSError:
            return
        try:
            os.fsync(dfd)
        except OSError:
            pass
        finally:
            os.close(dfd)


class JdbcLedger(Ledger):
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str = "applied_migration",
        properties: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.url = url
        self.table = table
        self.properties = properties or {}

    def exists(self) -> bool:
        """True iff the ledger table exists. A missing table means
        'applied = ∅' (the documented bootstrap rule); anything else —
        connection refused, bad credentials, missing driver — must RAISE,
        not return False, or a transient failure would silently re-apply
        every migration."""
        # JDBC metadata probe, not exception-message parsing: an unrelated
        # error whose message happens to contain 'not found' must RAISE,
        # never silently classify as 'ledger missing'. Connectivity errors
        # propagate from getConnection itself.
        with jdbc_connection(self.spark, self.url, self.properties) as conn:
            meta = conn.getMetaData()
            # unquoted identifiers are stored case-folded per DBMS (Derby/
            # Oracle upper, Postgres lower) — probe the plausible foldings.
            # '_' is a JDBC pattern wildcard, so getTables('applied_migration')
            # also matches e.g. APPLIED1MIGRATION: re-check the returned
            # names for EXACT equality instead of trusting the pattern.
            for candidate in dict.fromkeys(
                (self.table, self.table.upper(), self.table.lower())
            ):
                rs = meta.getTables(None, None, candidate, None)
                try:
                    while rs.next():
                        if rs.getString("TABLE_NAME") == candidate:
                            return True
                finally:
                    rs.close()
            return False

    def applied_df(self) -> DataFrame:
        from pyspark.sql import functions as F

        # case-normalize: some DBMSes (Derby, Oracle) uppercase unquoted
        # identifiers; resolution is case-insensitive but output isn't
        return self.spark.read.jdbc(self.url, self.table, properties=self.properties).select(
            F.col("migration").alias("migration")
        )

    def record(self, name: str) -> None:
        df = self.spark.createDataFrame([(name,)], "migration string")
        df.write.jdbc(self.url, self.table, mode="append", properties=self.properties)
