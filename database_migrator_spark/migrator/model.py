"""Data model for migrations (SURVEY.md §1.1).

Mirrors the reference's semantics, not its structure: a migration is a
directory whose basename is its identity (reference Core.pm:164-172); a
migration file is SQL, an executable program, or an eval'd code file
(Core.pm:176-203); ordering is numeric-then-alpha on the leading digit
prefix (Core.pm:274-285, tie-break history in Changes:41-43).
"""

from __future__ import annotations

import enum
import os
import re
from dataclasses import dataclass, field

_NUM_PREFIX = re.compile(r"^(\d+)(.*)$", re.DOTALL)


def numeric_or_alpha_key(name: str) -> tuple[int, str]:
    """Sort key mirroring the reference's `_numeric_or_alpha_sort`
    (Core.pm:274-285): leading digits sort numerically (missing ⇒ 0), the
    remainder breaks ties alphabetically (missing ⇒ '').

    Deliberate divergence (like the ``legacy_sql_match`` quirk flag): for
    ALL-digit names the reference's ``^(\\d+)(.+)`` fails to match (the
    suffix requires ≥1 char), degrading '2' and '10' to ``(0, name-as-tie)``
    with unspecified relative order; our ``^(\\d+)(.*)`` sorts them
    numerically — a strictly more deterministic superset of the reference
    ordering for every name the reference orders at all."""
    m = _NUM_PREFIX.match(name)
    if m:
        return (int(m.group(1)), m.group(2))
    return (0, name)


class FileKind(enum.Enum):
    SQL = "sql"
    PROGRAM = "program"  # executable → subprocess, no DB handle
    CODE = "code"  # non-executable, non-SQL → exec'd Python `migrate(m)`


@dataclass(frozen=True)
class MigrationFile:
    path: str
    basename: str
    kind: FileKind


@dataclass(frozen=True)
class Migration:
    path: str
    name: str  # directory basename = identity (ledger key)
    files: tuple[MigrationFile, ...] = field(default_factory=tuple)


def classify_file(path: str, legacy_sql_match: bool = False) -> FileKind:
    """Dispatch rule (Core.pm:176-203). The reference's `/\\.sql/` is
    unanchored — `foo.sql.bak` runs as SQL (README.md:35-48 quirk); we
    default to the anchored fix but keep the quirk behind a flag."""
    base = os.path.basename(path)
    is_sql = (".sql" in base) if legacy_sql_match else base.endswith(".sql")
    if is_sql:
        return FileKind.SQL
    if os.access(path, os.X_OK):
        return FileKind.PROGRAM
    return FileKind.CODE


def scan_migration(path: str, legacy_sql_match: bool = False) -> Migration:
    """Children of a migration dir: files only, hidden excluded, sorted
    numeric-or-alpha (Core.pm:172-174)."""
    entries = [
        e
        for e in os.scandir(path)
        if not e.name.startswith(".") and e.is_file()
    ]
    entries.sort(key=lambda e: numeric_or_alpha_key(e.name))
    files = tuple(
        MigrationFile(e.path, e.name, classify_file(e.path, legacy_sql_match)) for e in entries
    )
    return Migration(path=path, name=os.path.basename(path), files=files)
