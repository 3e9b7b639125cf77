"""DDL execution: statement splitting + a loud dialect shim.

The reference hands `.sql` files opaquely to the DBMS CLI (README.md:38-39,
Core.pm:176-179). Spark SQL is our DBMS, so the shim translates the common
RDBMS-isms Spark lacks — degrading LOUDLY (warnings, never silent drops):

- PRIMARY KEY / UNIQUE column+table constraints → stripped (informational)
- AUTO_INCREMENT / SERIAL → stripped with a warning (use identity columns
  or monotonically_increasing_id in pipelines)
- CREATE INDEX → warning no-op (Spark has no secondary indexes; data
  skipping comes from parquet/Z-ordering)
- TEXT type → STRING

JDBC targets should bypass the shim entirely (pass-through, mirroring the
reference's delegation).
"""

from __future__ import annotations

import logging
import re

from pyspark.sql import SparkSession

from .connection import jdbc_connection

logger = logging.getLogger("database_migrator_spark.ddl")


def split_statements(script: str) -> list[str]:
    """Split a DDL script on top-level semicolons, respecting single/double
    quotes and `--` line comments."""
    stmts: list[str] = []
    buf: list[str] = []
    in_s = in_d = in_comment = False
    i = 0
    while i < len(script):
        ch = script[i]
        nxt = script[i + 1] if i + 1 < len(script) else ""
        if in_comment:
            if ch == "\n":
                in_comment = False
            buf.append(ch)
        elif in_s:
            buf.append(ch)
            if ch == "\\" and nxt:  # backslash escape inside a literal
                buf.append(nxt)
                i += 1
            elif ch == "'":
                in_s = False
        elif in_d:
            buf.append(ch)
            if ch == '"':
                in_d = False
        elif ch == "-" and nxt == "-":
            in_comment = True
            buf.append(ch)
        elif ch == "'":
            in_s = True
            buf.append(ch)
        elif ch == '"':
            in_d = True
            buf.append(ch)
        elif ch == ";":
            s = "".join(buf).strip()
            if s:
                stmts.append(s)
            buf = []
        else:
            buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        stmts.append(tail)
    return stmts


_CREATE_INDEX = re.compile(r"^\s*CREATE\s+(UNIQUE\s+)?INDEX\b", re.IGNORECASE)
_PK_TABLE = re.compile(r",?\s*PRIMARY\s+KEY\s*\([^)]*\)", re.IGNORECASE)
_PK_COL = re.compile(r"\bPRIMARY\s+KEY\b", re.IGNORECASE)
_UNIQUE = re.compile(r"\bUNIQUE\b", re.IGNORECASE)
_AUTOINC = re.compile(r"\bAUTO_INCREMENT\b", re.IGNORECASE)
_SERIAL = re.compile(r"\bSERIAL\b", re.IGNORECASE)  # a TYPE — map, don't strip
# TEXT only in TYPE position — preceded by another identifier (a column
# name, or AS in a cast) — so a column literally named `text` survives:
# 'CREATE TABLE d (text TEXT)' → '(text STRING)', not '(STRING STRING)'.
# The \A alternative covers QUOTED column names: _sub_outside_literals
# substitutes per unquoted SEGMENT, and the segment after '"note"' starts
# with whitespace + TEXT.
_TEXT_TYPE = re.compile(
    r"(?P<pre>\b[A-Za-z_][\w$]*\s+|\A\s*)TEXT\b", re.IGNORECASE
)

_QUOTED_SPAN = re.compile(r"'(?:\\.|[^'])*'|\"(?:\\.|[^\"])*\"", re.DOTALL)


def _sub_outside_literals(pattern: re.Pattern, repl: str, stmt: str) -> str:
    """Apply a regex substitution only OUTSIDE quoted string literals /
    quoted identifiers, so data like 'this unique text' is never touched."""
    out = []
    pos = 0
    for m in _QUOTED_SPAN.finditer(stmt):
        out.append(pattern.sub(repl, stmt[pos : m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(pattern.sub(repl, stmt[pos:]))
    return "".join(out)


def _dquoted_identifiers_to_backticks(stmt: str) -> tuple[str, bool]:
    """ANSI double-quoted identifiers → Spark backticks. In ANSI SQL (the
    reference's Postgres-family world) double quotes ALWAYS quote
    identifiers — string literals use single quotes — while Spark parses
    them as string literals, so '("note" TEXT)' would be a syntax error
    without this. Embedded backticks are escaped by doubling."""
    out = []
    pos = 0
    changed = False
    for m in _QUOTED_SPAN.finditer(stmt):
        out.append(stmt[pos : m.start()])
        span = m.group(0)
        if span.startswith('"'):
            inner = span[1:-1].replace("`", "``")
            out.append(f"`{inner}`")
            changed = True
        else:
            out.append(span)
        pos = m.end()
    out.append(stmt[pos:])
    return "".join(out), changed


def translate_statement(stmt: str) -> str | None:
    """Translate one statement to Spark SQL; return None for loud no-ops.
    All substitutions are literal-safe (quoted spans pass through)."""
    if _CREATE_INDEX.match(stmt):
        logger.warning("CREATE INDEX is a no-op on Spark catalog targets: %.80s", stmt)
        return None
    out = stmt
    unquoted = _QUOTED_SPAN.sub("", out)
    if _AUTOINC.search(unquoted):
        logger.warning("stripping AUTO_INCREMENT (no Spark equivalent): %.80s", stmt)
        out = _sub_outside_literals(_AUTOINC, "", out)
    if _SERIAL.search(unquoted):
        logger.warning("mapping SERIAL type to BIGINT: %.80s", stmt)
        out = _sub_outside_literals(_SERIAL, "BIGINT", out)
    if _PK_TABLE.search(unquoted) or _PK_COL.search(unquoted):
        logger.warning("stripping PRIMARY KEY constraint (informational on Spark): %.80s", stmt)
        out = _sub_outside_literals(_PK_TABLE, "", out)
        out = _sub_outside_literals(_PK_COL, "", out)
    if _UNIQUE.search(unquoted):
        logger.warning("stripping UNIQUE constraint (informational on Spark): %.80s", stmt)
        out = _sub_outside_literals(_UNIQUE, "", out)
    # detection must be segment-aware (a TEXT after a QUOTED column name is
    # invisible in `unquoted`), so detect by substituting and comparing
    rewritten = _sub_outside_literals(_TEXT_TYPE, r"\g<pre>STRING", out)
    if rewritten != out:
        logger.warning("mapping TEXT type to STRING: %.80s", stmt)
        out = rewritten
    out, converted = _dquoted_identifiers_to_backticks(out)
    if converted:
        logger.warning(
            "converting ANSI double-quoted identifiers to backticks: %.80s", stmt
        )
    return out


def run_ddl_script_jdbc(
    spark: SparkSession,
    script: str,
    url: str,
    dry_run: bool = False,
    properties: dict[str, str] | None = None,
) -> list[str]:
    """JDBC pass-through DDL: statements go to the target DBMS verbatim —
    no dialect shim — mirroring the reference's delegation of `.sql` files
    to the database's own utility (README.md:38-39, Core.pm:176-179)."""
    stmts = split_statements(script)
    if dry_run:
        return stmts
    with jdbc_connection(spark, url, properties) as conn:
        st = conn.createStatement()
        for stmt in stmts:
            logger.debug("JDBC DDL: %s", stmt)
            st.execute(stmt)
        st.close()
    return stmts


def run_ddl_script(spark: SparkSession, script: str, dry_run: bool = False) -> list[str]:
    """Split → translate → execute each statement via spark.sql. Returns
    the executed (translated) statements. Unlike the reference — which
    delegates dry-run handling of SQL to the DBMS subclass (Core.pm:176-179
    wart) — dry_run gates SQL here too."""
    executed: list[str] = []
    for stmt in split_statements(script):
        translated = translate_statement(stmt)
        if translated is None:
            continue
        logger.debug("DDL: %s", translated)
        if not dry_run:
            spark.sql(translated)
        executed.append(translated)
    return executed
