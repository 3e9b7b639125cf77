"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten analytics tables the query catalog reads
(star schema, ``events``, ``documents``, ``embeddings``) as one parquet
file each, with the column names, types and value distributions of the
catalog's reference test data.  ``write_migration_tree`` lays out a
migration tree for the deploy workload.  The same seed always gives the
same files.
"""

from __future__ import annotations

import os
import re
import stat

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate: an earlier doc plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel(), pa.float32()), dim)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04")),
        }
    )
    t["events"] = _events(rng, int(1_000_000 * sf), max(int(15_000 * sf), 100))
    t["documents"] = _documents(rng, max(int(50_000 * sf), 500))
    t["embeddings"] = _embeddings(rng, max(int(20_000 * sf), 500))
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table to ``out_dir/<name>.parquet``; return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in make_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# -- migration trees -----------------------------------------------------------

SCHEMA_SQL = """CREATE TABLE applied_migration (
    migration  VARCHAR(250)   PRIMARY KEY
);

CREATE TABLE foo (
    foo_id     INTEGER        PRIMARY KEY,
    foo_name   VARCHAR(50)    NOT NULL
);
"""

_NAME_WORDS = ["accounts", "users", "orders", "audit", "billing", "events", "index", "zones"]
_NUM_PREFIX = re.compile(r"^(\d+)(.*)$", re.DOTALL)


def numeric_or_alpha(name: str) -> tuple[int, str]:
    """Expected apply order, written independently of the migrator: leading
    digits compare as a number (none means 0), the rest breaks ties."""
    m = _NUM_PREFIX.match(name)
    return (int(m.group(1)), m.group(2)) if m else (0, name)


class MigrationTree:
    """A seeded migration tree that grows by one directory per ``add()``.

    Directory names mix zero-padded and bare numeric prefixes with
    same-number alphabetic tie-breaks.  Each directory holds SQL files
    (CREATE TABLE with PRIMARY KEY / NOT NULL / TEXT columns, INSERTs and
    CREATE INDEX no-ops) and, in some, a ``migrate(migrator)`` code file or
    an executable program.  ``tables`` maps every table the tree creates to
    the row count it must hold once applied."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.dir = os.path.join(root, "migrations")
        self.schema_file = os.path.join(root, "schema.sql")
        self.rng = np.random.default_rng(seed)
        self.names: list[str] = []
        self.tables: dict[str, int] = {"foo": 0}
        self._number = 0
        os.makedirs(self.dir, exist_ok=True)
        with open(self.schema_file, "w") as f:
            f.write(SCHEMA_SQL)

    def _next_name(self) -> str:
        word = _NAME_WORDS[int(self.rng.integers(0, len(_NAME_WORDS)))]
        if self.names and self.rng.random() < 0.25:
            # same number as the previous directory, later alphabetic suffix
            prev = numeric_or_alpha(self.names[-1])
            return f"{prev[0]}{prev[1]}-{word}"
        self._number += int(self.rng.integers(1, 4))
        width = 4 if self.rng.random() < 0.5 else 0
        return f"{self._number:0{width}d}-{word}"

    def _write(self, path: str, text: str, executable: bool = False) -> None:
        with open(path, "w") as f:
            f.write(text)
        if executable:
            os.chmod(path, os.stat(path).st_mode | stat.S_IXUSR)

    def add(self) -> str:
        """Add the next directory.  Every directory has a CREATE TABLE +
        INSERT script and a CREATE INDEX script; by position, every third
        also has a code migration and every third an executable program,
        so any three consecutive directories hold the same mix of kinds."""
        name = self._next_name()
        i = len(self.names)
        ident = f"m{i:05d}"
        d = os.path.join(self.dir, name)
        os.makedirs(d)
        rows = int(self.rng.integers(1, 6))
        values = ", ".join(f"({j}, 'n{j}', 'note {j}; seeded')" for j in range(rows))
        self._write(
            os.path.join(d, "01-create.sql"),
            f"CREATE TABLE t_{ident} (\n"
            f"    id INTEGER PRIMARY KEY,\n    name VARCHAR(50) NOT NULL,\n"
            f"    note TEXT\n);\n"
            f"INSERT INTO t_{ident} VALUES {values};\n",
        )
        self._write(
            os.path.join(d, "02-index.sql"), f"CREATE INDEX ix_{ident} ON t_{ident} (name);\n"
        )
        self.tables[f"t_{ident}"] = rows
        if i % 3 == 1:
            rows = int(self.rng.integers(1, 4))
            values = ", ".join(f"({j})" for j in range(rows))
            self._write(
                os.path.join(d, "03-migrate.py"),
                "def migrate(migrator):\n"
                f'    migrator.run_sql("CREATE TABLE c_{ident} (id INT)")\n'
                f'    migrator.run_sql("INSERT INTO c_{ident} VALUES {values}")\n',
            )
            self.tables[f"c_{ident}"] = rows
        elif i % 3 == 2:
            self._write(os.path.join(d, "03-check.sh"), "#!/bin/sh\nexit 0\n", executable=True)
        self.names.append(name)
        return name
