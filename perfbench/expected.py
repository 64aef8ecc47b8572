"""Expected answers: each op's DuckDB oracle, run once per checkout.

The answers are computed from the engine's own ``oracle_sql()`` over the
benchmark's generated tables, outside every timed window, and cached on disk
under a key that changes whenever the engine sources, the generated data or
this file change.  The cache holds only files this benchmark wrote."""

from __future__ import annotations

import hashlib
import os
import pickle
from dataclasses import dataclass

# Same float precision as the project's correctness gate
# (scripts/check_correctness.py default): 9 decimal places.
NDIGITS = 9


@dataclass(frozen=True)
class Expected:
    columns: tuple[str, ...]
    rows: list[tuple]

    def matches(self, columns: list[str], rows: list[tuple]) -> bool:
        """Same column names, row count and order-insensitive values, with
        cell types compared too (an int where a float is expected fails)."""
        from codecdb_queryengine_spark.oracle import normalize

        if sorted(columns) != sorted(self.columns) or len(rows) != len(self.rows):
            return False
        got = normalize(rows, columns, NDIGITS)
        return got == self.rows and _types(got) == _types(self.rows)


def _types(rows: list[tuple]) -> list[tuple[str, ...]]:
    return [tuple(type(v).__name__ for v in r) for r in rows]


def source_key(root: str, data_dir: str) -> str:
    """Digest of everything the answers depend on."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py"), os.path.abspath(__file__),
             os.path.join(os.path.dirname(os.path.abspath(__file__)), "datagen.py")]
    pkg = os.path.join(root, "codecdb_queryengine_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        files += [os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    h.update(os.path.basename(data_dir).encode())
    return h.hexdigest()[:16]


def compute(ops: tuple[str, ...], data_dir: str) -> dict[str, Expected]:
    import __spark_entry__ as entry
    from codecdb_queryengine_spark.oracle import duckdb_connect, normalize

    oracles = entry.oracle_sql()
    missing = [op for op in ops if op not in oracles]
    if missing:
        raise KeyError(f"no oracle for ops: {missing}")
    out: dict[str, Expected] = {}
    con = duckdb_connect(data_dir)
    try:
        con.execute("SET enable_progress_bar = false")
        for op in ops:
            res = con.execute(oracles[op])
            cols = [c[0] for c in res.description]
            rows = [tuple(r) for r in res.fetchall()]
            out[op] = Expected(tuple(cols), normalize(rows, cols, NDIGITS))
    finally:
        con.close()
    return out


def load_or_compute(ops: tuple[str, ...], data_dir: str, cache_dir: str, root: str) -> str:
    """Path of the pickled answers for ``ops``, computing them if absent."""
    key = source_key(root, data_dir)
    digest = hashlib.sha256("\n".join(ops).encode()).hexdigest()[:8]
    path = os.path.join(cache_dir, f"expected-{key}-{digest}.pkl")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        answers = compute(ops, data_dir)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(answers, fh)
        os.replace(tmp, path)
    return path


def load(path: str) -> dict[str, Expected]:
    with open(path, "rb") as fh:
        return pickle.load(fh)
