"""Output checks. Each runs outside every timed span and returns the
problems it found (an empty list means the output is correct)."""

from __future__ import annotations

import math
import os
import re
from collections import Counter

# The reference sanitizer: runs of non-word characters or ``_`` become one
# space. ``re.ASCII`` gives Java's ASCII-only ``\w``/``\s``, so ``ñ`` and
# ``é`` split a word in two.
_SANITIZE = re.compile(r"([^\s\w]|_)+", re.ASCII)


def recount_bigrams(lines) -> Counter:
    """Pure-Python bigram count: sanitize, lowercase, split on
    whitespace, count adjacent pairs within each line as ``a+b``."""
    counts: Counter = Counter()
    for line in lines:
        toks = _SANITIZE.sub(" ", line).lower().split()
        counts.update(f"{a}+{b}" for a, b in zip(toks, toks[1:]))
    return counts


def check_kv_output(
    path: str,
    expected: Counter,
    parts: int,
    placement: dict[str, int] | None = None,
) -> list[str]:
    """Check a ``key<TAB>count`` output directory: ``_SUCCESS``, exactly
    ``parts`` part files, keys sorted within each file, no key twice, the
    counts equal to ``expected``, and -- when ``placement`` is given --
    each key in the part file ``placement[key]`` names."""
    names = sorted(n for n in os.listdir(path) if not n.startswith("."))
    part_files = [n for n in names if n.startswith("part-")]
    problems = []
    if "_SUCCESS" not in names:
        problems.append("no _SUCCESS marker")
    if len(part_files) != parts:
        problems.append(f"{len(part_files)} part files, expected {parts}")
    got: dict[str, int] = {}
    misplaced = unsorted = 0
    for index, name in enumerate(part_files):
        with open(os.path.join(path, name), encoding="utf-8") as fh:
            keys = []
            for line in fh.read().splitlines():
                key, value = line.split("\t")
                if key in got:
                    problems.append(f"key {key!r} written twice")
                got[key] = int(value)
                keys.append(key)
                if placement is not None and placement.get(key) != index:
                    misplaced += 1
        unsorted += keys != sorted(keys)
    if misplaced:
        problems.append(f"{misplaced} keys in the wrong part file")
    if unsorted:
        problems.append(f"{unsorted} part files not sorted by key")
    if got != expected:
        wrong = sum(1 for k in expected.keys() | got.keys() if got.get(k) != expected.get(k))
        problems.append(f"{wrong} of {len(expected)} bigram counts differ")
    return problems


def output_bytes(path: str) -> tuple[int, int]:
    """(number of part files, bytes of every file in the directory)."""
    names = os.listdir(path)
    parts = sum(1 for n in names if n.startswith("part-"))
    return parts, sum(os.path.getsize(os.path.join(path, n)) for n in names)


def _sorted_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else v  # noqa: E731
    return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)


def _values_equal(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return x == y or math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    return x == y


def compare_rows(
    spark_cols: list[str], spark_rows: list[tuple], oracle_cols: list[str], oracle_rows: list[tuple]
) -> list[str]:
    """Compare a query result with its oracle's the way the repository's
    oracle tests do: same column names, same row count, and equal rows
    after sorting columns by name and rows by value (floats within
    1e-9)."""
    if sorted(spark_cols) != sorted(oracle_cols):
        return [f"columns {sorted(spark_cols)} != {sorted(oracle_cols)}"]
    if len(spark_rows) != len(oracle_rows):
        return [f"{len(spark_rows)} rows, oracle has {len(oracle_rows)}"]
    bad = sum(
        1
        for a, b in zip(_sorted_rows(spark_cols, spark_rows), _sorted_rows(oracle_cols, oracle_rows))
        if len(a) != len(b) or not all(_values_equal(x, y) for x, y in zip(a, b))
    )
    return [f"{bad} rows differ from the oracle"] if bad else []


def oracle_results(data_dir: str, oracles: dict[str, str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """Run each oracle SQL on DuckDB over the parquet tables in
    ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in sorted(os.listdir(data_dir)):
            if name.endswith(".parquet"):
                table = name[: -len(".parquet")]
                path = os.path.join(data_dir, name)
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for query, sql in oracles.items():
            res = con.execute(sql)
            out[query] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def check_admissions(manifest: list[tuple[int, int]], expected: dict[int, set[int]]) -> list[int]:
    """Batch ids whose admitted documents differ from the planted truth."""
    got: dict[int, set[int]] = {b: set() for b in expected}
    for doc_id, batch in manifest:
        got.setdefault(batch, set()).add(doc_id)
    return sorted(b for b in got.keys() | expected.keys() if got.get(b) != expected.get(b))
