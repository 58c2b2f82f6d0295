"""Compatibility-surface tests: the reference CLI contract and the
generalized mapper/reducer shim."""

from __future__ import annotations

import re
from collections import Counter
from pathlib import Path

import pytest

from hadoop_map_reduce_spark.compat import map_reduce, run_bigram_job
from hadoop_map_reduce_spark.functions.hashing import hadoop_partition

ZUNI = Path("/root/reference/src/main/resources/sample/zuni.txt")
PARITY = Path(__file__).parent / "data" / "bigram_parity.txt"


def test_map_reduce_shim_wordcount(spark):
    df = spark.createDataFrame(
        [("a b a",), ("b c",), ("",)], ["text"]
    )

    def mapper(row):
        for tok in row["text"].split():
            yield tok, 1

    got = dict(map_reduce(df, mapper, lambda a, b: a + b).collect())
    assert got == {"a": 2, "b": 2, "c": 1}


def test_map_reduce_sorted_secondary_sort(spark, sf_dir):
    """Hadoop secondary sort: the reducer's value iterator is sorted per
    key, streamed (never a per-key list), and matches a pure-Python
    recomputation over the same rows."""
    from hadoop_map_reduce_spark.compat import map_reduce_sorted
    from hadoop_map_reduce_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")

    def mapper(row):
        yield row["user_id"], row["event_id"]

    def reducer(key, values):
        head = []
        n = 0
        prev = None
        for v in values:
            assert prev is None or v >= prev  # sorted contract
            prev = v
            if n < 3:
                head.append(v)
            n += 1
        return (tuple(head), n)

    got = dict(map_reduce_sorted(ev, mapper, reducer, num_partitions=8).collect())

    want: dict[int, list[int]] = {}
    for r in ev.collect():
        want.setdefault(r["user_id"], []).append(r["event_id"])
    assert got == {
        k: (tuple(sorted(v)[:3]), len(v)) for k, v in want.items()
    }


@pytest.mark.skipif(not ZUNI.exists(), reason="reference fixture missing")
def test_bigram_job_output_contract(spark, tmp_path):
    """Same CLI contract as `hadoop jar bigram.jar WordCountV2 <in> <out>`:
    32 sorted part files, k\\tv lines, _SUCCESS, Hadoop hash layout."""
    out = tmp_path / "bigram_out"
    run_bigram_job(spark, str(ZUNI), str(out))

    assert (out / "_SUCCESS").exists()
    parts = sorted(out.glob("part-*"))
    assert len(parts) == 32

    total = Counter()
    line_re = re.compile(r"^[^\t]+\t\d+$")
    for pid, p in enumerate(parts):
        lines = p.read_text(encoding="utf-8").splitlines()
        keys = []
        for line in lines:
            assert line_re.match(line), f"bad line format: {line!r}"
            k, v = line.split("\t")
            keys.append(k)
            total[k] += int(v)
        assert keys == sorted(keys)  # per-partition sort (O10)
        assert all(hadoop_partition(k, 32) == pid for k in keys[:200])

    # Output invariants shared with the golden artifacts (SURVEY.md §2.3):
    # ASCII-only keys, '+' separator, Zipf head of+the on this corpus.
    assert all(k.isascii() for k in total)
    assert total["of+the"] == max(total.values())
    assert sum(total.values()) > 100_000


def test_bigram_job_parity_fixture(spark, tmp_path):
    """The reference's output contract on a committed fixture (non-ASCII,
    ``_``-joined, punctuation-only, blank and one-token lines): 32 parts
    plus _SUCCESS, each sorted, each key in its Text.hashCode % 32 file,
    and counts equal to a pure-Python ``([^\\s\\w]|_)+`` (ASCII) recount."""
    lines = PARITY.read_text(encoding="utf-8").split("\n")
    expected = Counter()
    for line in lines:
        toks = re.sub(r"([^\s\w]|_)+", " ", line, flags=re.ASCII).lower().split()
        expected.update(f"{a}+{b}" for a, b in zip(toks, toks[1:]))

    out = tmp_path / "bigram_out"
    run_bigram_job(spark, str(PARITY), str(out))

    names = sorted(p.name for p in out.iterdir() if not p.name.startswith("."))
    assert names == ["_SUCCESS"] + [f"part-{i:05d}" for i in range(32)]
    got = Counter()
    for pid in range(32):
        kv = [line.split("\t") for line in (out / f"part-{pid:05d}").read_text(encoding="utf-8").splitlines()]
        keys = [k for k, _ in kv]
        assert keys == sorted(keys)
        assert all(hadoop_partition(k, 32) == pid for k in keys)
        for k, v in kv:
            assert k not in got, k
            got[k] = int(v)
    assert got == expected
    # The ASCII sanitizer splits words at ñ/é and drops 日本 entirely.
    assert all(k.isascii() for k in got)
    assert {"pi+on", "se+or", "hominy+stew"} <= got.keys()


def test_run_cli_lists_and_runs(spark, sf_dir, capsys):
    """The registry CLI: 'list' names every query; running one prints a
    header + rows. The CLI's get_spark() applies its default confs to
    the live session (getOrCreate semantics) — restore the fixture's
    shuffle sizing afterwards so later tests see their configured
    session."""
    from hadoop_map_reduce_spark.plans import REGISTRY
    from hadoop_map_reduce_spark.run import main

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert main(["list"]) == 0
        out = capsys.readouterr().out
        for name in list(REGISTRY)[:3]:
            assert name in out

        assert main(["wordcount", sf_dir, "--limit", "5"]) == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert out[0].split("\t") == ["word", "cnt"]
        assert 1 < len(out) <= 6
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_run_cli_sql_front_door(spark, sf_dir, capsys):
    """`run sql \"<stmt>\"` registers every table as a view and executes
    free-form Spark SQL — the ad-hoc complement to the named registry."""
    from hadoop_map_reduce_spark.run import main

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rc = main([
            "sql",
            "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
            "GROUP BY 1 ORDER BY 1",
            sf_dir,
        ])
        assert rc == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert out[0].split("\t") == ["l_returnflag", "n"]
        assert len(out) == 4  # A/N/R + header
        # a named query with an explicit sf_dir still binds positionally
        assert main(["wordcount", sf_dir, "--limit", "2"]) == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
