"""Sources (text, ZIP) and sinks (partitioned kv text) — reference parity.

Fixture strategy per SURVEY.md §5: the reference ships no tests, only golden
run artifacts; we pin (a) exact pipeline semantics vs an independent pure-
Python recomputation on zuni.txt, (b) the golden artifacts' partition-layout
invariants via the Hadoop Text.hashCode partitioner.
"""

from __future__ import annotations

import io
import random
import re
import zipfile
from collections import Counter
from pathlib import Path

import pytest

from hadoop_map_reduce_spark.functions.hashing import (
    hadoop_partition,
    hadoop_partition_col,
    hadoop_text_hash,
)
from hadoop_map_reduce_spark.operators.bigram import bigram_counts
from hadoop_map_reduce_spark.sinks import write_kv_text
from hadoop_map_reduce_spark.sources import read_text_lines, read_zip_entries
from hadoop_map_reduce_spark.sources.zip_source import read_zip_text_lines

ZUNI = Path("/root/reference/src/main/resources/sample/zuni.txt")
GOLDEN8 = Path("/root/reference/bigram_custom8")


def _python_bigrams(lines: list[str]) -> Counter:
    """Independent recomputation of WordCountV2 semantics (java ASCII classes)."""
    counts: Counter = Counter()
    for line in lines:
        s = re.sub(r"([^\s\w]|_)+", " ", line, flags=re.ASCII).lower()
        toks = s.split()
        if len(toks) < 2:
            continue
        for a, b in zip(toks, toks[1:]):
            counts[f"{a}+{b}"] += 1
    return counts


@pytest.mark.skipif(not ZUNI.exists(), reason="reference fixture missing")
def test_zuni_end_to_end(spark):
    """Full corpus through the engine == pure-Python reference semantics."""
    expected = _python_bigrams(ZUNI.read_text(encoding="utf-8").splitlines())

    df = read_text_lines(spark, str(ZUNI))
    got = {
        r["bigram"]: r["cnt"]
        for r in bigram_counts(df, text_col="value").collect()
    }
    assert got == dict(expected)
    # Sanitizer is ASCII-class: ñ separates, so all keys are pure ASCII
    # (invariant verified on the golden artifacts, SURVEY.md §2.3).
    assert all(k.isascii() for k in got)


@pytest.mark.skipif(not GOLDEN8.exists(), reason="reference artifacts missing")
def test_hadoop_partitioner_matches_golden_layout():
    """Keys in golden part-r-NNNNN hash to NNNNN under Text.hashCode%32."""
    for pid in (0, 5, 17, 31):
        path = GOLDEN8 / f"part-r-{pid:05d}"
        with path.open(encoding="utf-8") as f:
            keys = [line.split("\t", 1)[0] for line, _ in zip(f, range(2000))]
        assert keys, f"no keys read from {path}"
        assert all(hadoop_partition(k, 32) == pid for k in keys)


def test_hadoop_text_hash_signed_bytes():
    # Multi-byte UTF-8 exercises the signed-byte arithmetic.
    assert hadoop_partition("of+the", 32) == hadoop_partition("of+the", 32)
    for k in ("a", "of+the", "zuñi", "日本語", ""):
        h = hadoop_text_hash(k)
        assert -(1 << 31) <= h < (1 << 31)


def _adversarial_keys() -> list[str]:
    """Empty, ASCII, 2/3/4-byte UTF-8 (emoji included) and long keys."""
    alphabets = [
        "abcxyz+ _-.\t019",
        "éñßüΩжא",
        "日本語€中文한",
        "😀🎉𝄞🍞",
        "a\x00\x7f\x80ÿĀ\u07ff\u0800\uffff\U00010000\U0010ffff",
    ]
    rng = random.Random(7)
    keys = ["", " ", "a", "of+the", "zuñi", "日本語", "😀", "x" * 5000, "é" * 3000]
    for _ in range(400):
        chars = "".join(rng.sample(alphabets, rng.randint(1, len(alphabets))))
        keys.append("".join(rng.choice(chars) for _ in range(rng.randint(1, 40))))
    keys += ["".join(rng.choice(alphabets[2] + alphabets[3]) for _ in range(700)) for _ in range(5)]
    return keys


def test_hadoop_partition_col_matches_python(spark):
    """The SQL Text.hashCode partition id equals the Python oracle, in one
    Spark round trip over adversarial keys; a null key gives null."""
    from pyspark.sql import functions as F

    keys = _adversarial_keys()
    ns = (1, 7, 32)
    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)] + [(-1, None)], "i int, k string")
    rows = df.select("i", *[hadoop_partition_col(F.col("k"), n).alias(f"p{n}") for n in ns]).collect()
    got = {r["i"]: tuple(r[f"p{n}"] for n in ns) for r in rows}
    assert got.pop(-1) == (None, None, None)
    mismatched = [keys[i] for i, ids in got.items() if ids != tuple(hadoop_partition(keys[i], n) for n in ns)]
    assert len(got) == len(keys) and not mismatched, mismatched[:5]


def _mk_zip(path: Path, entries: dict[str, bytes]) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("subdir/", b"")  # dir entry: must be skipped
        for name, data in entries.items():
            zf.writestr(name, data)


def test_zip_source_roundtrip(spark, tmp_path):
    entries = {
        "a.txt": b"hello world\ngoodbye world",
        "subdir/b.txt": b"one two three",
        "empty.txt": b"",
    }
    zp = tmp_path / "corpus.zip"
    _mk_zip(zp, entries)

    df = read_zip_entries(spark, str(zp))
    rows = {r["entry"]: (r["size"], bytes(r["content"])) for r in df.collect()}
    # Exactly one record per file entry — no duplicate first entry
    # (reference bug NYUZInputFormat.java:30-37, fixed by design).
    assert set(rows) == set(entries)
    for name, data in entries.items():
        assert rows[name] == (len(data), data)

    lines = read_zip_text_lines(spark, str(zp))
    got = sorted(
        (r["entry"], r["line"]) for r in lines.collect() if r["entry"] == "a.txt"
    )
    assert got == [("a.txt", "goodbye world"), ("a.txt", "hello world")]


def test_zip_source_skip_corrupt(spark, tmp_path):
    _mk_zip(tmp_path / "good.zip", {"a.txt": b"hello"})
    (tmp_path / "bad.zip").write_bytes(b"not a zip at all")

    ok = read_zip_entries(spark, str(tmp_path / "*.zip"), skip_corrupt=True)
    assert [r["entry"] for r in ok.collect()] == ["a.txt"]

    strict = read_zip_entries(spark, str(tmp_path / "*.zip"))
    with pytest.raises(Exception, match="corrupt ZIP archive"):
        strict.collect()


def test_zip_source_multi_archive(spark, tmp_path):
    for i in range(3):
        _mk_zip(tmp_path / f"c{i}.zip", {f"doc{i}.txt": f"text {i}".encode()})
    df = read_zip_entries(spark, str(tmp_path / "*.zip"))
    assert df.count() == 3  # multi-path: reference read only path[0]


@pytest.mark.parametrize("hadoop_layout", [False, True])
def test_kv_text_sink(spark, tmp_path, hadoop_layout):
    docs = spark.createDataFrame(
        [(f"key{i:03d}", i) for i in range(200)], ["k", "n"]
    )
    out = tmp_path / ("hadoop" if hadoop_layout else "native")
    write_kv_text(
        docs, str(out), "k", "n", num_partitions=8, hadoop_layout=hadoop_layout
    )

    assert (out / "_SUCCESS").exists()
    parts = sorted(out.glob("part-*"))
    assert len(parts) == 8

    seen = {}
    for pid, p in enumerate(parts):
        lines = p.read_text().splitlines()
        kv = [tuple(line.split("\t")) for line in lines]
        keys = [k for k, _ in kv]
        assert keys == sorted(keys)  # per-partition sort (reference O10)
        if hadoop_layout:
            assert all(hadoop_partition(k, 8) == pid for k in keys)
        seen.update(dict(kv))
    # Partition completeness: concat of parts == full result.
    assert seen == {f"key{i:03d}": str(i) for i in range(200)}


@pytest.mark.parametrize("hadoop_layout", [False, True])
def test_kv_text_sink_overwrites_existing_dir(spark, tmp_path, hadoop_layout):
    """Both sink modes share the overwrite contract (round-1 advice: the
    RDD path threw FileAlreadyExistsException on re-run)."""
    docs = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "n"])
    out = tmp_path / "rewrite"
    for expect in (["a\t1", "b\t2"], ["a\t1", "b\t2"]):
        write_kv_text(
            docs, str(out), "k", "n", num_partitions=2,
            hadoop_layout=hadoop_layout,
        )
        lines = sorted(
            line
            for p in out.glob("part-*")
            for line in p.read_text().splitlines()
        )
        assert lines == expect


def test_sink_exact_partition_count_when_default_matches(spark, sf_dir, tmp_path):
    """Regression: when spark.sql.shuffle.partitions equals the sink's
    num_partitions and the upstream aggregate shuffles on the same key,
    the sink's repartition used to be elided and AQE coalesced the
    surviving exchange — 4 files instead of 32. The sink must hold its
    exactly-n contract under ANY session default."""
    from pyspark.sql import functions as F

    from hadoop_map_reduce_spark.sinks import write_kv_text

    # 50k distinct keys through the same shape as the bigram pipeline
    # (aggregate shuffling on the sink key).
    counts = (
        spark.range(200_000)
        .select(F.concat(F.lit("w"), (F.col("id") % 50_000)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        out = tmp_path / "kv"
        write_kv_text(counts, str(out), "w", "cnt", num_partitions=32)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(sorted(out.glob("part-*"))) == 32
    # And the sink leaves the session's AQE conf as it found it.
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )


@pytest.mark.parametrize("hadoop_layout", [False, True])
def test_kv_text_sink_exactly_n_parts_edge_cases(spark, tmp_path, hadoop_layout):
    """Both modes write exactly part-00000..part-{n-1} plus _SUCCESS for
    an empty and a one-row input; duplicate keys order by (key, value);
    a null value writes the key alone, as Hadoop TextOutputFormat does."""
    schema = "k string, v string"
    cases = {
        "empty": [],
        "one": [("solo", "1")],
        "dups": [("b", "2"), ("a", None), ("b", "10"), ("b", "1"), ("a", "x")],
    }
    written = {}
    for name, rows in cases.items():
        out = tmp_path / name
        write_kv_text(
            spark.createDataFrame(rows, schema), str(out), "k", "v",
            num_partitions=5, hadoop_layout=hadoop_layout,
        )
        names = sorted(p.name for p in out.iterdir() if not p.name.startswith("."))
        assert names == ["_SUCCESS"] + [f"part-{i:05d}" for i in range(5)], name
        written[name] = [
            line
            for i in range(5)
            for line in (out / f"part-{i:05d}").read_text().splitlines()
        ]
    assert written["empty"] == []
    assert written["one"] == ["solo\t1"]
    # Nulls sort first; values compare as strings ("10" < "2").
    by_key = {}
    for line in written["dups"]:
        by_key.setdefault(line.split("\t")[0], []).append(line)
    assert by_key == {"a": ["a", "a\tx"], "b": ["b\t1", "b\t10", "b\t2"]}
