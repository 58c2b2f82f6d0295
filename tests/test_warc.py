"""WARC source (ISO 28500): pure-python parser pins, gzip multi-member
handling, corrupt-archive contract, and the Spark DataSource roundtrip
with archive/type pushdown."""

from __future__ import annotations

import gzip
import os

import pytest

from hadoop_map_reduce_spark.sources.warc import (
    build_warc_record,
    parse_warc,
)


def _rec(i: int, body: bytes, wtype: str = "response") -> bytes:
    return build_warc_record(
        body,
        record_id=f"urn:test:{i}",
        warc_type=wtype,
        target_uri=f"https://x/{i}",
        content_type="text/plain",
    )


def test_parser_roundtrip_multiple_records():
    data = _rec(1, b"hello") + _rec(2, b"") + _rec(3, b"a\r\n\r\nb")
    rows = list(parse_warc(data, "t.warc"))
    assert [(r[1], r[2], r[3], r[5], r[6]) for r in rows] == [
        ("urn:test:1", "response", "https://x/1", 5, b"hello"),
        ("urn:test:2", "response", "https://x/2", 0, b""),
        # payload containing the record separator must NOT split the
        # record — Content-Length framing, not delimiter scanning
        ("urn:test:3", "response", "https://x/3", 6, b"a\r\n\r\nb"),
    ]


def test_parser_rejects_truncation_and_garbage():
    good = _rec(1, b"hello world")
    with pytest.raises(ValueError, match="truncated payload"):
        list(parse_warc(good[:-10], "t.warc"))
    with pytest.raises(ValueError, match="version line"):
        list(parse_warc(b"HTTP/1.1 200 OK\r\n\r\n", "t.warc"))
    no_len = good.replace(b"Content-Length: 11\r\n", b"")
    with pytest.raises(ValueError, match="Content-Length"):
        list(parse_warc(no_len, "t.warc"))


def test_parser_rejects_negative_and_nonnumeric_length():
    """ADVICE r6 (high): a negative Content-Length made body_end == pos
    and the parse loop re-read the same bytes forever. Must raise, not
    hang — and the error must be catchable by skipCorrupt."""
    evil = b"WARC/1.0\r\nContent-Length: -33\r\n\r\nxxxxxxxx"
    with pytest.raises(ValueError, match="invalid Content-Length"):
        list(parse_warc(evil, "t.warc"))
    for bad in (b"+3", b"3.0", b"0x10", b"\xd9\xa3"):  # ٣ = Arabic 3
        blob = b"WARC/1.0\r\nContent-Length: " + bad + b"\r\n\r\nxxxx"
        with pytest.raises(ValueError, match="Content-Length"):
            list(parse_warc(blob, "t.warc"))
    # plain zero stays valid
    ok = b"WARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    assert len(list(parse_warc(ok, "t.warc"))) == 1


def test_builder_rejects_crlf_header_injection():
    """ADVICE r6: CR/LF in a header value injects header lines or
    truncates the header block — refuse at build time."""
    for uri in ("https://x/\r\nWARC-Type: evil", "a\rb", "a\nb"):
        with pytest.raises(ValueError, match="CR/LF"):
            build_warc_record(
                b"x", record_id="urn:t:1", target_uri=uri
            )
    with pytest.raises(ValueError, match="CR/LF"):
        build_warc_record(b"x", record_id="urn:\r\n:1")


def test_gzip_member_per_record_concatenation(tmp_path):
    """The Common Crawl .warc.gz layout: each record its own gzip
    member, members concatenated — the reader must see every record."""
    from hadoop_map_reduce_spark.sources.warc import _read_archive_bytes

    path = tmp_path / "cc.warc.gz"
    with open(path, "wb") as fh:
        for i in range(3):
            fh.write(gzip.compress(_rec(i, f"body{i}".encode()), mtime=0))
    rows = list(parse_warc(_read_archive_bytes(str(path)), str(path)))
    assert [r[6] for r in rows] == [b"body0", b"body1", b"body2"]


def test_datasource_roundtrip_and_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from hadoop_map_reduce_spark.sources.warc import (
        register_warc_datasource,
    )

    register_warc_datasource(spark)
    rows = [
        (f"urn:test:{i}", "response" if i % 2 else "metadata",
         f"https://x/{i}", "text/plain", f"payload {i}".encode())
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows,
        "record_id string, warc_type string, target_uri string, "
        "content_type string, content binary",
    )
    out = str(tmp_path / "warcs")
    df.repartition(3).write.format("warcrecords").mode("append").save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))

    back = spark.read.format("warcrecords").load(out + "/*.warc.gz")
    got = sorted(
        (r["record_id"], r["warc_type"], r["target_uri"],
         r["size"], bytes(r["content"]))
        for r in back.collect()
    )
    want = sorted(
        (rid, t, uri, len(c), c) for rid, t, uri, _ct, c in rows
    )
    assert got == want

    # warc_type pushdown prunes records inside the reader
    resp = back.filter(F.col("warc_type") == "response")
    assert resp.count() == 5
    # archive pushdown prunes whole files before I/O
    one = sorted(r["archive"] for r in back.select("archive").collect())[0]
    assert (
        back.filter(F.col("archive") == one).select("archive").distinct()
        .count() == 1
    )


def test_writer_empty_dataframe_commits(spark, tmp_path):
    """ADVICE r6: all-empty partitions meant commit() hit a missing
    directory — an empty DataFrame must still produce _SUCCESS."""
    from hadoop_map_reduce_spark.sources.warc import (
        register_warc_datasource,
    )

    register_warc_datasource(spark)
    schema = (
        "record_id string, warc_type string, target_uri string, "
        "content_type string, content binary"
    )
    out = str(tmp_path / "empty_out")
    spark.createDataFrame([], schema).write.format("warcrecords").mode(
        "append"
    ).save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not [
        f for f in os.listdir(out) if f.endswith(".warc.gz")
    ]


def test_writer_overwrite_clears_stale_parts(spark, tmp_path):
    """ADVICE r6: mode('overwrite') left stale part-*.warc.gz mixed
    with new output. Overwrite must clear them driver-side."""
    from hadoop_map_reduce_spark.sources.warc import (
        register_warc_datasource,
    )

    register_warc_datasource(spark)
    schema = (
        "record_id string, warc_type string, target_uri string, "
        "content_type string, content binary"
    )

    def write(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.format(
            "warcrecords"
        ).mode(mode).save(out)

    out = str(tmp_path / "ow")
    write([("urn:a:1", "response", "https://a", "text/plain", b"old")],
          "append")
    write([("urn:b:2", "response", "https://b", "text/plain", b"new")],
          "overwrite")
    back = spark.read.format("warcrecords").load(out + "/*.warc.gz")
    assert [bytes(r["content"]) for r in back.collect()] == [b"new"]
    # append after overwrite keeps both
    write([("urn:c:3", "response", "https://c", "text/plain", b"add")],
          "append")
    got = sorted(
        bytes(r["content"])
        for r in spark.read.format("warcrecords")
        .load(out + "/*.warc.gz").collect()
    )
    assert got == [b"add", b"new"]


def test_failed_overwrite_preserves_previous_output(spark, tmp_path):
    """r7 review: overwrite must clear stale parts at COMMIT time, not
    at writer construction — a failing overwrite job (here: a CR/LF
    header value that build_warc_record rejects mid-task) must leave
    the previously committed archive fully readable."""
    from hadoop_map_reduce_spark.sources.warc import (
        register_warc_datasource,
    )

    register_warc_datasource(spark)
    schema = (
        "record_id string, warc_type string, target_uri string, "
        "content_type string, content binary"
    )
    out = str(tmp_path / "fow")
    spark.createDataFrame(
        [("urn:a:1", "response", "https://a", "text/plain", b"keepme")],
        schema,
    ).coalesce(1).write.format("warcrecords").mode("append").save(out)

    bad = spark.createDataFrame(
        [("urn:b:2", "response", "https://b\r\nWARC-Type: evil",
          "text/plain", b"boom")],
        schema,
    )
    with pytest.raises(Exception, match="CR/LF"):
        bad.coalesce(1).write.format("warcrecords").mode(
            "overwrite"
        ).save(out)
    back = spark.read.format("warcrecords").load(out + "/*.warc.gz")
    assert [bytes(r["content"]) for r in back.collect()] == [b"keepme"]
    from hadoop_map_reduce_spark.sources.warc import (
        register_warc_datasource,
    )

    register_warc_datasource(spark)
    good_dir = tmp_path / "w"
    good_dir.mkdir()
    with open(good_dir / "good.warc.gz", "wb") as fh:
        fh.write(gzip.compress(_rec(1, b"fine"), mtime=0))
    with open(good_dir / "bad.warc.gz", "wb") as fh:
        fh.write(b"not gzip at all")

    pattern = str(good_dir / "*.warc.gz")
    with pytest.raises(Exception, match="corrupt WARC archive"):
        spark.read.format("warcrecords").load(pattern).collect()
    ok = (
        spark.read.format("warcrecords")
        .option("skipCorrupt", True)
        .load(pattern)
        .collect()
    )
    assert [bytes(r["content"]) for r in ok] == [b"fine"]


def test_parser_fuzz_never_hangs_or_misframes():
    """Hypothesis-grade fuzz without Spark: (a) build->parse roundtrip
    over random header values and payloads (including separator bytes
    and high bytes), (b) random garbage either raises ValueError or
    yields correctly framed records — never loops forever or returns
    payloads that disagree with Content-Length."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(
        st.binary(max_size=200),
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters="\r\n"
            ),
            max_size=40,
        ),
    )
    def roundtrip(payload, uri):
        data = build_warc_record(
            payload, record_id="urn:f:1", warc_type="response",
            target_uri=uri or None, content_type=None,
        )
        rows = list(parse_warc(data, "f"))
        assert len(rows) == 1
        assert bytes(rows[0][6]) == payload
        assert rows[0][5] == len(payload)
        # header values are whitespace-stripped per spec
        assert rows[0][3] == (uri.strip() if uri else None)

    @settings(max_examples=150, deadline=None)
    @given(st.binary(max_size=300))
    def garbage(blob):
        try:
            rows = list(parse_warc(blob, "g"))
        except ValueError:
            return
        for r in rows:
            assert r[5] == len(r[6])

    roundtrip()
    garbage()


def test_stream_crawl_extract_outside_repo_root(sf_dir, tmp_path):
    """The streaming WARC query matches its oracle when the driver runs
    from another directory. The streaming-source runner unpickles the
    source in a worker that cannot import the package by name, so the
    source must travel by value. The repo goes on ``sys.path`` inside
    the child, not on ``PYTHONPATH``: the JVM hands that variable on to
    its Python workers, which would hide the failure."""
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from hadoop_map_reduce_spark import get_spark\n"
        "from tests.oracle_utils import compare_query\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=4)\n"
        f"compare_query(spark, {sf_dir!r}, 'stream_crawl_extract')\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
