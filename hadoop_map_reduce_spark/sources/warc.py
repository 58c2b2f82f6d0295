"""WARC (Web ARChive, ISO 28500) as a registered Spark data source.

THE ingestion format of LLM web corpora (Common Crawl publishes ~100 TB
per crawl as ``.warc.gz``), implemented from the public spec the same
way the ZIP source re-expresses the reference's InputFormat/RecordReader
pair (SURVEY.md §2 O3) through the PySpark 4 ``pyspark.sql.datasource``
API:

    register_warc_datasource(spark)
    df = spark.read.format("warcrecords").load("/crawl/*.warc.gz")

Rows: ``(archive, record_id, warc_type, target_uri, content_type,
size, content)``.

Format essentials (WARC/1.0): each record is a ``WARC/1.0\\r\\n``
version line, ``Name: value\\r\\n`` headers, a blank line, exactly
``Content-Length`` payload bytes, then a ``\\r\\n\\r\\n`` separator.
The ``.warc.gz`` convention compresses EACH RECORD as its own gzip
member, concatenated — readers that want random access seek to member
boundaries; a streaming reader (this one) just decompresses the
concatenation (Python's ``GzipFile`` consumes multi-member streams
natively).

Scale shape: one input partition per archive file, planned from the
driver-side glob only (no data bytes touched at planning); Common
Crawl sizes archives at ~1 GB exactly so that per-archive tasks are
well-shaped. Filter pushdown prunes whole archives for ``archive``
equality/IN predicates before any I/O and skips non-matching
``warc_type`` records before their payload is materialized into a row.
The writer emits one ``.warc.gz`` per non-empty partition
(record-per-member, the Common Crawl layout) plus ``_SUCCESS`` —
giving the engine a complete corpus-format roundtrip that
``warc_roundtrip_census`` pins against a DuckDB oracle.
"""

from __future__ import annotations

import glob
import gzip
import io
import json
import os
import uuid
from collections.abc import Iterable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    Filter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    Row,
    StringType,
    StructField,
    StructType,
)

from hadoop_map_reduce_spark.sources.zip_datasource import _accepted_values

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("archive", StringType(), nullable=False),
        StructField("record_id", StringType(), nullable=False),
        StructField("warc_type", StringType(), nullable=False),
        StructField("target_uri", StringType(), nullable=True),
        StructField("content_type", StringType(), nullable=True),
        StructField("size", LongType(), nullable=False),
        StructField("content", BinaryType(), nullable=False),
    ]
)

_CRLF = b"\r\n"
_SEP = b"\r\n\r\n"
# Deterministic timestamp for written records: WARC-Date is mandatory
# per spec but a wall-clock value would make byte-identical reruns
# impossible (the zip writer has the same determinism stance).
_FIXED_DATE = "2000-01-01T00:00:00Z"


def build_warc_record(
    payload: bytes,
    record_id: str,
    warc_type: str = "response",
    target_uri: str | None = None,
    content_type: str | None = None,
) -> bytes:
    """Serialize ONE WARC/1.0 record (header block + payload + record
    separator). Pure function of its inputs — reruns are byte-identical."""
    headers = [
        ("WARC-Type", warc_type),
        ("WARC-Record-ID", f"<{record_id}>"),
        ("WARC-Date", _FIXED_DATE),
        ("Content-Length", str(len(payload))),
    ]
    if target_uri is not None:
        headers.insert(2, ("WARC-Target-URI", target_uri))
    if content_type is not None:
        headers.append(("Content-Type", content_type))
    for k, v in headers:
        # CR/LF in a header value would inject header lines or terminate
        # the header block early — a misframed archive the strict parser
        # then rejects. Refuse at build time (mirrors the parser's
        # strictness stance).
        if "\r" in v or "\n" in v:
            raise ValueError(
                f"WARC header {k} value contains CR/LF: {v!r}"
            )
    head = b"WARC/1.0" + _CRLF
    head += b"".join(
        f"{k}: {v}".encode("utf-8") + _CRLF for k, v in headers
    )
    return head + _CRLF + payload + _SEP


def parse_warc(data: bytes, archive: str) -> Iterator[tuple]:
    """Iterate ``WARC_RECORD_SCHEMA`` tuples out of a decompressed WARC
    byte stream. Strict: a malformed version line, missing
    Content-Length, or truncated payload raises ``ValueError`` naming
    the archive and byte offset (callers opt into skipping corrupt
    archives, never silently truncated ones)."""
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate extra separator padding between records
        while pos < n and data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return
        head_end = data.find(_SEP, pos)
        if head_end < 0:
            raise ValueError(
                f"{archive}: unterminated WARC header block at byte {pos}"
            )
        head = data[pos:head_end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(
                f"{archive}: expected WARC/1.x version line at byte "
                f"{pos}, got {lines[0][:40]!r}"
            )
        fields: dict[str, str] = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        if "content-length" not in fields:
            raise ValueError(
                f"{archive}: record at byte {pos} has no Content-Length"
            )
        # ASCII-digits-only: a negative Content-Length (e.g. -33) would
        # make body_end == pos and spin this loop forever on the same
        # bytes; int() alone accepts "-33", "+3", "٣" — reject them all.
        raw_length = fields["content-length"]
        if not (raw_length.isascii() and raw_length.isdigit()):
            raise ValueError(
                f"{archive}: record at byte {pos} has invalid "
                f"Content-Length {raw_length!r}"
            )
        length = int(raw_length)
        body_start = head_end + len(_SEP)
        body_end = body_start + length
        if body_end > n:
            raise ValueError(
                f"{archive}: truncated payload at byte {body_start} "
                f"(need {length} bytes, have {n - body_start})"
            )
        payload = data[body_start:body_end]
        record_id = fields.get("warc-record-id", "").strip("<>")
        yield (
            archive,
            record_id,
            fields.get("warc-type", ""),
            fields.get("warc-target-uri"),
            fields.get("content-type"),
            len(payload),
            payload,
        )
        pos = body_end


def _read_archive_bytes(path: str) -> bytes:
    if path.endswith(".gz"):
        # GzipFile consumes concatenated members (the record-per-member
        # .warc.gz convention) as one stream.
        with gzip.open(path, "rb") as fh:
            return fh.read()
    with open(path, "rb") as fh:
        return fh.read()


class WarcArchivePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WarcRecordReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError(
                "warcrecords source requires a path, e.g. "
                ".load('/crawl/*.warc.gz')"
            )
        self.pattern = path
        self.skip_corrupt = str(
            options.get("skipcorrupt", "false")
        ).lower() in ("true", "1")
        self.archive_accept: set | None = None
        self.type_accept: set | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        self.archive_accept, used_a = _accepted_values(filters, "archive")
        self.type_accept, used_t = _accepted_values(filters, "warc_type")
        consumed = set(map(id, used_a + used_t))
        return [f for f in filters if id(f) not in consumed]

    def partitions(self) -> Sequence[InputPartition]:
        paths = sorted(glob.glob(self.pattern))
        if not paths and not glob.has_magic(self.pattern):
            raise FileNotFoundError(self.pattern)
        if self.archive_accept is not None:
            paths = [p for p in paths if p in self.archive_accept]
        return [WarcArchivePartition(p) for p in paths]

    def read(self, partition: WarcArchivePartition) -> Iterator[tuple]:
        try:
            data = _read_archive_bytes(partition.path)
            records = list(parse_warc(data, partition.path))
        except (ValueError, OSError, gzip.BadGzipFile) as exc:
            if self.skip_corrupt:
                return
            raise ValueError(
                f"corrupt WARC archive: {partition.path}: {exc} "
                "(set .option('skipCorrupt', True) to drop bad archives)"
            ) from None
        for rec in records:
            if (
                self.type_accept is not None
                and rec[2] not in self.type_accept
            ):
                continue
            yield rec


class WarcCommit(WriterCommitMessage):
    def __init__(self, path: str, records: int):
        self.path = path
        self.records = records


class WarcWriter(DataSourceWriter):
    """One ``.warc.gz`` per non-empty partition, each record its own
    gzip member (the Common Crawl layout), ``_SUCCESS`` on commit —
    the same sink contract as the text and zip sinks (SURVEY.md O13).

    Precondition (shared with the text/zip sinks): ONE writer job per
    target directory at a time. Overwrite-commit deletes every
    ``part-*.warc.gz`` not named in this job's commit messages, so a
    concurrent writer's freshly committed parts would read as stale
    and be removed. Serialize jobs (or give each its own directory) —
    the same rule HDFS output committers impose."""

    def __init__(self, options: dict, overwrite: bool):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("warcrecords writer requires a target directory")
        self.overwrite = overwrite

    def write(self, iterator: Iterator[Row]) -> WarcCommit:
        part = os.path.join(self.dir, f"part-{uuid.uuid4().hex}.warc.gz")
        buf = io.BytesIO()
        n = 0
        for row in iterator:
            record = build_warc_record(
                bytes(row.content),
                record_id=row.record_id,
                warc_type=row.warc_type,
                target_uri=row.target_uri,
                content_type=row.content_type,
            )
            # mtime=0 keeps the gzip member byte-deterministic
            buf.write(gzip.compress(record, mtime=0))
            n += 1
        if n == 0:
            return WarcCommit("", 0)
        os.makedirs(self.dir, exist_ok=True)
        with open(part, "wb") as fh:
            fh.write(buf.getvalue())
        return WarcCommit(part, n)

    def commit(self, messages: list[WarcCommit | None]) -> None:
        # write() only makedirs for non-empty partitions; an all-empty
        # DataFrame must still produce an empty committed directory.
        os.makedirs(self.dir, exist_ok=True)
        if self.overwrite:
            # Overwrite clears stale parts HERE — after every task has
            # succeeded — never at planning time: a failed overwrite job
            # must leave the previous committed output intact (deleting
            # in __init__ would destroy it before a single new byte was
            # durably written). New-run parts are uuid-named and listed
            # in the commit messages; anything else is stale.
            keep = {
                os.path.basename(m.path)
                for m in messages
                if m is not None and m.path
            }
            for name in os.listdir(self.dir):
                if (
                    name.startswith("part-")
                    and name.endswith(".warc.gz")
                    and name not in keep
                ):
                    os.remove(os.path.join(self.dir, name))
        with open(os.path.join(self.dir, "_SUCCESS"), "w"):
            pass

    def abort(self, messages: list[WarcCommit | None]) -> None:
        for m in messages:
            if m is not None and m.path and os.path.exists(m.path):
                os.remove(m.path)


class WarcStreamReader(DataSourceStreamReader):
    """Micro-batch crawl ingestion: discover newly arrived ``.warc.gz``
    archives each trigger and emit their records — the streaming twin
    of ``WarcRecordReader`` (VERDICT r7 #6), same per-archive partition
    shape, same strict parser.

    Offsets are the sorted list of archive paths admitted so far (the
    same file-discovery model as Spark's built-in FileStreamSource);
    ``partitions(start, end)`` is the set difference, one partition per
    newly admitted archive, so replay from a checkpoint re-reads
    exactly the unprocessed archives and never re-emits committed ones.
    ``maxFilesPerTrigger`` caps admission per micro-batch (arrival
    order = lexicographic path order, matching Common Crawl's
    timestamped archive names), EXCEPT the instance's first trigger,
    which admits the full backlog to keep offsets monotonic across
    restarts (see the invariant note in ``__init__``). At 100 TB the
    offset list is the analogue of the file-source's compacted log:
    O(archives), metadata only, never payload bytes.

    Preconditions (both shared with Spark's own file stream source):
    archives must be written atomically (write to a temp name, rename
    in) — ``skipCorrupt`` on a STREAM would otherwise turn a
    half-written archive into a permanent silent skip, because the
    file is admitted into the committed offset by name and never
    re-read; without ``skipCorrupt`` a truncated archive fails the
    batch and is retried, which is the safe default. And archives must
    never be deleted from a live source directory.
    """

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError(
                "warcrecords stream requires a path, e.g. "
                ".load('/crawl/*.warc.gz')"
            )
        self.pattern = path
        self.skip_corrupt = str(
            options.get("skipcorrupt", "false")
        ).lower() in ("true", "1")
        self.max_files = int(options.get("maxfilespertrigger", "0"))
        # Admission high-water mark. The Python API's latestOffset()
        # takes no start argument, so the cap is applied against the
        # last offset THIS instance saw: offsets it returned, plus the
        # checkpointed start offsets observed via partitions().
        #
        # Monotonicity invariant: every offset this reader returns must
        # be a SUPERSET of any offset the engine may have committed.
        # A capped latestOffset() on a FRESH instance would violate it
        # (it doesn't know the checkpoint yet, and the engine durably
        # logs the regressed end BEFORE partitions() runs — the next
        # batch would then re-emit the difference as duplicates), so
        # the first call of each instance returns the full glob,
        # uncapped; maxFilesPerTrigger throttles from the second
        # trigger on. Archives must never be deleted from a live
        # source directory (the same invariant Spark's file source
        # imposes).
        #
        # admissionLog (round-9, ADVICE r8 #3): the uncapped first call
        # exists only because a fresh instance cannot see the committed
        # offset. ``.option("admissionLog", path)`` persists every
        # admission THIS source makes (append-only JSON lines, written
        # BEFORE the offset is returned, so the log is always a
        # superset of anything the engine committed). A restarted
        # instance primes its high-water mark from the log and can
        # therefore throttle from its very first trigger — restarts
        # against a large backlog stay both monotonic AND capped. If
        # the log is configured but absent (brand-new stream, or lost
        # log), the reader falls back to the documented uncapped first
        # call: a superset never breaks correctness, a lost log only
        # costs one big batch.
        #
        # Contract (round-10, ADVICE r9 #2): admissionLog is IMMUTABLE
        # for the life of the checkpoint, like the path pattern —
        # always on with the same path, or never on. A batch that runs
        # with the log disabled (or pointed elsewhere) leaves admissions
        # the log never saw; a later instance priming from that log can
        # then return a capped first offset that is NOT a superset of
        # the committed offset. The offset-level invariant can only be
        # violated by breaking the contract, but partitions() below
        # additionally tracks every committed start it has seen and
        # refuses to RE-EMIT a committed archive even when handed such
        # a regressed (start, end) pair — so a contract breach degrades
        # to a one-batch non-superset offset in the engine's log, never
        # to duplicate records downstream.
        self._known: set[str] = set()
        # Union of every committed start offset partitions() has seen:
        # a file in here was durably processed, so it must never be
        # emitted again by THIS instance even if a regressed offset
        # (admissionLog contract breach, see above) hands it back in a
        # later batch's end-minus-start difference.
        self._committed: set[str] = set()
        self._admission_log = options.get("admissionlog")
        self._first_call = True
        if self._admission_log and os.path.exists(self._admission_log):
            torn = False
            with open(self._admission_log) as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        self._known.update(json.loads(line))
                    except ValueError:
                        # A crash mid-append leaves one torn final
                        # line. Keep the parsed prefix (a subset of
                        # admissions — always safe to know) but fall
                        # back to the uncapped first call: a torn log
                        # costs one big batch, never a wedged stream
                        # or a regressed offset.
                        torn = True
                        break
            self._first_call = torn

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        new = [
            p
            for p in sorted(glob.glob(self.pattern))
            if p not in self._known
        ]
        if self.max_files > 0 and not self._first_call:
            new = new[: self.max_files]
        self._first_call = False
        self._known |= set(new)
        if self._admission_log and new:
            # Logged BEFORE the engine sees the offset: the log is a
            # superset of every committable offset by construction.
            with open(self._admission_log, "a") as fh:
                fh.write(json.dumps(sorted(new)) + "\n")
        return {"files": sorted(self._known)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        seen = set(start["files"])
        # Learn BOTH checkpointed offsets (relevant after a restart,
        # where this instance never returned either itself): start is
        # committed, end is durably logged — each is a floor the next
        # returned offset must cover. Once learned, capping is
        # monotonicity-safe, so a restart that replays an uncommitted
        # batch throttles from its next trigger even without an
        # admission log.
        learned = (seen | set(end["files"])) - self._known
        if learned and self._admission_log:
            # The log must stay a superset of every committable
            # offset, including files this instance learned FROM the
            # checkpoint rather than admitted itself — otherwise a
            # later instance priming from the log could return a
            # non-superset offset and re-emit committed archives.
            with open(self._admission_log, "a") as fh:
                fh.write(json.dumps(sorted(learned)) + "\n")
        self._known |= learned
        self._committed |= seen
        if seen:
            self._first_call = False
        # end - start is the batch; the _committed filter additionally
        # drops files a regressed offset would replay (possible only
        # when the admissionLog immutability contract was broken — see
        # __init__). Files this batch emits are NOT marked committed
        # (only start offsets are), so a legitimate replay of the same
        # (start, end) pair re-emits identically.
        return [
            WarcArchivePartition(p)
            for p in end["files"]
            if p not in seen and p not in self._committed
        ]

    def read(self, partition: WarcArchivePartition) -> Iterator[tuple]:
        try:
            data = _read_archive_bytes(partition.path)
            records = list(parse_warc(data, partition.path))
        except (ValueError, OSError, gzip.BadGzipFile) as exc:
            if self.skip_corrupt:
                return
            raise ValueError(
                f"corrupt WARC archive: {partition.path}: {exc} "
                "(set .option('skipCorrupt', True) to drop bad archives)"
            ) from None
        yield from records

    def commit(self, end: dict) -> None:
        # Nothing to clean up: archives are immutable inputs and the
        # offset itself is the durable progress record.
        pass


def register_warc_datasource(spark) -> None:
    """Register the source and enable Python-source filter pushdown
    (same runtime-settable conf gate as the zip source)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WarcDataSource)


class WarcDataSource(DataSource):
    """``spark.read.format("warcrecords")`` /
    ``df.write.format("warcrecords")``. The writer consumes
    ``(record_id, warc_type, target_uri, content_type, content)``."""

    @classmethod
    def name(cls) -> str:
        return "warcrecords"

    def schema(self) -> StructType:
        return WARC_RECORD_SCHEMA

    def reader(self, schema: StructType) -> WarcRecordReader:
        return WarcRecordReader(self.options)

    def streamReader(self, schema: StructType) -> WarcStreamReader:
        return WarcStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> WarcWriter:
        return WarcWriter(self.options, overwrite)
