"""Streaming near-dup admission (streaming/neardup.py): foreachBatch
replay idempotency, store bookkeeping, and blocking-plan shape. The
end-to-end stream-vs-SQL-oracle check rides the streaming tag in
test_streaming_oracle.py; these tests pin the parts a green oracle
can't see."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from hadoop_map_reduce_spark.operators.dedup import (
    lsh_blocked_ids,
    minhash_sig_table,
)
from hadoop_map_reduce_spark.session import load_table
from hadoop_map_reduce_spark.streaming.neardup import NearDupAdmitter


def test_apply_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Structured Streaming replays a failed micro-batch with the SAME
    batch_id; the admitter must converge to identical admissions and a
    store without duplicated increments."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    admitter = NearDupAdmitter(str(tmp_path / "store"), threshold=0.5)
    admitter.seed(docs.filter((F.col("doc_id") % 4).isin(2, 3)))
    batch0 = docs.filter(F.col("doc_id") % 4 == 0)

    admitter.apply_batch(batch0, 0)
    first = sorted(map(tuple, admitter.result(spark).collect()))
    store_rows = admitter.read_store(spark).count()

    admitter.apply_batch(batch0, 0)  # replay
    assert sorted(map(tuple, admitter.result(spark).collect())) == first
    assert admitter.read_store(spark).count() == store_rows
    assert sorted(os.listdir(tmp_path / "store")) == [
        "b0",
        "manifest",
        "seed",
    ]
    assert sorted(os.listdir(tmp_path / "store" / "manifest")) == ["b0"]


def test_store_grows_only_with_admitted(spark, sf_dir, tmp_path):
    """Store increments contain exactly the admitted docs' signatures
    (short docs with no shingles are admitted but contribute none)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    admitter = NearDupAdmitter(str(tmp_path / "store"), threshold=0.5)
    admitter.seed(docs.filter((F.col("doc_id") % 4).isin(2, 3)))
    batch0 = docs.filter(F.col("doc_id") % 4 == 0)
    admitter.apply_batch(batch0, 0)

    admitted_ids = {
        r.doc_id
        for r in admitter.result(spark).filter(F.col("batch") == 0).collect()
    }
    b0 = spark.read.parquet(str(tmp_path / "store" / "b0"))
    stored_ids = {r.doc_id for r in b0.select("doc_id").collect()}
    assert stored_ids <= admitted_ids
    # Every admitted doc long enough to shingle is stored.
    sig_ids = {
        r.doc_id
        for r in minhash_sig_table(batch0).select("doc_id").collect()
    }
    assert stored_ids == admitted_ids & sig_ids


def test_blocking_recall_matches_exact_jaccard(spark, sf_dir):
    """The engine blocks on banded MinHash candidates while the SQL
    oracle blocks on EXACT trigram-Jaccard pairs; agreement relies on
    banding recall = 1.0 over this corpus's >=threshold pairs (a pair at
    similarity s slips every band with prob (1-s^rows_per_band)^bands —
    ~1e-4 right at 0.5). Pin it: the blocked-id set from the streaming
    band join must equal the set derived from exact Jaccard pairs, for
    the same batch-vs-store split the registered query uses."""
    from hadoop_map_reduce_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    store = docs.filter((F.col("doc_id") % 4).isin(2, 3))
    blocked = {
        r.doc_id
        for r in lsh_blocked_ids(
            minhash_sig_table(batch), minhash_sig_table(store), 0.5
        ).collect()
    }

    exact = ngram_jaccard_pairs(docs, 0.5)
    pairs = [(r.id_a, r.id_b) for r in exact.collect()]
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    store_ids = {r.doc_id for r in store.select("doc_id").collect()}
    expect = set()
    for a, b in pairs:
        for x, q in ((a, b), (b, a)):
            if x in batch_ids and (
                q in store_ids or (q in batch_ids and q < x)
            ):
                expect.add(x)
    assert blocked == expect
    assert expect  # the corpus has planted near-dups across the split


def test_blocking_plan_has_no_cartesian(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_sig = minhash_sig_table(docs.filter(F.col("doc_id") % 4 == 0))
    store_sig = minhash_sig_table(docs.filter(F.col("doc_id") % 4 != 0))
    blocked = lsh_blocked_ids(batch_sig, store_sig, 0.5)
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # One band equi-join serves both candidate sources (batch and store)
    # and carries the shingles for the verify: no further join.
    joins = re.findall(
        r"\b(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)\b", plan
    )
    assert len(joins) == 1, plan


def _text(*spans: tuple[int, int]) -> str:
    """Words ``start .. start + n - 1`` of each ``(start, n)`` span, each
    word a distinct letter-only token (its digits spelled a-j), so
    sanitize/tokenize keep them as they are and every shared trigram is
    one the spans share."""
    return " ".join(
        "w" + "".join(chr(ord("a") + int(d)) for d in str(i))
        for start, n in spans
        for i in range(start, start + n)
    )


# Store: a long doc, a short doc, an 8-trigram doc, and one unrelated doc.
_STORE_DOCS = [
    (10, _text((0, 30))),
    (20, "tiny doc"),
    (30, _text((100, 10))),
    (5, _text((300, 40))),
]
# Batch: each row is one adversarial case for the admission rule.
_BATCH_DOCS = [
    # same doc_id as a store doc, one token changed: J = 27/29, blocks
    # (the store side has no id filter)
    (10, _text((0, 29), (500, 1))),
    # identical texts: only the higher id is blocked
    (40, _text((200, 40))),
    (41, _text((200, 40))),
    # a doc_id repeated inside the batch with the same text: no self-block
    (50, _text((400, 40))),
    (50, _text((400, 40))),
    # too short to shingle, identical to each other and to store doc 20
    (60, "tiny doc"),
    (61, "tiny doc"),
    # store doc 30's 8 trigrams plus 8 new ones: J = 8/16 = 0.5, blocks
    (70, _text((100, 10), (600, 8))),
    # plus 9 new ones: J = 8/17 < 0.5 against 30, and 8/25 against 70
    (80, _text((100, 10), (700, 9))),
]
_DOC_SCHEMA = "doc_id long, text string"


def _greedy_blocked(batch, store, threshold=0.5):
    """The admission rule in pure Python over the same trigram shingles:
    blocked iff a store doc, or a batch doc with a lower id, has
    round(Jaccard, 6) >= threshold."""
    def sh(text):
        toks = text.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    def near(a, b):
        return bool(a) and bool(b) and round(len(a & b) / len(a | b), 6) >= threshold

    b = [(i, sh(t)) for i, t in batch]
    s = [sh(t) for _, t in store]
    return {
        i for i, x in b
        if any(near(x, y) for y in s) or any(near(x, y) for q, y in b if q < i)
    }


def test_lsh_blocked_ids_matches_greedy_rule_on_adversarial_docs(spark):
    batch_sig = minhash_sig_table(spark.createDataFrame(_BATCH_DOCS, _DOC_SCHEMA))
    store_sig = minhash_sig_table(spark.createDataFrame(_STORE_DOCS, _DOC_SCHEMA))
    for store, docs, expect in (
        (store_sig, _STORE_DOCS, {10, 41, 70}),
        (None, [], {41}),
    ):
        blocked = {r.doc_id for r in lsh_blocked_ids(batch_sig, store, 0.5).collect()}
        assert blocked == _greedy_blocked(_BATCH_DOCS, docs) == expect


def test_apply_batch_job_count(spark, tmp_path):
    """Count pin, not a timing pin: one micro-batch against a seeded
    store runs a fixed number of Spark jobs (the blocking join, the
    store and manifest writes). Also pins the admission outcome: short
    docs are admitted but contribute no signature to the store."""
    admitter = NearDupAdmitter(str(tmp_path / "store"), threshold=0.5)
    admitter.seed(spark.createDataFrame(_STORE_DOCS, _DOC_SCHEMA))
    batch = spark.createDataFrame(_BATCH_DOCS, _DOC_SCHEMA)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    admitter.apply_batch(batch, 0)
    jobs = scheduler.numTotalJobs() - before
    assert jobs <= 12, jobs

    admitted = sorted(r.doc_id for r in admitter.result(spark).collect())
    assert admitted == [40, 50, 50, 60, 61, 80]
    stored = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "store" / "b0")).collect()
    )
    assert stored == [40, 50, 50, 80]


def test_phash_blocked_ids_matches_exact_hamming_rule(spark, sf_dir):
    """The pigeonhole blocking must equal the exact greedy rule —
    blocked iff a Hamming<=2 partner exists in the store or at a lower
    id in the batch — with NO recall slack (banding is lossless for
    the threshold)."""
    from hadoop_map_reduce_spark.operators.multimodal import (
        perceptual_hash,
        phash_blocked_ids,
        with_binary_content,
    )
    from hadoop_map_reduce_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = {
        r.media_id: r.phash
        for r in perceptual_hash(with_binary_content(docs)).collect()
    }
    batch_ids = {i for i in h if i % 4 == 0}
    store_ids = set(h) - batch_ids
    as_hashes = lambda ids: spark.createDataFrame(  # noqa: E731
        [(i, h[i]) for i in sorted(ids)], "media_id long, phash long"
    )
    blocked = {
        r.media_id
        for r in phash_blocked_ids(
            as_hashes(batch_ids), as_hashes(store_ids), max_hamming=2
        ).collect()
    }

    def ham(a, b):
        return bin(h[a] ^ h[b]).count("1")

    expect = {
        x
        for x in batch_ids
        if any(ham(x, q) <= 2 for q in store_ids)
        or any(ham(x, q) <= 2 for q in batch_ids if q < x)
    }
    assert blocked == expect
    assert expect  # planted near-dups cross the split


def test_phash_blocking_plan_has_no_cartesian(spark, sf_dir):
    from hadoop_map_reduce_spark.operators.multimodal import (
        perceptual_hash,
        phash_blocked_ids,
        with_binary_content,
    )
    from hadoop_map_reduce_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hashes = perceptual_hash(with_binary_content(docs))
    batch = hashes.filter(F.col("media_id") % 4 == 0)
    store = hashes.filter(F.col("media_id") % 4 != 0)
    blocked = phash_blocked_ids(batch, store, max_hamming=2)
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_compact_store_preserves_replay_view(spark, sf_dir, tmp_path):
    """VERDICT r8 #6 retention contract: compacting committed
    increments back into seed must (a) leave the signature SET every
    still-replayable batch observes bit-identical, (b) make identical
    admission decisions on the next batch, and (c) bound the directory
    count. through_batch=1 here stands in for 'last checkpoint-
    committed batch'; b2 stays an increment."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") % 5 == 4)
    batches = [docs.filter(F.col("doc_id") % 5 == i) for i in range(4)]

    plain = NearDupAdmitter(str(tmp_path / "plain"), threshold=0.5)
    compacted = NearDupAdmitter(str(tmp_path / "compact"), threshold=0.5)
    for adm in (plain, compacted):
        adm.seed(seed)
        for i in range(3):
            adm.apply_batch(batches[i], i)

    sig_before = sorted(
        map(tuple, compacted.read_store(spark, before_batch=3).collect())
    )
    n_merged = compacted.compact_store(spark, through_batch=1)
    assert n_merged == 2  # b0, b1 folded into seed; b2 survives
    assert sorted(os.listdir(tmp_path / "compact")) == [
        "b2",
        "manifest",
        "seed",
    ]
    # (a) the as-of-batch-3 replay view is the identical signature set
    sig_after = sorted(
        map(tuple, compacted.read_store(spark, before_batch=3).collect())
    )
    assert sig_after == sig_before

    # (b) the next batch admits identically against both stores
    plain.apply_batch(batches[3], 3)
    compacted.apply_batch(batches[3], 3)
    assert sorted(map(tuple, plain.result(spark).collect())) == sorted(
        map(tuple, compacted.result(spark).collect())
    )

    # idempotent / no-op second compaction at the same watermark
    assert compacted.compact_store(spark, through_batch=1) == 0


def test_compact_store_crash_self_heals(spark, sf_dir, tmp_path):
    """A crash between the two renames leaves .seed_old holding the
    intact original; the next compact_store call must restore it and
    proceed (the storage.compact protocol)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    admitter = NearDupAdmitter(str(tmp_path / "store"), threshold=0.5)
    admitter.seed(docs.filter(F.col("doc_id") % 3 == 2))
    for i in range(2):
        admitter.apply_batch(docs.filter(F.col("doc_id") % 3 == i), i)
    before = sorted(map(tuple, admitter.read_store(spark).collect()))

    # simulate the worst crash window: seed renamed away, compact dir
    # not yet renamed in (and lost — rewritten next time)
    os.rename(
        tmp_path / "store" / "seed", tmp_path / "store" / ".seed_old"
    )
    # readers heal first (round-9): the stranded backup is restored
    # before the glob resolves, so the seed stays visible even before
    # the next compact_store call
    seed_rows = sorted(
        map(
            tuple,
            admitter.read_store(spark, before_batch=0).collect(),
        )
    )
    assert seed_rows  # the original seed content, not a missing dir
    admitter.compact_store(spark, through_batch=1)
    assert sorted(os.listdir(tmp_path / "store")) == ["manifest", "seed"]
    assert (
        sorted(map(tuple, admitter.read_store(spark).collect())) == before
    )
