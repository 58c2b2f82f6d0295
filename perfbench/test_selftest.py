"""Self-tests of the benchmark's generators, oracles and query map.

Run from the repository root: ``python3 -m pytest perfbench/test_selftest.py``.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from checks import check_admissions, check_kv_output, recount_bigrams  # noqa: E402
from inputs import ADMISSION, admission_docs, write_admission, write_cookbook  # noqa: E402
from workloads import BOARD, FAMILIES, JOB_TARGETS  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            path = os.path.join(base, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_generators_are_deterministic(tmp_path):
    small = dict(ADMISSION, seed_docs=40, docs_per_file=30)
    runs = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        cookbook = write_cookbook(str(tmp_path / name / "cookbook"), seed)
        admission = write_admission(str(tmp_path / name / "admission"), seed, small)
        runs.append((_tree_bytes(str(tmp_path / name)), cookbook["lines"], admission["expected"]))
    assert runs[0] == runs[1]
    assert runs[0][0] != runs[2][0]


def test_recount_oracle_on_hand_written_lines():
    lines = [
        "Señor_Tomato, sauce!",  # ñ and _ split words; punctuation drops
        "---",  # punctuation only: no token
        "word",  # one token: no bigram
        "",
        "Café au lait... au LAIT",
        "Beat 2 eggs",
    ]
    assert recount_bigrams(lines) == Counter({
        "se+or": 1, "or+tomato": 1, "tomato+sauce": 1,
        "caf+au": 1, "au+lait": 2, "lait+au": 1,
        "beat+2": 1, "2+eggs": 1,
    })


def test_kv_check_finds_misplaced_and_wrong_counts(tmp_path):
    expected = Counter({"a+b": 2, "b+c": 1})
    out = tmp_path / "out"
    out.mkdir()
    (out / "_SUCCESS").write_text("")
    (out / "part-00000").write_text("a+b\t2\n")
    (out / "part-00001").write_text("b+c\t1\n")
    assert check_kv_output(str(out), expected, 2, {"a+b": 0, "b+c": 1}) == []
    assert check_kv_output(str(out), expected, 2, {"a+b": 1, "b+c": 1}) == ["1 keys in the wrong part file"]
    (out / "part-00001").write_text("b+c\t3\n")
    assert check_kv_output(str(out), expected, 2) == ["1 of 2 bigram counts differ"]


def test_planted_duplicates_are_the_rejected_documents():
    params = dict(ADMISSION, seed_docs=100, docs_per_file=50)
    docs, dups = admission_docs(3, params)
    arriving = params["legs"] * params["files_per_leg"] * params["docs_per_file"]
    assert len(docs) == params["seed_docs"] + arriving
    assert dups and min(dups) >= params["seed_docs"]
    texts = {i: t.split() for i, t in docs}
    for d in dups:
        # a planted duplicate differs from some earlier original in one token
        assert any(
            len(texts[o]) == len(texts[d]) and sum(a != b for a, b in zip(texts[o], texts[d])) == 1
            for o in range(d)
            if o not in dups
        )
    expected = {0: {params["seed_docs"]}}
    assert check_admissions([(params["seed_docs"], 0)], expected) == []
    assert check_admissions([(params["seed_docs"], 1)], expected) == [0, 1]


def test_reported_metrics_match_benchmark_json():
    import json

    from run import END_TO_END, PER_LAYER

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for key, reported in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[key]} == reported


def test_family_map_covers_exactly_the_headline_board():
    from hadoop_map_reduce_spark.plans import REGISTRY

    headline = {q.name for q in REGISTRY.values() if q.headline}
    assert headline == FAMILIES.keys(), "headline board changed: update FAMILIES in perfbench/workloads.py"
    assert len(FAMILIES) == 27
    assert set(BOARD) <= headline and set(JOB_TARGETS) <= set(BOARD)
    assert {FAMILIES[q] for q in BOARD} == set(FAMILIES.values())
