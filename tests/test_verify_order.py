"""The driver's verify order is computed from the committed
CORRECTNESS_r<N>.json artifacts (`__spark_entry__.verify_order`):
changed queries first, then never-checked, then red, then green by
oldest latest round, ties in registry order. These tests pin the rule
on synthetic artifacts and check the order at HEAD."""

import json
import os
import shutil

import pytest

import __spark_entry__ as entry
from tests.conftest import SLOW_TESTS

REPO = os.path.dirname(os.path.abspath(entry.__file__))
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}
RED = {"rows_match": True, "schema_match": True, "hash_match": False}


def _write(d, name, rows):
    with open(os.path.join(d, name), "w") as f:
        json.dump(rows, f)


def test_never_checked_then_red_then_green(tmp_path):
    _write(tmp_path, "CORRECTNESS_r1.json", {"b": GREEN, "c": GREEN, "d": GREEN})
    # r10 must sort after r2 (numeric, not lexicographic, rounds)
    _write(tmp_path, "CORRECTNESS_r2.json", {"b": GREEN, "c": RED})
    _write(tmp_path, "CORRECTNESS_r10.json", {"d": GREEN})
    # not a CORRECTNESS_r<N>.json artifact: ignored
    _write(tmp_path, "CORRECTNESS_r3_c8.json", {"a": GREEN})
    latest = entry.latest_rows(str(tmp_path))
    assert latest == {"b": (2, True), "c": (2, False), "d": (10, True)}
    names = ["d", "c", "a", "b", "e"]
    assert entry.verify_order(names, latest) == ["a", "e", "c", "b", "d"]


def test_red_row_turns_green_again(tmp_path):
    _write(tmp_path, "CORRECTNESS_r1.json", {"x": RED})
    _write(tmp_path, "CORRECTNESS_r2.json", {"x": GREEN})
    assert entry.latest_rows(str(tmp_path)) == {"x": (2, True)}


def test_rounds_ascending_ties_in_registry_order():
    latest = {"x": (5, True), "y": (3, True), "z": (5, True), "w": (3, True)}
    assert entry.verify_order(["x", "y", "z", "w"], latest) == ["y", "w", "x", "z"]
    red = {"p": (4, False), "q": (1, False)}
    assert entry.verify_order(["p", "q"], red) == ["p", "q"]


def test_changed_leads_and_is_deduplicated():
    latest = {"x": (1, True), "y": (2, True), "z": (3, True)}
    order = entry.verify_order(["x", "y", "z"], latest, ["z", "y", "z"])
    assert order == ["z", "y", "x"]


def test_unknown_changed_name_fails_loudly():
    with pytest.raises(ValueError, match="nope"):
        entry.verify_order(["x", "y"], {}, ["x", "nope"])


def test_no_artifacts_gives_registry_order(tmp_path):
    latest = entry.latest_rows(str(tmp_path))
    assert latest == {}
    names = list(entry.registry())
    assert entry.verify_order(names, latest) == names


def test_replay_reproduces_r13_changed_head(tmp_path):
    """Replaying the artifacts up to r12 with the list of queries round
    13 changed reproduces the first 20 rows the driver recorded in
    CORRECTNESS_r13.json."""
    changed_r13 = [
        "quality_filter_pipeline", "training_data_pipeline",
        "semdedup", "embedding_cluster_summary", "dedup_embedding_cosine",
        "ann_cosine_lsh", "ann_cosine_ivf", "ann_range_search_ivf",
        "ann_cosine_pq", "minhash_jaccard_estimate_error",
        "bpe_train_merges", "bpe_token_counts", "tokenizer_fertility",
        "tfidf_top_terms", "winnowing_plagiarism_pairs",
        "kcore_decomposition", "khop_reachability",
        "record_linkage_blocking", "doc_language_mix",
        "multimodal_phash_dedup",
    ]
    for rnd in range(1, 13):
        src = os.path.join(REPO, f"CORRECTNESS_r{rnd:02d}.json")
        if os.path.exists(src):
            shutil.copy(src, tmp_path)
    latest = entry.latest_rows(str(tmp_path))
    assert max(r for r, _ in latest.values()) == 12
    order = entry.verify_order(entry.registry(), latest, changed_r13)
    with open(os.path.join(REPO, "CORRECTNESS_r13.json")) as f:
        recorded = list(json.load(f))
    assert order[:20] == recorded[:20]


def test_head_prefix_skips_rows_r13_already_checked():
    with open(os.path.join(REPO, "CORRECTNESS_r13.json")) as f:
        r13 = set(json.load(f))
    prefix = entry._VERIFY_FIRST[:50]
    assert prefix[: len(entry._CHANGED)] == entry._CHANGED
    assert not [n for n in prefix if n in r13 and n not in entry._CHANGED]


def test_changed_oracle_tests_run_in_default_gate():
    """A query whose code changes has its oracle test in the default
    run, never only in the slow full run."""
    slow = [
        n for n in entry._CHANGED
        if f"test_catalog.py::test_query_matches_oracle[{n}]" in SLOW_TESTS
    ]
    assert not slow, f"move these oracle tests out of SLOW_TESTS: {slow}"
