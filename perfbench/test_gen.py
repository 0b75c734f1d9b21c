"""Tests of the benchmark's own generators, fake LLM and reference
checks (no Spark). Run from the repository root:

    python3 -m pytest -q perfbench/test_gen.py
"""

from __future__ import annotations

import json
import random

from perfbench import checks, fakellm, gen
from perfbench import params as P
from perfbench.wl_update import Graph, khop_edges, stream_records


def _build_inputs(seed: int) -> bytes:
    records = gen.museum_records(seed, 1, 120)
    files = gen.render_files(records)
    return json.dumps([files, gen.batch_docs(seed, 1, records)], sort_keys=True).encode()


def _update_inputs(seed: int) -> bytes:
    g = Graph(seed)
    schedule = gen.query_schedule(seed, 0, 200, g.titles, g.artists, g.vocab)
    return json.dumps(
        [g.edges, g.docs, sorted(g.vectors.items()), schedule, stream_records(seed, 3)]
    ).encode()


def test_same_seed_gives_identical_inputs():
    assert _build_inputs(3) == _build_inputs(3)
    assert _update_inputs(3) == _update_inputs(3)


def test_other_seed_gives_other_inputs():
    assert _build_inputs(3) != _build_inputs(4)
    assert _update_inputs(3) != _update_inputs(4)


def test_fake_llm_reply_is_pure_function_of_record():
    recs = gen.museum_records(5, 0, 50)
    assert [fakellm.reply_text(r) for r in recs] == [fakellm.reply_text(dict(r)) for r in recs]


def test_fake_llm_fault_shares():
    recs = gen.museum_records(6, 0, 4000)
    faults = [fakellm.fault(r) for r in recs]
    for name, share in (("rate_limit", P.LLM_RATE_LIMIT_SHARE),
                        ("malformed", P.LLM_MALFORMED_SHARE),
                        ("invalid", P.LLM_INVALID_SHARE)):
        assert abs(faults.count(name) / len(recs) - share) < 0.015


def test_malformed_reply_has_no_parseable_object():
    from big_data___knowledge_graph_construction_with_llm_spark.llm_client import (
        scrape_json_objects,
    )

    for r in gen.museum_records(7, 0, 400):
        got = scrape_json_objects(fakellm.reply_text(r))
        assert got == fakellm.reply_triplets(r)


def test_server_wait_is_scaled():
    assert fakellm.wait_s(f"try again in {P.LLM_SERVER_WAIT}") == 62.5 * P.LLM_WAIT_SCALE


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_banded_levenshtein_matches_full():
    rng = random.Random(1)
    for _ in range(2000):
        a = "".join(rng.choice("abc") for _ in range(rng.randint(0, 7)))
        b = "".join(rng.choice("abc") for _ in range(rng.randint(0, 7)))
        for k in (0, 1, 2):
            assert checks.levenshtein_within(a, b, k) == (_levenshtein(a, b) <= k)


def test_resolve_names_merges_variants_to_min():
    mapping, st = checks.resolve_names(
        {"Jean Dupont", "Jean Dupant", "Jean Martin"}, max_edit=2, max_block=200
    )
    assert mapping["Jean Dupont"] == mapping["Jean Dupant"] == "Jean Dupant"
    assert mapping["Jean Martin"] == "Jean Martin"
    assert (st["pairs_examined"], st["pairs_matched"]) == (3, 1)


def test_resolve_names_skips_oversized_blocks():
    names = {f"Jean Dupon{c}" for c in "abcd"}
    mapping, st = checks.resolve_names(names, max_edit=2, max_block=3)
    assert st["pairs_examined"] == 0 and all(mapping[n] == n for n in names)


def test_resolve_names_deletion_index_finds_every_close_pair():
    rng = random.Random(2)
    names = {"Jean " + "".join(rng.choice("abe") for _ in range(rng.randint(5, 7)))
             for _ in range(120)}
    _, st = checks.resolve_names(names, max_edit=2, max_block=1000)
    close = sum(
        _levenshtein(a.lower(), b.lower()) <= 2
        for a in names for b in names if a < b and checks.block_key(a) == checks.block_key(b)
    )
    assert st["pairs_matched"] == close


def test_known_artist_blocks_straddle_the_cap():
    for seed in (1, 2):
        records = gen.museum_records(seed, 1, P.BUILD_RECORDS_PER_OP)
        known = [n for n, _ in gen.artist_pool(seed)]
        *_, st = checks.expected_graph(records, known, P.RESOLVE_MAX_EDIT, P.RESOLVE_MAX_BLOCK)
        largest, second = st["block_sizes"][:2]
        assert largest > P.RESOLVE_MAX_BLOCK
        assert 0.8 * P.RESOLVE_MAX_BLOCK < second <= P.RESOLVE_MAX_BLOCK


def _curated_by_truth(truth: dict) -> dict:
    """The split a correct curate run could produce: drop leaks and
    every copy, redact planted PII."""
    copies = {b for _, b in truth["exact_groups"]} | {b for _, b, _ in truth["near_pairs"]}
    out = {}
    for d in truth["docs"]:
        if d["doc_id"] in copies or d["doc_id"] in truth["leaks"]:
            continue
        pii = truth["pii"].get(d["doc_id"])
        out[d["doc_id"]] = (d["text"].replace(pii, "[PII]") if pii else d["text"], "train")
    return out


def test_planted_documents_are_what_they_claim():
    truth = gen.batch_docs(3, 1, gen.museum_records(3, 1, 240))
    text = {d["doc_id"]: d["text"] for d in truth["docs"]}
    bench = {b["text"] for b in truth["benchmark"]}
    assert all(text[a] == text[b] for a, b in truth["exact_groups"])
    assert all(0.85 < j < 1 and abs(gen.shingle_jaccard(text[a], text[b]) - j) < 1e-12
               for a, b, j in truth["near_pairs"])
    assert all(text[i] in bench for i in truth["leaks"])
    assert all(s in text[i] for i, s in truth["pii"].items())
    clean = [text[i] for i in truth["clean"]]
    assert len(set(clean)) == len(clean)


def test_check_curated_accepts_a_correct_split_and_names_faults():
    truth = gen.batch_docs(3, 1, gen.museum_records(3, 1, 240))
    good = _curated_by_truth(truth)
    assert checks.check_curated(truth, good) == []
    leak = truth["leaks"][0]
    bad = {**good, leak: (next(d["text"] for d in truth["docs"] if d["doc_id"] == leak), "train")}
    assert checks.check_curated(truth, bad)
    unredacted = dict(good)
    i = next(i for i in truth["pii"] if i in good)
    unredacted[i] = (next(d["text"] for d in truth["docs"] if d["doc_id"] == i), "train")
    assert checks.check_curated(truth, unredacted)


def test_khop_edges_is_induced_undirected_neighbourhood():
    edges = [("a", "b", "r"), ("c", "b", "r"), ("c", "d", "r"), ("d", "e", "r")]
    assert khop_edges(edges, "a", 2) == {("a", "b", "r"), ("c", "b", "r")}


def test_same_topk_tolerates_ties_at_the_cut():
    want = [("x", 2.0), ("y", 1.0), ("z", 1.0)]
    assert checks.same_topk([("x", 2.0), ("z", 1.0), ("w", 1.0)], want)
    assert not checks.same_topk([("y", 2.0), ("x", 1.0), ("z", 1.0)], want)
