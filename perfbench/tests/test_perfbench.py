"""The benchmark's own tests: seeded inputs are reproducible, every
correctness check fails on a perturbed output, and BENCHMARK.json matches
the metric catalogue.  No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pytest

from perfbench import checks, gen
from perfbench.layers import END_TO_END, LISTED, PER_LAYER, WORKLOADS
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = gen.Scale(corpus_docs=12, n_huge=0, n_invalid=2, chunk_table_chunks=20)


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def _all_inputs(seed: int) -> list[str]:
    docs = gen.corpus(seed, SMALL)
    return [
        _digest(docs),
        _digest(gen.recrawl(seed, docs)),
        _digest(gen.requests(seed, 30)),
        _digest(gen.queries(seed, 30)),
        _digest(gen.index_corpus(seed, SMALL)),
    ]


def test_inputs_identical_for_same_seed():
    assert _all_inputs(7) == _all_inputs(7)


def test_inputs_differ_for_other_seed():
    a, b = _all_inputs(7), _all_inputs(8)
    assert all(x != y for x, y in zip(a, b))


def test_corpus_shape():
    docs = gen.corpus(3, gen.Scale(corpus_docs=40, n_huge=1, n_invalid=3, chunk_table_chunks=0))
    invalid = [d for d, t in docs if checks.is_invalid(t)]
    assert len(invalid) == 3
    lengths = sorted(len(t) for _, t in docs if t.strip())
    assert lengths[-1] >= 0.8 * gen.DOC_MAX_CHARS
    assert 3_000 < lengths[len(lengths) // 2] < 30_000
    text = "\n\n".join(t for _, t in docs)
    for marker in (" v. ", "U.S.", "No. ", "\n\n"):
        assert marker in text


def test_corpus_has_over_budget_sentences():
    from inception_spark.sentences import split_sentences
    from inception_spark.tokenizer import RegexTokenizer

    tok = RegexTokenizer()
    docs = gen.corpus(0, gen.Scale(corpus_docs=40, n_huge=0, n_invalid=0, chunk_table_chunks=0))
    sentences = [s for _, t in docs for s in split_sentences(t)]
    over = sum(1 for s in sentences if tok.count(s) > 512)
    assert 0 < over / len(sentences) < 0.01


def test_recrawl_edits_adds_and_deletes():
    docs = gen.corpus(5, gen.Scale(corpus_docs=100, n_huge=0, n_invalid=2, chunk_table_chunks=0))
    rc = gen.recrawl(5, docs)
    old, new = dict(docs), dict(rc.new)
    assert len(rc.edited) == 10 and len(rc.added) == 3 and len(rc.deleted) == 3
    assert not rc.deleted & new.keys()
    assert all(new[d] != old[d] for d in rc.edited)
    unchanged = old.keys() - rc.edited - rc.deleted
    assert all(new[d] == old[d] for d in unchanged)


def test_request_mix():
    reqs = gen.requests(2, 500)
    singles = sum(r.single for r in reqs)
    assert 200 < singles < 300
    assert all(len(r.docs) <= 100 for r in reqs)
    assert all(r.docs[0][0] == 0 for r in reqs if r.single)
    invalid = [r for r in reqs if r.invalid_id is not None]
    assert 1 <= len(invalid) <= 25
    for r in invalid:
        assert checks.is_invalid(dict(r.docs)[r.invalid_id])


def test_queries_repeat():
    qs = gen.queries(4, 500)
    repeats = len(qs) - len(set(qs))
    assert 50 < repeats < 150
    assert all(3 <= len(q.split()) <= 20 for q in qs)


# ---------------------------------------------------------------------------
# every check fails on a perturbed output
# ---------------------------------------------------------------------------


def _ref():
    docs = gen.corpus(1, SMALL)
    return docs, checks.reference_chunks(docs)


def test_check_chunks_passes_on_reference():
    _, ref = _ref()
    assert checks.check_chunks(ref, dict(ref), label="t") == []


@pytest.mark.parametrize("how", ["md5", "n_tokens", "drop", "extra"])
def test_check_chunks_fails_on_perturbed(how):
    _, ref = _ref()
    bad = dict(ref)
    key = sorted(bad)[3]
    md5, n = bad[key]
    if how == "md5":
        bad[key] = (checks.md5("changed"), n)
    elif how == "n_tokens":
        bad[key] = (md5, n + 1)
    elif how == "drop":
        del bad[key]
    else:
        bad[(key[0], 999)] = (md5, n)
    assert checks.check_chunks(ref, bad, label="t")
    assert checks.bad_docs(ref, bad) == {key[0]}


def test_table_key_changes_with_any_field():
    _, ref = _ref()
    base = checks.table_key(ref)
    assert base == checks.table_key(dict(reversed(list(ref.items()))))
    key = sorted(ref)[2]
    md5, n = ref[key]
    for bad in ((md5, n + 1), (checks.md5("x"), n)):
        assert checks.table_key({**ref, key: bad}) != base
    moved = dict(ref)
    moved[(key[0] + 1000, key[1])] = moved.pop(key)
    assert checks.table_key(moved) != base


def test_check_embeddings():
    from inception_spark.operators.encoding import HashingStubEncoder

    texts = ["First chunk.", "Second chunk."]
    vecs = HashingStubEncoder().encode([checks.LEAD_DOCUMENT + t for t in texts])
    rows = [((1, i + 1), t, list(map(float, v))) for i, (t, v) in enumerate(zip(texts, vecs))]
    assert checks.check_embeddings(rows, label="t") == []
    rows[1][2][5] += 1e-6
    assert checks.check_embeddings(rows, label="t")


def test_check_quarantine_and_rejection():
    assert checks.check_quarantine({3, 9}, [9, 3], label="t") == []
    assert checks.check_quarantine({3, 9}, [3], label="t")
    msg = f"Document 4: {checks.EMPTY_TEXT_ERROR}"
    assert checks.check_rejection(msg, msg, label="t") == []
    assert checks.check_rejection(msg, "Document 4: other", label="t")
    assert checks.check_rejection(msg, None, label="t")


def test_expected_fresh_counts_new_chunk_fingerprints():
    old = {(1, 1): ("a", 5), (1, 2): ("b", 5), (2, 1): ("c", 5)}
    new = {(1, 1): ("a", 5), (1, 2): ("x", 5), (1, 3): ("b", 5), (3, 1): ("c", 5)}
    # (1,"x") is new; (1,"b") moved but is carried; (3,"c") is another doc
    assert checks.expected_fresh(old, new) == 2


def _spark_cosine(a: list[float], b: list[float]) -> float:
    """Catalyst's arithmetic: sequential left folds in double."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
        na += float(x) * float(x)
        nb += float(y) * float(y)
    return dot / (na**0.5 * nb**0.5)


def test_brute_force_matches_sequential_fold():
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((50, 16)).astype(np.float32)
    ids = [(i // 5, i % 5 + 1) for i in range(50)]
    q = [float(x) for x in rng.standard_normal(16).astype(np.float32)]
    top = checks.BruteForce(ids, vecs).topk(q, k=10)
    scored = sorted(
        (-checks.spark_round6(_spark_cosine(list(map(float, v)), q)), d, c)
        for (d, c), v in zip(ids, vecs)
    )[:10]
    assert top == [(d, c, -s, r) for r, (s, d, c) in enumerate(scored, start=1)]


def test_brute_force_breaks_ties_by_id():
    vecs = np.array([[1, 0], [1, 0], [0, 1]], dtype=np.float32)
    top = checks.BruteForce([(2, 1), (1, 3), (1, 1)], vecs).topk([1.0, 0.0], k=3)
    assert [(d, c) for d, c, _, _ in top] == [(1, 3), (2, 1), (1, 1)]


def test_spark_round6_is_half_up():
    assert checks.spark_round6(0.0000005) == 0.000001
    assert checks.spark_round6(-0.0000005) == -0.000001
    assert checks.spark_round6(0.1234564) == 0.123456


@pytest.mark.parametrize("how", ["swap", "score", "short"])
def test_check_topk_fails_on_perturbed(how):
    want = [(1, 1, 0.9, 1), (2, 1, 0.8, 2), (3, 2, 0.7, 3)]
    got = list(want)
    if how == "swap":
        got[0], got[1] = (2, 1, 0.8, 1), (1, 1, 0.9, 2)
    elif how == "score":
        got[2] = (3, 2, 0.700001, 3)
    else:
        got = got[:2]
    assert checks.check_topk(want, want, label="t") == []
    assert checks.check_topk(want, got, label="t")


# ---------------------------------------------------------------------------
# tracing and the metric catalogue
# ---------------------------------------------------------------------------


def test_self_time_subtracts_children_and_leaves():
    tr = Tracer(enabled=True)
    with tr.span("outer", request="r1"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
        tr.leaf("leaf", 0.01)
    outer = tr.durations("outer")[0]
    inner = tr.durations("inner")[0]
    assert tr.self_time("outer") == pytest.approx(outer - inner - 0.01)
    assert tr.leaf_totals("leaf") == (1, 0.01)
    assert tr.spans[1].request == "r1" and tr.spans[1].parent == 0


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        tr.leaf("y", 1.0)
    assert tr.spans == []


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(w["name"], w["why"]) for w in bench["workloads"]] == [
        (w, WORKLOADS[w]) for w in LISTED
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        (m.name, m.unit, m.better) for m in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (m.name, m.unit, m.better) for m in PER_LAYER
    ]
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(m.moves for m in PER_LAYER)
