"""Correctness checks: single-process references and comparisons.

Pure functions over plain Python rows so the benchmark's own tests can
feed them perturbed outputs without a Spark session.  Every ``check_*``
returns a list of human-readable mismatch strings; empty means correct.

References:

* chunks — the engine's own pure-Python ``split_text_into_chunks`` run
  single-process on the same inputs, keyed by (doc_id, chunk_number) with
  an md5 per chunk and the token count the engine reports;
* embeddings — ``HashingStubEncoder`` on the document-prefixed chunk;
* search — a numpy brute force that reproduces Spark's arithmetic (a
  sequential left fold of float64 products, ``sqrt`` norms) and its
  ``round(x, 6)`` (HALF_UP on the shortest decimal form), then ranks by
  score desc and id asc.
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from inception_spark.config import DEFAULT_CONFIG
from inception_spark.operators.chunking import split_text_into_chunks
from inception_spark.operators.encoding import HashingStubEncoder
from inception_spark.tokenizer import RegexTokenizer

LEAD_DOCUMENT = DEFAULT_CONFIG.lead_document
LEAD_QUERY = DEFAULT_CONFIG.lead_query
#: the reference service's exact strict-mode messages
EMPTY_TEXT_ERROR = "Text length (0) below minimum (1)"


def md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def is_invalid(text: str | None) -> bool:
    return text is None or not text.strip()


def reference_chunks(
    docs, *, tokenizer=None, sentence_splitter=None, on_doc=None, texts=None
) -> dict[tuple[int, int], tuple[str, int]]:
    """(doc_id, chunk_number) → (md5(chunk), n_tokens) for every valid doc.

    ``tokenizer`` / ``sentence_splitter`` are passed straight through to
    ``split_text_into_chunks`` (the traced run hands timed wrappers in);
    ``on_doc`` wraps each document's call, e.g. in a span; ``texts``, if
    given, collects ``((doc_id, chunk_number), chunk)`` pairs."""
    counter = RegexTokenizer()
    lead_len = counter.count(LEAD_DOCUMENT)
    kwargs = {}
    if tokenizer is not None:
        kwargs["tokenizer"] = tokenizer
    if sentence_splitter is not None:
        kwargs["sentence_splitter"] = sentence_splitter
    out: dict[tuple[int, int], tuple[str, int]] = {}
    for doc_id, text in docs:
        if is_invalid(text):
            continue
        if on_doc is None:
            chunks = split_text_into_chunks(text, **kwargs)
        else:
            chunks = on_doc(lambda: split_text_into_chunks(text, **kwargs))
        for i, c in enumerate(chunks, start=1):
            out[(doc_id, i)] = (md5(c), counter.count(c) + lead_len)
            if texts is not None:
                texts.append(((doc_id, i), c))
    return out


def row_key(doc_id: int, chunk_number: int, chunk_md5: str, n_tokens: int) -> int:
    """A chunk row's 60-bit key; Spark computes the same one as
    ``conv(substring(md5(concat_ws('|', ...)), 1, 15), 16, 10)``."""
    text = f"{doc_id}|{chunk_number}|{chunk_md5}|{n_tokens}"
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


def table_key(chunks: dict) -> int:
    """XOR of :func:`row_key` over a chunk table (order-independent)."""
    out = 0
    for (d, c), (m, n) in chunks.items():
        out ^= row_key(d, c, m, n)
    return out


def chunk_digest(chunks: dict) -> str:
    """Order-independent digest of a chunk table (for pinning)."""
    h = hashlib.sha256()
    for key in sorted(chunks):
        h.update(repr((key, chunks[key])).encode())
    return h.hexdigest()


def check_chunks(expected: dict, actual: dict, *, label: str) -> list[str]:
    """Compare (doc_id, chunk_number) → (md5, n_tokens) tables."""
    errs = []
    missing = expected.keys() - actual.keys()
    extra = actual.keys() - expected.keys()
    if missing:
        errs.append(f"{label}: {len(missing)} chunks missing, e.g. {min(missing)}")
    if extra:
        errs.append(f"{label}: {len(extra)} unexpected chunks, e.g. {min(extra)}")
    wrong = [k for k in expected.keys() & actual.keys() if expected[k] != actual[k]]
    if wrong:
        k = min(wrong)
        errs.append(
            f"{label}: {len(wrong)} chunks differ, e.g. {k}: "
            f"{actual[k]} != {expected[k]}"
        )
    ne, na = sum(v[1] for v in expected.values()), sum(v[1] for v in actual.values())
    if ne != na:
        errs.append(f"{label}: n_tokens sum {na} != {ne}")
    return errs


def bad_docs(expected: dict, actual: dict) -> set[int]:
    """Doc ids whose chunks differ in any way (for failure counting)."""
    keys = expected.keys() | actual.keys()
    return {k[0] for k in keys if expected.get(k) != actual.get(k)}


def check_embeddings(rows, *, label: str, lead: str = LEAD_DOCUMENT) -> list[str]:
    """``rows``: [(key, chunk_text, embedding)] — each embedding must equal
    the stub encoder's vector bit for bit (float32)."""
    if not rows:
        return []
    enc = HashingStubEncoder(dim=len(rows[0][2]))
    want = enc.encode([lead + text for _, text, _ in rows])
    errs = []
    for (key, _, got), w in zip(rows, want):
        if not np.array_equal(np.asarray(got, dtype=np.float32), w):
            errs.append(f"{label}: embedding of {key} differs from the stub encoder")
    return errs[:5]


def check_quarantine(expected_ids, actual_ids, *, label: str) -> list[str]:
    if set(expected_ids) != set(actual_ids):
        return [
            f"{label}: quarantined {sorted(actual_ids)} "
            f"!= expected {sorted(expected_ids)}"
        ]
    return []


def check_rejection(expected: str, got: str | None, *, label: str) -> list[str]:
    if got != expected:
        return [f"{label}: rejection {got!r} != expected {expected!r}"]
    return []


def expected_fresh(old: dict, new: dict) -> int:
    """Chunks of the new output whose (doc_id, md5) the old output lacks —
    the rows the delta path must encode."""
    have = {(k[0], v[0]) for k, v in old.items()}
    return sum(1 for k, v in new.items() if (k[0], v[0]) not in have)


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------


def spark_round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the double's decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


class BruteForce:
    """Exact top-k over a chunk table, reproducing Spark's cosine."""

    def __init__(self, ids: list[tuple[int, int]], vecs: np.ndarray):
        self.ids = ids
        self.vecs = vecs.astype(np.float64)
        # sequential left folds, like Catalyst's aggregate()
        self.norms = np.sqrt(np.cumsum(self.vecs * self.vecs, axis=1)[:, -1])

    def topk(self, q: list[float], k: int = 10) -> list[tuple[int, int, float, int]]:
        qv = np.asarray(q, dtype=np.float64)
        dots = np.cumsum(self.vecs * qv, axis=1)[:, -1]
        qn = np.sqrt(np.cumsum(qv * qv)[-1])
        scores = dots / (self.norms * qn)
        # exact rounding only where it can change the cut: every row within
        # rounding distance of the k-th raw score
        kth = np.partition(-scores, k - 1)[k - 1]
        cand = np.flatnonzero(-scores <= kth + 2e-6)
        ranked = sorted(
            (
                (-spark_round6(float(scores[i])), self.ids[i][0], self.ids[i][1])
                for i in cand
            )
        )[:k]
        return [(d, c, -s, r) for r, (s, d, c) in enumerate(ranked, start=1)]


def check_topk(expected, actual, *, label: str) -> list[str]:
    exp = [tuple(r) for r in expected]
    act = [tuple(r) for r in actual]
    if exp != act:
        diff = next((i for i, (a, b) in enumerate(zip(exp, act)) if a != b), None)
        return [f"{label}: top-k differs at rank {diff}: {act} != {exp}"]
    return []
