"""Seeded input generators for the four benchmark workloads.

Everything here is a pure function of ``(seed, scale)``: the same seed
gives byte-identical inputs, another seed gives other text.  The engine
never sees the seed, only the generated rows.  Sizes come from a fixed
shape stream (:func:`_shape`), so each seed asks for the same amount of
work.

The corpus is opinion-shaped: a court header, paragraphs of sentences
with abbreviations and citations (``U.S.``, ``v.``, ``No.``), boilerplate
sentences shared across documents, and a rare string-cite sentence that
runs over the 512-token chunk budget.  Document lengths are lognormal
(median ~10k characters) with a tail of ~1 MB documents.
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass

_WORDS = (
    "court appeal appellant appellee district judgment motion record trial "
    "evidence statute section claim defendant plaintiff jury verdict order "
    "review standard error discretion finding fact law contract damages "
    "injury negligence duty breach remedy relief petition habeas counsel "
    "argument brief opinion dissent majority precedent holding dictum "
    "jurisdiction venue remand reverse affirm summary dismissal complaint "
    "testimony witness exhibit objection hearing sentence conviction plea "
    "agency regulation rule interpretation ambiguity text purpose history "
    "congress legislature amendment constitution clause due process equal "
    "protection search seizure warrant probable cause officer arrest "
    "property title lease tenant landlord easement mortgage foreclosure "
    "insurance coverage policy exclusion premium employer employee wage "
    "discrimination retaliation arbitration agreement class certification "
    "settlement fee award costs interest prejudgment the a of to and in "
    "that is was for on not with as by this be are which it under whether "
    "because however therefore although moreover further thus also only"
).split()
_PARTIES = (
    "Smith Jones Brown Garcia Miller Davis Wilson Anderson Taylor Thomas "
    "Moore Martin Jackson White Harris Clark Lewis Walker Hall Young King "
    "Wright Lopez Hill Scott Green Adams Baker Nelson Carter Mitchell"
).split()
_REPORTERS = ("U.S.", "F.3d", "F.2d", "S. Ct.", "F. Supp.", "L. Ed.")
_COURTS = (
    "UNITED STATES COURT OF APPEALS FOR THE NINTH CIRCUIT",
    "UNITED STATES DISTRICT COURT FOR THE DISTRICT OF COLUMBIA",
    "SUPREME COURT OF THE UNITED STATES",
    "COURT OF APPEALS OF THE STATE OF NEW YORK",
    "UNITED STATES COURT OF APPEALS FOR THE FIFTH CIRCUIT",
)
#: sentences shared across documents (headers, disclaimers, dispositions)
_BOILERPLATE = (
    "This disposition is not appropriate for publication and is not "
    "precedent except as provided by Ninth Circuit Rule 36-3.",
    "We review the district court's decision for abuse of discretion.",
    "We have jurisdiction under 28 U.S.C. 1291, and we affirm.",
    "The judgment of the district court is AFFIRMED.",
    "AFFIRMED in part, REVERSED in part, and REMANDED.",
    "Each party shall bear its own costs on appeal.",
    "The parties are familiar with the facts, so we do not repeat them here.",
    "Summary judgment is appropriate when there is no genuine dispute as "
    "to any material fact.",
    "We review questions of statutory interpretation de novo.",
    "The panel unanimously concludes this case is suitable for decision "
    "without oral argument.",
    "Because the parties are familiar with the facts and procedural "
    "history, we restate them only as necessary to explain our decision.",
    "Any remaining arguments are either waived or without merit.",
    "The mandate shall issue forthwith.",
    "PETITION FOR REVIEW DENIED.",
    "Findings of fact are reviewed for clear error.",
    "The motion to dismiss is GRANTED.",
)

#: document-length shape (characters): lognormal median, sigma, bounds
DOC_MEDIAN_CHARS = 10_000
DOC_SIGMA = 1.0
DOC_MIN_CHARS = 300
DOC_MAX_CHARS = 1_000_000
#: share of sentences that are a string cite longer than the token budget
OVER_BUDGET_SENTENCE_RATE = 0.002
OVER_BUDGET_CHARS = 1_200  # ~0.6 tokens per character: ~700 tokens


@dataclass(frozen=True)
class Scale:
    """Input sizes; ``for_cores`` sizes them for the host's core count."""

    corpus_docs: int
    n_huge: int
    n_invalid: int
    chunk_table_chunks: int

    @staticmethod
    def for_cores(cores: int) -> "Scale":
        cores = max(1, cores)
        return Scale(
            corpus_docs=50 * cores,
            n_huge=1,
            n_invalid=max(2, cores // 2),
            chunk_table_chunks=400 * cores,
        )


def _rng(seed: int, stream: str) -> random.Random:
    """One independent generator per (seed, stream) so adding draws to one
    input never shifts another.  ``random.Random`` (Mersenne Twister) is
    used for its fast scalar draws; its sequence for a given seed is fixed
    across Python versions."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def _shape(stream: str) -> random.Random:
    """The workload's shape — document lengths, request sizes, query
    lengths, which documents are invalid, edited or deleted — is drawn
    from a fixed stream, so every seed gives the same amount of work and
    the seed only picks the text.  That keeps a run's figures comparable
    across seeds; the sizes still vary within a run."""
    return _rng(0, f"shape:{stream}")


def _citation(rng: random.Random, reporters=_REPORTERS) -> str:
    a, b = rng.sample(_PARTIES, 2)
    return (
        f"{a} v. {b}, {rng.randrange(1, 600)} {rng.choice(reporters)} "
        f"{rng.randrange(1, 1500)} ({rng.randrange(1950, 2024)})"
    )


def _prose(rng: random.Random, n_words: int) -> str:
    words = rng.choices(_WORDS, k=n_words)
    words[0] = words[0].capitalize()
    roll = rng.random()
    if roll < 0.15:
        words.insert(rng.randrange(1, n_words), "see " + _citation(rng) + ",")
    elif roll < 0.22:
        words.insert(
            rng.randrange(1, n_words),
            f"in No. {rng.randrange(1, 99)}-{rng.randrange(100, 9999)}",
        )
    elif roll < 0.27:
        words.append(f"under 42 U.S.C. {rng.randrange(1000, 2000)}")
    end = "?" if rng.random() < 0.03 else "."
    return " ".join(words) + end


def _string_cite(rng: random.Random) -> str:
    """One sentence over the token budget: a semicolon-joined cite block
    with no sentence boundary inside (only reporters whose abbreviations
    the splitter knows)."""
    parts, chars = [], 0
    while chars < OVER_BUDGET_CHARS:
        c = _citation(rng, _REPORTERS[:3])
        parts.append(c)
        chars += len(c) + 2
    return "See " + "; ".join(parts) + "."


def opinion(rng: random.Random, target_chars: int) -> str:
    """One opinion of about ``target_chars`` characters."""
    a, b = rng.sample(_PARTIES, 2)
    out = [
        rng.choice(_COURTS),
        f"No. {rng.randrange(10, 24)}-{rng.randrange(1000, 99999)}",
        f"{a.upper()}, Plaintiff-Appellant, v. {b.upper()}, Defendant-Appellee.",
    ]
    size = sum(len(p) + 2 for p in out)
    while size < target_chars:
        para = []
        for _ in range(rng.randrange(3, 9)):
            roll = rng.random()
            if roll < OVER_BUDGET_SENTENCE_RATE:
                para.append(_string_cite(rng))
            elif roll < 0.12:
                para.append(rng.choice(_BOILERPLATE))
            else:
                para.append(_prose(rng, rng.randrange(8, 31)))
        p = " ".join(para)
        out.append(p)
        size += len(p) + 2
    return "\n\n".join(out)


def _doc_lengths(rng: random.Random, n: int, n_huge: int) -> list[int]:
    mu = math.log(DOC_MEDIAN_CHARS)
    lens = [
        int(min(max(rng.lognormvariate(mu, DOC_SIGMA), DOC_MIN_CHARS), DOC_MAX_CHARS))
        for _ in range(n)
    ]
    # the tail: a few documents near the maximum size
    for i in rng.sample(range(n), n_huge):
        lens[i] = int(DOC_MAX_CHARS * rng.uniform(0.8, 1.0))
    return lens


_INVALID_TEXTS = ("", "   ", "\n\n", " \t \n ")


def corpus(seed: int, scale: Scale) -> list[tuple[int, str]]:
    """The opinion corpus: ``[(id, text)]`` with ``scale.n_invalid``
    empty or whitespace documents that must be quarantined."""
    shape, rng = _shape("corpus"), _rng(seed, "corpus")
    lens = _doc_lengths(shape, scale.corpus_docs, scale.n_huge)
    invalid = shape.sample(range(len(lens)), scale.n_invalid)
    docs = [(i + 1, opinion(rng, n)) for i, n in enumerate(lens)]
    for k, i in enumerate(invalid):
        docs[i] = (docs[i][0], _INVALID_TEXTS[k % len(_INVALID_TEXTS)])
    return docs


#: average characters per 512-token chunk of generated prose
CHARS_PER_CHUNK = 1_360


def index_corpus(seed: int, scale: Scale) -> list[tuple[int, str]]:
    """Documents for the search workload's chunk table: corpus-shaped
    (no invalid or ~1 MB documents), about ``scale.chunk_table_chunks``
    chunks in total."""
    shape, rng = _shape("index"), _rng(seed, "index")
    docs, size = [], 0
    while size < scale.chunk_table_chunks * CHARS_PER_CHUNK:
        n = _doc_lengths(shape, 1, 0)[0]
        docs.append((len(docs) + 1, opinion(rng, n)))
        size += n
    return docs


@dataclass(frozen=True)
class Recrawl:
    new: list[tuple[int, str]]
    edited: frozenset[int]
    added: frozenset[int]
    deleted: frozenset[int]


def recrawl(seed: int, old: list[tuple[int, str]]) -> Recrawl:
    """The next crawl of ``old``: ~10% of documents edited mid-text, ~3%
    added, ~3% deleted."""
    shape, rng = _shape("recrawl"), _rng(seed, "recrawl")
    n = len(old)
    valid = [i for i, (_, t) in enumerate(old) if t.strip()]
    n_edit, n_del = max(1, n // 10), max(1, (3 * n) // 100)
    picks = shape.sample(valid, n_edit + n_del)
    edit_ix, del_ix = set(picks[:n_edit]), set(picks[n_edit:])
    new = []
    for i, (doc_id, text) in enumerate(old):
        if i in del_ix:
            continue
        if i in edit_ix:
            # replace one paragraph in the middle with a fresh one
            paras = text.split("\n\n")
            j = len(paras) // 2
            paras[j] = opinion(rng, 400).split("\n\n")[-1]
            text = "\n\n".join(paras)
        new.append((doc_id, text))
    next_id = max(d for d, _ in old) + 1
    n_add = max(1, (3 * n) // 100)
    lens = _doc_lengths(shape, n_add, 0)
    added = [(next_id + k, opinion(rng, lens[k])) for k in range(n_add)]
    new.extend(added)
    return Recrawl(
        new=new,
        edited=frozenset(old[i][0] for i in edit_ix),
        added=frozenset(d for d, _ in added),
        deleted=frozenset(old[i][0] for i in del_ix),
    )


@dataclass(frozen=True)
class Request:
    """One API request: a single text (``embed_text``) or a batch."""

    docs: tuple[tuple[int, str], ...]
    single: bool
    invalid_id: int | None  # the first invalid doc id, expected rejected


def requests(seed: int, n: int) -> list[Request]:
    """The request mix: ~half single texts, the rest batches of 2-10
    documents with a few of up to 100 (the reference's MAX_BATCH_SIZE);
    ~2% carry an invalid document."""
    shape, rng = _shape("requests"), _rng(seed, "requests")
    out = []
    for _ in range(n):
        roll = shape.random()
        if roll < 0.5:
            size = 1
        elif roll < 0.97:
            size = shape.randrange(2, 11)
        else:
            size = shape.randrange(20, 101)
        single = size == 1
        # embed_text serves its one document as id 0, like the reference
        lens = [int(shape.lognormvariate(math.log(1500), 0.6)) for _ in range(size)]
        docs = [(0 if single else k + 1, opinion(rng, m)) for k, m in enumerate(lens)]
        invalid_id = None
        if shape.random() < 0.02:
            k = shape.randrange(size)
            docs[k] = (docs[k][0], shape.choice(_INVALID_TEXTS))
            invalid_id = docs[k][0]
        out.append(Request(tuple(docs), single, invalid_id))
    return out


def queries(seed: int, n: int) -> list[str]:
    """Search queries of 3-20 words; ~20% repeat an earlier query."""
    shape, rng = _shape("queries"), _rng(seed, "queries")
    out: list[str] = []
    for _ in range(n):
        if out and shape.random() < 0.2:
            out.append(out[shape.randrange(len(out))])
            continue
        out.append(" ".join(rng.choices(_WORDS, k=shape.randrange(3, 21))))
    return out
