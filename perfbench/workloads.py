"""The four workloads, each driven through ``EmbeddingEngine``'s public API.

A workload has these phases, which ``run.py`` sequences and times:

* ``generate`` — seeded inputs (``gen.py``); the engine sees only these;
* ``stage`` — input parquet files;
* ``derive`` — engine-made inputs of the timed phase, built once (the
  prior output for the recrawl, the chunk table for search);
* ``op(i, traced)`` — one timed operation: a corpus pass, a recrawl pass,
  a request or a query.  With ``traced`` it opens spans around the calls
  into each layer;
* ``check(ops)`` — compares every output with single-process references
  (``checks.py``) and counts the operations that failed;
* ``probe(sent)`` — traced runs only: the per-layer figures that need their
  own Spark jobs or a single-process replay of the pure-Python layers.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from inception_spark.functions.cleaning import clean_text_py
from inception_spark.operators import chunking as chunking_mod
from inception_spark.operators.encoding import HashingStubEncoder, make_embed_udf
from inception_spark.operators.similarity import semantic_search
from inception_spark.sentences import split_sentences
from inception_spark.tokenizer import RegexTokenizer

from perfbench import checks, gen
from perfbench.trace import (
    Tracer,
    TimedTokenizer,
    job_group,
    spark_job_stats,
    timed_splitter,
)

DOCS_SCHEMA = "id long, text string"
#: ~1 in this many output chunks has its embedding compared bit for bit
EMBED_SAMPLE_MOD = 53


@dataclass
class Ctx:
    spark: object
    engine: object
    tracer: Tracer
    work: str
    seed: int
    scale: gen.Scale
    cores: int


@dataclass
class Op:
    seconds: float
    nbytes: int
    result: object = None
    error: str | None = None  # an unexpected exception
    traced: bool = False


@dataclass
class Checked:
    errors: list = field(default_factory=list)
    failed_ops: int = 0        # operations failed or wrong
    rejected: int = 0          # expected rejections / quarantines, verified
    attempted_unit: int = 1    # documents per op (batch) or 1 (loops)


def _write_docs(path: str, docs, files: int) -> None:
    """Stage ``docs`` as a directory of ``files`` parquet files holding
    about equal amounts of text (largest document first, each to the
    lightest file).  One file per core keeps Spark's input split, and so
    the task count and balance, the same for every seed."""
    bins: list[list] = [[] for _ in range(files)]
    load = [0] * files
    for doc in sorted(docs, key=lambda d: -len(d[1])):
        k = load.index(min(load))
        bins[k].append(doc)
        load[k] += len(doc[1])
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("id", pa.int64()), ("text", pa.string())])
    for k, part in enumerate(bins):
        part.sort()
        table = pa.table(
            {"id": [d for d, _ in part], "text": [t for _, t in part]}, schema=schema
        )
        pq.write_table(table, os.path.join(path, f"part-{k:03d}.parquet"))


def _mb(docs) -> float:
    return sum(len(t.encode("utf-8")) for _, t in docs) / 1e6


def _corpus_desc(docs) -> str:
    lens = sorted(len(t) for _, t in docs)
    return (
        f"{len(docs)} docs, {_mb(docs):.2f} MB, median {lens[len(lens) // 2]} "
        f"chars, largest {lens[-1]} chars, "
        f"{sum(checks.is_invalid(t) for _, t in docs)} invalid"
    )


def _summary_aggs(*, with_embedding: bool = False, sample: bool = True):
    """An order-independent summary of a chunk-embedding output, cheap enough
    to ride along every timed pass as an observation: rows, token sum, the
    XOR of per-row keys (``checks.row_key``, which the checks compute the
    same way over the reference) and a ~1/``EMBED_SAMPLE_MOD`` sample of
    rows.  ``with_embedding`` adds an XOR of embedding hashes, for comparing
    two engine outputs."""
    key = F.concat_ws("|", "doc_id", "chunk_number", F.md5("chunk"), "n_tokens")
    key = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens"),
        F.coalesce(F.bit_xor(key), F.lit(0)).alias("digest"),
    ]
    if with_embedding:
        emb = F.xxhash64("doc_id", "chunk_number", "embedding")
        aggs.append(F.coalesce(F.bit_xor(emb), F.lit(0)).alias("emb_digest"))
    if sample:
        picked = (F.abs(F.hash("doc_id", "chunk_number")) % EMBED_SAMPLE_MOD) == 0
        row = F.struct("doc_id", "chunk_number", "chunk", "embedding")
        aggs.append(F.collect_list(F.when(picked, row)).alias("sample"))
    return aggs


def _observe(df, name: str, *extra):
    obs = Observation(name)
    return df.observe(obs, *_summary_aggs(), *extra), obs


def _check_summary(summary: dict, ref: dict, label: str, **extra) -> list:
    want = {
        "rows": len(ref),
        "tokens": sum(v[1] for v in ref.values()),
        "digest": checks.table_key(ref),
        **extra,
    }
    got = {k: summary[k] for k in want}
    errs = [f"{label}: summary {got} != expected {want}"] if got != want else []
    sampled = [((r.doc_id, r.chunk_number), r.chunk, r.embedding) for r in summary["sample"]]
    for key, chunk, _ in sampled:
        if ref.get(key, ("",))[0] != checks.md5(chunk):
            errs.append(f"{label}: sampled chunk {key} differs from the reference")
    return errs + checks.check_embeddings(sampled, label=label)


def _check_passes(ops, ref: dict, label: str, **extra) -> tuple[list, int]:
    """Check every timed pass's observed summary; → (errors, bad passes)."""
    errs, bad = [], 0
    for i, op in enumerate(ops):
        e = (
            [f"{label} pass {i}: {op.error}"]
            if op.error is not None
            else _check_summary(op.result.get, ref, f"{label} pass {i}", **extra)
        )
        errs += e
        bad += bool(e)
    return errs, bad


def _chunk_table(df) -> dict:
    """(doc_id, chunk_number) → (md5, n_tokens): the full table, collected
    only to diagnose a failed summary."""
    rows = df.select("doc_id", "chunk_number", F.md5("chunk").alias("m"), "n_tokens")
    return {(r.doc_id, r.chunk_number): (r.m, r.n_tokens) for r in rows.collect()}


class _Replay:
    """Single-process replay of the pure-Python layers over the same
    inputs, through the public ``tokenizer=`` / ``sentence_splitter=``
    parameters of ``split_text_into_chunks`` — the traced run's source of
    busy times and counts for cleaning, sentences, tokenizer, chunking and
    encoding.  Its chunk table doubles as the correctness reference."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        # the engine's chunk UDF tokenizer (an LRU-cached counter) when it
        # exposes one, so the hit ratio is the engine's own
        inner_cls = getattr(chunking_mod, "_CountCachedTokenizer", RegexTokenizer)
        self.tok = TimedTokenizer(inner_cls(), tracer)
        self.tally: dict = {}
        self.splitter = timed_splitter(split_sentences, tracer, self.tally)

    def chunks(self, docs, texts: list | None = None) -> dict:
        def one(call):
            with self.tracer.span("chunking.split_text_into_chunks") as sp:
                out = call()
                sp.counts["chunks"] = len(out)
                return out

        with self.tracer.span("replay.chunk"):
            return checks.reference_chunks(
                docs,
                tokenizer=self.tok,
                sentence_splitter=self.splitter,
                on_doc=one,
                texts=texts,
            )

    def clean(self, texts) -> None:
        with self.tracer.span("replay.clean"):
            for t in texts:
                t0 = time.perf_counter()
                clean_text_py(t)
                self.tracer.leaf("cleaning.clean_text_py", time.perf_counter() - t0)

    def encode(self, texts: list[str], batch_rows: int) -> None:
        enc = HashingStubEncoder()
        with self.tracer.span("replay.encode") as sp:
            for i in range(0, len(texts), batch_rows):
                batch = [checks.LEAD_DOCUMENT + t for t in texts[i : i + batch_rows]]
                t0 = time.perf_counter()
                enc.encode(batch)
                self.tracer.leaf("encoding.encode", time.perf_counter() - t0)
            sp.counts["encoded_rows"] = len(texts)

    def layers(self) -> dict:
        tr = self.tracer
        s_calls, s_busy = tr.leaf_totals("sentences.split_sentences")
        c_calls, c_busy = tr.leaf_totals("tokenizer.count")
        e_calls, e_busy = tr.leaf_totals("encoding.encode")
        rows = tr.count("encoded_rows")
        return {
            "cleaning.clean_text_py.busy_s": tr.leaf_totals("cleaning.clean_text_py")[1],
            "sentences.split_sentences.busy_s": s_busy,
            "sentences.split_sentences.calls": s_calls,
            "sentences.sentences": self.tally.get("sentences", 0),
            "tokenizer.count.busy_s": c_busy,
            "tokenizer.count.calls": c_calls,
            "tokenizer.count.tokens": self.tok.tokens,
            "tokenizer.count.cache_hit_ratio": self.tok.cache_hit_ratio(),
            "tokenizer.truncate.calls": self.tok.truncate_calls,
            "chunking.split_text_into_chunks.self_s": tr.self_time(
                "chunking.split_text_into_chunks"
            ),
            "chunking.chunks": tr.count("chunks"),
            "encoding.encode.busy_s": e_busy,
            "encoding.encode.calls": e_calls,
            "encoding.rows_per_call": rows / e_calls if e_calls else 0.0,
            "encoding.bytes_out": rows * HashingStubEncoder().dim * 4,
        }


def _arrow_batch_rows(spark) -> int:
    return int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))


def _stage_probe(ctx: Ctx, group: str, action) -> dict:
    sc = ctx.spark.sparkContext
    t0 = time.perf_counter()
    with job_group(sc, group):
        action()
    wall = time.perf_counter() - t0
    return {"wall_s": wall, **spark_job_stats(sc, group)}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _validate_and_chunk_probes(ctx: Ctx, docs_df) -> tuple[object, dict]:
    """The validation action and the chunker alone (``chunk_documents`` →
    noop), each as its own Spark job group.  Returns the valid rows too."""
    eng = ctx.engine
    good, bad = eng.validate_documents(docs_df)
    v = _stage_probe(ctx, "probe-validate", lambda: (_noop(good), bad.count()))
    c = _stage_probe(ctx, "probe-chunk", lambda: _noop(eng.chunk(good)))
    return good, {
        "cleaning.validate_s": v["wall_s"],
        "cleaning.quarantined": bad.count(),
        "chunking.stage_s": c["wall_s"],
        "chunking.stage_cpu_s": c["executor_cpu_s"],
        "chunking.task_skew": c["task_skew"],
    }


def _encode_probe(ctx: Ctx, chunks_df) -> dict:
    """The encoder alone: the embed UDF over a pre-chunked table → noop."""
    embed = make_embed_udf(ctx.engine.config, encoder_kind="stub")
    e = _stage_probe(
        ctx,
        "probe-encode",
        lambda: _noop(chunks_df.withColumn("embedding", embed(F.col("chunk")))),
    )
    return {"encoding.stage_s": e["wall_s"]}


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.work, name)

    def derive(self) -> None:
        """Engine-made inputs of the timed phase, built once."""

    def _check_batch(self, ops, ref, docs, docs_df, output_df, **extra) -> Checked:
        """A batch workload's checks: the summary of every timed pass, a
        full comparison only when one is wrong, and the quarantine."""
        n_docs = len(docs)
        invalid = {d for d, t in docs if checks.is_invalid(t)}
        out = Checked(attempted_unit=n_docs)
        out.errors, bad_passes = _check_passes(ops, ref, self.name, **extra)
        wrong: set = set()
        if bad_passes:
            table = _chunk_table(output_df)
            out.errors += checks.check_chunks(ref, table, label=self.name)
            wrong = checks.bad_docs(ref, table)
        bad = self.ctx.engine.validate_documents(docs_df)[1]
        quarantined = [r.id for r in bad.select("id").collect()]
        out.errors += checks.check_quarantine(invalid, quarantined, label=self.name)
        out.rejected = len(quarantined) * len(ops)
        out.failed_ops = bad_passes * (len(wrong) or n_docs) + len(
            set(quarantined) ^ invalid
        ) * len(ops)
        self.digest = checks.chunk_digest(ref)
        return out


# ---------------------------------------------------------------------------
# corpus_embed
# ---------------------------------------------------------------------------


class CorpusEmbed(Workload):
    name = "corpus_embed"

    def generate(self) -> None:
        self.docs = gen.corpus(self.ctx.seed, self.ctx.scale)
        self.ref = None  # the traced run's replay fills it in
        self.mb = _mb(self.docs)

    def stage(self) -> None:
        _write_docs(self.path("corpus.parquet"), self.docs, self.ctx.cores)

    def _input(self):
        return self.ctx.spark.read.parquet(self.path("corpus.parquet"))

    def warm_up(self) -> None:
        """Two untimed passes: the first three passes over the real inputs
        run ~35%, ~20% and ~7% behind the rest (4 cores), and with one
        warm-up pass the slow ones took up a third of a run's samples, so
        the p50 followed how quickly each run warmed."""
        for i in (-2, -1):
            self.op(i, False)

    def input_desc(self) -> str:
        return _corpus_desc(self.docs)

    def op(self, i: int, traced: bool) -> Op:
        eng, tr = self.ctx.engine, self.ctx.tracer
        with tr.span("engine.embed_documents.plan"):
            out, obs = _observe(eng.embed_documents(self._input()), f"corpus{i}")
        with tr.span("engine.action"):
            out.write.format("noop").mode("overwrite").save()
        return Op(0.0, int(self.mb * 1e6), obs)

    def check(self, ops) -> Checked:
        ref = self.ref or checks.reference_chunks(self.docs)
        output = self.ctx.engine.embed_documents(self._input())
        return self._check_batch(ops, ref, self.docs, self._input(), output)

    def probe(self, sent: int) -> dict:
        ctx = self.ctx
        good, layers = _validate_and_chunk_probes(ctx, self._input())
        ctx.engine.chunk(good).write.mode("overwrite").parquet(self.path("chunked.parquet"))
        layers.update(_encode_probe(ctx, ctx.spark.read.parquet(self.path("chunked.parquet"))))
        replay = _Replay(ctx.tracer)
        replay.clean(t for _, t in self.docs)
        texts: list = []
        self.ref = replay.chunks(self.docs, texts)
        replay.encode([t for _, t in texts], _arrow_batch_rows(ctx.spark))
        layers.update(replay.layers())
        return layers


# ---------------------------------------------------------------------------
# recrawl_delta
# ---------------------------------------------------------------------------


class RecrawlDelta(Workload):
    name = "recrawl_delta"

    def generate(self) -> None:
        self.old = gen.corpus(self.ctx.seed, self.ctx.scale)
        self.rc = gen.recrawl(self.ctx.seed, self.old)
        self.ref_old = self.ref_new = None  # the traced run's replay fills them in
        self.mb = _mb(self.rc.new)

    def stage(self) -> None:
        _write_docs(self.path("old.parquet"), self.old, self.ctx.cores)
        _write_docs(self.path("new.parquet"), self.rc.new, self.ctx.cores)

    def derive(self) -> None:
        sp, eng = self.ctx.spark, self.ctx.engine
        # the previous crawl's output, keyed by chunk md5 as the delta path
        # expects
        prev = eng.embed_documents(sp.read.parquet(self.path("old.parquet")))
        prev.withColumn("chunk_md5", F.md5("chunk")).write.mode("overwrite").parquet(
            self.path("prev.parquet")
        )

    def _new(self):
        return self.ctx.spark.read.parquet(self.path("new.parquet"))

    def warm_up(self) -> None:
        """One untimed delta pass: its first run pays for the join and
        checkpoint paths that ``derive`` did not touch."""
        self.op(-1, False)

    def input_desc(self) -> str:
        rc = self.rc
        return (
            f"{_corpus_desc(rc.new)}; {len(rc.edited)} edited, "
            f"{len(rc.added)} added, {len(rc.deleted)} deleted"
        )

    def op(self, i: int, traced: bool) -> Op:
        eng, tr, sp = self.ctx.engine, self.ctx.tracer, self.ctx.spark
        with tr.span("engine.embed_documents.plan"):
            out = eng.embed_documents_delta(
                self._new(), sp.read.parquet(self.path("prev.parquet"))
            )
            out, obs = _observe(
                out,
                f"recrawl{i}",
                F.sum(F.col("fresh").cast("int")).alias("fresh"),
            )
        with tr.span("engine.action"):
            out.write.mode("overwrite").parquet(self.path("out.parquet"))
        return Op(0.0, int(self.mb * 1e6), obs)

    def check(self, ops) -> Checked:
        sp, eng = self.ctx.spark, self.ctx.engine
        ref_old = self.ref_old or checks.reference_chunks(self.old)
        ref_new = self.ref_new or self._reference_new(ref_old)
        delta = sp.read.parquet(self.path("out.parquet"))
        out = self._check_batch(
            ops, ref_new, self.rc.new, self._new(), delta,
            fresh=checks.expected_fresh(ref_old, ref_new),
        )
        # the delta output must equal a full re-embed of the new version,
        # embeddings included
        whole = _summary_aggs(with_embedding=True, sample=False)
        got = delta.agg(*whole).first().asDict()
        want = eng.embed_documents(self._new()).agg(*whole).first().asDict()
        if got != want:
            out.errors.append(f"{self.name}: delta output {got} != full embed {want}")
            out.failed_ops += out.attempted_unit
        return out

    def _reference_new(self, ref_old: dict) -> dict:
        """The new version's reference, reusing the old one's chunks for
        unchanged documents (the chunker is per-document)."""
        before = dict(self.old)
        same = {d for d, t in self.rc.new if before.get(d) == t}
        ref = {k: v for k, v in ref_old.items() if k[0] in same}
        ref.update(checks.reference_chunks([d for d in self.rc.new if d[0] not in same]))
        return ref

    def probe(self, sent: int) -> dict:
        ctx = self.ctx
        _, layers = _validate_and_chunk_probes(ctx, self._new())
        replay = _Replay(ctx.tracer)
        texts: list = []
        self.ref_new = replay.chunks(self.rc.new, texts)
        self.ref_old = checks.reference_chunks(self.old)
        have = {(k[0], v[0]) for k, v in self.ref_old.items()}
        fresh = [t for k, t in texts if (k[0], checks.md5(t)) not in have]
        # the encoder over the fresh chunks only: what the delta path encodes
        fresh_df = ctx.spark.createDataFrame([(t,) for t in fresh], "chunk string")
        layers.update(_encode_probe(ctx, fresh_df))
        replay.encode(fresh, _arrow_batch_rows(ctx.spark))
        layers.update(replay.layers())
        delta = ctx.spark.read.parquet(self.path("out.parquet"))
        n_all, n_fresh = delta.count(), delta.filter("fresh").count()
        layers["engine.delta.fresh_chunks"] = n_fresh
        layers["engine.delta.reuse_ratio"] = (n_all - n_fresh) / n_all if n_all else 0.0
        return layers


# ---------------------------------------------------------------------------
# request_batches
# ---------------------------------------------------------------------------


class RequestBatches(Workload):
    name = "request_batches"
    N_REQUESTS = 400  # more than a run sends; the list wraps if not

    def generate(self) -> None:
        self.reqs = gen.requests(self.ctx.seed, self.N_REQUESTS)

    def stage(self) -> None:
        pass

    def op(self, i: int, traced: bool) -> Op:
        return self._send(self.reqs[i % len(self.reqs)])

    def input_desc(self) -> str:
        sizes = [len(r.docs) for r in self.reqs]
        return (
            f"{len(sizes)} requests, {sum(s == 1 for s in sizes)} single, "
            f"largest {max(sizes)} docs, "
            f"{sum(r.invalid_id is not None for r in self.reqs)} invalid"
        )

    def _send(self, req: gen.Request) -> Op:
        eng, tr, sp = self.ctx.engine, self.ctx.tracer, self.ctx.spark
        nbytes = sum(len(t.encode("utf-8")) for _, t in req.docs)
        try:
            with tr.span("engine.embed_documents.plan"):
                if req.single:
                    df = eng.embed_text(req.docs[0][1])
                else:
                    df = eng.embed_documents(
                        sp.createDataFrame(list(req.docs), DOCS_SCHEMA),
                        validate="strict",
                    )
            with tr.span("engine.action"):
                rows = df.collect()
        except ValueError as e:  # the strict paths reject invalid documents
            return Op(0.0, nbytes, ("rejected", str(e)))
        return Op(0.0, nbytes, ("ok", rows))

    def warm_up(self) -> None:
        # the strict single and batch paths, on requests outside the mix
        for req in gen.requests(self.ctx.seed + 1_000_003, 2):
            self._send(req)

    def _expected_rejection(self, req: gen.Request) -> str:
        if req.single:
            return checks.EMPTY_TEXT_ERROR
        return f"Document {req.invalid_id}: {checks.EMPTY_TEXT_ERROR}"

    def check(self, ops) -> Checked:
        out = Checked()
        for i, op in enumerate(ops):
            req = self.reqs[i % len(self.reqs)]
            label = f"{self.name} request {i}"
            if op.error is not None:
                out.errors.append(f"{label}: {op.error}")
                out.failed_ops += 1
                continue
            kind, payload = op.result
            if req.invalid_id is not None:
                errs = checks.check_rejection(
                    self._expected_rejection(req),
                    payload if kind == "rejected" else None,
                    label=label,
                )
                out.rejected += not errs
            elif kind == "rejected":
                errs = [f"{label}: unexpected rejection {payload!r}"]
            else:
                errs = self._check_rows(req, payload, label)
            out.errors += errs
            out.failed_ops += bool(errs)
        out.errors += self._probe_rejections()
        return out

    def _check_rows(self, req, rows, label: str) -> list[str]:
        ref = checks.reference_chunks(req.docs)
        table = {
            (r.doc_id, r.chunk_number): (checks.md5(r.chunk), r.n_tokens) for r in rows
        }
        errs = checks.check_chunks(ref, table, label=label)
        errs += checks.check_embeddings(
            [((r.doc_id, r.chunk_number), r.chunk, r.embedding) for r in rows],
            label=label,
        )
        return errs

    def _probe_rejections(self) -> list[str]:
        """Expected rejections exercised on every run, whatever the mix."""
        eng, sp = self.ctx.engine, self.ctx.spark
        got = []
        for call in (
            lambda: eng.embed_text(" \n "),
            lambda: eng.embed_documents(
                sp.createDataFrame([(1, "A valid opinion."), (2, "  ")], DOCS_SCHEMA),
                validate="strict",
            ).collect(),
        ):
            try:
                call()
                got.append(None)
            except ValueError as e:
                got.append(str(e))
        return checks.check_rejection(
            checks.EMPTY_TEXT_ERROR, got[0], label="probe embed_text"
        ) + checks.check_rejection(
            f"Document 2: {checks.EMPTY_TEXT_ERROR}", got[1], label="probe batch"
        )

    def probe(self, sent: int) -> dict:
        replay = _Replay(self.ctx.tracer)
        docs = [d for r in self.reqs[:sent] for d in r.docs]
        # request ids repeat across requests; the replay keys by position
        docs = [(i, t) for i, (_, t) in enumerate(docs)]
        texts: list = []
        replay.chunks(docs, texts)
        replay.encode([t for _, t in texts], _arrow_batch_rows(self.ctx.spark))
        return replay.layers()


# ---------------------------------------------------------------------------
# search_queries
# ---------------------------------------------------------------------------


class SearchQueries(Workload):
    name = "search_queries"
    N_QUERIES = 400
    WARM_UP_QUERIES = 16

    def generate(self) -> None:
        self.index_docs = gen.index_corpus(self.ctx.seed, self.ctx.scale)
        self.queries = gen.queries(self.ctx.seed, self.N_QUERIES)

    def stage(self) -> None:
        _write_docs(self.path("index.parquet"), self.index_docs, self.ctx.cores)

    def derive(self) -> None:
        sp, eng = self.ctx.spark, self.ctx.engine
        df = sp.read.parquet(self.path("index.parquet"))
        eng.embed_documents(df).write.mode("overwrite").parquet(self.path("chunks.parquet"))
        self.table = sp.read.parquet(self.path("chunks.parquet"))
        self.n_chunks = self.table.count()

    def input_desc(self) -> str:
        return (
            f"chunk table of {self.n_chunks} chunks from {len(self.index_docs)} "
            f"docs, {len(self.queries)} queries, {len(set(self.queries))} distinct"
        )

    def warm_up(self) -> None:
        """Queries outside the timed list (a later query cache must not get
        a hit from them).  The JVM keeps compiling the planner: latency
        falls by almost half over the first ~20 queries and by another
        quarter over the next ~80 (4 cores).  With one warm-up query the
        steep part fell inside the timed phase, and the p50 followed how far
        down it each run got; 16 take the steep part out at a set-up cost
        the run budget allows."""
        for q in gen.queries(self.ctx.seed + 1_000_003, self.WARM_UP_QUERIES):
            self.ctx.engine.search(q, self.table, k=10).collect()

    def op(self, i: int, traced: bool) -> Op:
        eng, tr = self.ctx.engine, self.ctx.tracer
        q = self.queries[i % len(self.queries)]
        if traced:
            with tr.span("engine.embed_query"):
                vec = eng.embed_query(q)
            with tr.span("similarity.semantic_search.plan"):
                df = semantic_search(self.table, vec, k=10)
            with tr.span("similarity.semantic_search.exec"):
                rows = df.collect()
        else:
            rows = eng.search(q, self.table, k=10).collect()
        return Op(0.0, len(q.encode("utf-8")), rows)

    def check(self, ops) -> Checked:
        out = Checked()
        ref = checks.reference_chunks(self.index_docs)
        summary = self.table.agg(*_summary_aggs()).first().asDict()
        out.errors += _check_summary(summary, ref, f"{self.name} index")
        vecs = self.table.select("doc_id", "chunk_number", "embedding").collect()
        bf = checks.BruteForce(
            [(r.doc_id, r.chunk_number) for r in vecs],
            np.array([r.embedding for r in vecs], dtype=np.float32),
        )
        enc = HashingStubEncoder()
        for i, op in enumerate(ops):
            q = self.queries[i % len(self.queries)]
            label = f"{self.name} query {i}"
            if op.error is not None:
                out.errors.append(f"{label}: {op.error}")
                out.failed_ops += 1
                continue
            qv = enc.encode([checks.LEAD_QUERY + clean_text_py(q)])[0]
            want = bf.topk([float(x) for x in qv], k=10)
            got = [(r.doc_id, r.chunk_number, r.score, r.rank) for r in op.result]
            errs = checks.check_topk(want, got, label=label)
            out.errors += errs
            out.failed_ops += bool(errs)
        self.digest = checks.chunk_digest(ref)
        return out

    def probe(self, sent: int) -> dict:
        replay = _Replay(self.ctx.tracer)
        replay.clean(self.queries[:sent])
        return replay.layers()


WORKLOADS = {
    w.name: w for w in (CorpusEmbed, RecrawlDelta, RequestBatches, SearchQueries)
}
