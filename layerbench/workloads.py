"""The benchmark's workloads: seeded inputs, set-up, and the timed loop.

Both workloads are a closed loop with one client: the next query is
sent when the previous ``.collect()`` has returned.

* ``query_warm`` — a code corpus index (``corpus_pandas``, code
  tokenizer, positional). A seeded mix of and / or / phrase / near /
  wildcard / fuzzy / regex / boolean / facet / more-like-this /
  ``search_many`` calls on one warm ``Searcher``, one call of each kind
  per cycle. Queries repeat along a Zipf law, so some reuse the warm
  plan cache. Every query's Σdf is below the single-task gate.
* ``query_hot`` — short documents over a small, heavily skewed
  vocabulary, sized so every query's Σdf is above the single-task gate:
  the distributed per-split WAND, its shuffle and the global cut run on
  every query. Every query is distinct; and / or alternate.

Set-up builds the index with ``build_index`` at the engine's default
settings, so the build layers are measured in set-up. Right after it, a
fixed number of cold calls (a new ``Searcher`` and its first query)
run; they are timed one by one and are not part of the loop.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from datastream_io_spark.corpus import corpus_pandas
from datastream_io_spark.operators import indexed_search
from datastream_io_spark.operators.boolean_search import (
    parse_boolean,
    search_boolean,
    tree_terms,
)
from layerbench.reference import same_topk

K = 10
MLT_TERMS = 20

# query_warm: words every language template of corpus.py contributes
# (as code-tokenizer output), plus the low Zipf identifiers
WARM_WORDS = [
    "parse", "config", "merge", "segments", "doc", "id", "read", "batch",
    "error", "count", "flush", "segment", "query", "terms", "index",
    "result", "return", "err", "file", "postings", "block", "delta",
    "logger", "import", "row", "rows", "max", "list", "path", "term",
    "first", "hash", "map", "encode", "new", "const", "self", "string",
]
WARM_IDENTS = [f"ident_{j}" for j in range(20)]
WARM_PHRASES = ["parse config", "read batch", "merge segments", "doc id",
                "max retries", "error count", "flush segment",
                "query terms", "posting list", "block encoder",
                "return nil", "file close", "import os", "transform row",
                "max rows", "last doc id"]
WARM_WILDCARD = ["pars", "seg", "merg", "flu", "ret", "que", "ind",
                 "ident_1", "ident_2", "doc"]
WARM_FUZZY = ["ident_12", "ident_23", "ident_15", "ident_31", "rows",
              "terms", "postings", "ident_7"]
WARM_REGEX = ["ident_1[0-9]", "ident_[2-4]", "pars.*", "seg.*",
              "merg.*", "(read|flush).*", "doc.*", "ident_[5-9]"]
WARM_BOOLEAN = ["(parse OR merge) AND config",
                "error AND count NOT retries",
                "doc AND (id OR segment)",
                '"read batch" OR flush',
                "import AND (os OR sys) NOT fmt",
                "(query OR terms) AND (postings OR block)",
                "return AND (nil OR err) NOT self",
                '"merge segments" OR "flush segment"']
# the warm loop's cycle: one call of each kind, in seeded order. No
# traffic trace exists to weight the kinds, so none is weighted.
WARM_KINDS = ("and", "or", "phrase", "near", "wildcard", "fuzzy", "regex",
              "boolean", "facet", "mlt", "batch")
# Each kind draws from its own pool along a Zipf law, so queries
# repeat and reach the plan cache. Both numbers are assumptions, not
# taken from a trace. With them the first query of a pool gets about
# 44% of its kind's calls, and the last gets the clipped tail, 26%.
WARM_POOL = 6  # distinct queries per kind
ZIPF_A = 1.6
# one call per distinct plan shape warms the JVM before timing: every
# ranked mode shares the single-task WAND plan of "and", which the cold
# calls have already run
WARM_UP = ("facet", "mlt", "batch")
# the timed loop runs at least this many whole steps (cycles or and/or
# pairs). A query_warm run with one cycle gets almost no plan-cache hits,
# since the pools start cold, so with fewer cycles the hit share, and the
# median, would depend on how fast the host was during the run.
MIN_STEPS = 2
# cold calls per run, each a new Searcher and its first "and" query;
# the first of them also compiles the rank plan, so the median needs
# several more
N_COLD = 5


@dataclass
class Sizes:
    code_docs: int = 500    # query_warm corpus
    hot_docs: int = 80_000  # query_hot corpus
    hot_terms: int = 30     # hot vocabulary size
    hot_p: float = 0.92     # chance a doc holds a given hot term
    hot_query_terms: int = 28  # terms per hot query: Σdf ≈ 2.06M


@dataclass
class Op:
    kind: str
    q: object
    mode: str = ""  # facet only: and / or
    cold: bool = False


@dataclass
class Record:
    op: Op
    latency_s: float
    plan_s: float
    collect_s: float
    rows: int
    result: object
    timed: bool


# ---------------------------------------------------------------- inputs


def code_corpus(n: int, seed: int) -> pd.DataFrame:
    return corpus_pandas(n, start=(seed * 7919) % 1_000_000)


def hot_corpus(sizes: Sizes, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n, h = sizes.hot_docs, sizes.hot_terms
    present = rng.random((n, h)) < sizes.hot_p
    rare = rng.integers(0, 5000, n)
    words = np.array([f"hot{j}" for j in range(h)])
    texts = [" ".join(words[row].tolist() + [f"rare{r}"])
             for row, r in zip(present, rare)]
    langs = ["en", "fr", "de", "es", "zh"]
    return pd.DataFrame({
        "repo": [f"hot/{seed}"] * n,
        "path": [f"doc_{i}" for i in range(n)],
        "commit": ["0" * 40] * n,
        "lang": [langs[i % 5] for i in range(n)],
        "content": texts,
    })


def write_corpus(pdf: pd.DataFrame, path: str) -> int:
    """Parquet the corpus; returns its content bytes."""
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return int(pdf["content"].str.len().sum())


def _zipf_pick(rng, pool: list):
    return pool[min(int(rng.zipf(ZIPF_A)) - 1, len(pool) - 1)]


def warm_ops(seed: int, n_docs: int):
    """Endless seeded op stream for query_warm."""
    rng = np.random.default_rng(seed + 1)
    words = WARM_WORDS + WARM_IDENTS

    def sample(pool, k):
        return [pool[i] for i in rng.choice(len(pool), k, replace=False)]

    def words_q(lo, hi):
        return " ".join(sample(words, int(rng.integers(lo, hi + 1))))

    pools = {
        "and": [words_q(2, 3) for _ in range(WARM_POOL)],
        "or": [words_q(2, 4) for _ in range(WARM_POOL)],
        "phrase": sample(WARM_PHRASES, WARM_POOL),
        "near": [(p, int(rng.integers(0, 3)), bool(rng.integers(0, 2)))
                 for p in sample(WARM_PHRASES, WARM_POOL)],
        "wildcard": sample(WARM_WILDCARD, WARM_POOL),
        "fuzzy": sample(WARM_FUZZY, WARM_POOL),
        "regex": sample(WARM_REGEX, WARM_POOL),
        "boolean": sample(WARM_BOOLEAN, WARM_POOL),
        "facet": [(words_q(2, 2), m) for m in ("and", "or") * 3],
        "mlt": [int(d) for d in rng.choice(n_docs, WARM_POOL, replace=False)],
        "batch": [{f"q{j}": words_q(2, 3) for j in range(4)}
                  for _ in range(WARM_POOL)],
    }

    def make(kind, cold=False):
        q = _zipf_pick(rng, pools[kind])
        if kind == "facet":
            return Op(kind, q[0], mode=q[1], cold=cold)
        return Op(kind, q, cold=cold)

    cold = [make("and", cold=True) for _ in range(N_COLD)]
    warm_up = [make(k) for k in WARM_UP]

    def stream():
        cycle = [str(k) for k in rng.permutation(WARM_KINDS)]
        i = 0
        while True:
            yield make(cycle[i % len(cycle)])
            i += 1

    # the loop runs whole cycles, so every run times every kind equally
    return cold + warm_up, stream(), len(WARM_KINDS)


def hot_ops(seed: int, sizes: Sizes):
    """Endless seeded stream of distinct hot and/or queries."""
    rng = np.random.default_rng(seed + 2)
    seen: set = set()

    def op(mode, cold=False):
        while True:
            terms = tuple(sorted(rng.choice(
                sizes.hot_terms, sizes.hot_query_terms,
                replace=False).tolist()))
            if (terms, mode) not in seen:
                seen.add((terms, mode))
                return Op(mode, " ".join(f"hot{t}" for t in terms),
                          cold=cold)

    cold = [op("and", cold=True) for _ in range(N_COLD)]

    def stream():
        while True:
            yield op("and")
            yield op("or")

    # the loop ends on whole and/or pairs, so its median always mixes
    # the two modes in the same proportion
    return cold, stream(), 2


# ------------------------------------------------------------- execution


class Runner:
    """Executes ops against one index; a cold op opens a new Searcher."""

    def __init__(self, spark, index_dir: str, tracer, corpus_df=None):
        self.spark = spark
        self.index_dir = index_dir
        self.tracer = tracer
        self.corpus_df = corpus_df
        with tracer.span("query.open"):
            self.searcher = indexed_search.Searcher(spark, index_dir)

    def _plan(self, s, op: Op):
        if op.kind in ("and", "or", "phrase"):
            return s.search(op.q, K, op.kind)
        if op.kind == "near":
            q, slop, ordered = op.q
            return s.search_near(q, K, slop=slop, ordered=ordered)
        if op.kind == "wildcard":
            return s.search_wildcard(op.q, K)
        if op.kind == "fuzzy":
            return s.search_fuzzy(op.q, K, max_dist=1)
        if op.kind == "regex":
            return s.search_regex(op.q, K)
        if op.kind == "boolean":
            return search_boolean(self.spark, self.index_dir, op.q, K)
        if op.kind == "facet":
            return s.facet_counts(op.q, "lang", op.mode)
        if op.kind == "mlt":
            return s.more_like_this(op.q, K, MLT_TERMS,
                                    corpus=self.corpus_df)
        if op.kind == "batch":
            return s.search_many(op.q, K, "and")
        raise ValueError(op.kind)

    def run(self, op: Op, timed: bool) -> Record:
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span(f"query.{op.kind}", cold=op.cold):
            s = self.searcher
            if op.cold:
                with tr.span("query.open"):
                    s = indexed_search.Searcher(self.spark, self.index_dir)
            t1 = time.perf_counter()
            with tr.span("query.plan"):
                df = self._plan(s, op)
            t2 = time.perf_counter()
            with tr.span("query.collect"):
                rows = df.collect()
            t3 = time.perf_counter()
        return Record(op, t3 - t0, t2 - t1, t3 - t2, len(rows),
                      _result(op, rows), timed)


def _result(op: Op, rows):
    if op.kind == "facet":
        return {r["lang"]: int(r["n_docs"]) for r in rows}
    if op.kind == "batch":
        out: dict = {qid: [] for qid in op.q}
        for r in rows:
            out[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
        return out
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def timed_loop(runner: Runner, first, stream, step: int, seconds: float):
    """The cold and warm-up calls, then the closed loop for
    ``seconds``; the loop stops on a whole multiple of ``step`` calls,
    and not before ``MIN_STEPS`` of them."""
    records = [runner.run(op, timed=False) for op in first]
    t0 = time.perf_counter()
    deadline = t0 + seconds
    n = 0
    while True:
        records.append(runner.run(next(stream), timed=True))
        n += 1
        if (n % step == 0 and n >= MIN_STEPS * step
                and time.perf_counter() >= deadline):
            break
    return records, time.perf_counter() - t0


# ---------------------------------------------------- traced ingest cycle

INGEST_BASE = 300  # docs of the streaming index the cycle starts from
INGEST_BATCH = 100  # docs the cycle ingests and merges
INGEST_QUERIES = 4  # checked queries after the delete, and/or alternating
INGEST_RANDOM_DELETES = 4


def ingest_cycle(spark, tracer, work: str, seed: int):
    """Writes beside reads, for the traced run: a small streaming code
    index, then one ``ingest_batch`` → ``merge_stream_batches`` →
    ``delete_docs`` cycle, then queries through a fresh ``Searcher``.
    Deleted ids are seeded: the reference's top hit of each query plus
    a few random docs, so a tombstone that leaks shows in the answers.
    Returns (bytes the ingest and merge wrote, content bytes of the
    batch, records, expected answers from the live docs)."""
    from datastream_io_spark.streaming.incremental import (
        finalize_stream_index,
        ingest_batch,
        merge_stream_batches,
    )
    from layerbench.reference import Reference

    corpus = code_corpus(INGEST_BASE + INGEST_BATCH, seed + 3)
    base, batch = corpus.iloc[:INGEST_BASE], corpus.iloc[INGEST_BASE:]
    idx = os.path.join(work, "stream_index")
    ingest_batch(spark, spark.createDataFrame(base), 0, idx)
    finalize_stream_index(spark, idx)
    before = du(idx)
    with tracer.span("ingest.batch"):
        ingest_batch(spark, spark.createDataFrame(batch), 1, idx)
    with tracer.span("ingest.merge"):
        merge_stream_batches(spark, idx)
    written = du(idx) - before

    ref = Reference(docs_with_text(idx, corpus), "code")
    rng = np.random.default_rng(seed + 4)
    words = WARM_WORDS + WARM_IDENTS
    ops = [Op(("and", "or")[i % 2],
              " ".join(words[j] for j in rng.choice(len(words), 2,
                                                     replace=False)))
           for i in range(INGEST_QUERIES)]
    tops = [ref.ranked(op.q, K, op.kind) for op in ops]
    doomed = {top[0][0] for top in tops if top}
    doomed |= {int(d) for d in rng.choice(ref.doc_ids,
                                          INGEST_RANDOM_DELETES,
                                          replace=False)}
    with tracer.span("maintain.delete"):
        indexed_search.delete_docs(spark, idx, doc_ids=sorted(doomed))
    ref.delete(doomed)
    runner = Runner(spark, idx, tracer)
    records = [runner.run(op, timed=False) for op in ops]
    return (written, int(batch["content"].str.len().sum()), records,
            [expected(ref, op) for op in ops])


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ----------------------------------------------------------------- checks


def docs_with_text(index_dir: str, corpus: pd.DataFrame) -> pd.DataFrame:
    """The index's doc ids joined back to the corpus text."""
    docs = pq.read_table(os.path.join(index_dir, "docs"),
                         columns=["doc_id", "repo", "path", "commit",
                                  "lang"]).to_pandas()
    return docs.merge(corpus[["repo", "path", "commit", "content"]],
                      on=["repo", "path", "commit"]).rename(
        columns={"content": "text"})[["doc_id", "text", "lang"]]


def expected(ref, op: Op):
    if op.kind in ("and", "or", "phrase"):
        return ref.ranked(op.q, K, op.kind)
    if op.kind == "near":
        q, slop, ordered = op.q
        return ref.near(q, K, slop, ordered)
    if op.kind in ("wildcard", "fuzzy", "regex"):
        return ref.expanded(op.q, K, op.kind)
    if op.kind == "boolean":
        return ref.boolean(op.q, K)
    if op.kind == "facet":
        return ref.facet(op.q, op.mode)
    if op.kind == "mlt":
        return ref.mlt(op.q, K, MLT_TERMS)
    if op.kind == "batch":
        return {qid: ref.ranked(q, K, "and") for qid, q in op.q.items()}
    raise ValueError(op.kind)


def matches(op: Op, got, exp) -> bool:
    if op.kind == "facet":
        return got == exp
    if op.kind == "batch":
        return (set(got) == set(exp)
                and all(same_topk(got[q], exp[q]) for q in exp))
    return same_topk(got, exp)


def op_terms(ref, op: Op) -> tuple[list[str], bool]:
    """(terms whose postings the op reads, whether the engine's
    single-term fast path applies) — the inputs of the gate."""
    if op.kind in ("and", "or", "phrase", "facet"):
        t = sorted(set(ref.pure(op.q)))
        return t, op.kind != "facet" and len(t) == 1
    if op.kind == "near":
        t = sorted(set(ref.pure(op.q[0])))
        return t, len(t) == 1
    if op.kind in ("wildcard", "fuzzy", "regex"):
        t = ref.expansion(op.q, op.kind)
        return t, len(t) == 1
    if op.kind == "boolean":
        return sorted(tree_terms(parse_boolean(op.q, ref.tokenizer))[1]), False
    if op.kind == "mlt":
        t = ref.mlt_terms(op.q, MLT_TERMS)
        return t, len(t) == 1
    if op.kind == "batch":
        return sorted({t for q in op.q.values() for t in ref.pure(q)}), False
    raise ValueError(op.kind)


def gate_path(dict_df: dict, ref, op: Op) -> tuple[int, bool]:
    """(Σdf from the index dictionary, runs as a single task)."""
    terms, single_term = op_terms(ref, op)
    est = sum(dict_df.get(t, 0) for t in terms)
    gate = indexed_search.SINGLE_TASK_MAX_POSTINGS
    conjunctive = (op.kind in ("and", "phrase", "near")
                   or (op.kind == "facet" and op.mode == "and"))
    if conjunctive and any(t not in dict_df for t in terms):
        return est, False  # answered empty without a rank job
    return est, 0 < est <= gate and not single_term


def read_dict_df(index_dir: str) -> dict:
    t = pq.read_table(os.path.join(index_dir, "dict"), columns=["term", "df"])
    return dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))
