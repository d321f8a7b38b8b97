"""The benchmark's workloads, timed with one closed-loop client in one
process (only the untimed ``topk_interactive`` warm-up runs several).

``topk_interactive``: k=10 top-k queries with WAND on over a small static
index — driver prepare, Spark job scheduling, the global top-k and the
identity join dominate. ``ingest_mixed``: streaming ``replace_batch``
commits with freshness and top-k reads after each publish, then a tier
consolidation and reads of the merged index.

Both report the same end-to-end metrics (``end_to_end``); a traced run
(``trace=True``) instead reports the per-layer metrics (``per_layer``).
"""

from __future__ import annotations

import binascii
import hashlib
import os
import sys
import time
import traceback

import numpy as np
import pandas as pd

from perfbench.gate import (
    CorrectnessError,
    answer,
    check_exact,
    check_ranked,
    live_scores,
    load_oracle_class,
)
from perfbench.tracing import (
    GroupStats,
    Tracer,
    aggregate_event_log,
    driver_serial_s,
    read_event_log,
    span_stats,
)

# Sizes keep one run near a minute on a 4-core host: every run pays a JVM
# launch and a cold first build (~25 s together) before anything is timed.
# The kernel only tries block-max pruning in a segment of more than 256 docs
# (its bootstrap size for k <= 64), so topk_interactive has ~350 per segment.
TOPK_DOCS = 1400
TOPK_SEGMENTS = 4
INGEST_BASE_DOCS = 500
INGEST_SEGMENTS = 4  # ~125 docs per segment: scored exhaustively
BATCH_DOCS = 60  # half new documents, half new versions of base documents
BATCH_SEGMENTS = 1
K = 10
HEAP = "2g"
ID_STRIDE = 100_000  # corpus row ids of seed s start at s * ID_STRIDE
NEW_IDS = 50_000  # offset of ingest-only row ids inside a seed's id range
INGEST_ROUND_S = 10  # one commit round's length on a 4-core host
# single-term queries on sym_* terms in this df band (share of N) often run
# a pruned pass on some segments of the topk_interactive corpus; the gate
# tries up to PRUNE_CANDIDATES of them
PRUNE_DF = (0.03, 0.08)
PRUNE_CANDIDATES = 8
PRUNED_MODES = ("pruned", "and_pruned")
MIX_PER_ROUND = 6  # top-k queries after each ingest commit's freshness query
MERGED_READS = 2  # the last round's first queries, asked again after the merge
PROBE_QUERIES = 4  # asked queries re-run by the traced run's timing probes
WARM_CLIENTS = 3  # concurrent clients of the topk_interactive warm-up
WARM_QUERIES = 7  # stream queries each warm-up client but the first asks

# one cycle of query kinds; a fixed cycle keeps the mix the same across
# seeds, the seed only picks the terms. After the warm-up has primed the
# term-stats cache with the pooled terms, only the rare queries miss it (one
# more Spark job); they sit half a cycle apart, so a window cut anywhere
# holds about a quarter of misses and its median falls among the hits.
CYCLE = ("rare", "mid", "or2", "hot", "rare", "and", "mid", "or_hot")


def now() -> float:
    return time.perf_counter()


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100), numpy's linear interpolation."""
    return float(np.percentile(values, q))


def median(values) -> float:
    return percentile(values, 50)


# ------------------------------------------------------------- inputs


def corpus_rows(ids) -> pd.DataFrame:
    from iresearch_spark.corpus import make_rows

    return make_rows(np.asarray(ids, dtype=np.int64))


def zipf_pick(rng: np.random.Generator, pool: list, s: float = 1.1):
    w = 1.0 / np.arange(1, len(pool) + 1) ** s
    return pool[int(rng.choice(len(pool), p=w / w.sum()))]


class QueryStream:
    """Seeded k=10 top-k queries over the corpus vocabulary: rare
    ``uniq_*`` terms, mid-df ``sym_*`` terms, hot terms, 2-4-term ``Or``
    and hot AND mid. Terms are drawn Zipf-style, so some repeat."""

    def __init__(self, rng: np.random.Generator, oracle, rare: list[str]):
        from iresearch_spark.corpus import HOT_TERMS

        n = oracle.N
        df = {t: len(p) for t, p in oracle.postings.items() if t.startswith("sym_")}
        mid = sorted(t for t, d in df.items() if 0.02 * n <= d <= 0.2 * n)
        mid = [mid[i] for i in rng.permutation(len(mid))]
        # terms of the pruning band are kept for the gate's WAND on = off
        # check; the stream draws from a small pool of the other mid terms
        self.pruning = [
            t for t in mid if PRUNE_DF[0] * n <= df[t] <= PRUNE_DF[1] * n
        ][:PRUNE_CANDIDATES]
        self.mid = [t for t in mid if t not in self.pruning][:24]
        self.rare = [rare[i] for i in rng.permutation(len(rare))]
        self.hot = [HOT_TERMS[i] for i in rng.permutation(len(HOT_TERMS))]
        self.rng = rng
        self.i = 0

    def prime(self):
        """Every pooled mid and hot term at once. Asked before the timed
        stream, it leaves them in the term-stats cache: a seed's share of
        cache hits then does not depend on how often its Zipf draws happen
        to repeat within a short window."""
        from iresearch_spark.search import Or, TermF

        return Or(children=tuple(TermF(term=t) for t in self.mid + self.hot))

    def next(self):
        from iresearch_spark.search import And, Or, TermF

        kind = CYCLE[self.i % len(CYCLE)]
        self.i += 1
        r = self.rng

        def mids(n: int) -> list[str]:
            out: list[str] = []
            while len(out) < n:
                t = zipf_pick(r, self.mid)
                if t not in out:
                    out.append(t)
            return out

        if kind == "rare":
            return TermF(term=zipf_pick(r, self.rare, 0.5))
        if kind == "mid":
            return TermF(term=mids(1)[0])
        if kind == "hot":
            return TermF(term=zipf_pick(r, self.hot))
        if kind == "or2":
            return Or(children=tuple(TermF(term=t) for t in mids(2)))
        if kind == "or_hot":
            terms = [zipf_pick(r, self.hot)] + mids(int(r.integers(1, 4)))
            return Or(children=tuple(TermF(term=t) for t in terms))
        return And(
            children=(TermF(term=zipf_pick(r, self.hot)), TermF(term=mids(1)[0]))
        )


# ------------------------------------------------------------- harness


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def content_bytes(rows: pd.DataFrame) -> int:
    return int(sum(len(c.encode()) for c in rows["content"]))


def identities(rows: pd.DataFrame) -> list[tuple]:
    return list(zip(rows["repo"], rows["path"], rows["commit"]))


class Bench:
    """One run: the Spark session, the work directory, the tracer and the
    samples every workload collects."""

    def __init__(self, root: str, work: str, seed: int, seconds: int, trace: bool):
        self.root, self.work = root, work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.segments = 0  # of the bulk build, set by setup()
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(active=trace)
        self.spark = None
        self.session_start_s = 0.0
        self.setup_s = 0.0
        self.build_docs_per_s = 0.0
        self.latencies: list[float] = []  # every timed query
        self.attempted = 0
        self.failed = 0
        self.ops = 0
        self.timed_s = 0.0
        self.layer: dict[str, float] = {}
        self.commit_s: list[float] = []
        self.freshness_s: list[float] = []
        self.merge: dict = {}
        self.oracle_cls = load_oracle_class(root)

    # -- session
    def start_session(self) -> None:
        from iresearch_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                f"-XX:+UseParallelGC -Xms{HEAP}"
            ),
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = now()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf
            )
        self.session_start_s = now() - t0
        if self.trace:
            self.tracer.sc = self.spark.sparkContext

    def jvm_info(self) -> dict:
        jvm = self.spark._jvm
        pid = int(jvm.java.lang.ProcessHandle.current().pid())
        hwm_kb = 0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
        return {
            "peak_rss_mb": hwm_kb / 1024.0,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
        }

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- set-up
    def instrument(self, eng) -> None:
        """Record spans around the engine's public prepare and norms calls
        (search() reaches both through the instance)."""
        if self.trace:
            eng.prepare = self.tracer.wrap("search.prepare", eng.prepare)
            eng.norms_blob_df = self.tracer.wrap(
                "search.norms_blob_df", eng.norms_blob_df
            )

    def setup(self, ids, index_dir: str, segments: int):
        """Corpus generation, the bulk build, and engine open with its first
        norms build. Returns the corpus rows and the engine."""
        from iresearch_spark.index import build_index
        from iresearch_spark.search import SearchEngine

        self.segments = segments
        t0 = now()
        with self.tracer.span("setup"):
            rows = corpus_rows(ids)
            df = self.spark.createDataFrame(rows)
            tb = now()
            with self.tracer.span("index.build"):
                build_index(self.spark, df, index_dir, num_segments=segments)
            self.build_docs_per_s = len(rows) / (now() - tb)
            with self.tracer.span("search.engine_open"):
                eng = SearchEngine(self.spark, index_dir)
                self.instrument(eng)
                eng.norms_blob_df()
        self.setup_s = self.session_start_s + now() - t0
        return rows, eng

    # -- operations
    def query(self, eng, f, k=K, wand=True, with_identity=True) -> list:
        with self.tracer.span("query"):
            with self.tracer.span("search.plan"):
                df = eng.search(f, k=k, wand=wand, with_identity=with_identity)
            with self.tracer.span("search.exec"):
                return df.collect()

    def timed_query(self, eng, f) -> list | None:
        """One timed top-k query of the closed loop."""
        self.attempted += 1
        self.ops += 1
        t0 = now()
        try:
            rows = self.query(eng, f)
        except Exception:  # noqa: BLE001 - a failed operation is counted
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        self.latencies.append(now() - t0)
        if self.tracer.active:  # the client's own clock, for the trace check
            self.tracer.named("query")[-1].attrs["client_s"] = self.latencies[-1]
        return rows

    def commit(self, ix, batch: pd.DataFrame, batch_id: int) -> float:
        df = self.spark.createDataFrame(batch)
        t0 = now()
        with self.tracer.span("streaming.replace_batch"):
            ix.replace_batch(df, batch_id)
        return now() - t0

    # -- results
    def end_to_end(self, index_bytes: int, corpus_bytes: int, jvm: dict) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "query_p50_s": (percentile(self.latencies, 50), "s"),
            "query_p90_s": (percentile(self.latencies, 90), "s"),
            "ops_per_s": (self.ops / self.timed_s, "1/s"),
            "build_docs_per_s": (self.build_docs_per_s, "docs/s"),
            "index_bytes_per_doc_byte": (index_bytes / corpus_bytes, "ratio"),
            "jvm_peak_rss_mb": (jvm["peak_rss_mb"], "MB"),
        }


# ------------------------------------------------------------- ingest


class Ingest:
    """Streaming replace commits on an index: every batch holds new
    documents and new versions of base documents (tombstoning the old)."""

    def __init__(self, b: Bench, index_dir: str, base: pd.DataFrame, seed_base: int):
        from iresearch_spark.streaming import IncrementalIndexer

        self.b = b
        self.index_dir = index_dir
        self.ix = IncrementalIndexer(
            b.spark, index_dir, segments_per_batch=BATCH_SEGMENTS
        )
        self.base = base
        self.written = [base]
        self.dead: set[tuple] = set()
        self.dead_in: list[set[tuple]] = []  # per batch, the versions it replaced
        self.dead_base_segment: dict[tuple, int] = {}
        self.order = [int(i) for i in b.rng.permutation(len(base))]
        self.next_new = seed_base + NEW_IDS
        self.batch_id = 0

    def make_batch(self):
        """The next batch and, for its first replacement, the probe term
        and identity of the new version and of the version it replaces."""
        half = BATCH_DOCS // 2
        ids = np.arange(self.next_new, self.next_new + BATCH_DOCS)
        self.next_new += BATCH_DOCS
        batch = corpus_rows(ids)
        olds = [self.order.pop() for _ in range(half)]
        self.dead_in.append(set())
        for j, oi in enumerate(olds):
            old = self.base.iloc[oi]
            batch.loc[j, "repo"] = old["repo"]
            batch.loc[j, "path"] = old["path"]
            batch.loc[j, "commit"] = hashlib.sha1(
                f"{old['repo']}/{old['path']}@{ids[j]}".encode()
            ).hexdigest()
            ident = (old["repo"], old["path"], old["commit"])
            self.dead.add(ident)
            self.dead_in[-1].add(ident)
            self.dead_base_segment[ident] = binascii.crc32(
                "\x00".join(ident).encode()
            ) % self.b.segments
        probe = batch.iloc[0]
        old = self.base.iloc[olds[0]]
        return (
            batch,
            f"uniq_{ids[0]}_a",
            (probe["repo"], probe["path"], probe["commit"]),
            old["content"].split()[-1],  # the old version's uniq_*_b term
            (old["repo"], old["path"], old["commit"]),
        )

    def round(self, eng, stream: QueryStream | None, records: list) -> None:
        """One commit, the freshness query (which also checks that the
        replaced version is gone) and the follow-up top-k queries; answers
        go to ``records``."""
        from iresearch_spark.search import Or, TermF

        b = self.b
        batch, new_term, new_ident, old_term, old_ident = self.make_batch()
        bid = self.batch_id
        self.batch_id += 1
        b.attempted += 1
        b.ops += 1
        t0 = now()
        try:
            commit_s = self.b.commit(self.ix, batch, bid)
        except Exception:  # noqa: BLE001 - a failed operation is counted
            traceback.print_exc(file=sys.stderr)
            b.failed += 1
            raise
        self.written.append(batch)
        # the first query that returns the new version ends the freshness
        # interval; it must never return the version the batch replaced
        f = Or(children=(TermF(term=new_term), TermF(term=old_term)))
        for _ in range(3):
            rows = b.timed_query(eng, f)
            got = [g[:3] for g in answer(rows or [])]
            if old_ident in got:
                raise CorrectnessError(
                    f"batch {bid}: superseded version {old_ident} returned"
                )
            if new_ident in got:
                break
        else:
            raise CorrectnessError(f"batch {bid}: {new_ident} never became visible")
        b.commit_s.append(commit_s)
        b.freshness_s.append(now() - t0)
        records.append((bid, f, rows))
        for _ in range(MIX_PER_ROUND if stream is not None else 0):
            f = stream.next()
            rows = b.timed_query(eng, f)
            if rows is not None:
                records.append((bid, f, rows))

    def consolidate(self) -> list[dict]:
        from iresearch_spark.index import consolidate

        b = self.b
        b.attempted += 1
        b.ops += 1
        t0 = now()
        with b.tracer.span("index.merge.consolidate"):
            res = consolidate(b.spark, self.index_dir, policy="tier")
        wall = now() - t0
        docs = sum(r["docs"] for r in res)
        if not res or docs == 0:
            raise CorrectnessError("tier consolidation merged nothing")
        b.merge = {
            "wall_s": wall,
            "rounds": len(res),
            "docs": docs,
            "fan_in": sum(r["fan_in"] for r in res) / len(res),
        }
        return res

    def corpus(self, upto: int | None = None) -> pd.DataFrame:
        parts = self.written if upto is None else self.written[: upto + 2]
        return pd.concat(parts, ignore_index=True)

    def live_bytes(self) -> int:
        live = self.corpus()
        keep = [i not in self.dead for i in identities(live)]
        return content_bytes(live[keep])

    def check(self, records: list, merged: list) -> None:
        """Pre-merge answers against the oracle of the state they were
        asked in; post-merge answers against the oracle of the merged
        index, whose statistics still count the tombstoned documents of
        every base segment the merge left alone."""
        from iresearch_spark.index import read_manifest

        oracles: dict[int, object] = {}
        for bid, f, rows in records:
            if bid not in oracles:
                oracles[bid] = self.b.oracle_cls(self.corpus(bid), self.b.segments)
            dead = set().union(*self.dead_in[: bid + 1])
            check_ranked(
                f"batch {bid} {f}", answer(rows), live_scores(oracles[bid], f, dead), K
            )
        surviving = {s["segment_id"] for s in read_manifest(self.index_dir).segments}
        everything = self.corpus()
        keep = [
            i not in self.dead or self.dead_base_segment[i] in surviving
            for i in identities(everything)
        ]
        o = self.b.oracle_cls(
            everything[keep].reset_index(drop=True), self.b.segments
        )
        for f, rows in merged:
            check_ranked(
                f"merged {f}", answer(rows), live_scores(o, f, self.dead), K
            )


# ------------------------------------------------------------- workloads


def pruned_pairs(b: Bench, eng, terms: list[str]) -> list:
    """The gate's WAND on = WAND off pairs: the first two single-term
    queries over ``terms`` that ``wand_stats`` shows running a pruned pass
    on some segment, each answered with WAND on and with WAND off, as
    (filter, rows). Without a pruned pass, on = off would compare two
    exhaustive passes."""
    from iresearch_spark.search import TermF

    out: list = []
    for t in terms:
        f = TermF(term=t)
        if any(r["mode"] in PRUNED_MODES for r in eng.wand_stats(f, k=K).collect()):
            out += [(f, b.query(eng, f)), (f, b.query(eng, f, wand=False))]
            if len(out) == 4:
                break
    return out


def warm_up(b: Bench, eng, oracle, rare: list[str], terms: list[str]) -> list:
    """Untimed warm-up of the query path: WARM_CLIENTS clients at once on
    ``eng``. Queries get faster over the first few dozen an engine and its
    JVM run, and several clients get there sooner than one. Client 0 finds
    the gate's pruned pairs among ``terms`` (see ``pruned_pairs``) and
    returns them; every other client asks WARM_QUERIES queries of its own
    stream. ``rare`` must not hold the timed stream's rare terms, so that
    the warm-up leaves none of them in the term-stats cache."""
    import threading

    pairs: list = []
    errors: list = []

    def client(j: int) -> None:
        try:
            if j == 0:
                pairs.extend(pruned_pairs(b, eng, terms))
                return
            stream = QueryStream(np.random.default_rng([b.seed, j]), oracle, rare)
            for _ in range(WARM_QUERIES):
                b.query(eng, stream.next())
        except Exception as exc:  # noqa: BLE001 - re-raised below
            errors.append(exc)

    b.tracer.active = False  # the tracer follows one thread
    threads = [threading.Thread(target=client, args=(j,)) for j in range(WARM_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    b.tracer.active = b.trace
    if errors:
        raise errors[0]
    if not pairs:
        raise CorrectnessError(
            f"no single-term query over {terms} ran a pruned WAND pass, so "
            "WAND on = WAND off would compare two exhaustive passes"
        )
    return pairs


def topk_interactive(b: Bench) -> dict:
    index_dir = os.path.join(b.work, "index")
    ids = np.arange(b.seed * ID_STRIDE, b.seed * ID_STRIDE + TOPK_DOCS)
    b.start_session()
    rows, eng = b.setup(ids, index_dir, TOPK_SEGMENTS)
    oracle = b.oracle_cls(rows, b.segments)
    stream = QueryStream(b.rng, oracle, [f"uniq_{i}_a" for i in ids])
    # untimed: the pooled terms into the term-stats cache, then the
    # concurrent warm-up, whose rare terms are the documents' other unique
    # terms; its WAND-on and WAND-off answers join the oracle check, so
    # WAND on = WAND off = oracle on a pruned pass
    prime = stream.prime()
    warm = [(prime, b.query(eng, prime))]
    warm += warm_up(b, eng, oracle, [f"uniq_{i}_b" for i in ids], stream.pruning)

    records = []
    t0 = now()
    while now() - t0 < b.seconds:
        f = stream.next()
        got = b.timed_query(eng, f)
        if got is not None:
            records.append((f, got))
    b.timed_s = now() - t0

    # correctness gate, outside the timed region
    expected: dict = {}
    for f, got in warm + records:
        if f not in expected:
            expected[f] = oracle.search(f, K)
        check_exact(f"topk {f}", answer(got), expected[f])

    if b.trace:
        search_probes(b, eng, [f for f, _ in records])
        # streaming and merge layers: one commit and one consolidation
        ing = Ingest(b, index_dir, rows, b.seed * ID_STRIDE)
        ing.round(eng, None, [])
        ing.consolidate()
    return finish(b, eng, index_dir, content_bytes(rows))


def ingest_mixed(b: Bench) -> dict:
    index_dir = os.path.join(b.work, "index")
    seed_base = b.seed * ID_STRIDE
    ids = np.arange(seed_base, seed_base + INGEST_BASE_DOCS)
    b.start_session()
    rows, eng = b.setup(ids, index_dir, INGEST_SEGMENTS)
    oracle = b.oracle_cls(rows, b.segments)
    stream = QueryStream(b.rng, oracle, [f"uniq_{i}_a" for i in ids])
    ing = Ingest(b, index_dir, rows, seed_base)

    # untimed, untraced warm-up: one commit round, whose freshness query
    # also warms the query path
    warm_records: list = []
    b.tracer.active = False
    ing.round(eng, None, warm_records)
    b.tracer.active = b.trace
    b.latencies.clear()
    b.commit_s.clear()
    b.freshness_s.clear()
    b.attempted = b.ops = 0

    # the round count follows from --seconds alone, so every run of the
    # same arguments does the same work however fast the host or program
    records: list = []
    t0 = now()
    for _ in range(max(1, b.seconds // INGEST_ROUND_S)):
        ing.round(eng, stream, records)
    last = records[-1][0]
    ing.consolidate()
    # the median query then falls among the pre-merge top-k queries rather
    # than between them and the faster reads of the merged index
    merged = []
    for _bid, f, _rows in [r for r in records if r[0] == last][:MERGED_READS]:
        got = b.timed_query(eng, f)
        if got is not None:
            merged.append((f, got))
    b.timed_s = now() - t0

    ing.check(warm_records + records, merged)
    if b.trace:
        search_probes(b, eng, [f for _b, f, _r in records])
    return finish(b, eng, index_dir, ing.live_bytes())


WORKLOADS = {"topk_interactive": topk_interactive, "ingest_mixed": ingest_mixed}


# ------------------------------------------------------------- traced run


def search_probes(b: Bench, eng, filters: list) -> None:
    """Per-layer probes of the traced run, on queries already asked: the
    identity join's cost (the query with and without it), the tracing
    overhead (the query traced and untraced) and, over one cycle of the
    mix, the kernel's block accounting from ``wand_stats``."""
    joins, overheads = [], []
    for f in filters[:PROBE_QUERIES]:
        t0 = now()
        b.query(eng, f)
        t1 = now()
        b.query(eng, f, with_identity=False)
        t2 = now()
        b.tracer.active = False
        b.query(eng, f)
        b.tracer.active = True
        t3 = now()
        joins.append((t1 - t0) - (t2 - t1))
        overheads.append((t1 - t0) - (t3 - t2))
    b.layer["search.identity_join_s"] = median(joins)
    b.layer["trace.overhead_s"] = median(overheads)
    total = decoded = segs = pruned = 0
    for f in dict.fromkeys(filters[: len(CYCLE)]):
        with b.tracer.span("search.wand_stats"):
            st = eng.wand_stats(f, k=K).collect()
        for r in st:
            segs += 1
            pruned += r["mode"] in PRUNED_MODES
            total += r["blocks_total"]
            decoded += r["blocks_decoded"]
    b.layer["search.kernel.blocks_decoded_ratio"] = decoded / total if total else 1.0
    b.layer["search.kernel.pruned_segment_share"] = pruned / segs if segs else 0.0


def finish(b: Bench, eng, index_dir: str, corpus_bytes: int) -> dict:
    """Metrics of the run; stops the session."""
    from iresearch_spark.index import read_manifest

    jvm = b.jvm_info()
    index_bytes = dir_bytes(index_dir)
    man = read_manifest(index_dir)
    if b.trace:
        from pyspark.sql import functions as F

        from iresearch_spark.index import SEGMENTS_SCHEMA

        live = [s["segment_id"] for s in man.segments]
        docs = sum(s["docs"] for s in man.segments)
        pos = (
            b.spark.read.schema(SEGMENTS_SCHEMA)
            .parquet(os.path.join(index_dir, "segments"))
            .filter(F.col("segment_id").isin(live))
            .agg(F.sum(F.length("positions")).alias("n"))
            .collect()[0]["n"]
        )
        b.layer["codec.postings_bytes_per_doc"] = (
            sum(s["postings_bytes"] for s in man.segments) / docs
        )
        b.layer["codec.positions_bytes_per_doc"] = (pos or 0) / docs
    eng.close()
    b.stop()
    host = {
        "java": jvm["java"],
        "heap": HEAP,
        "query_s": b.latencies,
        "commit_s": b.commit_s,
        "freshness_s": b.freshness_s,
    }
    if b.trace:
        return {"metrics": layer_metrics(b, index_bytes), "host": host}
    return {"metrics": b.end_to_end(index_bytes, corpus_bytes, jvm), "host": host}


def layer_metrics(b: Bench, index_bytes: int) -> dict:
    """Per-layer metrics from the spans and the event log, after the
    session has stopped and the event log is complete."""
    t = b.tracer
    groups = aggregate_event_log(read_event_log(b.event_dir))
    out: dict[str, tuple] = {}

    def put(name: str, value: float, unit: str) -> None:
        out[name] = (float(value), unit)

    def med(values) -> float:
        return median(values) if values else 0.0

    def stats(name: str) -> list[tuple]:
        return [(s, span_stats(t, groups, s)) for s in t.named(name)]

    put("session.start_s", b.session_start_s, "s")

    builds = stats("index.build")
    put("index.build.wall_s", med([s.wall for s, _ in builds]), "s")
    put("index.build.jobs", med([st.jobs for _, st in builds]), "count")
    put("index.build.task_run_s", med([st.task_run_s for _, st in builds]), "s")
    put("index.build.gc_s", med([st.gc_s for _, st in builds]), "s")
    put("index.build.shuffle_write_bytes",
        med([st.shuffle_write_bytes for _, st in builds]), "bytes")
    put("index.build.output_bytes", med([st.output_bytes for _, st in builds]), "bytes")
    put("index.build.driver_serial_s",
        med([driver_serial_s(s, st) for s, st in builds]), "s")

    commits = stats("streaming.replace_batch")
    put("streaming.commit_s", med(b.commit_s), "s")
    put("streaming.freshness_s", med(b.freshness_s), "s")
    put("streaming.commit_jobs", med([st.jobs for _, st in commits]), "count")
    put("streaming.commit_task_run_s", med([st.task_run_s for _, st in commits]), "s")
    put("streaming.commit_output_bytes",
        med([st.output_bytes for _, st in commits]), "bytes")

    _, mst = stats("index.merge.consolidate")[-1]
    m = b.merge
    put("index.merge.docs_per_s", m["docs"] / m["wall_s"], "docs/s")
    put("index.merge.round_s", m["wall_s"] / m["rounds"], "s")
    put("index.merge.rounds", m["rounds"], "count")
    put("index.merge.fan_in", m["fan_in"], "count")
    put("index.merge.bytes_rewritten_per_live_byte",
        mst.output_bytes / index_bytes, "ratio")
    put("index.merge.shuffle_bytes", mst.shuffle_write_bytes, "bytes")

    put("codec.postings_bytes_per_doc", b.layer["codec.postings_bytes_per_doc"], "bytes")
    put("codec.positions_bytes_per_doc", b.layer["codec.positions_bytes_per_doc"], "bytes")

    # timed queries that ran traced
    queries = [s for s in t.named("query") if "client_s" in s.attrs]
    plan, execs, prep_hit, prep_miss, serial = [], [], [], [], []
    per_query: list[GroupStats] = []
    for q in queries:
        kids = {c.name: c for c in t.children(q)}
        p, e = kids["search.plan"], kids["search.exec"]
        # the spans must account for the query as the client timed it:
        # work outside them, or the tracer's own cost, breaks this
        client = q.attrs["client_s"]
        if abs(p.wall + e.wall - client) > 0.1 * client:
            raise RuntimeError(
                f"trace inconsistent: plan {p.wall:.4f} s + exec {e.wall:.4f} s "
                f"vs {client:.4f} s on the client's clock"
            )
        plan.append(p.wall)
        execs.append(e.wall)
        st = span_stats(t, groups, q)
        per_query.append(st)
        serial.append(driver_serial_s(q, st))
    # every traced prepare, the probes' re-runs of asked queries included,
    # so each traced run sees both cache hits and misses
    for s in t.named("search.prepare"):
        (prep_miss if s.jobs else prep_hit).append(s.wall)
    n = max(1, len(per_query))
    put("search.prepare.hit_s", med(prep_hit), "s")
    put("search.prepare.miss_s", med(prep_miss), "s")
    put("search.prepare.cache_hit_ratio",
        len(prep_hit) / max(1, len(prep_hit) + len(prep_miss)), "ratio")
    put("search.plan_s", med(plan), "s")
    put("search.exec_s", med(execs), "s")
    put("search.jobs_per_query", sum(st.jobs for st in per_query) / n, "count")
    put("search.tasks_per_query", sum(st.tasks for st in per_query) / n, "count")
    put("search.driver_serial_s", med(serial), "s")
    put("search.scan_rows_per_query", sum(st.input_rows for st in per_query) / n, "rows")
    put("search.scan_input_bytes_per_query",
        sum(st.input_bytes for st in per_query) / n, "bytes")
    put("search.task_run_s_per_query",
        sum(st.task_run_s for st in per_query) / n, "s")
    put("search.identity_join_s", b.layer["search.identity_join_s"], "s")
    put("search.kernel.blocks_decoded_ratio",
        b.layer["search.kernel.blocks_decoded_ratio"], "ratio")
    put("search.kernel.pruned_segment_share",
        b.layer["search.kernel.pruned_segment_share"], "ratio")

    norms = [s.wall for s in t.named("search.norms_blob_df") if s.jobs]
    put("search.norms_rebuild_s", med(norms), "s")
    put("search.engine_open_s", med([s.wall for s in t.named("search.engine_open")]), "s")

    put("spark.failed_tasks", sum(g.failed_tasks for g in groups.values()), "count")
    put("spark.retried_stages", sum(g.retried_stages for g in groups.values()), "count")

    put("trace.query_p50_s", med([q.wall for q in queries]), "s")
    put("trace.overhead_s", b.layer["trace.overhead_s"], "s")
    return out
