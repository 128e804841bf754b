"""The benchmark workloads.

Each workload has ``setup`` (inputs, one-off artifacts, codegen and JIT
warm-up; untimed), ``round`` (a fixed amount of work; returns ``(op,
seconds)`` for every op it ran, with the same op names in every round),
``check`` (output verification after the timed phase, untimed; returns
the op names whose outputs were wrong) and ``layers`` (the per-layer
numbers of a traced run). Closed loop, one client: an op starts only
after the previous one has finished.

Every op is forced through the noop sink or a real parquet write, so
timings cover the distributed plan, not row shipping to the driver.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import time

import datagen

OLAP_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_profit_by_nation", "q18_large_orders", "q21_late_suppliers",
    "q2_min_cost_supplier", "top_k_per_group", "customer_ltv_rank",
    "asof_join", "sessionize_batch", "windowed_event_counts",
    "cohort_retention",
]
OLAP_SCANNED = ["lineitem", "orders", "customer", "part", "supplier", "events"]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


class Workload:
    """Shared plumbing: ``ctx`` carries spark, tracer, run dir, seed and
    sizes; ``inputs`` records rows and bytes of every generated input."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.inputs: dict[str, dict] = {}
        self.setup_phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one part of the setup (goes to the detail line)."""
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t0

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.run_dir, *parts)

    def note_input(self, name: str, rows: int, path: str) -> None:
        size = dir_bytes_files(path)[0] if os.path.isdir(path) else os.path.getsize(path)
        self.inputs[name] = {"rows": rows, "bytes": size}

    def op_latencies(self, ops: list[tuple[str, float]]) -> list[float]:
        """The op seconds ``op_p50_s`` and ``op_tail_s`` are taken over:
        here, every op."""
        return [s for _, s in ops]


# --------------------------------------------------------------------- olap


class Olap(Workload):
    """Oracle-checked relational, window and event queries over the star
    schema. One op is one query; the seed shuffles the order per round."""

    name = "olap"

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.sf_dir = self.path("sf")
        with self.phase("inputs"):
            rows = datagen.write_star(self.sf_dir, self.ctx.seed, self.ctx.size("olap_sf"))
        for t, n in rows.items():
            self.note_input(t, n, os.path.join(self.sf_dir, f"{t}.parquet"))
        self.queries = {n: entry.queries()[n] for n in OLAP_QUERIES}
        self.rounds_run = 0
        # warm-up: every query once; the collected outputs are what check()
        # compares to the oracle (the queries are deterministic)
        self.outputs = {}
        with self.phase("warm_up"):
            for name, fn in self.queries.items():
                sdf = fn(self.spark, self.sf_dir)
                self.outputs[name] = (sdf.schema, sdf.toPandas())

    def round(self) -> list[tuple[str, float]]:
        from spider_spark.catalog import Catalog

        order = list(OLAP_QUERIES)
        random.Random(self.ctx.seed * 1009 + self.rounds_run).shuffle(order)
        self.rounds_run += 1
        if self.tr.traced:
            cat = Catalog(self.spark, self.sf_dir)
            for t in OLAP_SCANNED:
                with self.tr.span("catalog", t):
                    force(cat.table(t))
        lat = []
        for name in order:
            t0 = time.perf_counter()
            with self.tr.span("operators", name):
                force(self.queries[name](self.spark, self.sf_dir))
            lat.append((name, time.perf_counter() - t0))
        return lat

    def check(self) -> list[str]:
        """Type-strict, row-order-insensitive comparison with DuckDB
        running each query's ``oracle_sql()`` over the same files."""
        import duckdb
        from pyspark.sql.pandas.types import to_arrow_schema

        import __spark_entry__ as entry
        from tools.check_correctness import compare, compare_types

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in datagen.STAR_TABLES:
            p = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        bad = []
        for name, (schema, pdf) in self.outputs.items():
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            problems = compare_types(name, to_arrow_schema(schema), tbl.schema)
            problems += compare(name, pdf, tbl.to_pandas())
            if problems:
                print(f"olap check {name}: {problems[:3]}")
                bad.append(name)
        con.close()
        return bad

    def layers(self, ev) -> dict[str, float]:
        cat, ops, n = ev.get("catalog", {}), ev.get("operators", {}), self.ctx.timed_rounds
        return {
            "catalog.scan_s": self.tr.total("catalog") / n,
            "catalog.scan_bytes": cat.get("input_bytes", 0.0) / n,
            "operators.self_s": self.tr.self_times().get("operators", 0.0) / n,
            "operators.tasks": ops.get("tasks", 0.0) / n,
            "operators.shuffle_write_bytes": ops.get("shuffle_write_bytes", 0.0) / n,
            "operators.spill_bytes": ops.get("spill_bytes", 0.0) / n,
        }


# ------------------------------------------------------------ webtext_build


class WebtextBuild(Workload):
    """The crawl-to-training-set pipeline. A round first ingests the crawl:
    the program's ``stream_merge`` query reads the parquet shards, one
    micro-batch per shard (one op each), merges each into the incremental
    LSH candidate index (``merge_batch``) and passes it through the
    ``corpus_filter_dedup_sink`` ingest gate. It then builds the training
    set over the whole corpus (one op): exact dedup -> the program's
    near-dup clusters (``materialized_clusters``: MinHash -> LSH candidates
    -> connected components, each stored through the snapshot store) ->
    quality and Gopher filters -> embedding SemDeDup (IVF coarse
    quantizer) -> tokenize/chunk -> partitioned parquet write."""

    name = "webtext_build"

    def setup(self) -> None:
        from spider_spark.streaming import incremental_index as inc

        c, tr = self.ctx, self.tr
        self.sf_dir = self.path("sf")
        t0 = time.perf_counter()
        docs = datagen.documents(c.seed, c.size("web_base_docs"), c.size("web_k"))
        datagen.write_table(self.sf_dir, "documents", docs)
        self.note_input("documents", docs.num_rows, os.path.join(self.sf_dir, "documents.parquet"))
        self.n_docs = docs.num_rows
        # the crawl is the corpus's tail: it arrives as shards, and the docs
        # just before it bootstrap the index, so streamed docs
        # near-duplicate indexed docs and each other
        self.n_shards = c.size("web_shards")
        self.n_stream_docs = self.n_shards * c.size("web_shard_docs")
        first_stream = docs.num_rows - self.n_stream_docs
        base = docs.slice(first_stream - c.size("web_index_docs"), c.size("web_index_docs"))
        stream = docs.slice(first_stream)
        datagen.write_table(self.path("base"), "documents", base)
        self.note_input("index_bootstrap_documents", base.num_rows,
                        self.path("base", "documents.parquet"))
        shards = datagen.write_stream_shards(self.path("shards"), stream, self.n_shards)
        self.note_input("stream_documents", stream.num_rows, self.path("shards"))
        os.makedirs(self.path("warm-shards"))
        shutil.copy(shards[0], self.path("warm-shards"))
        self.base_df = self.spark.read.parquet(self.path("base", "documents.parquet"))
        # stream_merge reads (doc_id, text) only; the gate also needs the
        # crawl metadata, joined back per batch
        self.meta = self.spark.read.parquet(self.path("shards")).drop("text")
        self.setup_phases["inputs"] = time.perf_counter() - t0
        with self.phase("init_state"):
            inc.init_state(self.spark, self.path("state0"), self.base_df.select("doc_id", "text"))
        if tr.traced:
            self.trace_program()
        merge_batch = inc.merge_batch

        def merge_then_gate(spark, state_path, batch_docs):
            with tr.span("streaming", "merge_batch"):
                new_pairs = merge_batch(spark, state_path, batch_docs)
            with tr.span("text", "ingest_gate"):
                self.gate(batch_docs.join(self.meta, "doc_id"), self.batch_id)
            self.batch_id += 1
            return new_pairs

        inc.merge_batch = merge_then_gate  # what stream_merge's foreachBatch calls
        self.ingests = self.builds = 0
        self.digest = None
        # warm-up (codegen, JIT, Python workers): one micro-batch, and the
        # build over a small corpus of another seed, so it costs less than
        # a round
        with self.phase("warm_up_ingest"):
            self.ingest(self.path("warm-shards"))
        with self.phase("warm_up_build"):
            warm = self.path("warm")
            datagen.write_table(warm, "documents", datagen.documents(c.seed + 1, c.size("web_warm_docs"), 1))
            self.run_build(warm)

    def trace_program(self) -> None:
        """Spans around the calls the program makes itself: inside
        ``materialized_clusters`` the two store artifacts (with hit/miss
        counts), MinHash signatures, LSH candidates and connected
        components; inside ``merge_batch`` the batch signatures and the
        Jaccard estimate of new pairs; and the coarse quantizer inside
        SemDeDup."""
        from pyspark.sql import functions as F

        from spider_spark import store
        from spider_spark.dedup import minhash, semantic
        from spider_spark.graph import algorithms
        from spider_spark.graph.algorithms import SMALL_CC_EDGES
        from spider_spark.streaming import incremental_index as inc

        tr = self.tr
        materialize_once = store.materialize_once

        def counted_materialize_once(spark, sf_dir, name, version, build, *args):
            built = []

            def counted_build():
                built.append(name)
                return build()

            with tr.span("store", name):
                out = materialize_once(spark, sf_dir, name, version, counted_build, *args)
            if tr.traced:
                tr.add("store.misses" if built else "store.hits", 1)
            return out

        def count_candidates(cand, *_):
            tr.add("dedup.candidate_pairs", cand.count())
            tr.add("dedup.useful_pairs", cand.filter(F.col("est_jaccard") >= minhash.EST_THRESHOLD).count())

        def count_edges(_, edges, *__):
            tr.add("graph.driver_twin", int(edges.count() <= SMALL_CC_EDGES))

        store.materialize_once = counted_materialize_once
        tr.wrap(minhash, "minhash_signatures", "dedup", "signature")
        tr.wrap(minhash, "lsh_candidates_est", "dedup", "candidate", probe=count_candidates)
        tr.wrap(inc, "minhash_signatures", "dedup", "signature")
        tr.wrap(inc, "estimate_jaccard", "dedup", "candidate")
        tr.wrap(algorithms, "connected_components", "graph", "connected_components", probe=count_edges)
        tr.wrap(semantic, "train_centroids", "similarity", "train_centroids", pin=False)

    def ingest(self, source: str) -> list[tuple[str, float]]:
        """Stream every shard under ``source`` into a fresh copy of the
        bootstrapped index; one ``micro_batch_<i>`` op per shard."""
        from spider_spark.streaming import incremental_index as inc
        from spider_spark.streaming.ops import corpus_filter_dedup_sink

        spark, tr = self.spark, self.tr
        self.ingests += 1
        r = self.ingests
        self.state = state = self.path(f"state-{r}")
        shutil.copytree(self.path("state0"), state)
        gate_out = self.path(f"gate-{r}")
        self.gate = corpus_filter_dedup_sink(self.path(f"gate-state-{r}"), gate_out)
        self.batch_id = 0
        query = inc.stream_merge(spark, state, source, self.path(f"ckpt-{r}"))
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        lat = []
        for p in query.recentProgress:
            if not p.numInputRows:
                continue
            d = p.durationMs
            lat.append((f"micro_batch_{len(lat)}", d.get("triggerExecution", 0) / 1e3))
            if tr.traced:
                tr.add("streaming.batch_s", d.get("triggerExecution", 0) / 1e3)
                tr.add("streaming.plan_s", (d.get("queryPlanning", 0) + d.get("getBatch", 0)) / 1e3)
                tr.add("streaming.commit_s", (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
        if tr.traced:
            base = spark.read.parquet(os.path.join(self.path("state0"), "candidates")).count()
            tr.add("streaming.state_rows", spark.read.parquet(os.path.join(self.state, "postings")).count())
            tr.add("streaming.new_pairs", inc.stored_candidates(spark, self.state).count() - base)
            b, f = dir_bytes_files(gate_out)
            tr.add("sinks.bytes_written", b)
            tr.add("sinks.files_written", f)
            tr.add("text.rows_out", spark.read.parquet(gate_out).count())
        for d in (f"ckpt-{r}", f"gate-state-{r}", f"gate-{r}", f"state-{r - 1}"):
            shutil.rmtree(self.path(d), ignore_errors=True)
        return lat

    def run_build(self, sf_dir: str) -> float:
        """One build of ``sf_dir`` into a fresh output and artifact store;
        returns its seconds. Only the output of the last build is kept."""
        from spider_spark import store

        if self.builds:
            shutil.rmtree(self.out)
        self.builds += 1
        self.out = self.path(f"train-{self.builds}")
        store.CACHE_ROOT = self.path(f"store-{self.builds}")
        t0 = time.perf_counter()
        self.build(sf_dir, self.out)
        seconds = time.perf_counter() - t0
        shutil.rmtree(store.CACHE_ROOT)
        return seconds

    def build(self, sf_dir: str, out: str) -> None:
        from pyspark.sql import functions as F

        from spider_spark import store
        from spider_spark.catalog import Catalog
        from spider_spark.dedup.exact import exact_dedup
        from spider_spark.dedup.semantic import semantic_removals
        from spider_spark.graph.algorithms import materialized_clusters
        from spider_spark.sinks.writers import write_partitioned
        from spider_spark.text.analysis import score_quality
        from spider_spark.text.crawl import gopher_repetition
        from spider_spark.text.embed import embed_documents
        from spider_spark.text.pipeline import CHUNK_STRIDE, CHUNK_WINDOW
        from spider_spark.text.tokenizer import VOCAB_V, build_vocab, tokenize

        spark, tr = self.spark, self.tr
        docs = Catalog(spark, sf_dir).documents

        with tr.span("dedup", "exact"):
            uniq = tr.boundary(docs.join(exact_dedup(docs).select("doc_id"), "doc_id", "left_semi"))

        # the program's near-dup cluster artifact: MinHash -> LSH candidates
        # (stored) -> connected components (stored)
        clusters = materialized_clusters(spark, sf_dir)

        # the filtered set, its embeddings and the final set each feed
        # several consumers, so the build pins them (as a production job
        # would) in every run
        with tr.span("text", "filters"):
            non_rep = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
            reps = uniq.join(non_rep, "doc_id", "left_anti")
            q = score_quality(reps).filter("passes").select("doc_id", "n_tokens")
            g = gopher_repetition(spark, sf_dir).filter("passes_repetition").select("doc_id")
            filtered = reps.join(q, "doc_id").join(g, "doc_id").localCheckpoint()
        with tr.span("text", "embed"):
            emb = embed_documents(filtered).select(F.col("doc_id").alias("vec_id"), "embedding")
            emb = emb.localCheckpoint()
        with tr.span("similarity", "semantic_dedup"):
            # C ~ sqrt(n) coarse lists, the FAISS sizing semantic.py cites
            flags = semantic_removals(emb, n_lists=max(1, math.isqrt(filtered.count())))
            removed = flags.filter("removed").select(F.col("vec_id").alias("doc_id"))
            kept = filtered.join(removed, "doc_id", "left_anti").localCheckpoint()
            if tr.traced:
                sizes = [r["count"] for r in flags.groupBy("list_id").count().collect()]
                tr.add("similarity.compared", sum(n * n for n in sizes))
                tr.add("similarity.queries", sum(sizes))
        with tr.span("text", "tokenize"):
            n_chunks = (
                F.when(F.col("n_tokens") <= CHUNK_WINDOW, F.lit(1))
                .otherwise(F.ceil((F.col("n_tokens") - CHUNK_WINDOW) / F.lit(float(CHUNK_STRIDE))) + 1)
                .cast("long")
            )
            train = tr.boundary(
                tokenize(kept, build_vocab(kept), VOCAB_V)
                .join(kept.select("doc_id", "lang", "n_tokens"), "doc_id")
                .withColumn("n_chunks", n_chunks)
            )
        with tr.span("sinks", "write_partitioned"):
            write_partitioned(train, out, ["lang"])
        if tr.traced:
            b, f = dir_bytes_files(out)
            tr.add("sinks.bytes_written", b)
            tr.add("sinks.files_written", f)
            tr.add("store.bytes", dir_bytes_files(store.CACHE_ROOT)[0])
            t = spark.read.parquet(out).agg(F.count("*").alias("n"), F.sum("n_tokens").alias("t")).first()
            tr.add("text.rows_out", t.n)
            tr.add("text.tokens_out", t.t or 0)

    def round(self) -> list[tuple[str, float]]:
        ops = self.ingest(self.path("shards"))
        return ops + [("build", self.run_build(self.sf_dir))]

    def op_latencies(self, ops: list[tuple[str, float]]) -> list[float]:
        """``op_p50_s`` here is the ingest latency: micro-batches only (the
        build is one op per round, read through ``wall_s``)."""
        return [s for name, s in ops if name.startswith("micro_batch")]

    def check(self) -> list[str]:
        return self.check_index() + self.check_build()

    def check_index(self) -> list[str]:
        """The stored candidates after the last ingest equal an uncapped
        full rebuild over the union corpus (the incremental-index
        invariant)."""
        from spider_spark.streaming import incremental_index as inc

        spark = self.spark
        union = self.base_df.select("doc_id", "text").unionByName(
            spark.read.schema(inc.DOC_SCHEMA).parquet(self.path("shards")))
        inc.init_state(spark, self.path("rebuild"), union)
        got = inc.stored_candidates(spark, self.state)
        want = inc.stored_candidates(spark, self.path("rebuild"))
        n_got, n_want = got.count(), want.count()
        diff = got.exceptAll(want).count() + want.exceptAll(got).count()
        if diff or n_got != n_want or not n_want:
            print(f"index check: stored {n_got} vs rebuild {n_want}, {diff} differ")
            return [f"micro_batch_{i}" for i in range(self.n_shards)]
        return []

    def check_build(self) -> list[str]:
        """Invariants of the last written training set: it keeps some
        documents and drops some, has no duplicate ids or texts, every
        kept document passes the quality gate, and token and chunk counts
        agree with the token ids. ``digest`` (rows, order-insensitive
        hash) goes to the detail line: runs of one seed must agree."""
        from pyspark.sql import functions as F

        from spider_spark.catalog import Catalog
        from spider_spark.text.analysis import score_quality
        from spider_spark.text.pipeline import CHUNK_STRIDE, CHUNK_WINDOW

        out = self.spark.read.parquet(self.out)
        docs = Catalog(self.spark, self.sf_dir).documents
        joined = out.join(docs.select("doc_id", "text"), "doc_id")
        expect_chunks = F.when(F.col("n_tokens") <= CHUNK_WINDOW, 1).otherwise(
            F.ceil((F.col("n_tokens") - CHUNK_WINDOW) / float(CHUNK_STRIDE)) + 1)
        r = joined.agg(
            F.count("*").alias("rows"),
            F.count_distinct("doc_id").alias("ids"),
            F.count_distinct(F.sha2("text", 256)).alias("texts"),
            F.sum(((F.size("ids") != F.col("n_tokens"))
                   | (F.col("n_chunks") != expect_chunks)).cast("int")).alias("bad_counts"),
        ).first()
        low = score_quality(joined).filter(~F.col("passes")).count()
        h = F.xxhash64("doc_id", F.array_join("ids", ","), "lang", "n_tokens", "n_chunks")
        self.digest = (r.rows, int(out.agg(F.sum(h.cast("decimal(38,0)"))).first()[0] or 0))
        ok = (0 < r.rows < self.n_docs and r.rows == r.ids == r.texts
              and not r.bad_counts and not low)
        if not ok:
            print(f"build check: {r}, {low} below the quality gate")
        return [] if ok else ["build"]

    def layers(self, ev) -> dict[str, float]:
        tr, c, n = self.tr, self.tr.counts, self.ctx.timed_rounds
        st = tr.self_times()
        return {
            "text.self_s": st.get("text", 0.0) / n,
            "text.rows_out": c["text.rows_out"] / n,
            "text.tokens_out": c["text.tokens_out"] / n,
            "dedup.signature_s": tr.total("dedup", "signature") / n,
            "dedup.candidate_s": tr.self_time("dedup", "candidate") / n,
            "dedup.candidate_pairs": c["dedup.candidate_pairs"] / n,
            "dedup.useful_pair_ratio": c["dedup.useful_pairs"] / max(1, c["dedup.candidate_pairs"]),
            "graph.self_s": st.get("graph", 0.0) / n,
            "graph.rounds": ev.get("graph", {}).get("jobs", 0.0) / n,
            "graph.driver_twin": c["graph.driver_twin"] / n,
            "similarity.build_s": tr.total("similarity", "train_centroids") / n,
            "similarity.probe_s": tr.self_time("similarity", "semantic_dedup") / n,
            "similarity.candidates_per_query": c["similarity.compared"] / max(1, c["similarity.queries"]),
            "store.build_s": st.get("store", 0.0) / n,
            "store.hits": c["store.hits"] / n,
            "store.misses": c["store.misses"] / n,
            "store.bytes": c["store.bytes"] / n,
            "streaming.batch_s": c["streaming.batch_s"] / n,
            "streaming.plan_s": c["streaming.plan_s"] / n,
            "streaming.commit_s": c["streaming.commit_s"] / n,
            "streaming.state_rows": c["streaming.state_rows"] / n,
            "streaming.new_pairs": c["streaming.new_pairs"] / n,
            "sinks.write_s": tr.total("sinks") / n,
            "sinks.bytes_written": c["sinks.bytes_written"] / n,
            "sinks.files_written": c["sinks.files_written"] / n,
        }


WORKLOADS = {w.name: w for w in (Olap, WebtextBuild)}
