"""Pluggable tokenizer stage: vocab table -> token ids -> LM chunks.

The missing piece between the corpus operators and an actual LM data
build: documents tokenized against a (broadcast) vocabulary table into
id sequences, which the chunker then cuts into training windows — so
chunk boundaries and contents are expressed in REAL token ids, not
character estimates.

Spark shape:
  - the vocabulary is a relation (token, token_id), built with one
    groupBy + deterministic top-V cut — O(V) rows, broadcastable at any
    corpus size (a production run would load a trained BPE vocab table
    the same way);
  - tokenization is one Arrow-batched narrow pass with the vocab dict
    on the executors (mapInPandas; OOV -> unk id = V);
  - chunk statistics are computed JVM-side from the id arrays (slice +
    higher-order aggregates over bounded windows).

The whole pipeline is SQL-expressible (ordinality-preserving unnest +
vocab join + window arithmetic), so `tokenized_chunks` is fully
oracle-checked — unlike a black-box BPE, which is exactly why the toy
tokenizer here is whitespace+vocab: the *stage plumbing* (vocab
broadcast, id sequences, chunk windows) is the part that must be right
at 100 TB, and it is identical for any tokenize() kernel you plug in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.session import rows_if_small

VOCAB_V = 32  # toy vocabulary size; unk id == VOCAB_V
TOK_WINDOW = 32  # chunk window, in tokens
TOK_STRIDE = 24  # chunk stride (8-token overlap)


def build_vocab(docs: DataFrame, v: int = VOCAB_V) -> DataFrame:
    """(token, token_id 0..v-1): top-v corpus words by (count desc,
    token asc) — deterministic, O(v) output.

    Scale shape: per-hash-bucket top-v pre-prune (a PARTITIONED window
    — the global top-v is a subset of the union of per-bucket top-v),
    then a two-phase exact global rank (operators/ranking.py) over the
    ≤ buckets·v survivors. No unpartitioned window touches the full
    distinct-token relation.
    """
    from spider_spark.operators.ranking import with_global_row_number

    counts = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    bw = Window.partitionBy(F.pmod(F.xxhash64("token"), F.lit(32))).orderBy(
        F.desc("n"), F.asc("token")
    )
    pruned = (
        counts.withColumn("_br", F.row_number().over(bw))
        .filter(F.col("_br") <= v)
        .drop("_br")
    )
    return (
        with_global_row_number(pruned, [F.desc("n"), F.asc("token")], out="_rn")
        .filter(F.col("_rn") <= v)
        .withColumn("token_id", (F.col("_rn") - 1).cast("long"))
        .select("token", "token_id")
    )


def tokenize(docs: DataFrame, vocab: DataFrame, unk_id: int) -> DataFrame:
    """(doc_id, ids array<long>): whitespace tokens mapped through the
    vocab in one Arrow pass. The vocab reaches executors as a plain
    broadcast dict (bounded: V rows by construction)."""
    import pandas as pd

    # bounded: the vocabulary is O(V) rows by construction
    vdict = {r["token"]: r["token_id"] for r in vocab.collect()}
    bc = docs.sparkSession.sparkContext.broadcast(vdict)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vd = bc.value
            ids = [
                [vd.get(t, unk_id) for t in text.split()]
                if isinstance(text, str)
                else []
                for text in pdf["text"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "ids": ids})

    from spider_spark.session import ensure_parallelism

    return ensure_parallelism(
        docs.select("doc_id", "text"), bytes_per_task=8 << 10
    ).mapInPandas(kernel, schema="doc_id bigint, ids array<bigint>")


def tokenized_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM training chunks over REAL token ids: per (doc, chunk window)
    emit the window bounds plus content stats (unk count, id sum,
    first/last id) — everything a dataloader needs to verify packing,
    and everything the SQL oracle recomputes independently."""
    docs = Catalog(spark, sf_dir).documents
    vocab = build_vocab(docs)
    toks = tokenize(docs, vocab, unk_id=VOCAB_V).filter(F.size("ids") > 0)

    n_tok = F.size("ids").cast("long")
    n_chunks = (
        F.when(n_tok <= TOK_WINDOW, F.lit(1))
        .otherwise(F.ceil((n_tok - TOK_WINDOW) / F.lit(float(TOK_STRIDE))) + 1)
        .cast("long")
    )
    chunks = toks.select(
        "doc_id",
        "ids",
        n_tok.alias("n_tok"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * TOK_STRIDE
    win = F.slice(F.col("ids"), start + 1, TOK_WINDOW)
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long").alias("start_tok"),
        F.size(win).cast("long").alias("chunk_len"),
        F.size(F.filter(win, lambda x: x == VOCAB_V)).cast("long").alias("n_unk"),
        F.aggregate(win, F.lit(0).cast("long"), lambda a, x: a + x).alias("id_sum"),
        F.element_at(win, 1).alias("first_id"),
        F.element_at(win, -1).alias("last_id"),
    )


N_MERGES = 8


def _apply_merge(sym, left: str, right: str):
    """Greedy left-to-right application of one BPE merge to a symbol
    array: adjacent (left, right) collapse into left+right. A fold over
    the word's symbols (words are short — the HOF stays interpreted-
    evaluator-cheap)."""
    merged = left + right
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


SMALL_BPE_VOCAB = 65_536  # distinct words; twin gate (cf. SMALL_CC_EDGES)
MERGES_SCHEMA = "rank bigint, left string, right string, merged string, pair_count bigint"


def _bpe_train_inmem(words: list[tuple[str, int]], n_merges: int):
    """Driver-side twin of the distributed merge loop: classic in-memory
    BPE over the collected (word, freq) vocabulary. Same pair counting
    (frequency-weighted adjacent pairs over the current symbol arrays),
    same tie-break (count desc, left asc, right asc), same greedy
    left-to-right merge application and same <2 stopping rule — so the
    merge table is identical by construction (property-tested against
    the distributed loop). Rationale = the small-graph CC twin: a 32k-
    merge vocab on a sub-gate word table costs 32k dict passes in
    memory, vs 32k Spark jobs of pure scheduling latency."""
    syms = [([c for c in w], f) for w, f in words]
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for sym, f in syms:
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        merges.append((rank, left, right, left + right, c))
        nxt = []
        for sym, f in syms:
            out: list[str] = []
            for x in sym:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            nxt.append((out, f))
        syms = nxt
    return merges


def _adjacent_pairs(sym):
    """struct(l, r) array of adjacent symbol pairs (overlaps included)."""
    return F.zip_with(
        F.slice(sym, 1, F.greatest(F.size(sym) - 1, F.lit(0))),
        F.slice(sym, 2, F.greatest(F.size(sym) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )


def bpe_train_merges(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """Train the first ``n_merges`` BPE merge rules on the corpus
    (Sennrich et al., "Neural Machine Translation of Rare Words with
    Subword Units"): repeatedly count adjacent symbol pairs over the
    frequency-weighted word vocabulary, merge the most frequent pair
    (ties broken lexicographically), and re-segment.

    Spark shape — the standard industrial layout:
      - training runs over the DISTINCT-word frequency table, not token
        instances: the corpus collapses to O(vocab) rows in one groupBy
        before any iteration (at 100 TB that is the difference between
        re-scanning petabytes per merge and iterating over a few 10^7
        rows);
      - when that word table holds at most SMALL_BPE_VOCAB words it is
        collected ONCE and the merge loop runs in memory (the small-graph
        driver-twin pattern: per-merge Spark-job scheduling latency —
        seconds × a 32k-merge production vocab — dominates sub-gate
        tables; the twin is property-tested bit-identical to the
        distributed loop);
      - above the gate, bpe_train_merges_loop runs.

    Returns (rank, left, right, merged, pair_count) — the merge table a
    tokenizer ships. Iterative + driver argmax ⇒ rows-only driver
    check; behavior pinned on a hand-built corpus in tests.
    """
    vocab = word_freqs(docs).cache()
    rows = rows_if_small(vocab, SMALL_BPE_VOCAB)
    if rows is None:
        return bpe_train_merges_loop(vocab, n_merges)
    vocab.unpersist()
    words = [(r.word, int(r.freq)) for r in rows]
    return docs.sparkSession.createDataFrame(
        _bpe_train_inmem(words, n_merges), MERGES_SCHEMA
    )


def word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq): the whitespace-token frequency table BPE trains on."""
    toks = F.split(F.trim("text"), r"\s+")
    return (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_train_merges_loop(vocab: DataFrame, n_merges: int) -> DataFrame:
    """The distributed bpe_train_merges over ``word_freqs(docs)``. Each
    round is a DELTA pair-count update: only words containing the
    merged pair are re-segmented and re-counted (retract old pairs, add
    new), against a persistent pair-count relation — the full
    vocabulary is scanned once at init, not once per merge. A 1-row
    bounded argmax picks the rule (metadata); lineage is truncated per
    round (localCheckpoint) like CC. Unpersists ``vocab`` once it is
    checkpointed as symbol arrays."""
    # char split: substring(word, i, 1) for i in 1..len
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    syms = vocab.select("freq", chars.alias("sym")).localCheckpoint()
    vocab.unpersist()
    counts = (
        syms.select("freq", F.explode(_adjacent_pairs(F.col("sym"))).alias("p"))
        .groupBy("p")
        .agg(F.sum("freq").alias("c"))
        .localCheckpoint()
    )
    merges = []
    for rank in range(n_merges):
        top = counts.orderBy(F.desc("c"), F.asc("p.l"), F.asc("p.r")).limit(1).first()
        if top is None or top.c < 2:
            break
        left, right = top.p.l, top.p.r
        merges.append((rank, left, right, left + right, int(top.c)))
        # Delta round: only words actually containing (left, right)
        # adjacent change segmentation — retract their old pair counts,
        # re-segment them, add their new pair counts. Everything else
        # (the vast majority of the vocabulary after the first few
        # merges) is untouched: per-round shuffle volume is O(affected
        # words), not O(vocab).
        hit = F.exists(
            _adjacent_pairs(F.col("sym")),
            lambda s: (s["l"] == F.lit(left)) & (s["r"] == F.lit(right)),
        )
        flagged = syms.select("freq", "sym", hit.alias("hit")).localCheckpoint()
        affected = flagged.filter("hit").select(
            "freq", _apply_merge(F.col("sym"), left, right).alias("sym")
        )
        delta = flagged.filter("hit").select(
            (-F.col("freq")).alias("freq"),
            F.explode(_adjacent_pairs(F.col("sym"))).alias("p"),
        ).unionByName(
            affected.select(
                "freq", F.explode(_adjacent_pairs(F.col("sym"))).alias("p")
            )
        )
        counts = (
            counts.unionByName(delta.groupBy("p").agg(F.sum("freq").alias("c")))
            .groupBy("p")
            .agg(F.sum("c").alias("c"))
            .filter(F.col("c") > 0)
            .localCheckpoint()
        )
        syms = flagged.filter(~F.col("hit")).select("freq", "sym").unionByName(
            affected
        ).localCheckpoint()
    return vocab.sparkSession.createDataFrame(merges, MERGES_SCHEMA)


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper: train the first N_MERGES BPE rules on the
    documents corpus."""
    return bpe_train_merges(Catalog(spark, sf_dir).documents)
