"""Exact n-gram (shingle) Jaccard near-duplicate pairs.

This is the *exact* path: candidate pairs come from an inverted-index
self-join on shared shingles, so cost is Σ_shingle df(shingle)² — fine
when shingles are selective (true for real web text with 3-word shingles),
and the correctness oracle for the MinHash/LSH approximate path.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog

NGRAM = 3
JACCARD_THRESHOLD = 0.1


def ngram_hash_table(docs: DataFrame, n: int = NGRAM, distinct: bool = True) -> DataFrame:
    """(doc_id, sh: array<bigint>) — each doc's n-word-window hashes in
    one Arrow-batched narrow pass (memoised crc32 token hashes + numpy
    uint64 affine combine, the minhash_signatures scheme).

    JVM transform+slice windowing runs in Spark's interpreted
    higher-order-function evaluator, ~10× slower than this kernel
    (measured in BASELINE.md). Set sizes / intersections / frequencies
    over collision-free 64-bit hashes equal those over the window strings.
    Docs shorter than n tokens are dropped (they have no windows in the
    oracles either). ``distinct=False`` keeps positional duplicates (for
    frequency-style consumers like passage dedup).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    consts = [
        np.uint64(int.from_bytes(hashlib.md5(f"ngram:{j}".encode()).digest()[:8], "big") | 1)
        for j in range(n)
    ]
    MIX = np.uint64(0x9E3779B97F4A7C15)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            token_h: dict[str, int] = {}
            ids, arrays = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split() if isinstance(text, str) else []
                if len(toks) < n:
                    continue
                hv = np.fromiter(
                    (
                        token_h.get(t) or token_h.setdefault(t, zlib.crc32(t.encode()) + 1)
                        for t in toks
                    ),
                    dtype=np.uint64,
                    count=len(toks),
                )
                m = len(hv) - n + 1
                sh = hv[:m] * consts[0]
                for j in range(1, n):
                    sh = sh + hv[j : j + m] * consts[j]
                sh ^= sh >> np.uint64(29)
                sh *= MIX
                ids.append(doc_id)
                arrays.append((np.unique(sh) if distinct else sh).astype(np.int64))
            if ids:
                yield pd.DataFrame({"doc_id": ids, "sh": arrays})

    from spider_spark.session import ensure_parallelism

    return ensure_parallelism(docs.select("doc_id", "text"), bytes_per_task=8 << 10).mapInPandas(
        kernel, schema="doc_id bigint, sh array<bigint>"
    )


def shingle_hash_table(docs: DataFrame) -> DataFrame:
    """Distinct NGRAM-word shingle hashes per doc (Jaccard's input)."""
    return ngram_hash_table(docs, n=NGRAM, distinct=True)


MAX_POSTING_LEN = 1024


def pair_explode(
    grouped_ids: DataFrame,
    id_field: str | None = None,
    payload_fields: tuple[str, ...] = (),
    cap: int = MAX_POSTING_LEN,
) -> DataFrame:
    """(doc_id_1 < doc_id_2) pairs from per-key id lists (column ``ids``), one row per
    co-occurrence. One shuffle (the groupBy that built the lists) instead
    of a self-join: for a key of frequency f this emits f(f-1)/2 rows via
    a JVM-side combination explode — the same output a self-join would
    shuffle twice for.

    ``id_field``/``payload_fields``: when the list elements are structs,
    ``id_field`` names the id member and each payload field rides along
    into the pair rows as ``{field}_1`` / ``{field}_2`` — so consumers
    (e.g. Jaccard's set sizes) never re-join the pairs relation against a
    per-doc table.

    ``cap``: posting lists longer than cap are DROPPED before the
    explode. Ubiquitous keys — boilerplate shingles, hot LSH buckets —
    carry no dedup signal (they match everything) but fan out f²/2 pairs
    from ONE row: at web scale a df=10⁶ shingle is 5·10¹¹ pairs in a
    single task, and the collect_list array OOMs the executor before the
    explode even starts. This is the standard df-cap from suffix-array /
    MinHash dedup practice; pass ``cap=None`` to disable (oracle paths at
    test scale).
    """
    ids = F.array_sort(F.col("ids"))

    def mk(x, y):
        if id_field is None:
            return F.struct(x.alias("d1"), y.alias("d2"))
        return F.struct(
            x[id_field].alias("d1"),
            y[id_field].alias("d2"),
            *[x[f].alias(f"{f}_1") for f in payload_fields],
            *[y[f].alias(f"{f}_2") for f in payload_fields],
        )

    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)), lambda y: mk(x, y)
            ),
        )
    )
    size = F.size(F.col("ids"))
    keep = (size > 1) if cap is None else size.between(2, cap)
    # The explode amplifies each key row ~f²/2-fold, but AQE sizes the
    # upstream stage on the PRE-explode bytes and happily coalesces the
    # candidate lists into one partition — serializing the fan-out. An
    # explicit numbered round-robin repartition is exempt from AQE
    # coalescing and spreads heavy keys independent of key skew; the
    # extra pass is over the (small) candidate lists, not the pairs.
    fan = grouped_ids.sparkSession.sparkContext.defaultParallelism
    out = [F.col("p.d1").alias("doc_id_1"), F.col("p.d2").alias("doc_id_2")] + [
        F.col(f"p.{f}_{s}") for f in payload_fields for s in (1, 2)
    ]
    return (
        grouped_ids.filter(keep)
        .repartition(fan)
        .select(F.explode(pairs).alias("p"))
        .select(*out)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    cap: int | None = MAX_POSTING_LEN,
) -> DataFrame:
    """All doc pairs with shingle-set Jaccard ≥ threshold (exact up to
    the df-cap: postings longer than ``cap`` are dropped — see
    pair_explode — which only ever REMOVES common-shingle evidence for
    pairs that share boilerplate, never invents pairs).

    The per-doc set size rides along through the inverted index and the
    pair explode as a struct field, so the (potentially huge) pairs
    table never joins back against a per-doc sizes table — at web scale
    that join would shuffle O(candidate pairs) twice against O(docs);
    here it's a few bytes per posting instead.
    """
    sh = shingle_hash_table(docs).select(
        "doc_id", F.size("sh").cast("int").alias("n_sh"), F.explode("sh").alias("s")
    )
    cand = pair_explode(
        sh.groupBy("s").agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ids")),
        id_field="doc_id",
        payload_fields=("n_sh",),
        cap=cap,
    )
    common = cand.groupBy("doc_id_1", "doc_id_2").agg(
        F.count("*").alias("common"),
        F.first("n_sh_1").alias("n1"),
        F.first("n_sh_2").alias("n2"),
    )
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        common.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_1", "doc_id_2", "jaccard")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper over the documents table."""
    return ngram_jaccard_pairs(Catalog(spark, sf_dir).documents)


INC_MOD = 5  # doc_id % INC_MOD == 0 plays the newly-arrived shard


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental shard admission: every NEW doc (doc_id % INC_MOD ==
    0 plays the incoming crawl shard) is checked for near-duplication
    against the ALREADY-ADMITTED corpus (the rest) and annotated with
    its best match. Output: (doc_id, is_dup, dup_of, jaccard) — one row
    per new doc; dup_of/jaccard NULL when the doc is novel.

    This is the shape of continuous-crawl dedup: the old corpus's
    inverted shingle index is the STORED index (built once, reused per
    shard — cf. the ANN index store), and the new shard PROBES it with
    a join keyed on the shingle hash. Probe shuffle volume is O(new
    shard tokens), never O(corpus); old postings hotter than the df-cap
    are dropped exactly as in pair_explode (boilerplate shingles carry
    no dedup signal but fan out |old_df| rows per probe). Unlike the
    symmetric all-pairs pass (ngram_jaccard_pairs), nothing here grows
    with old-corpus × old-corpus.
    """
    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    # cache: four consumers below (probe side, index side, hot-key scan,
    # output spine) would otherwise re-run the Arrow shingle kernel each.
    # In the real pipeline the OLD side is the stored index read back
    # from parquet — this cache is the single-job stand-in for that.
    sh = (
        shingle_hash_table(docs)
        .select(
            "doc_id",
            F.size("sh").cast("int").alias("n_sh"),
            F.explode("sh").alias("s"),
        )
        .cache()
    )
    is_new = F.col("doc_id") % INC_MOD == 0
    new = sh.filter(is_new).select(
        F.col("doc_id").alias("new_id"), F.col("n_sh").alias("n_new"), "s"
    )
    old = sh.filter(~is_new).select(
        F.col("doc_id").alias("old_id"), F.col("n_sh").alias("n_old"), "s"
    )
    hot = (
        old.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > MAX_POSTING_LEN)
        .select("s")
    )
    old = old.join(hot, "s", "left_anti")
    common = (
        new.join(old, "s")
        .groupBy("new_id", "old_id")
        .agg(
            F.count("*").alias("common"),
            F.first("n_new").alias("n1"),
            F.first("n_old").alias("n2"),
        )
    )
    jac = F.round(
        F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 4
    )
    from pyspark.sql.window import Window

    best = (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("new_id").orderBy(
                    F.col("jaccard").desc(), F.col("old_id").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("new_id", F.col("old_id").alias("dup_of"), "jaccard")
    )
    newdocs = sh.filter(is_new).select("doc_id").distinct()
    return newdocs.join(
        best, newdocs.doc_id == best.new_id, "left"
    ).select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
        "jaccard",
    )
