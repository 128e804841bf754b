"""WARC record plumbing: serialize crawl responses to WARC-format byte
records and parse them back to typed columns.

The container has no real WARC archives, so ``warc_records`` builds
deterministic WARC/1.0 response records from the documents table
(binary column). ``warc_parse`` is the real operator: an Arrow-batched
``mapInPandas`` pass that parses raw record bytes — header block split
on CRLFCRLF, header fields to typed columns, body digested — exactly
the per-record work a Common-Crawl-style ingest does. Both passes are
narrow (no shuffle); at scale parallelism = input splits.

The oracle recomputes every output column relationally from the
documents table, so parity proves serialize→parse is lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spider_spark.catalog import Catalog
from spider_spark.text.urls import synth_url


def warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, record: binary) — WARC/1.0 response records."""
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", synth_url().alias("uri"), "text"
    )

    def serialize(batches):
        for pdf in batches:
            recs = []
            for uri, text in zip(pdf["uri"], pdf["text"]):
                body = (text or "").encode("utf-8")
                hdr = (
                    "WARC/1.0\r\n"
                    "WARC-Type: response\r\n"
                    f"WARC-Target-URI: {uri}\r\n"
                    f"Content-Length: {len(body)}\r\n"
                    "\r\n"
                ).encode("ascii")
                recs.append(hdr + body + b"\r\n\r\n")
            pdf = pdf[["doc_id"]].copy()
            pdf["record"] = recs
            yield pdf

    return docs.mapInPandas(serialize, schema="doc_id bigint, record binary")


def warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse raw WARC record bytes to typed columns: version, type,
    target URI, declared + actual content length, and an md5 body
    digest. Arrow-batched narrow pass over the binary column."""
    import hashlib

    import pandas as pd

    recs = warc_records(spark, sf_dir)

    def parse(batches):
        for pdf in batches:
            out = {
                "doc_id": [],
                "warc_version": [],
                "warc_type": [],
                "target_uri": [],
                "content_length": [],
                "body_bytes": [],
                "body_md5": [],
            }
            for doc_id, raw in zip(pdf["doc_id"], pdf["record"]):
                raw = bytes(raw)
                head, _, rest = raw.partition(b"\r\n\r\n")
                body = rest[:-4] if rest.endswith(b"\r\n\r\n") else rest
                fields = {}
                lines = head.decode("ascii", "replace").split("\r\n")
                for line in lines[1:]:
                    k, _, v = line.partition(": ")
                    fields[k] = v
                out["doc_id"].append(doc_id)
                out["warc_version"].append(lines[0])
                out["warc_type"].append(fields.get("WARC-Type", ""))
                out["target_uri"].append(fields.get("WARC-Target-URI", ""))
                out["content_length"].append(int(fields.get("Content-Length", -1)))
                out["body_bytes"].append(len(body))
                out["body_md5"].append(hashlib.md5(body).hexdigest())
            yield pd.DataFrame(out)

    return recs.mapInPandas(
        parse,
        schema=(
            "doc_id bigint, warc_version string, warc_type string, "
            "target_uri string, content_length bigint, body_bytes bigint, "
            "body_md5 string"
        ),
    )
