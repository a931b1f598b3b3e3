"""NER extraction operator (SURVEY.md M1/M3) — the flagship hot path.

Plan shape (one corpus scan, zero per-row Python outside the Arrow UDF):

    documents
      -> posexplode(spans)                     # JVM, codegen
      -> filter(kind = 'text')                 # pushed into the scan where
                                               # the source supports it;
                                               # nested pruning drops
                                               # media payload columns
      -> mapInPandas(extract_batch)            # the ONLY Python crossing
      -> mentions / predicates                 # split by row_kind filter

The extraction UDF emits mentions AND predicate-phrase matches in one
pass so triple assembly never re-reads the corpus. mention_id is a
content hash added JVM-side (sha2 over the natural key) — deterministic,
unlike the reference's uuid4()/now() (main_endpoints.py:84,100).

Reference parity: output fields (entity_group, score, word, start, end)
and span order match pipeline('ner', aggregation_strategy="simple")
per /root/reference/src/routers/main_endpoints.py:129-176, including the
512-token truncation (training.py:13).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from .. import schema as S
from .tagger import GazetteerTagger

if TYPE_CHECKING:
    import pandas as pd


def explode_text_spans(documents: DataFrame) -> DataFrame:
    """documents -> one row per *text* span.

    Keeps only (doc_id, span_idx, text): with
    spark.sql.optimizer.nestedSchemaPruning.enabled the parquet scan
    reads just spans.kind + spans.text, never media payloads.
    """
    # narrow the span struct BEFORE exploding: Catalyst prunes through
    # neither posexplode nor lambda field accesses, but it DOES prune
    # direct array-field extractions (GetArrayStructFields), so zip the
    # two needed subfield arrays — the parquet scan then reads only
    # spans.kind + spans.text (tests/test_plans.py pins the ReadSchema)
    narrowed = F.arrays_zip(
        F.col("spans.kind").alias("kind"), F.col("spans.text").alias("text")
    )
    return (
        documents.select("doc_id", F.posexplode(narrowed).alias("span_idx", "span"))
        .where(F.col("span.kind") == "text")
        .select(
            "doc_id",
            F.col("span_idx").cast("int").alias("span_idx"),
            F.col("span.text").alias("text"),
        )
    )


def extract(documents: DataFrame, tagger: GazetteerTagger | None = None) -> DataFrame:
    """Single-pass extraction: mentions + predicate matches (EXTRACTION rows).

    The tagger is constructed lazily inside the UDF (once per Python
    worker, reused across Arrow batches) — the Spark translation of the
    reference's model singleton fix.
    """
    text_spans = explode_text_spans(documents)

    def extract_batch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        tg = tagger or GazetteerTagger()
        for pdf in batches:
            out = tg.tag_batch(pdf)
            if out is not None:
                yield out
            # skip empty frames (historically an all-object empty frame
            # broke Arrow's list<float> conversion; ctx is a plain
            # string now but the guard stays — it is also cheaper).

    return text_spans.mapInPandas(extract_batch, schema=S.EXTRACTION)


def mentions_of(extraction: DataFrame) -> DataFrame:
    """EXTRACTION -> MENTIONS with a deterministic content-hash mention_id."""
    m = extraction.where(F.col("row_kind") == "mention")
    return m.select(
        "doc_id",
        "span_idx",
        F.sha2(
            F.concat_ws("|", "doc_id", "span_idx", "start", "end", "entity_group"), 256
        ).substr(1, 16).alias("mention_id"),
        "entity_group",
        "word",
        "start",
        "end",
        "score",
        "sentence_id",
        "ctx",
    )


def predicates_of(extraction: DataFrame) -> DataFrame:
    return extraction.where(F.col("row_kind") == "pred").select(
        "doc_id",
        "span_idx",
        F.col("word").alias("pred"),
        "start",
        "end",
        "sentence_id",
    )


def reassemble_spans(documents: DataFrame) -> DataFrame:
    """Round-trip identity: explode all spans and re-collect per doc,
    ordered by offset. Proves the span-sequence invariant
    (kind, text, media_ref, order) — BASELINE.json input_hint — survives
    the engine's explode/shuffle path.
    """
    return (
        documents.select("doc_id", F.posexplode("spans").alias("i", "span"))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("span.offset").alias("o"), F.col("i"), F.col("span")))
                ),
                lambda s: s["span"],
            ).alias("spans")
        )
    )
