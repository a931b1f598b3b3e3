"""Per-language model routing (VERDICT r1 residual gap #5).

The reference keeps one NER model per language — ``ENG_MODEL`` /
``PL_MODEL`` (/root/reference/src/config.py:14-15), both seeded into
its model registry (/root/reference/src/database/tools.py:21-40) — and
the caller picks the model per request. The batch-engine equivalent
routes each document row to its model through a broadcastable
(lang -> model_path) dimension derived from the registry, then runs the
extraction UDF with a PER-MODEL tagger cache inside each Python worker:
one corpus scan, one broadcast join, taggers loaded once per (worker,
model) — never per row or per batch.

Documents whose language has no registered model fall back to the
English model, mirroring the reference's default endpoint.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schema as S
from .tagger import GazetteerTagger

if TYPE_CHECKING:
    import pandas as pd

# reference config.py:14-15 / tools.py:21-40: one model per language
LANG_TO_BASE = {"en": "roberta_eng", "pl": "roberta_pl"}
DEFAULT_BASE = "roberta_eng"


def model_routing_df(spark: SparkSession, registry_df: DataFrame) -> DataFrame:
    """(lang, model_path) routing dimension from the model registry.

    Joins the static language->base_model map (the reference's config)
    against the live registry rows, so a registry UPDATE (e.g. a newly
    trained PL model path, crud.py:8-215) re-routes without code change.
    """
    from ..synth import local_dim_df

    lang_dim = local_dim_df(
        spark, list(LANG_TO_BASE.items()), ["lang", "base_model"]
    )
    return (
        lang_dim.join(registry_df.select("base_model", "file_path"), "base_model")
        .select("lang", F.col("file_path").alias("model_path"))
    )


def default_routing_df(spark: SparkSession) -> DataFrame:
    """Routing dim with the seed paths (no registry on disk needed)."""
    from ..synth import local_dim_df

    return local_dim_df(
        spark,
        [(lang, f"models/{base}") for lang, base in LANG_TO_BASE.items()],
        ["lang", "model_path"],
    )


def route_documents(documents: DataFrame, routing_df: DataFrame,
                    lang_col: str = "lang") -> DataFrame:
    """documents + routing dim -> documents with a model_path column.

    Broadcast left join (the dim is per-language, a handful of rows);
    unrouted languages fall back to the English model.
    """
    default_path = f"models/{DEFAULT_BASE}"
    return (
        documents.join(F.broadcast(routing_df),
                       documents[lang_col] == routing_df["lang"], "left")
        .drop(routing_df["lang"])
        .withColumn("model_path", F.coalesce("model_path", F.lit(default_path)))
    )


def extract_routed(
    documents: DataFrame,
    routing_df: DataFrame,
    tagger_factory: Callable[[str], GazetteerTagger] | None = None,
    lang_col: str = "lang",
) -> DataFrame:
    """Language-routed extraction: like ner.extract, but each text span
    is tagged by the model its document's language routes to.

    ``tagger_factory(model_path)`` builds the tagger for one model —
    defaults to a GazetteerTagger per path (production: HFTagger.get,
    which memoizes per worker). Workers hold one tagger PER MODEL in a
    dict, so a worker processing mixed-language batches pays each model
    load once (the reference reloads per request —
    main_endpoints.py:161-166).
    """
    routed = route_documents(documents, routing_df, lang_col)
    narrowed = F.arrays_zip(
        F.col("spans.kind").alias("kind"), F.col("spans.text").alias("text")
    )
    text_spans = (
        routed.select("doc_id", "model_path",
                      F.posexplode(narrowed).alias("span_idx", "span"))
        .where(F.col("span.kind") == "text")
        .select(
            "doc_id",
            "model_path",
            F.col("span_idx").cast("int").alias("span_idx"),
            F.col("span.text").alias("text"),
        )
    )
    factory = tagger_factory or (lambda path: GazetteerTagger())

    def extract_batch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        taggers: dict[str, GazetteerTagger] = {}
        for pdf in batches:
            # one sub-batch per model (groupby preserves first-appearance
            # order): each model's rows go through the tagger's
            # vectorized batch path, and a worker still loads each model
            # exactly once however its batches interleave languages
            frames = []
            for path, sub in pdf.groupby("model_path", sort=False):
                tg = taggers.get(path)
                if tg is None:
                    tg = taggers[path] = factory(path)
                out = tg.tag_batch(sub.reset_index(drop=True))
                if out is not None:
                    frames.append(out)
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return text_spans.mapInPandas(extract_batch, schema=S.EXTRACTION)
