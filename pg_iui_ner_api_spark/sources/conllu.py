"""CoNLL-U-ish corpus source (SURVEY.md S1/W1/P13/P14/A3).

The reference parses 3-column TSV training files with a streaming
generator (/root/reference/src/utils/process_input_file.py:26-62):

  * line = ``index \\t token \\t BIO-label``; lines that don't split into
    exactly 3 tab fields are silently dropped (line 53),
  * a blank line ends a sentence (lines 43-46),
  * sentences are merged into fixed-size batches
    ``{"tokens": [[...]], "ner_tags": [[...]]}`` (lines 65-86).

Spark-native equivalent — one pass, all built-ins:

    spark.read.text(wholetext=True)       (one row per file — a file is
         NEVER split, so line order is contract-guaranteed; round 1 used
         monotonically_increasing_id over split lines, whose in-file
         ordering relied on Spark's split packing, an implementation
         detail)
      -> posexplode(split(value, '\\r?\\n'))  (guaranteed 0-based line_no)
      -> sentence_id = running count of blank lines (window running sum —
         the W1 sessionization)
      -> filter malformed (P13), split fields, label-encode via a
         broadcast label dim (P14)
      -> groupBy sentence -> sort_array(collect_list(struct(...))) (A3)

Scale note: the sentence window partitions by file, so per-file work was
ALWAYS serialized onto one task — wholetext therefore costs no
parallelism; it bounds memory at one file per task instead. A 100 TB
corpus of many files parallelizes per file; a single pathological
multi-TB file should be pre-chunked, same as any line-oriented format
without sync markers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..schema import LABEL2ID


def label_dim(spark: SparkSession) -> DataFrame:
    """The 9-tag BIO vocabulary as a broadcastable dimension
    (reference models_utils.py:6-16). Built as a JVM LocalRelation from
    an Arrow table — see synth.local_dim_df for why no dim is a
    Python-RDD frame."""
    from ..synth import local_dim_df

    return local_dim_df(
        spark, [(k, v) for k, v in LABEL2ID.items()], "label string, label_id int"
    )


def read_conllu(spark: SparkSession, path: str) -> DataFrame:
    """path -> sentences(file, sentence_id, tokens array<string>,
    ner_tags array<int>) with reference-parser semantics."""
    lines = (
        spark.read.text(path, wholetext=True)
        .select(
            F.input_file_name().alias("file"),
            F.posexplode(F.split("value", "\r?\n")).alias("line_no", "value"),
        )
    )
    w = Window.partitionBy("file").orderBy("line_no")
    sents = lines.withColumn(
        "sentence_id",
        F.sum(F.when(F.trim("value") == "", 1).otherwise(0)).over(w),
    ).where(F.trim("value") != "")
    fields = sents.withColumn("f", F.split("value", "\t")).where(F.size("f") == 3)
    toks = fields.select(
        "file",
        "sentence_id",
        "line_no",
        F.col("f")[1].alias("token"),
        F.col("f")[2].alias("label"),
    ).join(F.broadcast(label_dim(spark)), "label", "left").withColumn(
        "label_id", F.coalesce("label_id", F.lit(0))
    )
    return (
        toks.groupBy("file", "sentence_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("line_no", "token", "label_id"))
            ).alias("rows")
        )
        .select(
            "file",
            "sentence_id",
            F.transform("rows", lambda r: r["token"]).alias("tokens"),
            F.transform("rows", lambda r: r["label_id"]).alias("ner_tags"),
        )
    )


def merge_batches(sentences: DataFrame, batch_size: int = 100_000) -> DataFrame:
    """Count-based tumbling batches (W2/M3): batch = sentence_id div
    batch_size, mirroring merge_sentences' fixed-size flushing
    (process_input_file.py:47-50,65-86)."""
    return (
        sentences.withColumn("batch", F.floor(F.col("sentence_id") / batch_size))
        .groupBy("file", "batch")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sentence_id", "tokens", "ner_tags"))
            ).alias("s")
        )
        .select(
            "file",
            "batch",
            F.transform("s", lambda x: x["tokens"]).alias("tokens"),
            F.transform("s", lambda x: x["ner_tags"]).alias("ner_tags"),
        )
    )
