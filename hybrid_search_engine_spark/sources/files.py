"""Directory-scan sources: the reference's file-discovery surface on Spark.

Reference semantics (SURVEY.md S1/S2):
- discover files recursively by extension, default
  {.txt, .md, .log, .json, .csv} (extractor.py:105-134);
- txt-likes read as UTF-8; JSON flattened to the space-joined string values
  of a dict (or string items of a list) (extractor.py:74-102);
- empty/whitespace-only content skipped (extractor.py:127).

Spark mapping: `binaryFile` source (gives path + content in one scan,
pathGlobFilter pushes the extension filter into file listing) + a pandas UDF
for the decode/flatten step — the discovery loop becomes a distributed scan.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_EXTENSIONS = (".txt", ".md", ".log", ".json", ".csv")


def decode_content(raw: bytes | None, path: str) -> str:
    """Pure-Python decode parity core (shared with tests)."""
    if raw is None:
        return ""
    try:
        text = bytes(raw).decode("utf-8")
    except Exception:
        return ""
    if path.lower().endswith(".json"):
        try:
            data = json.loads(text)
        except Exception:
            return ""
        if isinstance(data, dict):
            return " ".join(str(v) for v in data.values() if isinstance(v, str))
        if isinstance(data, list):
            return " ".join(str(x) for x in data if isinstance(x, str))
        return str(data)
    return text


def discover_documents(spark: SparkSession, data_dir: str,
                       extensions: tuple = DEFAULT_EXTENSIONS) -> DataFrame:
    """→ (path, content, char_count, word_count) for non-empty files.

    One distributed binaryFile scan; the glob filter prunes at listing time
    so non-matching files are never opened.
    """
    glob = "*.{" + ",".join(e.lstrip(".") for e in extensions) + "}"
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(data_dir)
    )

    @F.pandas_udf(T.StringType())
    def decode_udf(content: pd.Series, path: pd.Series) -> pd.Series:
        return pd.Series([decode_content(c, p) for c, p in zip(content, path)],
                         dtype="object")

    from ..functions.text import doc_metadata_cols, preprocess_udf

    docs = (
        raw.select(F.col("path"), decode_udf("content", "path").alias("raw_text"))
        .where(F.regexp_count(F.col("raw_text"), F.lit(r"\S")) > 0)
        .select("path", preprocess_udf(F.col("raw_text")).alias("content"),
                F.col("raw_text"))
    )
    meta = doc_metadata_cols("raw_text")
    return docs.select("path", "content", meta[0], meta[1])


def export_index_json(docs: DataFrame, out_dir: str) -> None:
    """S7 export: dump the docs table as JSON lines (the reference dumps
    docs + embeddings to one JSON file, cli.py:129-159; postings round-trip
    is a parquet copy so only the doc corpus needs a portable format)."""
    docs.write.mode("overwrite").json(out_dir)


def import_index_json(spark: SparkSession, in_dir: str, schema: str | None = None
                      ) -> DataFrame:
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(in_dir)
