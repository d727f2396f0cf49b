"""Round-20 seed operator — chunking-pipeline integrity: overlapping
RAG chunks reconstructed back into their source documents byte-exactly
— 1 operator, oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so this
extends SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.session import load

# Mirror pipeline_ops' chunk geometry (32-token windows every 24) —
# duplicated as literals so this module stays a leaf (importing
# pipeline_ops would drag 16 registrations ahead of the seeds in the
# driver's capped window; see engine/__init__).
RT_CHUNK_SIZE = 32
RT_CHUNK_STRIDE = 24


@query(
    "llm_chunk_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_reconstructed_ok
    FROM documents GROUP BY 1
    """,
)
def llm_chunk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking-integrity audit: documents are split into the SAME
    overlapping token windows as llm_chunk_split (32 every 24), then
    RECONSTRUCTED from the chunks alone — each chunk contributes its
    24-token non-overlap prefix, the final chunk its full tail — and
    the rebuild must equal the original text byte-for-byte (md5
    compared per doc, counted per language; the oracle pins
    n_reconstructed_ok == n_docs, so one lost/duplicated token anywhere
    in the chunk geometry fails the hash).

    This is the invariant a RAG ingestion owns: chunks must COVER the
    corpus exactly once net of declared overlap, or retrieval silently
    loses spans. Everything is JVM-side: sequence→slice generates
    chunks, a sorted-collect (array_sort over (start, contrib) structs
    — the agg_collect_sorted discipline) rebuilds order without
    depending on aggregation order, flatten+concat_ws re-joins.
    One doc_id shuffle.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    chunks = d.select(
        "doc_id",
        "lang",
        F.md5("text").alias("orig_md5"),
        F.size(toks).alias("n_tok"),
        F.explode(
            F.sequence(
                F.lit(0), F.size(toks) - 1, F.lit(RT_CHUNK_STRIDE)
            )
        ).alias("start"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        "lang",
        "orig_md5",
        "start",
        # the chunk as the splitter emits it (size-capped window) ...
        F.slice(
            "toks",
            F.col("start") + 1,
            F.least(F.lit(RT_CHUNK_SIZE), F.col("n_tok") - F.col("start")),
        ).alias("chunk"),
        # ... and whether a successor chunk exists (its prefix covers
        # our overlap suffix, so we contribute only the stride prefix)
        (F.col("start") + RT_CHUNK_STRIDE <= F.col("n_tok") - 1).alias(
            "has_next"
        ),
    )
    contrib = chunks.select(
        "doc_id",
        "lang",
        "orig_md5",
        "start",
        F.when(
            F.col("has_next"),
            F.slice("chunk", 1, RT_CHUNK_STRIDE),
        )
        .otherwise(F.col("chunk"))
        .alias("contrib"),
    )
    rebuilt = (
        contrib.groupBy("doc_id", "lang", "orig_md5")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("start", "contrib"))
            ).alias("parts")
        )
        .select(
            "doc_id",
            "lang",
            "orig_md5",
            F.md5(
                F.concat_ws(
                    " ",
                    F.flatten(
                        F.transform("parts", lambda p: p["contrib"])
                    ),
                )
            ).alias("rebuilt_md5"),
        )
    )
    return rebuilt.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            (F.col("rebuilt_md5") == F.col("orig_md5")).cast("int")
        )
        .cast("bigint")
        .alias("n_reconstructed_ok"),
    )
