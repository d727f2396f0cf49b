"""Round-19 seed operators — the Spark 4 custom Python DataSource API:
a partition-parallel synthetic connector whose content is closed-form
deterministic, so the full connector contract (schema declaration,
partition planning, per-partition reads) is oracle-checkable — 1
operator, oracled.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so this
extends SURVEY.md §2's own declared inventory.

Import discipline: leaf modules only at module scope — see seeds8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import cents_col
from engine.registry import query
from engine.session import load


PYDS_N = 10_000
PYDS_PARTS = 8


@query(
    "source_python_datasource",
    oracle=f"""
    WITH s AS (
      SELECT UNNEST(GENERATE_SERIES(0, {PYDS_N - 1})) AS x
    )
    SELECT CAST(x % {PYDS_PARTS} AS INT) AS part,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(x * x) AS BIGINT) AS sum_sq
    FROM s GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON DataSource (Spark 4 `pyspark.sql.datasource`): a
    from-scratch connector registered with
    ``spark.dataSource.register`` — schema declaration, PARTITION
    PLANNING (8 strided splits), and per-partition iterator reads —
    then aggregated per partition so every split's content is
    hash-checked against the closed-form oracle.

    This is the extension point for sources Spark lacks natively
    (internal APIs, bespoke formats): the reader contract mirrors DSv2
    — `partitions()` runs on the driver (plan-time metadata, like a
    catalog listing), `read(partition)` runs ON EXECUTORS in parallel,
    one task per split, so a 1000-split custom source scales exactly
    like a parquet scan (modulo the Python-worker row path; Arrow
    batch readers are the fast variant of the same API). The synthetic
    integer stream makes the oracle exact: each partition p must
    contribute precisely {{x ≡ p (mod 8)}}.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class StrideReader(DataSourceReader):
        def __init__(self, opts):
            self.n = int(opts.get("n", "10"))
            self.parts = int(opts.get("parts", "4"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            i = partition.value
            for v in range(i, self.n, self.parts):
                yield (i, v, v * v)

    class StrideSource(DataSource):
        @classmethod
        def name(cls):
            return "engine_stride"

        def schema(self):
            return "part int, x bigint, x_sq bigint"

        def reader(self, schema):
            return StrideReader(self.options)

    spark.dataSource.register(StrideSource)
    df = (
        spark.read.format("engine_stride")
        .option("n", str(PYDS_N))
        .option("parts", str(PYDS_PARTS))
        .load()
    )
    return df.groupBy("part").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum("x_sq").cast("bigint").alias("sum_sq"),
    )


# ---------------------------------------------------------------------------
# sink_python_datasource — the WRITE side of the connector contract
# ---------------------------------------------------------------------------


@query(
    "sink_python_datasource",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS INT) AS files_match_partitions,
           CAST(1 AS INT) AS checksum_ok
    FROM events
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of the custom Python DataSource contract
    (`DataSourceWriter`): events pushed through a from-scratch text
    sink — `write(iterator)` runs ONE TASK PER PARTITION on executors,
    each emitting its own file and a WriterCommitMessage (the
    two-phase-commit hook a transactional sink implements for real) —
    then the files are read back and the row count + exact cent
    checksum must survive the trip.

    With the reader twin (source_python_datasource) this closes the
    full connector loop: schema → partitions → parallel read AND
    partitioned write → commit. The audit row asserts 1..4 files (one
    per non-coalesced partition) plus exact count/checksum equality.
    Scratch dir removed afterwards.
    """
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class TextSinkWriter(DataSourceWriter):
        def __init__(self, opts):
            self.path = opts["path"]

        def write(self, it):
            out = os.path.join(
                self.path, f"part-{uuid.uuid4().hex}.csv"
            )
            with open(out, "w") as f:
                for row in it:
                    f.write(f"{row[0]},{row[1]}\n")
            return WriterCommitMessage()

    class TextSink(DataSource):
        @classmethod
        def name(cls):
            return "engine_textsink"

        def writer(self, schema, overwrite):
            return TextSinkWriter(self.options)

    spark.dataSource.register(TextSink)
    e = load(spark, sf_dir, "events").select(
        "event_id", cents_col(F.col("value")).alias("c")
    )
    base = e.agg(
        F.count("*").alias("n"), F.sum("c").alias("s")
    ).collect()[0]
    tmp = tempfile.mkdtemp(prefix="pysink_")
    try:
        n_parts = 4
        (
            e.repartition(n_parts)
            .write.format("engine_textsink")
            .option("path", tmp)
            .mode("append")
            .save()
        )
        files = glob.glob(os.path.join(tmp, "part-*.csv"))
        back = (
            spark.read.schema("event_id long, c long").csv(tmp)
            if files
            else spark.createDataFrame([], "event_id long, c long")
        )
        chk = back.agg(
            F.count("*").alias("n"), F.sum("c").alias("s")
        ).collect()[0]
        # one write() task per partition; AQE may coalesce empties, so
        # the stable invariant is 1..n_parts files when rows exist.
        ok_files = int(
            len(files) <= n_parts
            and (int(base["n"]) == 0 or len(files) >= 1)
        )
        rows = [
            (
                int(chk["n"]),
                ok_files,
                int(
                    chk["n"] == base["n"]
                    and (chk["s"] or 0) == (base["s"] or 0)
                ),
            )
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "n_rows bigint, files_match_partitions int, checksum_ok int"
    )
