"""Shared helpers for the query registry (__spark_entry__ contract).

Every query exists twice: a Spark DataFrame program (`(spark, sf_dir)
-> DataFrame`) and, where SQL-expressible, an ANSI/DuckDB oracle SQL
string built from the SAME Python constants (thresholds, stopword list,
regex patterns) so the two sides cannot drift apart. The driver
hash-compares values column-by-column, so:

- every computed column is aliased identically on both sides,
- floats that involve more than one accumulation are rounded to 6
  decimals on both sides (single-division floats from integer counts
  are bit-identical between engines and compared unrounded),
- counts are cast to BIGINT on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from curator_spark.models.corpora import STOPWORDS

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition ONLY when the scan is under-parallel (single-file
    local testdata coalesces to 1-2 splits, starving the cluster).
    At corpus scale the scan has natural parallelism and this is a
    no-op — a blanket repartition() there would be a full extra
    shuffle of the table for nothing."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# SQL fragments shared across oracle strings.
# ---------------------------------------------------------------------------

def sql_stopword_list() -> str:
    """DuckDB list literal of the stopword lexicon."""
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


# Words = non-empty whitespace-separated tokens (identical to
# functions/textstats.words).
SQL_WORDS = "list_filter(regexp_split_to_array({col}, '[ \\t\\n\\v\\f\\r]+'), x -> x <> '')"


def sql_words(col: str = "text") -> str:
    return SQL_WORDS.format(col=col)


def parquet_row_count(df: DataFrame) -> int | None:
    """Row count from parquet FOOTERS of the scan's input files — no
    data pass. EXACT for an unfiltered scan (parquet metadata records
    true row counts); an upper bound once filters prune. Returns None
    for non-local / non-parquet inputs (a real deployment reads
    catalog stats or Iceberg snapshot row counts the same way);
    callers fall back to count() then."""
    from urllib.parse import unquote, urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq
    from py4j.protocol import Py4JError

    try:
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        for uri in files:
            parsed = urlparse(uri)
            if parsed.scheme not in ("file", ""):
                return None
            total += pq.ParquetFile(unquote(parsed.path)).metadata.num_rows
        return total
    except (OSError, pa.ArrowInvalid, Py4JError):
        return None
