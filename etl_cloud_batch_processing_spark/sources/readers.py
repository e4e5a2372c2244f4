"""Schema-explicit readers and the fixture catalog.

The reference loads CSVs with a fixed, explicitly-declared schema and a
skipped header row (reference: dags/daily_search_history.py:42-49) and
reads warehouse tables by name across two "projects"
(dags/transaction_data.py:15-16,20).  Engine policy (SURVEY.md §1.3):
every source read carries an explicit StructType — ``inferSchema`` never
appears in an engine path, because schema inference requires an extra
pass over 100 TB of input.

The ``Catalog`` maps table names to parquet roots, playing the role of
the reference's multi-project BigQuery catalog (SURVEY.md §2.1 S5): each
"project" is just a distinct base path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Tables shipped by the driver fixtures (TESTDATA.md).
FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def read_parquet(spark: SparkSession, path: str,
                 schema: StructType | None = None) -> DataFrame:
    """Parquet scan.  Without ``schema`` Spark launches one job to
    merge the files' footers before the scan is planned; pass the
    schema whenever the caller knows it (a read-back of a frame it has
    just written), and leave it out for external inputs whose on-disk
    types vary by producer."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: StructType,
             header: bool = True, **options: str) -> DataFrame:
    """CSV scan with mandatory explicit schema.

    ``header=True`` replicates the reference's ``skip_leading_rows=1``
    (dags/daily_search_history.py:43).  The reference loads every column
    as STRING and casts later ("load permissively, cast safely") — the
    caller passes an all-string schema to replicate that.
    """
    return (spark.read.schema(schema)
            .option("header", str(header).lower())
            .options(**options)
            .csv(path))


def read_json(spark: SparkSession, path: str, schema: StructType,
              **options: str) -> DataFrame:
    return spark.read.schema(schema).options(**options).json(path)


def read_orc(spark: SparkSession, path: str,
             schema: StructType | None = None) -> DataFrame:
    """ORC scan — footer-authoritative like parquet (schema optional);
    vectorized reader + predicate pushdown come from the same
    DataSource-v2 machinery, so ORC-resident corpora plug into every
    engine plan unchanged."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_xml(spark: SparkSession, path: str, row_tag: str,
             schema: StructType | None = None,
             **options: str) -> DataFrame:
    """XML scan (built-in DataSource since Spark 4): one row per
    ``row_tag`` element.  Schema is optional (inference walks the
    documents) but SHOULD be passed in production for the same reason
    as CSV — inference is a full extra pass and can widen types.  The
    feed-ingest format of record for legacy enterprise sources; lands
    on the same DataSource-v2 machinery as the other readers, so
    column pruning still applies downstream."""
    reader = spark.read.option("rowTag", row_tag).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format("xml").load(path)


@dataclass
class Catalog:
    """Name → DataFrame resolution over one or more parquet roots.

    ``roots`` is searched in order, so a second entry acts like the
    reference's cross-project source (dags/transaction_data.py:20 reads
    from project ``pkl-playing-fields`` while writing to
    ``academi-cloud-etl``).
    """

    roots: list[str] = field(default_factory=list)

    def table(self, spark: SparkSession, name: str) -> DataFrame:
        last_err: Exception | None = None
        for root in self.roots:
            try:
                return read_parquet(spark, f"{root}/{name}.parquet")
            except Exception as exc:  # path missing in this root
                last_err = exc
        raise FileNotFoundError(
            f"table {name!r} not found under any of {self.roots}") from last_err


def fixtures(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver fixture table under ``sf_dir``."""
    cat = Catalog([sf_dir])
    return {name: cat.table(spark, name) for name in FIXTURE_TABLES}


def read_csv_quarantine(spark: SparkSession, path: str,
                        schema: StructType, header: bool = True,
                        corrupt_col: str = "_corrupt_record",
                        **options: str) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE CSV ingest with a quarantine split: returns
    ``(good, bad)`` where ``good`` has the declared schema and ``bad``
    holds the raw text of every malformed line (wrong field count,
    broken quoting) — the production pattern for 100 TB ingest, where
    FAILFAST aborts a day's load for one bad line and DROPMALFORMED
    silently loses data.  Quarantined rows land in their own frame so
    the pipeline can count them (``df.observe``), alert past a
    threshold, and replay them after a fix.

    The frame is persisted before splitting: Spark refuses plans that
    select ONLY the internal corrupt-record column from a raw scan
    (SPARK-38523) — and without it the two branches would each rescan
    the input anyway."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    full = StructType(schema.fields[:]).add(corrupt_col, StringType())
    df = (spark.read.schema(full)
          .option("header", str(header).lower())
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", corrupt_col)
          .options(**options)
          .csv(path)
          .persist())
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()) \
            .select(F.col(corrupt_col).alias("raw_line"))
    return good, bad
