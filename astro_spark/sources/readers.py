"""Distributed file readers per format.

Reference format handlers: ``files/types/{csv,json,ndjson,parquet,excel}.py``
— each wraps a pandas ``read_*`` and is driven row-chunk-at-a-time through
the driver.  Spark replaces all of that with executor-parallel readers; the
only driver-side path left is XLS(X) (no distributed reader exists; the
files are small by construction — reference also reads them via pandas).

Scale notes:
- Parquet/CSV/JSON reads are split by ``spark.sql.files.maxPartitionBytes``
  (default 128MB) → a 100 TB input becomes ~800k parallel tasks; no code
  here needs to change.
- Schema inference on huge CSV/JSON inputs samples via ``samplingRatio``;
  the reference's 1000-row cap (``settings.py:71-73``) maps to
  ``infer_sample_rows`` below: we infer on a LIMITed copy, then re-read the
  full input with the locked schema so inference cost is O(sample), not
  O(input).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..file import File, FileType
from ..plans.flatten import flatten_structs

#: reference LOAD_TABLE_AUTODETECT_ROWS_COUNT (settings.py:71-73)
DEFAULT_AUTODETECT_ROWS = 1000


def read_file(
    spark: SparkSession,
    file: File,
    schema=None,
    columns_names_capitalization: str = "original",
    infer_sample_rows: int = DEFAULT_AUTODETECT_ROWS,
    csv_options: dict | None = None,
    merge_schema: bool = False,
    rescue_malformed: bool = False,
) -> DataFrame:
    """Read a file/glob/directory into a DataFrame (lazy plan).

    Mirrors ``BaseDatabase.load_file_to_table``'s read half
    (``databases/base.py:474-542``) minus the per-backend native/pandas
    duality — Spark *is* the parallel native path for every format.

    ``rescue_malformed=True`` (CSV/NDJSON) captures rows that fail the
    schema into a ``_corrupt_record`` string column instead of nulling
    them silently — the quarantine-and-continue semantics a 100 TB
    ingest needs (PERMISSIVE mode keeps the scan distributed; bad rows
    are filtered downstream with ``_corrupt_record IS NOT NULL``).
    """
    from .locations import stage_if_needed

    ftype = file.filetype or FileType.PARQUET
    path = stage_if_needed(file.path)

    if ftype == FileType.PARQUET:
        # merge_schema: schema evolution across files (drifted columns
        # union into one schema, absent values read as NULL) — footer
        # reconciliation only, no data rewrite
        df = spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(path)
    elif ftype == FileType.ORC:
        if schema is not None:
            df = spark.read.schema(schema).orc(path)
        elif merge_schema:
            df = spark.read.option("mergeSchema", "true").orc(path)
        else:
            df = spark.read.orc(path)
    elif ftype == FileType.CSV:
        opts = {"header": "true", "mode": "PERMISSIVE"}
        if csv_options:
            opts.update(csv_options)
        if rescue_malformed:
            opts["columnNameOfCorruptRecord"] = "_corrupt_record"
        reader = spark.read.options(**opts)
        if schema is None:
            schema = _infer_csv_schema_capped(spark, path, opts, infer_sample_rows)
        if rescue_malformed and "_corrupt_record" not in schema.fieldNames():
            from pyspark.sql.types import StringType, StructField, StructType

            # StructType.add mutates in place — copy so a caller-supplied
            # schema reused for a later read doesn't carry the extra column
            schema = StructType(
                list(schema.fields) + [StructField("_corrupt_record", StringType())]
            )
        df = reader.schema(schema).csv(path)
    elif ftype == FileType.JSON:
        # whole-document JSON (reference files/types/json.py): multiLine
        reader = spark.read.option("multiLine", "true")
        df = reader.schema(schema).json(path) if schema is not None else reader.json(path)
        df = _maybe_flatten(df, file)
    elif ftype == FileType.NDJSON:
        reader = spark.read
        if rescue_malformed:
            from pyspark.sql.types import StringType, StructField, StructType

            if schema is None:
                schema = spark.read.json(path).schema
            if "_corrupt_record" not in schema.fieldNames():
                schema = StructType(
                    list(schema.fields)
                    + [StructField("_corrupt_record", StringType())]
                )
            reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
        df = reader.schema(schema).json(path) if schema is not None else reader.json(path)
        df = _maybe_flatten(df, file)
    elif ftype in (FileType.XLSX, FileType.XLS):
        df = _read_excel_driver_side(spark, path)
    else:  # pragma: no cover
        raise ValueError(f"unsupported filetype {ftype}")

    if columns_names_capitalization == "lower":
        df = df.toDF(*[c.lower() for c in df.columns])
    elif columns_names_capitalization == "upper":
        df = df.toDF(*[c.upper() for c in df.columns])
    return df


def _infer_csv_schema_capped(
    spark: SparkSession, path: str, opts: dict, sample_rows: int
):
    """Infer a CSV schema from the first ``sample_rows`` rows of the FIRST
    matching file that holds a data row.

    Reference parity: LOAD_TABLE_AUTODETECT_ROWS_COUNT = 1000 rows of the
    first file (``databases/base.py:283-319``, first-file-only comment at
    438-441).  Scale win: Spark's stock ``inferSchema`` runs a SECOND full
    pass over the input; sampling the head keeps inference O(sample) for
    a 100 TB CSV load.  A header-only file (what Spark writes for an
    empty split) would type every column STRING, so such files are
    skipped; the check reads a file's first lines driver-side, so the
    usual case still costs one sampling job.
    """
    from ..operators.files import get_file_list

    files = [
        f
        for f in get_file_list(spark, path)
        if not os.path.basename(f).startswith(("_", "."))
    ]
    header = str(opts.get("header", "false")).lower() == "true"
    first = next(
        (f for f in files if _has_data_row(spark, f, header)),
        files[0] if files else path,
    )
    head = spark.read.text(first).limit(sample_rows + 1)  # +1 header line
    # The sample is collected inside the JVM and handed back as a local
    # Dataset[String] to DataFrameReader.csv(Dataset[String]), the call
    # PySpark's csv(RDD) makes after routing the lines through a Python
    # worker.  A local dataset also spares the reader's first-line probe
    # and the inference pass from re-running the limit as a shuffle.
    enc = spark._jvm.org.apache.spark.sql.Encoders.STRING()
    lines = spark._jsparkSession.createDataset(
        getattr(head._jdf, "as")(enc).collectAsList(), enc
    )
    reader = spark.read.options(**opts).option("inferSchema", "true")
    return DataFrame(reader._jreader.csv(lines), spark).schema


def _has_data_row(spark: SparkSession, path: str, header: bool) -> bool:
    """True when the CSV at ``path`` has a non-blank line after its
    header (any non-blank line without one).  Reads the first lines
    through the Hadoop filesystem (decompressing by extension) — no
    Spark job.  Unreadable input and a long run of blank lines count as
    data, so the caller's sampling decides as it always did."""
    from py4j.protocol import Py4JError

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    try:
        p = jvm.org.apache.hadoop.fs.Path(path)
        stream = p.getFileSystem(conf).open(p)
    except Py4JError:
        return True
    try:
        codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
            conf
        ).getCodec(p)
        if codec is not None:
            stream = codec.createInputStream(stream)
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        skip = 1 if header else 0
        for _ in range(64):
            line = reader.readLine()
            if line is None:
                return False
            if skip:
                skip -= 1
            elif line.strip():
                return True
        return True
    except Py4JError:
        return True
    finally:
        stream.close()


def _maybe_flatten(df: DataFrame, file: File) -> DataFrame:
    """Apply json_normalize-style flatten (reference ndjson.py:54-96).

    ``normalize_config={"sep": "_"}``; pass ``normalize_config={"flatten":
    False}`` to keep Spark's native nested structs (strict upgrade over the
    reference).
    """
    cfg = file.normalize_config or {}
    if cfg.get("flatten", True):
        return flatten_structs(df, sep=cfg.get("sep", "_"))
    return df


def _read_excel_driver_side(spark: SparkSession, path: str) -> DataFrame:
    """XLS(X): no distributed reader; driver-side parse then parallelize
    (reference also reads driver-side via pandas.read_excel,
    files/types/excel.py:13-46).  pandas+openpyxl/xlrd when available
    (widest format coverage); otherwise the stdlib OOXML codec
    (sources/xlsx.py) handles .xlsx and the stdlib BIFF8/CFB codec
    (sources/xls.py) handles legacy binary .xls.
    """
    import pandas as pd

    try:
        pdf = pd.read_excel(path)
    except ImportError:  # openpyxl/xlrd missing — stdlib codecs
        if path.lower().endswith(".xls"):
            from .xls import read_xls

            header, rows = read_xls(path)
        else:
            from .xlsx import read_xlsx

            header, rows = read_xlsx(path)
        pdf = pd.DataFrame(rows, columns=header)
    return spark.createDataFrame(pdf)
