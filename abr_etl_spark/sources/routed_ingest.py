"""Filename-routed delimited ingest.

Reference behavior (load.go:45-64): each raw file matches one of 8 dataset
regexes ``VIC(\\d{6})_ABR_<Dataset>.txt`` and the 6-digit yymmdd capture is
the snapshot date; files are routed per-dataset into
``importdate=<YYYY-MM-DD>`` partitions.

Spark-first: instead of looping over files on a driver box, we read the
whole drop folder as one distributed scan, attach
``input_file_name()``, and derive (dataset, importdate) as columns with
JVM regexp functions -- routing becomes a filter, executed where the data
is. At 100 TB of weekly drops this is a single scan + partitioned write, no
driver-side file iteration.

Drops land as text: with no declared schema, the dataset's header is
read from the first line of its files on the driver
(``probe_drop_header``) and every column is a string, so building the
ingest frame launches no Spark job (no type-inference pass over the
data) and the landed values are the drop's text, leading zeros
included.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# Dataset routing table (load.go:46-53). Keys are dataset names, values the
# filename regex; the first capture group is the yymmdd snapshot date.
FILE_ROUTES: dict[str, str] = {
    "ACNC": r"VIC([0-9]{6})_ABR_ACNC\.txt$",
    "Agency_Data": r"VIC([0-9]{6})_ABR_Agency_Data\.txt$",
    "Associates": r"VIC([0-9]{6})_ABR_Associates\.txt$",
    "Businesslocation": r"VIC([0-9]{6})_ABR_Businesslocation\.txt$",
    "Businessname": r"VIC([0-9]{6})_ABR_Businessname\.txt$",
    "Funds": r"VIC([0-9]{6})_ABR_Funds\.txt$",
    "Othtrdnames": r"VIC([0-9]{6})_ABR_Othtrdnames\.txt$",
    "Replacedabn": r"VIC([0-9]{6})_ABR_Replacedabn\.txt$",
}


def dataset_column(file_col: Column, routes: dict[str, str] | None = None) -> Column:
    """CASE-chain mapping a filename column to its dataset name (or NULL)."""
    routes = routes or FILE_ROUTES
    expr = F.lit(None).cast("string")
    for name, pattern in routes.items():
        expr = F.when(file_col.rlike(pattern), F.lit(name)).otherwise(expr)
    return expr


def importdate_column(file_col: Column, pattern: str = r"VIC([0-9]{6})_ABR_") -> Column:
    """Extract yymmdd from the filename and parse to DATE (load.go:64
    ``time.ParseInLocation("060102", ..., Australia/Melbourne)``).

    The reference parses in the Melbourne zone only to build a
    ``time.Time`` it immediately formats back to a DATE string for the
    partition key (DataKey, load.go:19-21); a date-only value has no
    zone component, so the plain ``yyMMdd -> DATE`` parse here yields
    the identical partition key for every input."""
    raw = F.regexp_extract(file_col, pattern, 1)
    return F.when(raw != "", F.to_date(raw, "yyMMdd")).otherwise(F.lit(None).cast("date"))


def route_files(filenames: DataFrame, file_col: str = "filename") -> DataFrame:
    """Pure routing: filenames DF -> (filename, dataset, importdate).

    Unroutable files get dataset NULL (reference silently skips them).
    """
    c = F.col(file_col)
    return filenames.select(
        c.alias("filename"),
        dataset_column(c).alias("dataset"),
        importdate_column(c).alias("importdate"),
    )


def probe_drop_header(drop_dir: str, dataset: str, sep: str = "|") -> list[str]:
    """Driver-side header probe for one dataset's files in a local drop.

    Reads the FIRST LINE of each ``VIC<yymmdd>_ABR_<Dataset>.txt`` file
    (metadata-scale: a weekly drop holds one file per dataset; on an
    object store the same probe is one small ranged GET per file) and
    returns their shared header. Raises FileNotFoundError when the drop
    holds no file of the dataset, and ValueError naming the file when
    one is zero bytes long (it has no header, so no columns) or when
    files of one drop disagree on the header -- a drop is one weekly
    schema by contract."""
    import os

    pat = re.compile(FILE_ROUTES[dataset])
    headers: dict[str, tuple[str, ...]] = {}
    for fn in sorted(os.listdir(drop_dir)):
        if not pat.search(fn):
            continue
        path = os.path.join(drop_dir, fn)
        if os.path.getsize(path) == 0:
            raise ValueError(
                f"{path}: zero-byte {dataset} file -- no header, so "
                "nothing to land; remove it or replace it with the "
                "complete file"
            )
        with open(path, encoding="utf-8", errors="replace") as fh:
            headers[fn] = tuple(fh.readline().rstrip("\r\n").split(sep))
    if not headers:
        raise FileNotFoundError(f"{drop_dir}: no {dataset} file in the drop")
    if len(set(headers.values())) > 1:
        raise ValueError(
            f"files in one drop disagree on the {dataset} header: "
            f"{ {f: list(h) for f, h in headers.items()} } -- a drop is "
            "one weekly schema; split mixed-schema drops"
        )
    return list(next(iter(headers.values())))


def ingest_delimited(
    spark: SparkSession,
    drop_dir: str,
    dataset: str,
    *,
    sep: str = "|",
    schema=None,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """Read every file of one dataset from a drop folder as a single
    distributed scan, with importdate derived from the filename.

    With no ``schema``, the drop's header is read on the driver
    (``probe_drop_header``, so ``drop_dir`` must be a local directory)
    and every column lands as a string: the file's text exactly, leading
    zeros of ABN, ACN, postcode and DPID included, as the reference
    lands its drops unchanged and compares text. Building the frame
    launches no Spark job. A drop with no file of the dataset raises
    FileNotFoundError; a zero-byte file raises ValueError naming it and
    lands nothing (it carries no header, so it cannot be told apart
    from a file cut off in transfer). Rows are parsed PERMISSIVE by
    default: a ragged line lands with its missing fields NULL and its
    extra fields dropped, a truncated last line as far as it goes.

    One scan handles any number of weekly snapshots in the folder; the
    result is ready for ``lake.write_partitioned`` (partition pruning on
    ``importdate`` thereafter).
    """
    pattern = FILE_ROUTES[dataset]
    # Restrict the SCAN (not just the result) to this dataset's files:
    # the drop folder is heterogeneous (8 datasets, different column
    # sets), so a folder-wide read would map one dataset's header onto
    # another's rows.
    glob = f"VIC{'[0-9]' * 6}_ABR_{dataset}.txt"
    if schema is None:
        schema = StructType(
            [
                StructField(c, StringType())
                for c in probe_drop_header(drop_dir, dataset, sep)
            ]
        )
    # mode: PERMISSIVE (null-fill bad fields; capture raw line in
    # corrupt_col when given), DROPMALFORMED, or FAILFAST -- weekly
    # drops DO contain broken lines and the pipeline must choose a
    # policy, not die row-by-row.
    reader = (
        spark.read.option("sep", sep)
        .option("header", True)
        .option("mode", mode)
        .option("pathGlobFilter", glob)
    )
    if corrupt_col is not None:
        schema = StructType(
            list(schema.fields) + [StructField(corrupt_col, StringType())]
        )
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    df = reader.schema(schema).csv(drop_dir)
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return df.withColumn("importdate", importdate_column(fname)).where(
        fname.rlike(pattern)
    )


def routes_as_df(spark: SparkSession, filenames: list[str]) -> DataFrame:
    """Helper: lift a python list of names into a DF for route_files."""
    return spark.createDataFrame([(f,) for f in filenames], "filename string")


def match_dataset(filename: str) -> tuple[str, str] | None:
    """Driver-side single-file router (mirrors the reference's per-file
    loop for tooling/tests): returns (dataset, yymmdd) or None."""
    for name, pattern in FILE_ROUTES.items():
        m = re.search(pattern, filename)
        if m:
            return name, m.group(1)
    return None
