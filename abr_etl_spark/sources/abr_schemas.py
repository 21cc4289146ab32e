"""Typed schemas for the 8 ABR weekly-extract datasets.

``Agency_Data``'s 34 columns are exactly the reference's enumeration
(agency-delta.go:127-160, the ``agencyChangeSQL`` select list). The
reference never enumerates columns for the other 7 datasets -- it
uploads them opaquely (load.go:45-64) and leaves their schemas to the
downstream catalog -- so those follow the public ABR bulk-extract
conventions (pid + abn plus dataset-specific name/date/address fields),
kept deliberately minimal.

Raw drops are pipe-delimited text with a header row; every field
arrives as text. ``abr_schema`` returns the all-string *wire* schema
(what the file actually contains -- keeps PERMISSIVE/corrupt-record
policies byte-faithful, and preserves leading zeros in ABN/ACN/
postcode); ``ingest_abr`` lands the drop as text through
``routed_ingest.ingest_delimited``, checks its header against that
schema and then casts the ``*_dt`` date columns, giving a typed frame
for the delta operators. ``pipeline.run_weekly`` lands the text itself,
without the date cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from abr_etl_spark.sources.routed_ingest import ingest_delimited

# agency-delta.go:127-160 -- order preserved.
AGENCY_DATA_COLUMNS: tuple[str, ...] = (
    "pid",
    "abn",
    "ent_typ_cd",
    "org_nm",
    "nm_titl_cd",
    "prsn_gvn_nm",
    "prsn_othr_gvn_nm",
    "prsn_fmly_nm",
    "nm_sufx_cd",
    "abn_regn_dt",
    "abn_cancn_dt",
    "mn_trdg_nm",
    "son_addr_ln_1",
    "son_addr_ln_2",
    "son_sbrb",
    "son_stt",
    "son_pc",
    "son_cntry_cd",
    "son_dpid",
    "mn_bus_addr_ln_1",
    "mn_bus_addr_ln_2",
    "mn_bus_sbrb",
    "mn_bus_stt",
    "mn_bus_pc",
    "mn_bus_cntry_cd",
    "mn_bus_dpid",
    "ent_eml",
    "prty_id_blnk",
    "gst_regn_dt",
    "gst_cancn_dt",
    "mn_indy_clsn",
    "mn_indy_clsn_descn",
    "acn",
    "sprsn_ind",
)

DATASET_COLUMNS: dict[str, tuple[str, ...]] = {
    "Agency_Data": AGENCY_DATA_COLUMNS,
    "ACNC": ("pid", "abn", "acnc_regn_dt", "acnc_revcn_dt"),
    "Associates": (
        "pid",
        "abn",
        "assoc_typ_cd",
        "org_nm",
        "nm_titl_cd",
        "prsn_gvn_nm",
        "prsn_othr_gvn_nm",
        "prsn_fmly_nm",
        "nm_sufx_cd",
        "assoc_strt_dt",
        "assoc_end_dt",
    ),
    "Businesslocation": (
        "pid",
        "abn",
        "addr_ln_1",
        "addr_ln_2",
        "sbrb",
        "stt",
        "pc",
        "cntry_cd",
        "dpid",
    ),
    "Businessname": (
        "pid",
        "abn",
        "bus_nm",
        "bus_nm_typ_cd",
        "bus_nm_regn_dt",
        "bus_nm_cancn_dt",
    ),
    "Funds": ("pid", "abn", "fund_typ_cd", "fund_nm", "fund_regn_dt", "fund_cancn_dt"),
    "Othtrdnames": ("pid", "abn", "othr_trdg_nm", "othr_trdg_nm_strt_dt"),
    "Replacedabn": ("pid", "abn", "replcd_abn"),
}

# The reference compares every non-key Agency_Data column with `!=`
# (agency-delta.go:166-199) -- which silently misses NULL-valued changes;
# the engine's delta operators hash with NULL-safe semantics instead
# (operators/delta.row_hash), the intended behavior.
AGENCY_DELTA_KEY = "pid"


def abr_schema(dataset: str) -> StructType:
    """All-string wire schema for one dataset (header names, file order)."""
    return StructType(
        [StructField(c, StringType(), True) for c in DATASET_COLUMNS[dataset]]
    )


def date_columns(dataset: str) -> tuple[str, ...]:
    """The declared ``*_dt`` columns, typed as DATE after ingest."""
    return tuple(c for c in DATASET_COLUMNS[dataset] if c.endswith("_dt"))


def ingest_abr(
    spark: SparkSession,
    drop_dir: str,
    dataset: str,
    *,
    date_format: str = "yyyyMMdd",
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
    evolve: bool = True,
) -> DataFrame:
    """Typed ingest of one ABR dataset from a heterogeneous drop folder.

    ``ingest_delimited`` restricts the scan to the dataset's
    ``VIC<yymmdd>_ABR_<Dataset>.txt`` files (pathGlobFilter), lands every
    column as text and derives ``importdate`` from the filename; this
    wrapper then casts the ``*_dt`` columns to DATE.

    Schema-evolution contract (``evolve=True``, the default): the columns
    are the drop's actual header, read on the driver by ingest's header
    probe (``routed_ingest.probe_drop_header``) and checked against the
    declared wire schema. ADDITIVE evolution is accepted -- a header
    carrying every declared column plus new ones ingests in header
    order, new columns as nullable strings (``*_dt`` extras get the same
    date cast), so the week a feed adds a column flows through without
    redeploying the schema module; weeks before the column read it as
    NULL via the lake's mergeSchema reads. A header MISSING a declared
    column raises ValueError: CSV maps columns positionally, so ingesting
    a narrowed file against the declared schema would silently shift
    every later column one slot. ``evolve=False`` (or a non-local
    drop_dir, which the probe cannot read) pins the declared wire schema
    exactly.
    """
    import os

    if evolve and os.path.isdir(drop_dir):
        df = ingest_delimited(
            spark, drop_dir, dataset, mode=mode, corrupt_col=corrupt_col
        )
        missing = [c for c in DATASET_COLUMNS[dataset] if c not in df.columns]
        if missing:
            raise ValueError(
                f"ingest_abr: drop header for {dataset} is missing "
                f"declared column(s) {missing}; the evolution contract "
                "is additive-only -- a narrowed or renamed feed needs "
                "an explicit schema change, not silent positional drift"
            )
    else:
        df = ingest_delimited(
            spark,
            drop_dir,
            dataset,
            schema=abr_schema(dataset),
            mode=mode,
            corrupt_col=corrupt_col,
        )
    for c in df.columns:
        if c.endswith("_dt"):
            df = df.withColumn(c, F.to_date(F.col(c), date_format))
    return df
