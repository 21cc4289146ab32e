"""Column lists and wire schemas for the 8 ABR weekly-extract datasets.

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
postcode). A drop itself lands through ``routed_ingest.ingest_delimited``,
which takes its columns from the drop's header, as text.
"""

from __future__ import annotations

from pyspark.sql.types import StringType, StructField, StructType

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

