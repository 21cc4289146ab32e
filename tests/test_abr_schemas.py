"""Text ingest (``routed_ingest.ingest_delimited``) of the 8 real ABR
datasets + delta on real-schema Agency_Data (reference parity:
load.go:45-64 routing, agency-delta.go:127-160 columns)."""

from __future__ import annotations

import datetime
import os

import pytest

from pyspark.sql import functions as F

from abr_etl_spark import pipeline
from abr_etl_spark.operators import delta
from abr_etl_spark.sources import abr_schemas as ab
from abr_etl_spark.sources.routed_ingest import ingest_delimited


def _agency_row(pid: int, *, org: str = "ACME PTY LTD", email="a@x.au") -> str:
    vals = {c: "" for c in ab.AGENCY_DATA_COLUMNS}
    vals.update(
        pid=str(pid),
        abn=f"{51824753556 + pid:011d}",
        ent_typ_cd="PRV",
        org_nm=org,
        abn_regn_dt="20000301",
        mn_trdg_nm=f"TRADER {pid}",
        son_sbrb="MELBOURNE",
        son_stt="VIC",
        son_pc="3000",
        son_cntry_cd="AU",
        mn_bus_sbrb="CARLTON",
        mn_bus_stt="VIC",
        mn_bus_pc="3053",
        mn_bus_cntry_cd="AU",
        ent_eml=email,
        gst_regn_dt="20000701",
        mn_indy_clsn="4511",
        mn_indy_clsn_descn="Car retailing",
        acn=f"{4085616 + pid:09d}",
        sprsn_ind="N",
    )
    return "|".join(vals[c] for c in ab.AGENCY_DATA_COLUMNS)


def _write_drop(tmp_path, date6: str, dataset: str, rows: list[str]) -> None:
    header = "|".join(ab.DATASET_COLUMNS[dataset])
    (tmp_path / f"VIC{date6}_ABR_{dataset}.txt").write_text(
        "\n".join([header, *rows]) + "\n"
    )


def _fill(dataset: str, pid: int) -> str:
    vals = {c: f"v{pid}" for c in ab.DATASET_COLUMNS[dataset]}
    vals["pid"] = str(pid)
    vals["abn"] = f"{51824753556 + pid:011d}"
    for c in ab.DATASET_COLUMNS[dataset]:
        if c.endswith("_dt"):
            vals[c] = "20240115"
    return "|".join(vals[c] for c in ab.DATASET_COLUMNS[dataset])


@pytest.mark.slow
def test_ingest_all_eight_datasets_by_name(spark, tmp_path):
    """One heterogeneous drop folder; every dataset ingests with ITS OWN
    columns (schema never leaks from another dataset's file), all text:
    the ``*_dt`` columns keep the drop's yyyymmdd string."""
    for ds in ab.DATASET_COLUMNS:
        _write_drop(tmp_path, "240102", ds, [_fill(ds, 1), _fill(ds, 2)])
    for ds, cols in ab.DATASET_COLUMNS.items():
        df = ingest_delimited(spark, str(tmp_path), ds)
        assert df.columns == [*cols, "importdate"], ds
        rows = df.orderBy("pid").collect()
        assert len(rows) == 2, ds
        assert rows[0].importdate == datetime.date(2024, 1, 2), ds
        for c in cols:
            if c.endswith("_dt"):
                assert rows[0][c] == "20240115", (ds, c)


def test_agency_data_round_trip_values(spark, tmp_path):
    _write_drop(tmp_path, "240102", "Agency_Data", [_agency_row(7)])
    row = ingest_delimited(spark, str(tmp_path), "Agency_Data").collect()[0]
    assert row.pid == "7"
    assert row.abn == "51824753563"
    assert row.acn == "004085623"  # leading zero preserved (string, not int)
    assert row.abn_regn_dt == "20000301"  # landed as text, not a DATE
    assert row.son_pc == "3000"
    assert row.sprsn_ind == "N"


def test_schema_does_not_leak_from_alphabetically_first_file(spark, tmp_path):
    """Regression for the folder-wide-inference bug: ACNC sorts first, but
    a Businessname ingest must still see Businessname columns."""
    _write_drop(tmp_path, "240102", "ACNC", [_fill("ACNC", 1)])
    _write_drop(tmp_path, "240102", "Businessname", [_fill("Businessname", 1)])
    df = ingest_delimited(spark, str(tmp_path), "Businessname")
    assert "bus_nm" in df.columns and "acnc_regn_dt" not in df.columns
    assert df.count() == 1


def test_agency_delta_on_real_schema(spark, tmp_path):
    """Two weekly Agency_Data snapshots -> added/updated/removed, incl. a
    NULL-involved change the reference's `!=` comparisons would miss."""
    old_rows = [_agency_row(1), _agency_row(2), _agency_row(3), _agency_row(4)]
    new_rows = [
        _agency_row(1),  # unchanged
        _agency_row(2, org="NEW NAME PTY LTD"),  # updated (value change)
        _agency_row(4, email=""),  # updated (value -> NULL)
        _agency_row(5),  # added; pid 3 removed
    ]
    _write_drop(tmp_path, "240102", "Agency_Data", old_rows)
    _write_drop(tmp_path, "240109", "Agency_Data", new_rows)
    lake = ingest_delimited(spark, str(tmp_path), "Agency_Data")
    old = lake.where(F.col("importdate") == "2024-01-02").drop("importdate")
    new = lake.where(F.col("importdate") == "2024-01-09").drop("importdate")
    classes = {
        r.pid: r.change
        for r in delta.delta_classify(new, old, ab.AGENCY_DELTA_KEY).collect()
    }
    assert classes == {
        "1": "unchanged",
        "2": "updated",
        "4": "updated",  # NULL-safe hash catches the value->NULL change
        "5": "added",
        "3": "removed",
    }


def test_ingest_abr_additive_evolution(spark, tmp_path):
    """Schema-evolution contract, ingest side: a drop whose header
    carries every declared column PLUS new ones ingests in header order
    with the extras as text; the declared columns are untouched."""
    header = "|".join([*ab.DATASET_COLUMNS["Funds"], "risk_cd", "rev_dt"])
    rows = [
        "1|51824753557|TYP|FUND ONE|20240115|20240116|HI|20240201",
        "2|51824753558|TYP|FUND TWO|20240115||LO|",
    ]
    (tmp_path / "VIC240102_ABR_Funds.txt").write_text(
        "\n".join([header, *rows]) + "\n"
    )
    df = ingest_delimited(spark, str(tmp_path), "Funds")
    assert df.columns == [
        *ab.DATASET_COLUMNS["Funds"],
        "risk_cd",
        "rev_dt",
        "importdate",
    ]
    got = {r.pid: r for r in df.collect()}
    assert got["1"].risk_cd == "HI"
    assert got["1"].rev_dt == "20240201"
    assert got["2"].risk_cd == "LO" and got["2"].rev_dt is None
    assert got["1"].fund_nm == "FUND ONE"  # declared columns untouched


def test_ingest_abr_rejects_narrowed_header(spark, tmp_path):
    """A week whose header is MISSING a column the lake holds is refused
    by the weekly run before it lands: the narrower week would read back
    with the column NULL in every row (pipeline._require_lake_columns)."""
    week1, week2 = tmp_path / "w1", tmp_path / "w2"
    week1.mkdir()
    week2.mkdir()
    _write_drop(week1, "240102", "Funds", [_fill("Funds", 1)])
    narrowed = [c for c in ab.DATASET_COLUMNS["Funds"] if c != "fund_typ_cd"]
    (week2 / "VIC240109_ABR_Funds.txt").write_text(
        "|".join(narrowed) + "\n1|51824753557|FUND ONE|20240115|\n"
    )
    lake_root = str(tmp_path / "lake")

    def week(drop):
        return pipeline.WeeklyConfig(
            drop_dir=str(drop), lake_root=lake_root, datasets=("Funds",)
        )

    pipeline.run_weekly(spark, week(week1))
    with pytest.raises(ValueError, match=r"\['fund_typ_cd'\]"):
        pipeline.run_weekly(spark, week(week2))
    landed = os.listdir(os.path.join(lake_root, "DATA", "Funds"))
    assert [d for d in landed if d.startswith("importdate=")] == [
        "importdate=2024-01-02"
    ]


def test_ingest_abr_rejects_mixed_headers_in_one_drop(spark, tmp_path):
    """Two files of one dataset in one drop with different headers is an
    operational error (one drop = one weekly schema), not evolution:
    the header probe refuses it before the frame is built."""
    _write_drop(tmp_path, "240102", "Funds", [_fill("Funds", 1)])
    header2 = "|".join([*ab.DATASET_COLUMNS["Funds"], "risk_cd"])
    (tmp_path / "VIC240109_ABR_Funds.txt").write_text(
        header2 + "\n2|51824753558|TYP|F|20240115||HI\n"
    )
    with pytest.raises(ValueError, match="disagree"):
        ingest_delimited(spark, str(tmp_path), "Funds")

