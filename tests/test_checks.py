"""Verdict parity: seeded corruptions must produce the expected pass/fail +
violation rows — mirroring DataDirectoryValidation.errors_list semantics
(/root/reference/data_profiler/helpers/data_directory.py:304-362)."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_profiler_spark import fixtures
from data_profiler_spark.checks import (
    coerce_with_defaults,
    key_violations,
    verdicts,
    with_partition_id,
)
from data_profiler_spark.checks.constraints import row_level_violations, verdict_rows

N = 200
SEED = 42


def _counts(violations_df):
    return {
        r["check_name"]: r["n"]
        for r in violations_df.groupBy("check_name").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _not_null(column: str, name: str, detail: str) -> tuple:
    """Row-level spec: null or empty (after trim) value in ``column``."""
    c = F.col(column)
    return (name, c.isNull() | (F.trim(c.cast("string")) == ""), F.lit(detail))


def _pk_not_null() -> tuple:
    return _not_null("clip_id", "pk_not_null", "null or empty primary key")


def _pk_unique() -> tuple:
    """key_violations spec: a key counted more than once on the ``clips`` side."""
    n = F.col("clips")
    return ("pk_unique", n > 1, F.concat(F.lit("duplicate key, count="), n))


def _fk_in_pk() -> tuple:
    """key_violations spec: a key on the ``child`` side and not the ``parent``."""
    return (
        "fk_in_pk",
        (F.col("child") > 0) & (F.col("parent") == 0),
        F.lit("foreign key not present in parent"),
    )


def test_pk_not_null_and_empty(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"clip_id": ["a", None, "", "  ", "b"]})
    )
    v = row_level_violations(with_partition_id(df, 4), [_pk_not_null()]).collect()
    assert len(v) == 3  # null, empty, whitespace-only


def test_unique_detects_duplicates(spark):
    df = spark.createDataFrame(pd.DataFrame({"clip_id": ["a", "b", "a", "c", "a", "b"]}))
    v = key_violations({"clips": df}, "clip_id", [_pk_unique()], n_partitions=4).collect()
    got = {r["clip_id"]: r["detail"] for r in v}
    assert set(got) == {"a", "b"}
    assert "count=3" in got["a"] and "count=2" in got["b"]


def test_referential_orphans(spark):
    child = spark.createDataFrame(pd.DataFrame({"clip_id": ["a", "b", "x", "y", "b"]}))
    parent = spark.createDataFrame(pd.DataFrame({"clip_id": ["a", "b", "c"]}))
    v = key_violations({"child": child, "parent": parent}, "clip_id", [_fk_in_pk()], n_partitions=4).collect()
    assert sorted(r["clip_id"] for r in v) == ["x", "y"]


def test_key_violations_two_sides_plan_has_no_join(spark):
    """Two sides → union + ONE groupBy(key): no join (so no hash-join build
    side) and exactly one exchange."""
    child = spark.createDataFrame([("a",), ("x",)], "clip_id string")
    parent = spark.createDataFrame([("a",), ("b",)], "clip_id string")
    df = key_violations({"child": child, "parent": parent}, "clip_id", [_fk_in_pk()], n_partitions=4)
    p = df._jdf.queryExecution().executedPlan()
    plan = p.initialPlan() if p.nodeName() == "AdaptiveSparkPlan" else p
    names = []

    def walk(node):
        names.append(node.nodeName())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(plan)
    assert not [n for n in names if "Join" in n], names
    assert sum("Exchange" in n for n in names) == 1, names
    assert "Join" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_verdict_rows_pass_rows_and_dropped_counts():
    """Every check gets a row per partition of the totals — an explicit PASS
    row where no violation was counted — and counts for a partition missing
    from the totals are dropped, as a grid-left-join-counts plan drops them."""
    got = verdict_rows(
        ["c1", "c2"],
        {0: 10, 1: 5},
        {("c1", 0): 3, ("c2", 7): 4},
    )
    assert got == [
        {"check_name": "c1", "partition_id": 0, "passed": False,
         "violation_count": 3, "rows_checked": 10, "detail": None},
        {"check_name": "c1", "partition_id": 1, "passed": True,
         "violation_count": 0, "rows_checked": 5, "detail": None},
        {"check_name": "c2", "partition_id": 0, "passed": True,
         "violation_count": 0, "rows_checked": 10, "detail": None},
        {"check_name": "c2", "partition_id": 1, "passed": True,
         "violation_count": 0, "rows_checked": 5, "detail": None},
    ]


def test_seeded_corruptions_expected_verdicts(spark):
    """The end-to-end verdict table for a known corruption spec."""
    corr = fixtures.Corruptions(
        null_clip_id_every=50, duplicate_clip_id_every=33, null_transcript_every=40
    )
    clips = with_partition_id(fixtures.generate_clips(spark, N, seed=SEED, corruptions=corr), 8)
    # expected counts from the corruption spec (i>0, i%k==0; precedence:
    # null > empty > duplicate in make_clip_row)
    exp_null = len([i for i in range(1, N) if i % 50 == 0])
    exp_dup_rows = len([i for i in range(1, N) if i % 33 == 0 and i % 50 != 0])
    exp_null_tr = len([i for i in range(1, N) if i % 40 == 0])

    vio = row_level_violations(
        clips,
        [_pk_not_null(), _not_null("transcript", "transcript_not_null", "null or empty transcript")],
    ).unionByName(key_violations({"clips": clips}, "clip_id", [_pk_unique()], n_partitions=8))
    got = _counts(vio)
    assert got["pk_not_null"] == exp_null
    assert got["pk_unique"] == exp_dup_rows  # each dup key duplicated once
    assert got["transcript_not_null"] == exp_null_tr

    totals = clips.groupBy("partition_id").agg(F.count(F.lit(1)).alias("rows_checked"))
    verd = verdicts(vio, totals, ["pk_not_null", "pk_unique", "transcript_not_null"])
    agg = {
        r["check_name"]: (r["passed"], r["violations"])
        for r in verd.groupBy("check_name")
        .agg(F.min("passed").alias("passed"), F.sum("violation_count").alias("violations"))
        .collect()
    }
    assert agg["pk_not_null"] == (False, exp_null)
    assert agg["pk_unique"] == (False, exp_dup_rows)
    # every check × partition combination has an explicit verdict row
    assert verd.count() == 3 * totals.count()
    # rows_checked totals the partition size
    assert verd.groupBy("check_name").agg(F.sum("rows_checked").alias("s")).collect()[0]["s"] == N


def test_clean_table_all_pass(spark):
    clips = with_partition_id(fixtures.generate_clips(spark, 100, seed=SEED), 4)
    vio = row_level_violations(clips, [_pk_not_null()]).unionByName(
        key_violations({"clips": clips}, "clip_id", [_pk_unique()], n_partitions=4)
    )
    totals = clips.groupBy("partition_id").agg(F.count(F.lit(1)).alias("rows_checked"))
    verd = verdicts(vio, totals, ["pk_not_null", "pk_unique"])
    assert verd.filter(~F.col("passed")).count() == 0
    assert verd.count() == 2 * 4


def test_read_csv_validated_matches_reference_upload_flow(spark, tmp_path):
    """The reference's CSV upload ingest end to end (data_directory.py:
    176-392 → data_file_functions.py:42-103): dtype=str read → header
    required/unexpected check → errors='coerce' coercion → default fill
    with per-column counts. The file carries a malformed number, a bad
    date, an UNEXPECTED extra column (reported + dropped) and a MISSING
    required column (reported + created all-default)."""
    from data_profiler_spark.sources.csvio import read_csv_validated

    p = tmp_path / "upload.csv"
    p.write_text(
        "SKU,Quantity,Surprise\n"
        "a,1.5,x\n"
        ",oops,y\n"
        "c,,z\n"
    )
    out, counts, errors = read_csv_validated(
        spark,
        str(p),
        {"SKU": "object", "Quantity": "float64", "Period": "date"},
    )
    assert sorted(errors) == ["missing column: Period", "unexpected column: Surprise"]
    assert out.columns == ["SKU", "Quantity", "Period"]  # Surprise dropped
    c = {r["column"]: r["value"] for r in counts.collect()}
    assert c == {"SKU": 1, "Quantity": 2, "Period": 3}
    vals = {r["SKU"]: (r["Quantity"], str(r["Period"])) for r in out.collect()}
    assert vals["a"] == (1.5, "1900-01-01")
    assert vals["c"] == (0.0, "1900-01-01")
    assert vals[""] == (0.0, "1900-01-01")  # null SKU → '' default


def test_read_reference_file_inventory_contract(spark, tmp_path):
    """The six-file upload contract end to end for Inventory.csv: the
    reference's dtype map (data_file_constants.py transcription in
    schemas.REF_FILE_DTYPES) drives coercion — Period parses as a date,
    Quantity as float64, malformed cells fill with type defaults and are
    counted, a clean header yields no errors."""
    from data_profiler_spark.sources.csvio import read_reference_file

    p = tmp_path / "Inventory.csv"
    p.write_text(
        "SKU,UnitOfMeasure,Location,Lot,LPN,Subwarehouse,Period,Quantity\n"
        "a,EA,L1,lot1,lpn1,w1,2024-01-02,5\n"
        "b,EA,L2,lot2,lpn2,w1,not-a-date,oops\n"
    )
    out, counts, errors = read_reference_file(spark, str(p), "Inventory")
    assert errors == []
    vals = {r["SKU"]: (str(r["Period"]), r["Quantity"]) for r in out.collect()}
    assert vals["a"] == ("2024-01-02", 5.0)
    assert vals["b"] == ("1900-01-01", 0.0)  # coerce-failed → type defaults
    c = {r["column"]: r["value"] for r in counts.collect()}
    assert c["Period"] == 1 and c["Quantity"] == 1 and c["SKU"] == 0
    with pytest.raises(ValueError, match="unknown reference file type"):
        read_reference_file(spark, str(p), "NotAFile")


def test_read_upload_validated_xlsx_same_flow(spark, tmp_path):
    """The upload entry point dispatches xlsx through the zero-dep OOXML
    reader into the SAME validate-and-coerce tail as CSV: an Inventory
    workbook with one malformed date round-trips through write_xlsx →
    read_reference_file with identical coercion/fill semantics."""
    from data_profiler_spark.sinks.excel import write_xlsx
    from data_profiler_spark.sources.csvio import read_reference_file

    df = spark.createDataFrame(
        [
            ("a", "EA", "L1", "lot1", "lpn1", "w1", "2024-01-02", "5"),
            ("b", "EA", "L2", "lot2", "lpn2", "w1", "nope", "7.5"),
        ],
        "SKU string, UnitOfMeasure string, Location string, Lot string, "
        "LPN string, Subwarehouse string, Period string, Quantity string",
    )
    p = str(tmp_path / "Inventory.xlsx")
    write_xlsx([("Inventory", df)], p)
    out, counts, errors = read_reference_file(spark, p, "Inventory")
    assert errors == []
    vals = {r["SKU"]: (str(r["Period"]), r["Quantity"]) for r in out.collect()}
    assert vals["a"] == ("2024-01-02", 5.0)
    assert vals["b"] == ("1900-01-01", 7.5)
    c = {r["column"]: r["value"] for r in counts.collect()}
    assert c["Period"] == 1 and c["Quantity"] == 0


def test_split_inbound_matches_pandas_groupby_first(spark, tmp_path):
    """The Regular-directory split (data_directory.py:420-441): a combined
    Inbound.csv with repeated PO rows splits into header (first non-null
    per column in file order, one row per PO) + details (projection). The
    pandas oracle is computed directly on the same coerced frame."""
    from data_profiler_spark.sources.csvio import read_reference_file, split_inbound

    p = tmp_path / "Inbound.csv"
    p.write_text(
        "PO_Number,SKU,UnitOfMeasure,Quantity,ArrivalDate,ArrivalTime,"
        "ExpectedDate,ExpectedTime,Carrier,Mode,ShipmentNumber,UnloadType,"
        "VendorID,SourcePoint\n"
        "P1,s1,EA,1,2024-01-02,08:00:00,2024-01-01,07:00:00,,Road,SH1,Live,V1,SP1\n"
        "P1,s2,EA,2,2024-01-02,08:00:00,2024-01-01,07:00:00,ACME,Road,SH1,Live,V1,SP1\n"
        "P2,s1,EA,3,2024-02-02,09:00:00,2024-02-01,06:00:00,BEST,Rail,SH2,Drop,V2,SP2\n"
    )
    combined, _, errors = read_reference_file(spark, str(p), "Inbound")
    assert errors == []
    header, details = split_inbound(combined)
    hd = {r["PO_Number"]: r.asDict() for r in header.collect()}
    assert sorted(hd) == ["P1", "P2"]
    # the coercion pass fills the empty Carrier with '' (the reference
    # fills BEFORE splitting too), so 'first' sees the filled value
    assert hd["P1"]["Carrier"] == "" and hd["P2"]["Carrier"] == "BEST"
    assert str(hd["P1"]["ArrivalDate"]) == "2024-01-02"
    assert hd["P1"]["ShipmentNumber"] == "SH1"
    det = details.collect()
    assert len(det) == 3
    assert sorted(details.columns) == sorted(
        ["PO_Number", "SKU", "UnitOfMeasure", "Quantity", "VendorID", "SourcePoint"]
    )
    # pandas oracle on the same coerced frame
    pdf = combined.toPandas()
    want = pdf.groupby("PO_Number").aggregate({"Carrier": "first"}).reset_index()
    got = {r["PO_Number"]: r["Carrier"] for r in header.collect()}
    for _, row in want.iterrows():
        assert got[row["PO_Number"]] == row["Carrier"]


def test_split_header_details_first_nonnull_in_order(spark):
    """Pre-fill semantics of the split itself: with genuine nulls in a
    header column, 'first' takes the first NON-NULL in sequence order —
    pandas GroupBy.aggregate('first') behavior, pinned directly."""
    from data_profiler_spark.sources.csvio import split_header_details

    df = spark.createDataFrame(
        [("P1", None, "d1"), ("P1", "late", "d2"), ("P2", None, "d3")],
        "k string, h string, d string",
    )
    header, details = split_header_details(df, "k", ["h"], ["d"])
    got = {r["k"]: r["h"] for r in header.collect()}
    assert got == {"P1": "late", "P2": None}
    assert details.count() == 3


def _write_headers_dir(tmp_path, *, break_things: bool):
    im = "SKU,SKUDescription,SKUClass,ProductLine,UnitOfMeasure," + ",".join(
        f"{u}{d}" for u in ("Each", "Inner", "Carton", "Pallet")
        for d in ("Length", "Width", "Height", "Weight")
    ) + ",InnerQuantity,CartonQuantity,CartonsPerPallet,PalletTie,PalletHigh,MaxPalletStack,Subwarehouse\n"
    dims = ",".join(["1"] * 16)
    im += f"s1,d,c,p,EA,{dims},1,1,1,1,1,1,w1\n"
    im += f"{'' if break_things else 's2'},d,c,p,EA,{dims},1,1,1,1,1,1,w1\n"
    (tmp_path / "ItemMaster.csv").write_text(im)
    (tmp_path / "InboundHeader.csv").write_text(
        "PO_Number,ArrivalDate,ArrivalTime,ExpectedDate,ExpectedTime,Carrier,Mode,ShipmentNumber,UnloadType\n"
        "P1,2024-01-02,08:00:00,2024-01-01,07:00:00,A,Road,SH1,Live\n"
    )
    ibd_sku = "zzz" if break_things else "s1"
    (tmp_path / "InboundDetails.csv").write_text(
        "PO_Number,SKU,UnitOfMeasure,Quantity,VendorID,SourcePoint\n"
        f"P1,{ibd_sku},EA,5,V1,SP1\n"
    )
    (tmp_path / "OrderHeader.csv").write_text(
        "OrderNumber,ReceivedDate,PickDate,ShipDate,Channel\n"
        "O1,2024-01-02,2024-01-03,2024-01-04,Web\n"
    )
    obd_order = "O9" if break_things else "O1"
    (tmp_path / "OrderDetails.csv").write_text(
        "OrderNumber,SKU,UnitOfMeasure,PickType,Quantity,BusinessUnit,ShipContainerType,SpecialHandlingCodes,Carrier\n"
        f"{obd_order},s1,EA,Each,2,BU,Box,,A\n"
    )
    if not break_things:
        (tmp_path / "Inventory.csv").write_text(
            "Period,SKU,Quantity,UnitOfMeasure,Location,Lot,LPN,Subwarehouse\n"
            "2024-01-01,s1,3,EA,L1,lot,lpn,w1\n"
        )


def test_validate_upload_directory_headers_clean(spark, tmp_path):
    from data_profiler_spark.sources.csvio import validate_upload_directory

    _write_headers_dir(tmp_path, break_things=False)
    frames, violations = validate_upload_directory(spark, str(tmp_path), "headers")
    assert sorted(frames) == [
        "InboundDetails", "InboundHeader", "Inventory",
        "ItemMaster", "OrderDetails", "OrderHeader",
    ]
    assert violations.count() == 0  # the reference's valid_data=True path


def test_validate_upload_directory_headers_seeded_violations(spark, tmp_path):
    """Every reference check fires on a seeded bad directory: missing
    Inventory file, empty ItemMaster SKU (falsy-PK, distinct), an
    InboundDetails SKU not in Item Master, and an OrderDetails order
    number not in OrderHeader (data_directory.py:290-360 semantics)."""
    from data_profiler_spark.sources.csvio import validate_upload_directory

    _write_headers_dir(tmp_path, break_things=True)
    frames, violations = validate_upload_directory(spark, str(tmp_path), "headers")
    got = {(r["check_name"], r["clip_id"]) for r in violations.collect()}
    assert ("file_present", "Inventory") in got
    assert ("im_sku_not_empty", "") in got
    assert ("inbound_sku_in_item_master", "zzz") in got
    assert ("order_details_order_in_header", "O9") in got
    assert len(got) == 4  # nothing else fires


def test_validate_upload_directory_seeded_job_and_stage_budget(spark, count_jobs, tmp_path):
    """The seeded-bad directory's violations collect, reads and pinned
    frames included, runs at most 19 jobs and 23 stages (8 cores, 8 shuffle
    partitions): its five FK ⊆ PK checks are three key_violations groupBys.
    Five anti-joins ran 28-29 jobs and 34-35 stages."""
    from data_profiler_spark.functions.windows import release_cumsum_caches
    from data_profiler_spark.sources.csvio import validate_upload_directory

    _write_headers_dir(tmp_path, break_things=True)
    try:
        rows, jobs, stages = count_jobs(
            lambda: validate_upload_directory(spark, str(tmp_path), "headers")[1].collect()
        )
    finally:
        release_cumsum_caches()
    assert len(rows) == 4
    assert jobs <= 19, jobs
    assert stages <= 23, stages


def test_whitespace_key_passes_falsy_check_like_reference(spark):
    """Reference validate_primary_keys is `if not key`: a whitespace-only
    key is truthy and passes; only null/'' are flagged."""
    from data_profiler_spark.sources.csvio import _empty_key_violations

    df = spark.createDataFrame(
        [(" ",), ("",), (None,), ("ok",)], "SKU string"
    )
    got = {r["clip_id"] for r in _empty_key_violations(df, "SKU", "x").collect()}
    assert got == {"", None}


def test_validate_upload_directory_accepts_xlsm(spark, tmp_path):
    """Directory probe accepts every extension the ingest dispatches on —
    an Inventory.xlsm must not be reported missing."""
    from data_profiler_spark.sinks.excel import write_xlsx
    from data_profiler_spark.sources.csvio import validate_upload_directory

    _write_headers_dir(tmp_path, break_things=False)
    (tmp_path / "Inventory.csv").unlink()
    df = spark.createDataFrame(
        [("2024-01-01", "s1", "3", "EA", "L1", "lot", "lpn", "w1")],
        "Period string, SKU string, Quantity string, UnitOfMeasure string, "
        "Location string, Lot string, LPN string, Subwarehouse string",
    )
    write_xlsx([("Inventory", df)], str(tmp_path / "Inventory.xlsm"))
    frames, violations = validate_upload_directory(spark, str(tmp_path), "headers")
    assert "Inventory" in frames
    assert violations.count() == 0


def test_validate_upload_directory_regular_splits_and_checks(spark, tmp_path):
    """REGULAR layout: combined Inbound/Outbound are read, split into the
    same six-table shape, and SKU referential checks run against the
    combined frames (the reference's non-HEADERS branch)."""
    from data_profiler_spark.sources.csvio import validate_upload_directory

    _write_headers_dir(tmp_path, break_things=False)
    for f in ("InboundHeader", "InboundDetails", "OrderHeader", "OrderDetails"):
        (tmp_path / f"{f}.csv").unlink()
    (tmp_path / "Inbound.csv").write_text(
        "PO_Number,SKU,UnitOfMeasure,Quantity,ArrivalDate,ArrivalTime,"
        "ExpectedDate,ExpectedTime,Carrier,Mode,ShipmentNumber,UnloadType,VendorID,SourcePoint\n"
        "P1,s1,EA,1,2024-01-02,08:00:00,2024-01-01,07:00:00,A,Road,SH1,Live,V1,SP1\n"
        "P1,nope,EA,2,2024-01-02,08:00:00,2024-01-01,07:00:00,A,Road,SH1,Live,V1,SP1\n"
    )
    (tmp_path / "Outbound.csv").write_text(
        "OrderNumber,SKU,UnitOfMeasure,PickType,Quantity,ReceivedDate,PickDate,"
        "ShipDate,Channel,BusinessUnit,ShipContainerType,SpecialHandlingCodes,Carrier\n"
        "O1,s1,EA,Each,2,2024-01-02,2024-01-03,2024-01-04,Web,BU,Box,,A\n"
    )
    frames, violations = validate_upload_directory(spark, str(tmp_path), "regular")
    assert {"InboundHeader", "InboundDetails", "OrderHeader", "OrderDetails"} <= set(frames)
    assert frames["InboundHeader"].count() == 1  # P1 collapsed by the split
    got = {(r["check_name"], r["clip_id"]) for r in violations.collect()}
    assert got == {("inbound_sku_in_item_master", "nope")}


def test_validate_directory_job_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """The spark-submit entrypoint around validate_upload_directory: JSON
    summary with per-check counts, violations parquet, coerced tables with
    --write-tables, and the reference's fail-fast as exit code 1."""
    import sys as _sys

    from jobs import validate_directory

    _write_headers_dir(tmp_path, break_things=True)
    out = str(tmp_path / "out")
    monkeypatch.setattr(
        _sys,
        "argv",
        ["validate_directory.py", "--path", str(tmp_path), "--type", "headers",
         "--output", out, "--write-tables"],
    )
    assert validate_directory.main() == 1  # fail-fast shell contract
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["passed"] is False and report["violations"] == 4
    assert set(report["per_check"]) == {
        "file_present", "im_sku_not_empty",
        "inbound_sku_in_item_master", "order_details_order_in_header",
    }
    v = spark.read.parquet(f"{out}/directory_violations")
    assert v.count() == 4
    im = spark.read.parquet(f"{out}/tables/ItemMaster")
    assert im.count() == 2


def test_coercion_defaults_match_reference(spark):
    """Type coercion + default fill (data_file_functions.py:90-103):
    uncastable → coerce → count → fill with type default."""
    pdf = pd.DataFrame(
        {
            "SKU": ["a", None, "c"],
            "Quantity": ["1.5", "oops", None],
            "Period": ["2024-01-02", "bad", "2024-03-04"],
        }
    )
    df = spark.createDataFrame(pdf)
    out, counts = coerce_with_defaults(
        df, {"SKU": "object", "Quantity": "float64", "Period": "date"}
    )
    c = {r["column"]: r["value"] for r in counts.collect()}
    assert c == {"SKU": 1, "Quantity": 2, "Period": 1}
    rows = out.orderBy("SKU").collect()
    got = {(r["SKU"], r["Quantity"], str(r["Period"])) for r in rows}
    assert ("", 0.0, "1900-01-01") in got  # null SKU → '' ; 'oops' qty → 0.0...
    vals = {r["SKU"]: (r["Quantity"], str(r["Period"])) for r in rows}
    assert vals["a"] == (1.5, "2024-01-02")
    assert vals["c"] == (0.0, "2024-03-04")
