"""CSV ingest matching the reference's upload flow, end to end.

The reference's file pipeline (data_directory.py:176-392 →
data_file_functions.py:42-103 in /root/reference) is: read the CSV with
``dtype=str`` (data_profiler.py:495), validate the header against the file
type's required/unexpected column lists, then coerce each column to its
declared dtype with ``errors='coerce'`` and fill the resulting nulls with
type defaults, logging fill counts. The engine had every stage as a
standalone operator — ``spark.read.csv``, ``checks.check_schema`` (S4),
``checks.coercion.coerce_with_defaults`` — but not the glue that lets a
reference user point the engine at the same CSV upload and get the same
three artifacts. This module is that glue.

Scale notes: ``spark.read.csv`` is a distributed scan (splittable for
uncompressed files); everything downstream is the same Catalyst-only
coercion pass the parquet path uses, so a 100 TB CSV drop behaves like any
other table — the one inherently driver-side step is the metadata-only
header comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_profiler_spark.checks.coercion import coerce_with_defaults
from data_profiler_spark.checks.constraints import check_schema


def _validate_and_coerce(
    raw: DataFrame, dtype_map: dict[str, str]
) -> tuple[DataFrame, DataFrame, list[str]]:
    """The shared tail of the upload flow, on an all-string frame:

    - ``header_errors`` is the S4 header check against ``dtype_map``'s
      column set (missing / unexpected columns, metadata-only, no job);
      extra columns are reported AND dropped from the coerced frame,
      missing ones are reported and created as all-default (the
      reference's required-column contract: downstream code may rely on
      the column existing);
    - the coerced frame + per-column default-fill counts come from
      ``coerce_with_defaults`` (try_cast semantics == pandas
      ``errors='coerce'``; fills per data_file_constants.py:163-169).
    """
    expected = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in dtype_map]
    )
    _, header_errors = check_schema(raw, expected)
    for c in dtype_map:
        if c not in raw.columns:
            raw = raw.withColumn(c, F.lit(None).cast("string"))
    raw = raw.select(*dtype_map)  # drop unexpected columns, fix order
    coerced, fill_counts = coerce_with_defaults(raw, dtype_map)
    return coerced, fill_counts, header_errors


def read_csv_validated(
    spark: SparkSession,
    path: str,
    dtype_map: dict[str, str],
    header: bool = True,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Read a CSV the way the reference ingests an upload: an all-string
    distributed read (the reference's ``dtype=str`` probe — type opinions
    belong to the coercion step, not the parser) into the shared
    validate-and-coerce tail. Returns (coerced_df, fill_counts_df,
    header_errors)."""
    raw = spark.read.option("header", str(header).lower()).csv(path)
    return _validate_and_coerce(raw, dtype_map)


def read_upload_validated(
    spark: SparkSession,
    path: str,
    dtype_map: dict[str, str],
    sheet: str | None = None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """The reference's upload entry point accepts BOTH csv and xlsx
    (data_directory.py file dispatch); so does this: extension-dispatched
    into the same all-string read → header check → coerce+fill tail. The
    xlsx path rides the engine's zero-dep OOXML reader
    (sinks/excel.read_xlsx, schema=None = dtype-str semantics); driver-side
    by nature (one uploaded workbook), the CSV path is a distributed scan.
    """
    if path.lower().endswith((".xlsx", ".xlsm")):
        from data_profiler_spark.sinks.excel import read_xlsx

        return _validate_and_coerce(read_xlsx(spark, path, sheet=sheet), dtype_map)
    return read_csv_validated(spark, path, dtype_map)


def split_header_details(
    df: DataFrame, key: str, header_cols: list[str], detail_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Split a combined fact upload into (header, details) tables — the
    Regular-directory flow (ref data_directory.py:420-441: pandas
    ``groupby(key).aggregate('first')`` per header column + a detail
    projection).

    Semantics match pandas exactly, made deterministic for a distributed
    engine: 'first' in pandas means first NON-NULL in file order, so each
    header column aggregates ``min_by(col, seq-where-non-null)`` over a
    ``monotonically_increasing_id`` captured at entry (file order for a
    single-file scan; for pre-shuffled input pass an explicit order column
    as an extra sort beforehand). One shuffle on the key, map-side
    combinable — never a window (a 10^9-line PO would funnel one task).
    """
    seq = df.withColumn("__seq", F.monotonically_increasing_id())
    header = seq.groupBy(key).agg(
        *[
            F.min_by(
                F.col(c), F.when(F.col(c).isNotNull(), F.col("__seq"))
            ).alias(c)
            for c in header_cols
        ]
    )
    return header, df.select(key, *detail_cols)


def split_inbound(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Combined Inbound upload → (InboundHeader, InboundDetails) with the
    reference's exact column split (data_file_constants.py
    INBOUND_HEADER_COLS/INBOUND_DETAILS_COLS)."""
    from data_profiler_spark.schemas import REF_FILE_DTYPES

    h = [c for c in REF_FILE_DTYPES["InboundHeader"] if c != "PO_Number"]
    d = [c for c in REF_FILE_DTYPES["InboundDetails"] if c != "PO_Number"]
    return split_header_details(df, "PO_Number", h, d)


def split_outbound(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Combined Outbound upload → (OrderHeader, OrderDetails) with the
    reference's exact column split (ORDER_HEADER_COLS/ORDER_DETAILS_COLS)."""
    from data_profiler_spark.schemas import REF_FILE_DTYPES

    h = [c for c in REF_FILE_DTYPES["OrderHeader"] if c != "OrderNumber"]
    d = [c for c in REF_FILE_DTYPES["OrderDetails"] if c != "OrderNumber"]
    return split_header_details(df, "OrderNumber", h, d)


REFERENCE_DIRECTORY_FILES: dict[str, list[str]] = {
    # the reference's two data-directory layouts (data_directory.py):
    # HEADERS dirs carry pre-split header/details files; REGULAR dirs carry
    # combined Inbound/Outbound that the ingest splits (split_inbound/
    # split_outbound)
    "headers": [
        "ItemMaster", "InboundHeader", "InboundDetails",
        "OrderHeader", "OrderDetails", "Inventory",
    ],
    "regular": ["ItemMaster", "Inbound", "Outbound", "Inventory"],
}


def _empty_key_violations(df: DataFrame, key: str, name: str) -> DataFrame:
    """Reference validate_primary_keys (functions.py:57-64): FALSY keys —
    null or '' (exactly ``if not key``; a whitespace-only key like ' ' is
    truthy there and passes, so it passes here too) — one violation per
    DISTINCT bad value (the reference builds its key lists with
    .unique())."""
    bad = (
        df.select(key)
        .filter(F.col(key).isNull() | (F.col(key) == ""))
        .distinct()
    )
    return bad.select(
        F.lit(name).alias("check_name"),
        F.col(key).cast("string").alias("clip_id"),
        F.lit(None).cast("int").alias("partition_id"),
        F.lit("null or empty primary key").alias("detail"),
    )


def validate_upload_directory(
    spark: SparkSession, path: str, directory_type: str = "headers"
) -> tuple[dict[str, DataFrame], DataFrame]:
    """The reference's whole data-directory validation, lazily declared:
    ``DataDirectory.read_and_validate_file_contents``
    (data_directory.py:176-392) as one pass over the engine's operators.

    Returns (frames, violations):

    - ``frames``: each expected file (csv or xlsx accepted) read through
      ``read_reference_file`` — dtype=str read, header check, coerce+fill;
      REGULAR directories additionally get InboundHeader/InboundDetails/
      OrderHeader/OrderDetails synthesized via the group-by-first split,
      so downstream consumers see the same six-table shape either way.
    - ``violations``: ONE frame (check_name, clip_id, partition_id,
      detail) carrying every finding — missing files (`file_present`),
      header errors (`header_conformance`), the reference's falsy-PK
      checks (distinct values, per validate_primary_keys), and its five
      FK ⊆ PK checks (one row per distinct orphan key, per
      check_mismatching_primary_key_values) as three
      ``checks.key_violations`` calls — SKU over ItemMaster and its three
      children, PO_Number, OrderNumber — each one groupBy over the tagged
      sides, no join. The receipt/order checks run only for HEADERS dirs —
      REGULAR dirs build headers from the same rows, so those hold by
      construction. The reference fail-fasts on any finding; the
      analogous driver decision here is
      ``violations.limit(1).count() == 0`` — a tiny aggregate over a
      lazily-declared plan instead of an eager per-file pipeline.

    The reference does NOT check PK uniqueness here (duplicate SKUs reach
    its transform step); callers wanting that add a
    ``checks.key_violations({"ItemMaster": frames["ItemMaster"]}, "SKU",
    [("sku_unique", F.col("ItemMaster") > 1, ...)])`` branch to the union.
    """
    import os

    from data_profiler_spark.checks.constraints import key_violations
    from data_profiler_spark.functions.frames import local_frame
    from data_profiler_spark.functions.windows import pin_cache

    if directory_type not in REFERENCE_DIRECTORY_FILES:
        raise ValueError(
            f"unknown directory type {directory_type!r}; "
            f"expected one of {sorted(REFERENCE_DIRECTORY_FILES)}"
        )
    frames: dict[str, DataFrame] = {}
    meta_rows: list[tuple] = []
    for ft in REFERENCE_DIRECTORY_FILES[directory_type]:
        fp = next(
            (
                os.path.join(path, ft + ext)
                # every extension read_upload_validated dispatches on
                for ext in (".csv", ".xlsx", ".xlsm")
                if os.path.exists(os.path.join(path, ft + ext))
            ),
            None,
        )
        if fp is None:
            meta_rows.append(("file_present", ft, None, "expected file missing"))
            continue
        df, _, errors = read_reference_file(spark, fp, ft)
        # pin: the reference caches the six frames on the object
        # (data_directory.py:383-388) and every frame here feeds several
        # check branches (PK + up to three referential sides) — unpinned,
        # each branch would re-read and re-coerce the file. Registered on
        # the shared cache ledger (functions.windows.release_cumsum_caches
        # releases them).
        frames[ft] = pin_cache(df)
        meta_rows.extend(("header_conformance", ft, None, e) for e in errors)

    if directory_type == "regular":
        if "Inbound" in frames:
            frames["InboundHeader"], frames["InboundDetails"] = split_inbound(
                frames["Inbound"]
            )
        if "Outbound" in frames:
            frames["OrderHeader"], frames["OrderDetails"] = split_outbound(
                frames["Outbound"]
            )

    branches: list[DataFrame] = [
        local_frame(
            spark,
            meta_rows,
            "check_name string, clip_id string, partition_id int, detail string",
        )
    ]
    inbound, outbound = (
        ("InboundDetails", "OrderDetails") if directory_type == "headers"
        else ("Inbound", "Outbound")
    )
    # (parent, key, falsy-PK check, [(child, FK ⊆ PK check, detail)])
    key_checks = [
        ("ItemMaster", "SKU", "im_sku_not_empty", [
            (inbound, "inbound_sku_in_item_master", f"{inbound} SKU not in Item Master"),
            ("Inventory", "inventory_sku_in_item_master", "Inventory SKU not in Item Master"),
            (outbound, "outbound_sku_in_item_master", f"{outbound} SKU not in Item Master"),
        ]),
    ]
    if directory_type == "headers":
        key_checks += [
            ("InboundHeader", "PO_Number", "ibh_po_not_empty", [
                ("InboundDetails", "inbound_details_po_in_header",
                 "InboundDetails PO_Number not in InboundHeader"),
            ]),
            ("OrderHeader", "OrderNumber", "obh_order_not_empty", [
                ("OrderDetails", "order_details_order_in_header",
                 "OrderDetails OrderNumber not in OrderHeader"),
            ]),
        ]
    for parent, key, pk_check, children in key_checks:
        if parent not in frames:
            continue
        branches.append(_empty_key_violations(frames[parent], key, pk_check))
        present = [c for c in children if c[0] in frames]
        if present:  # FK ⊆ PK: one groupBy over the parent and its children
            sides = {t: frames[t] for t in [parent] + [c for c, _, _ in present]}
            specs = [(check, (F.col(c) > 0) & (F.col(parent) == 0), F.lit(detail))
                     for c, check, detail in present]
            branches.append(key_violations(sides, key, specs))
    violations = branches[0]
    for b in branches[1:]:
        violations = violations.unionByName(b)
    return frames, violations


def read_reference_file(
    spark: SparkSession, path: str, file_type: str
) -> tuple[DataFrame, DataFrame, list[str]]:
    """``read_upload_validated`` with the reference's OWN file-type
    contract: ``file_type`` is one of the six upload kinds (ItemMaster,
    InboundHeader, InboundDetails, Inventory, OrderHeader, OrderDetails —
    the dtype maps in ``schemas.REF_FILE_DTYPES``, transcribed from the
    reference's data_file_constants.py). This is the call a reference user
    makes to ingest the same csv/xlsx files they upload today."""
    from data_profiler_spark.schemas import REF_FILE_DTYPES

    if file_type not in REF_FILE_DTYPES:
        raise ValueError(
            f"unknown reference file type {file_type!r}; "
            f"expected one of {sorted(REF_FILE_DTYPES)}"
        )
    return read_upload_validated(spark, path, REF_FILE_DTYPES[file_type])
