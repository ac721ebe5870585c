"""Medallion pipeline parity: bronze → silver → gold, as pure DataFrame
functions plus an incremental orchestrator over ``ParquetTable`` — the
medallion's own table store; every other engine table is a Delta table
(``sources/delta_lite.py``).

Each model function reproduces the semantics of one reference model
line-for-line (citations per function), but stays a reusable library
function: input DataFrames in, output DataFrame out, no I/O. The
orchestrator owns storage, watermarks, and MERGE — the concerns dbt +
Delta owned in the reference.

Scale posture: every model is a declarative DataFrame chain (Catalyst prunes
and pushes down); dims join broadcast; the only wide ops are the dedup
window (hash shuffle on the key) and grouped aggregates (partial+final).
Gold tables are partitioned by ``date_key`` so BI-range queries prune.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_architecture_for_realestatedata_spark.functions.parsing import (
    norm_text,
    parse_int,
    parse_numeric,
    parse_price_vnd,
    quality_flag,
    region_bucket,
    stable_id,
)
from lakehouse_architecture_for_realestatedata_spark.operators.dedup import dedup_latest
from lakehouse_architecture_for_realestatedata_spark.operators.joins import join_with_default
from lakehouse_architecture_for_realestatedata_spark.sources.tables import ParquetTable

UNKNOWN_LEGAL = "Không xác định"  # reference: dbt/models/marts/dim_legal_status.sql:21


# ---------------------------------------------------------------------------
# Bronze: column normalization
# ---------------------------------------------------------------------------

# Vietnamese→English rename map (reference: scripts/normalize_bronze_columns.py:11-50,
# the entries the silver model actually consumes).
DEFAULT_RENAME_MAP = {
    "list_id": "list_id",
    "title": "title",
    "price": "price",
    "images": "images",
    "address": "address",
    "Địa chỉ": "address",
    "Diện tích": "area_raw",
    "Diện tích sử dụng": "usable_area_raw",
    "Diện tích đất": "land_area_raw",
    "Chiều ngang": "frontage_raw",
    "Chiều dài": "length_raw",
    "Tổng số tầng": "total_floors_raw",
    "Tầng số": "floor_number_raw",
    "Số phòng ngủ": "bedrooms_raw",
    "Số phòng vệ sinh": "bathrooms_raw",
    "Giấy tờ pháp lý": "legal_status_raw",
    "Hướng cửa chính": "house_direction_raw",
    "Hướng ban công": "balcony_direction_raw",
    "Hướng đất": "land_direction_raw",
    "Phường, thị xã, thị trấn": "ward_raw",
    "Quận, Huyện": "district_raw",
    "Tỉnh, thành phố": "province_raw",
    "Giá_m²": "price_per_m2_raw",
    "file_modification_time": "file_modification_time",
}


def sanitize_column_name(name: str) -> str:
    """Auto-sanitizer for unmapped names: spaces→_, strip ',./', lowercase
    (reference: scripts/normalize_bronze_columns.py:110)."""
    return (
        name.replace(" ", "_").replace(",", "").replace(".", "").replace("/", "_").lower()
    )


def normalize_columns(
    df: DataFrame,
    mapping: dict[str, str] | None = None,
    skip: list[str] | None = None,
    dedup_key: str = "list_id",
    order_col: str = "file_modification_time",
) -> DataFrame:
    """P1/P2/W1: bulk-rename projection with skip-list, auto-sanitizer and
    first-wins duplicate resolution, then keep-latest dedup per key
    (reference: scripts/normalize_bronze_columns.py:85-130)."""
    mapping = DEFAULT_RENAME_MAP if mapping is None else mapping
    skip = [] if skip is None else skip

    final: dict[str, str] = {}
    used: set[str] = set()
    for old in df.columns:
        if old in skip:
            continue
        new = mapping.get(old, sanitize_column_name(old))
        if new in used:  # first occurrence wins
            continue
        final[old] = new
        used.add(new)
    out = df.select([F.col(f"`{o}`").alias(n) for o, n in final.items()])
    if dedup_key in out.columns and order_col in out.columns:
        # The reference orders by mtime only (normalize_bronze_columns.py:127)
        # — nondeterministic when one key carries two rows with equal mtime.
        # Add a content-hash tiebreak so keep-latest is a pure function of the
        # input rows (partition- and retry-invariant); on mtime ties the row
        # with the smallest xxhash64 of its full contents wins.
        tiebreak = F.xxhash64(*[F.col(c) for c in out.columns])
        out = dedup_latest(out, dedup_key, [F.col(order_col).desc(), tiebreak.asc()])
    return out


# The Kaggle-CSV → bronze column contract (reference: scripts/normalize_csv.py:20-28).
CSV_SIMPLE_MAPPING = {
    "Frontage": "Chiều ngang",
    "Floors": "Tổng số tầng",
    "Bedrooms": "Số phòng ngủ",
    "Bathrooms": "Số phòng vệ sinh",
    "Legal status": "Giấy tờ pháp lý",
    "House direction": "Hướng cửa chính",
    "Price": "price",
}


def csv_backfill(df: DataFrame, mtime: Column | None = None) -> DataFrame:
    """The CSV backfill model (reference: scripts/normalize_csv.py:45-109):
    one projection turning a raw housing CSV into bronze-shaped rows that
    the normalize→silver spine consumes like any crawl batch.

      - ``list_id``: md5 over Address+Price+Area (F13 — CSV rows lack a
        natural key, so the id is a pure content hash: re-importing the same
        file yields the same ids, which keeps downstream MERGE idempotent);
      - ``Địa chỉ``/``title`` both carry Address (normalize_csv.py:67-68);
      - ``file_modification_time``: synthetic mtime — the reference stamps
        ``current_timestamp()`` (normalize_csv.py:69); pass a literal for
        deterministic tests/oracles;
      - ``source_origin = 'csv_import'`` provenance tag (F19);
      - mapped attribute columns cast to string, absent ones typed-null
        (normalize_csv.py:73-78) — bronze is stringly-typed by design;
      - province/district/ward split from the comma-separated Address by
        negative indexing (F14, normalize_csv.py:81-83);
      - ``Diện tích``/``Diện tích đất`` mirror Area; ``Diện tích sử dụng``
        and ``images`` are typed nulls so the batch unions cleanly with
        crawled bronze (normalize_csv.py:86-94).

    Narrow projection only — no shuffle; appending the result to a bronze
    ``ParquetTable`` costs O(batch), not O(table).
    """
    from lakehouse_architecture_for_realestatedata_spark.functions.parsing import md5_id, split_address

    mtime = mtime if mtime is not None else F.current_timestamp()
    addr = split_address(F.col("Address"))
    exprs: list[Column] = [
        md5_id("Address", "Price", "Area").alias("list_id"),
        F.col("Address").alias("Địa chỉ"),
        F.col("Address").alias("title"),
        mtime.alias("file_modification_time"),
        F.lit("csv_import").alias("source_origin"),
    ]
    for csv_col, bronze_col in CSV_SIMPLE_MAPPING.items():
        src = (
            F.col(f"`{csv_col}`").cast("string")
            if csv_col in df.columns
            else F.lit(None).cast("string")
        )
        exprs.append(src.alias(bronze_col))
    exprs += [
        addr["province"].alias("Tỉnh, thành phố"),
        addr["district"].alias("Quận, Huyện"),
        addr["ward"].alias("Phường, thị xã, thị trấn"),
    ]
    area = (
        F.col("Area").cast("string") if "Area" in df.columns else F.lit(None).cast("string")
    )
    exprs += [
        area.alias("Diện tích"),
        area.alias("Diện tích đất"),
        F.lit(None).cast("string").alias("Diện tích sử dụng"),
        F.lit(None).cast("array<string>").alias("images"),
    ]
    return df.select(*exprs)


# ---------------------------------------------------------------------------
# Silver
# ---------------------------------------------------------------------------


def silver_properties(
    bronze: DataFrame,
    created_at: Column | None = None,
    high_water_mark: Column | None = None,
) -> DataFrame:
    """The stg_properties model (reference: dbt/models/staging/stg_properties.sql:9-107):
    optional high-water-mark filter (P7) → keep-latest per list_id (W1) →
    typed parse projection (F1-F20) → quality flag (F7).

    ``created_at`` defaults to ``current_timestamp()`` like the reference;
    inject a literal for deterministic tests/oracles.
    """
    src = bronze
    if high_water_mark is not None:
        src = src.filter(F.col("file_modification_time") > high_water_mark)
    # Content-hash tiebreak after mtime: the reference's ordering (and a
    # tiebreak on the partition key itself) leaves same-mtime duplicates
    # nondeterministic; hashing the full row makes the winner a pure function
    # of the data. The oracle fixture is tie-free, so this only changes
    # behavior on inputs the reference itself handles unpredictably.
    deduped = dedup_latest(
        src,
        "list_id",
        [
            F.col("file_modification_time").desc(),
            F.xxhash64(*[F.col(c) for c in src.columns]).asc(),
        ],
    )
    created = created_at if created_at is not None else F.current_timestamp()

    def opt(name: str) -> Column:
        return F.col(name) if name in deduped.columns else F.lit(None).cast("string")

    return deduped.select(
        F.col("list_id").alias("property_id"),
        F.col("title"),
        (
            F.col("images")
            if "images" in deduped.columns
            else F.lit(None).cast("array<string>")
        ).alias("images"),
        F.col("file_modification_time").alias("updated_at_ts"),
        created.alias("created_at"),
        # area: first-non-null across the three variants (stg:44-48)
        F.coalesce(
            parse_numeric(opt("area_raw")),
            parse_numeric(opt("usable_area_raw")),
            parse_numeric(opt("land_area_raw")),
        ).alias("area"),
        parse_numeric(opt("frontage_raw")).alias("frontage"),
        parse_int(opt("total_floors_raw")).alias("floors"),
        parse_int(opt("bedrooms_raw")).alias("bedrooms"),
        parse_int(opt("bathrooms_raw")).alias("bathrooms"),
        parse_price_vnd(F.col("price")).alias("price_in_billions"),
        norm_text(opt("address")).alias("address"),
        norm_text(opt("ward_raw")).alias("ward"),
        norm_text(opt("district_raw")).alias("district"),
        norm_text(opt("province_raw")).alias("province"),
        F.initcap(F.trim(opt("legal_status_raw"))).alias("legal_status"),
        F.initcap(F.trim(opt("house_direction_raw"))).alias("house_direction"),
        quality_flag(F.col("price"), opt("address")).alias("data_quality_flag"),
    )


# ---------------------------------------------------------------------------
# Gold dimensions
# ---------------------------------------------------------------------------


def dim_locations(stg: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    """reference: dbt/models/marts/dim_locations.sql — VALID filter,
    Unknown-coalesce, group-distinct by the 4 location columns, stable hash
    id, region bucketing. ``existing`` triggers the incremental anti-join
    (P8 rewritten as left_anti — the NOT IN form null-traps at scale).

    Deviation from the reference, deliberate: its Miền Nam IN-list has a
    missing comma ('Tp Hồ Chí Minh' 'Bình Dương' string-concatenates,
    dropping both provinces — dim_locations.sql:55); we use the corrected
    list in functions.parsing.region_bucket."""
    loc = (
        stg.filter(F.col("data_quality_flag") == "VALID")
        .select(
            F.coalesce(F.col("address"), F.lit("Unknown")).alias("address"),
            F.coalesce(F.col("ward"), F.lit("Unknown")).alias("ward"),
            F.coalesce(F.col("district"), F.lit("Unknown")).alias("district"),
            F.coalesce(F.col("province"), F.lit("Unknown")).alias("province"),
        )
    )
    if existing is not None:
        loc = loc.join(
            existing.select(F.col("full_address").alias("address")), "address", "left_anti"
        )
    uniq = loc.distinct()
    return uniq.select(
        stable_id("address").alias("location_id"),
        F.col("address").alias("full_address"),
        "ward",
        "district",
        "province",
        F.when(F.col("province") == "Unknown", F.lit("Unknown"))
        .otherwise(region_bucket("province"))
        .alias("region"),
    )


def dim_legal_status(stg: DataFrame) -> DataFrame:
    """reference: dbt/models/marts/dim_legal_status.sql — distinct statuses of
    VALID rows ∪ the default row (U1), stable hash id, category/description
    CASE over Vietnamese LIKE patterns (F9)."""
    statuses = (
        stg.filter(F.col("data_quality_flag") == "VALID")
        .select(F.coalesce(F.col("legal_status"), F.lit(UNKNOWN_LEGAL)).alias("legal_status"))
        # the default row is built in the JVM: a createDataFrame row would
        # run Python-worker tasks in every job that reads this frame
        .union(stg.sparkSession.range(1).select(F.lit(UNKNOWN_LEGAL).alias("legal_status")))
        .distinct()
    )
    low = F.lower(F.col("legal_status"))
    has_book = low.like("%sổ đỏ%") | low.like("%sổ hồng%")
    own_book = low.like("%sổ riêng%")
    waiting = low.like("%đang chờ%") | low.like("%chưa có%")
    return statuses.select(
        stable_id("legal_status").alias("legal_status_id"),
        "legal_status",
        F.when(has_book, "Có sổ đỏ/hồng")
        .when(own_book, "Có sổ riêng")
        .when(waiting, "Chưa có sổ")
        .when(F.col("legal_status").isNull(), "Không rõ")
        .otherwise("Khác")
        .alias("legal_status_category"),
        F.when(has_book, "Có giấy tờ pháp lý đầy đủ, sổ đỏ/hồng")
        .when(own_book, "Có sổ riêng, pháp lý rõ ràng")
        .when(waiting, "Đang chờ cấp sổ hoặc chưa có sổ")
        .otherwise("Tình trạng pháp lý khác")
        .alias("description"),
    )


def dim_properties(stg: DataFrame) -> DataFrame:
    """reference: dbt/models/marts/dim_properties.sql — VALID + non-null
    PK/title, keep-latest per property (W2: updated_at_ts desc, created_at
    desc), SCD-2-shaped columns (valid_from/valid_to/is_current)."""
    filtered = stg.filter(
        (F.col("data_quality_flag") == "VALID")
        & F.col("property_id").isNotNull()
        & F.col("title").isNotNull()
    )
    latest = dedup_latest(
        filtered,
        "property_id",
        [F.col("updated_at_ts").desc(), F.col("created_at").desc(), F.col("property_id")],
    )
    return latest.select(
        "property_id",
        "title",
        "area",
        "frontage",
        "floors",
        "bedrooms",
        "bathrooms",
        "legal_status",
        "house_direction",
        "created_at",
        "updated_at_ts",
        F.col("updated_at_ts").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Gold facts
# ---------------------------------------------------------------------------


def fct_properties(
    stg: DataFrame, locations: DataFrame, legal_statuses: DataFrame
) -> DataFrame:
    """reference: dbt/models/marts/fct_properties.sql — validity+range
    predicate block (P5), keep-latest (W2), broadcast star joins to the two
    dims (J1 + null-defaulting J2), derived price_per_m2 measure."""
    filtered = stg.filter(
        (F.col("data_quality_flag") == "VALID")
        & F.col("property_id").isNotNull()
        & F.col("title").isNotNull()
        & F.col("address").isNotNull()
        & F.col("price_in_billions").isNotNull()
        & (F.col("price_in_billions") > 0)
        & (F.col("price_in_billions") < 1000)  # outlier removal
        & (F.col("area").isNull() | ((F.col("area") > 0) & (F.col("area") < 10000)))
    )
    latest = dedup_latest(
        filtered,
        "property_id",
        [F.col("updated_at_ts").desc(), F.col("created_at").desc(), F.col("property_id")],
    )
    joined = latest.join(
        F.broadcast(locations), latest["address"] == locations["full_address"], "inner"
    )
    # Rename the dim's natural key so the NULL-defaulting join key (J2) is
    # unambiguous against the fact's own legal_status column.
    dim_legal = legal_statuses.select(
        F.col("legal_status_id"), F.col("legal_status").alias("__dim_legal_status")
    )
    joined = join_with_default(
        joined,
        dim_legal,
        F.col("legal_status"),
        F.col("__dim_legal_status"),
        UNKNOWN_LEGAL,
    )
    return joined.select(
        "property_id",
        "location_id",
        "legal_status_id",
        F.date_trunc("day", F.col("updated_at_ts")).cast("date").alias("date_key"),
        "price_in_billions",
        "area",
        F.round((F.col("price_in_billions") * 1000) / F.col("area"), 3).alias(
            "price_per_m2_millions"
        ),
        "floors",
        "bedrooms",
        "bathrooms",
        "house_direction",
        "title",
        "images",
        "updated_at_ts",
        "created_at",
    )


def fct_daily_summary(fct: DataFrame) -> DataFrame:
    """reference: dbt/models/marts/fct_daily_summary.sql:9-39 — per date_key:
    distinct listings, sum/avg/min/max price, avg price/m², avg area, avg
    rooms (NULL-skipping, A2), non-null counts (A3), ordered desc (O1)."""
    return (
        fct.groupBy("date_key")
        .agg(
            F.count_distinct("property_id").alias("total_listings"),
            F.round(F.sum("price_in_billions"), 2).alias("total_value_billions"),
            F.round(F.avg("price_in_billions"), 2).alias("avg_price_billions"),
            F.round(F.min("price_in_billions"), 2).alias("min_price_billions"),
            F.round(F.max("price_in_billions"), 2).alias("max_price_billions"),
            F.round(F.avg("price_per_m2_millions"), 2).alias("avg_price_per_m2"),
            F.round(F.avg("area"), 1).alias("avg_area_m2"),
            F.round(F.avg(F.col("bedrooms").cast("double")), 1).alias("avg_bedrooms"),
            F.round(F.avg(F.col("bathrooms").cast("double")), 1).alias("avg_bathrooms"),
            F.count("bedrooms").alias("listings_with_bedrooms"),
            F.count("bathrooms").alias("listings_with_bathrooms"),
            F.count("area").alias("listings_with_area"),
        )
        .orderBy(F.col("date_key").desc())
    )


def fct_data_quality_report(stg: DataFrame) -> DataFrame:
    """reference: dbt/models/marts/fct_data_quality_report.sql — per
    (day, quality flag): count + share-of-day percentage (A4 + W3)."""
    from lakehouse_architecture_for_realestatedata_spark.operators.aggregates import quality_report

    return quality_report(stg, "updated_at_ts", "data_quality_flag").withColumnsRenamed(
        {"flag": "data_quality_flag"}
    )


# ---------------------------------------------------------------------------
# Orchestrator
# ---------------------------------------------------------------------------


class MedallionPipeline:
    """Incremental bronze→silver→gold over ParquetTables — the engine-native
    replacement for the reference's Airflow-DAG + dbt-incremental plumbing
    (reference: airflow/dags/end_to_end_pipeline.py:285 task chain).

    Table layout mirrors the reference's databases (SURVEY §1.1): one root
    with bronze/, silver/, gold/ namespaces. Facts are partitioned by
    date_key for pruning (the reference leaves this on the table, SURVEY §4).

    Pass a ``Catalog`` to register every layer by name — after ``run()`` any
    SQL client resolves ``silver.stg_properties`` / ``gold.fct_properties``
    etc., the same contract the reference meets by registering Delta tables
    in its Hive metastore (scripts/load_bronze_to_table.py:99-171) and
    serving them over Thrift.
    """

    # (db, attribute, table name, partition columns)
    _TABLES = [
        ("bronze", "bronze", "properties", None),
        ("silver", "silver", "stg_properties", None),
        ("gold", "gold_dim_locations", "dim_locations", None),
        ("gold", "gold_dim_legal", "dim_legal_status", None),
        ("gold", "gold_dim_properties", "dim_properties", None),
        ("gold", "gold_fct_properties", "fct_properties", ["date_key"]),
        ("gold", "gold_fct_daily", "fct_daily_summary", None),
        ("gold", "gold_fct_quality", "fct_data_quality_report", None),
    ]

    def __init__(self, spark, root: str, catalog=None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.catalog = catalog
        for db, attr, name, part in self._TABLES:
            path = f"{self.root}/{db}/{name}"
            if catalog is not None:
                t = catalog.create_table(db, name, path=path, partition_by=part)
            else:
                t = ParquetTable(spark, path, partition_by=part)
            setattr(self, attr, t)

    def refresh_catalog(self) -> None:
        """Re-bind every registered view to its table's current snapshot
        (REFRESH TABLE over the whole pipeline)."""
        if self.catalog is None:
            return
        for db, _attr, name, _part in self._TABLES:
            self.catalog.refresh(db, name)

    def ingest_bronze(self, raw: DataFrame) -> None:
        """S7 semantics: append with schema merge."""
        self.bronze.append(raw)

    def run(self, created_at: Column | None = None, full_refresh: bool = False) -> None:
        """One incremental cycle (the reference's daily run).

        silver: high-water-mark filter + MERGE on property_id (S10/P7);
        dims: MERGE on their natural keys; facts: MERGE on property_id;
        summary + quality report: full rebuild (S11 — reference rebuilds
        fct_daily_summary every run)."""
        bronze = self.bronze.read()
        hwm = (
            None
            if (full_refresh or not self.silver.exists())
            else self.silver.high_water_mark("updated_at_ts")
        )
        stg_new = silver_properties(bronze, created_at=created_at, high_water_mark=hwm)
        self.silver.merge(stg_new, key="property_id")
        stg = self.silver.read()

        existing_loc = (
            self.gold_dim_locations.read()
            if (self.gold_dim_locations.exists() and not full_refresh)
            else None
        )
        self.gold_dim_locations.merge(dim_locations(stg, existing_loc), key="full_address")
        self.gold_dim_legal.merge(dim_legal_status(stg), key="legal_status")
        self.gold_dim_properties.merge(dim_properties(stg), key="property_id")

        fct = fct_properties(
            stg, self.gold_dim_locations.read(), self.gold_dim_legal.read()
        )
        self.gold_fct_properties.merge(fct, key="property_id")
        self.gold_fct_daily.overwrite(fct_daily_summary(self.gold_fct_properties.read()))
        self.gold_fct_quality.overwrite(fct_data_quality_report(stg))
        self.refresh_catalog()
