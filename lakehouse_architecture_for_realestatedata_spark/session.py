"""SparkSession factory.

Mirrors the builder pattern of the reference's per-job session setup
(reference: scripts/load_bronze_to_table.py:90-96) minus the MinIO/metastore
plumbing, and replaces its pinned-parallelism configs
(reference: docker-compose.yml:136-137 pins shuffle.partitions=8) with an
AQE-first posture that survives a 1000-executor scale-up: adaptive execution
re-coalesces shuffle partitions at runtime, auto-broadcasts small sides, and
splits skewed partitions, so the same code runs on local[32] and on a real
cluster without retuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults target the test box (local mode, one JVM). On a real cluster these
# are overridden by spark-submit conf; nothing here hard-codes local-only
# behavior into the query plans themselves.
_DEFAULT_CONF: dict[str, str] = {
    # AQE: runtime re-planning is the scale story — coalesce tiny shuffle
    # partitions, convert to broadcast when a side turns out small, split skew.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamps for the DuckDB oracle comparison (DuckDB
    # timestamps are UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every pandas_udf / toPandas / createDataFrame(pandas) hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python Data Source pushdown: lets format("delta_lite") receive query
    # predicates and prune files by add-action stats (sources/delta_source).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Parquet field-id binding (SPARK-38094), set ONCE at session build so
    # delta_lite's columnMapping.mode=id paths don't have to mutate shared
    # session state mid-query (ADVICE r12). Both are scoped no-ops for
    # schemas that carry no parquet.field.id metadata — every ordinary
    # read/write is untouched. delta_lite still sets them defensively when
    # handed a FOREIGN session (the driver's), documented there.
    "spark.sql.parquet.fieldId.read.enabled": "true",
    "spark.sql.parquet.fieldId.write.enabled": "true",
    # Write timestamps as TIMESTAMP_MICROS instead of the legacy INT96
    # default (r14 opt, guide §6): INT96 chunks carry NO parquet statistics
    # — no row-group pruning for timestamp predicates, no footer-derived
    # zonemaps or Delta per-file stats (sources/skipping.py's
    # fold_footers) on ts columns. MICROS is what delta-spark and
    # every modern engine (DuckDB included) writes and reads; the stored
    # values are identical instants, only the physical encoding changes.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Quieter, faster local runs.
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # ANSI off — a PERFORMANCE posture, no longer a correctness dependence
    # (r14): the engine is ANSI-CLEAN end to end — every permissive parse
    # goes through try_cast/try_* (functions/parsing.py, r13), the full
    # 221-query registry MATCHes its DuckDB oracles under ANSI-ON at
    # sf0.001/0.01/0.1, full pytest is green ANSI-on, and queries no longer
    # pin ANSI at entry (pin_contract_confs is timezone-only), so a host
    # session keeps whatever ANSI mode it has. For sessions THIS factory
    # owns, non-ANSI skips checked-arithmetic codegen: measured 1.2-1.5x on
    # agg/join hot paths at sf0.1 (pricing_summary 0.81 vs 0.95 s,
    # star_join 0.28 vs 0.41 s, warm best-of-3) — at 100 TB that is real
    # cluster time with zero correctness content, since overflow semantics
    # on these paths are decimal-exact by construction (dsum/davg).
    "spark.sql.ansi.enabled": "false",
    # FileOutputCommitter v2: tasks commit straight to the destination
    # instead of the v1 double-rename through a job-temp dir. v1's
    # job-commit renames serialize on the driver at ~0.15 s PER TASK on
    # this filesystem — a 7-row local-relation write planned over 32
    # executor threads paid ~5 s of empty-task commits (measured r11; the
    # colmap fixture was the visible victim). Atomicity note: every
    # engine write path that needs job atomicity already has it ABOVE the
    # committer — delta_lite writes to a temp dir then claims the version
    # put-if-absent, ParquetTable gates reads on its manifest — so v2's
    # weaker failure story (partial files on task failure) is invisible
    # behind those commit protocols, the same reasoning cloud-native
    # committers use. v2's OTHER failure mode — an uncommitted zombie
    # attempt's files left under _temporary/ alongside the committed
    # copy — is handled where files are ingested:
    # skipping.is_committed_output path-filters both formats' footer
    # walks before any stats or add action is minted (committed attempts
    # share filenames, so renames collapse them; a part-number heuristic
    # would drop legitimate -c000/-c001 multi-file task outputs).
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
}


def get_spark(
    app_name: str = "lakehouse_architecture_for_realestatedata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count — the right size
    for local shuffles; on a cluster, AQE coalescing makes the exact number
    mostly irrelevant as long as it is not comically small.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master.startswith("local"):
        # Local mode: the driver JVM is the only memory pool.
        conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
