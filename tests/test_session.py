"""session.local_frame: driver-side list frames built in the JVM."""

from pyspark.sql import functions as F

from distributed_extraction_framework_spark.plans.pipeline import (
    LINEAGE_SCHEMA,
    METRICS_SCHEMA,
    Pipeline,
    PipelineConfig,
    run_pipeline,
)
from distributed_extraction_framework_spark.session import local_frame

# the column lists the lineage and metrics tables were once written with,
# through createDataFrame(rows, names) and its schema inference
OLD_LINEAGE_COLS = ["run_id", "stage", "partition", "n_rows", "wall_ms",
                    "input_fingerprint", "status", "ts"]
OLD_METRICS_COLS = ["run_id", "metric", "value", "ts"]


def _lineage_row(run_id="r1", partition="*", wall_ms=12):
    return (run_id, "quads", partition, 7, wall_ms, "fp", "complete", 1234)


def test_local_frame_schema_matches_inferred_list_form(spark):
    old = spark.createDataFrame([_lineage_row()], OLD_LINEAGE_COLS)
    new = local_frame(spark, [_lineage_row()], LINEAGE_SCHEMA)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    old_m = spark.createDataFrame([("r1", "pages_in", 3, 9)], OLD_METRICS_COLS)
    assert local_frame(spark, [], METRICS_SCHEMA).schema == old_m.schema


def test_local_frame_keeps_nulls_and_accepts_no_rows(spark):
    rows = [_lineage_row(partition=None, wall_ms=None), _lineage_row("r2")]
    got = local_frame(spark, rows, LINEAGE_SCHEMA).collect()
    assert [tuple(r) for r in got] == rows
    empty = local_frame(spark, [], "uri string, n bigint")
    assert empty.collect() == []
    assert empty.columns == ["uri", "n"]
    # a StructType schema works as well as a DDL string
    assert local_frame(spark, [("a", 1)], empty.schema).collect()[0]["n"] == 1


def test_local_frame_runs_no_python_task(spark):
    df = local_frame(spark, [_lineage_row(), _lineage_row("r2")],
                     LINEAGE_SCHEMA)
    qe = df._jdf.queryExecution()
    assert "LocalTableScan" in qe.executedPlan().toString()
    assert "PythonRDD" not in qe.toRdd().toDebugString()
    # the list form this helper replaces does go through a PythonRDD
    old = spark.createDataFrame([_lineage_row()], OLD_LINEAGE_COLS)
    assert "PythonRDD" in old._jdf.queryExecution().toRdd().toDebugString()


def test_fresh_warehouse_reads_no_lineage(spark, tmp_path, monkeypatch):
    """A cold run must not try to read a lineage table that is not there
    (Spark logs the failed read as an ERROR)."""
    reads = []
    reader = type(spark.read)
    orig = reader.parquet

    def spy(self, *paths, **kw):
        reads.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(reader, "parquet", spy)
    p = Pipeline(spark, PipelineConfig(warehouse=str(tmp_path / "wh")))
    assert p._lineage_records() == []
    assert reads == []


def test_old_list_form_warehouse_resumes_and_appends(spark, tmp_path):
    """lineage/ and metrics/ written through createDataFrame(list) resume
    and take appends from local_frame without a schema conflict."""
    from distributed_extraction_framework_spark.sources.synth import synth_pages

    pages = synth_pages(spark, 60, partitions=2).cache()
    wh = str(tmp_path / "wh")
    kw = dict(link_entities=False, canonicalize=False)
    run_pipeline(spark, pages, wh, **kw)
    # rewrite both tables in the old form
    for table, cols in (("lineage", OLD_LINEAGE_COLS),
                        ("metrics", OLD_METRICS_COLS)):
        rows = [tuple(r) for r in spark.read.parquet(f"{wh}/{table}").collect()]
        spark.createDataFrame(rows, cols).write.mode("overwrite").parquet(
            f"{wh}/{table}")
    n_lineage = spark.read.parquet(f"{wh}/lineage").count()

    # resume: every stage is served from the old-form lineage
    run_pipeline(spark, pages, wh, **kw)
    assert spark.read.parquet(f"{wh}/lineage").count() == n_lineage

    # a config change rebuilds, appending lineage and metrics rows
    run_pipeline(spark, pages, wh, link_entities=False, canonicalize=True)
    lineage = spark.read.parquet(f"{wh}/lineage")
    metrics = spark.read.parquet(f"{wh}/metrics")
    assert lineage.schema == local_frame(spark, [], LINEAGE_SCHEMA).schema
    assert metrics.schema == local_frame(spark, [], METRICS_SCHEMA).schema
    assert lineage.count() > n_lineage
    assert lineage.filter(F.col("stage") == "quads").select(
        "run_id").distinct().count() == 2
    assert metrics.select("run_id").distinct().count() == 2
    assert metrics.filter(F.col("value").isNull()).count() == 0
