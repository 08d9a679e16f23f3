"""End-to-end pipeline + sink idempotency (O1, S8, S10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from analytics_etl_spark.config import PipelineConfig
from analytics_etl_spark.plans.pipeline import run_sales_pipeline, sales_pipeline
from analytics_etl_spark.sinks.writer import overwrite_partitions, read_sales


def _config(**kw):
    return PipelineConfig(start_date="2025-06-01", end_date="2025-11-30", **kw)


def test_pipeline_end_to_end(nested_orders, locations_dim):
    sales, rejects = sales_pipeline(nested_orders, locations_dim, _config())
    rows = {r["item_name"]: r for r in sales.collect()}
    # golden + 2 espressos survive; freebie/empty/badqty do not
    assert set(rows) == {"Iced Lavander latte", "espresso"}
    assert rows["Iced Lavander latte"]["location_id"] == 1  # SQ1 → 1
    # the malformed-quantity item is REJECTED, not silently dropped
    rej = rejects.collect()
    assert [(r["stage"], r["detail"]) for r in rej] == [("line_item", "muffin")]


def test_pipeline_date_window_pushdown(nested_orders, locations_dim):
    cfg = PipelineConfig(start_date="2025-11-01", end_date="2025-11-30")
    sales, _ = sales_pipeline(nested_orders, locations_dim, cfg)
    months = {r["month"] for r in sales.collect()}
    assert months == {"2025-11"}  # June espresso excluded


def test_pipeline_location_filter_and_limit(nested_orders, locations_dim):
    cfg = _config(location_filter=2)
    sales, _ = sales_pipeline(nested_orders, locations_dim, cfg)
    assert {r["location_id"] for r in sales.collect()} == {2}
    cfg2 = _config(test_limit=1)
    sales2, _ = sales_pipeline(nested_orders, locations_dim, cfg2)
    assert sales2.count() == 1


def test_config_validation():
    with pytest.raises(ValueError):
        PipelineConfig(start_date="2025-12-01", end_date="2025-01-01")
    cfg = PipelineConfig.from_env({"START_DATE": "2025-01-01", "END_DATE": "2025-01-31", "TEST": "true"})
    assert cfg.test_limit == 200


def test_sink_dynamic_partition_overwrite(spark, nested_orders, locations_dim, tmp_path):
    """The reference's delete-then-reload (S10): re-writing one
    month's partitions must not touch other months."""
    path = str(tmp_path / "sales")
    sales, _ = sales_pipeline(nested_orders, locations_dim, _config())
    overwrite_partitions(sales, path)
    before = read_sales(spark, path).count()

    # re-run covering ONLY November: June partition must survive
    nov_cfg = PipelineConfig(start_date="2025-11-01", end_date="2025-11-30")
    nov_sales, _ = sales_pipeline(nested_orders, locations_dim, nov_cfg)
    overwrite_partitions(nov_sales, path)
    after = read_sales(spark, path)
    assert after.count() == before
    assert after.filter(F.col("month") == "2025-06").count() == 1


def test_sink_gated_overwrite_counts_then_confirms(spark, nested_orders, locations_dim, tmp_path):
    """The reference counts then requires confirm=True before deleting
    (database_service.py:443-464): dry run reports the doomed rows and
    touches nothing; confirm replaces exactly those partitions."""
    from analytics_etl_spark.sinks.writer import overwrite_partitions_gated

    path = str(tmp_path / "sales")
    sales, _ = sales_pipeline(nested_orders, locations_dim, _config())

    # first load: nothing to replace, dry-run writes nothing
    n, replaced = overwrite_partitions_gated(sales, path, confirm=False)
    assert (n, replaced) == (0, False)
    n, replaced = overwrite_partitions_gated(sales, path, confirm=True)
    assert (n, replaced) == (0, True)
    before = read_sales(spark, path).count()

    # re-run over November only: dry run counts November's existing
    # rows, leaves the table untouched
    nov_cfg = PipelineConfig(start_date="2025-11-01", end_date="2025-11-30")
    nov_sales, _ = sales_pipeline(nested_orders, locations_dim, nov_cfg)
    nov_existing = read_sales(spark, path).filter(F.col("month") == "2025-11").count()
    n, replaced = overwrite_partitions_gated(nov_sales, path, confirm=False)
    assert (n, replaced) == (nov_existing, False)
    assert read_sales(spark, path).count() == before  # untouched

    n, replaced = overwrite_partitions_gated(nov_sales, path, confirm=True)
    assert (n, replaced) == (nov_existing, True)
    after = read_sales(spark, path)
    assert after.count() == before
    assert after.filter(F.col("month") == "2025-06").count() == 1


def test_write_jdbc_batched_roundtrip(spark, nested_orders, locations_dim, tmp_path):
    """S8 against a real JDBC database (Spark's bundled Derby,
    in-memory): batched insert → read back → same rows. Mirrors the
    reference's execute_batch page_size≈100 postgres insert."""
    from analytics_etl_spark.sinks.writer import write_jdbc

    url = "jdbc:derby:memory:aes_jdbc_test;create=true"
    sales, _ = sales_pipeline(nested_orders, locations_dim, _config())
    out = sales.select("item_name", "sale_price", "qty", "month", "location_id")
    write_jdbc(out, url, "sales", batchsize=50, num_partitions=2)

    back = spark.read.jdbc(url, "sales")
    assert back.count() == out.count()
    assert {r["item_name"] for r in back.collect()} == {
        r["item_name"] for r in out.collect()
    }
    # append mode accumulates (reference inserts are append-only)
    write_jdbc(out, url, "sales", batchsize=50)
    assert spark.read.jdbc(url, "sales").count() == 2 * out.count()


def test_run_sales_pipeline_stats(spark, nested_orders, locations_dim, tmp_path):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    cfg = _config(sales_path=str(tmp_path / "s"))
    stats = run_sales_pipeline(nested_orders, locations_dim, cfg)
    assert stats["sales_rows"] == 3
    assert stats["reject_rows"] == 1  # the malformed-quantity muffin
    # the cache the stats were counted from is released (older RDDs
    # may be cleaned meanwhile, so compare ids, not counts)
    assert not set(jsc.getPersistentRDDs().keys()) - before


def test_compact_partitions_reduces_files_keeps_rows(spark, nested_orders, locations_dim, tmp_path):
    """Small-file maintenance: accreted per-batch files collapse to
    one file per partition; row content identical; the partition
    layout (and its pruning) survives."""
    from analytics_etl_spark.sinks.writer import compact_partitions

    path = str(tmp_path / "sales")
    sales, _ = sales_pipeline(nested_orders, locations_dim, _config())
    # simulate accretion: several appends, each fragmenting partitions
    for _ in range(3):
        sales.repartition(4).write.mode("append").partitionBy(
            "location_id", "month"
        ).parquet(path)
    rows_before = sorted(map(tuple, read_sales(spark, path).collect()))

    before, after = compact_partitions(spark, path)
    assert after < before
    parts = {(r["location_id"], r["month"]) for r in read_sales(spark, path).collect()}
    assert after == len(parts)  # exactly one file per partition
    assert sorted(map(tuple, read_sales(spark, path).collect())) == rows_before


def test_merge_upsert_replaces_keyed_rows(spark, tmp_path):
    """MERGE semantics on plain parquet: matched keys replaced, new
    keys inserted, untouched rows survive byte-identical; the temp-
    write+swap means the target is never read and overwritten in the
    same job (the lazy-read self-overwrite trap)."""
    from analytics_etl_spark.sinks.writer import merge_upsert

    path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    ).write.parquet(path)

    updates = spark.createDataFrame(
        [(2, "b2", 21), (4, "d", 40)], "id long, name string, v long"
    )
    merge_upsert(spark, path, updates, key_cols=("id",))

    got = {
        (r["id"], r["name"], r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a", 10), (2, "b2", 21), (3, "c", 30), (4, "d", 40)}

    # re-running the same merge is idempotent
    merge_upsert(spark, path, updates, key_cols=("id",))
    again = {
        (r["id"], r["name"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert again == got


def _partition_file_state(path):
    """(relative_path -> bytes) for every parquet data file under a
    partitioned table root."""
    import glob
    import os

    state = {}
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                state[os.path.relpath(f, path)] = fh.read()
    return state


def test_merge_upsert_partitioned_scopes_the_rewrite(spark, tmp_path):
    """Partition-scoped MERGE: matched keys replaced, new keys
    inserted, AND every data file in an untouched partition is
    byte-identical afterwards — the 100TB contract (a daily upsert
    touching 2 partitions must not rewrite the other 9,998)."""
    from analytics_etl_spark.sinks.writer import merge_upsert_partitioned

    path = str(tmp_path / "sales")
    base = spark.createDataFrame(
        [
            (1, 10, "2024-01", 100),
            (2, 10, "2024-01", 200),
            (3, 10, "2024-02", 300),
            (4, 20, "2024-01", 400),
            (5, 20, "2024-02", 500),
        ],
        "sale_id long, location_id long, month string, cents long",
    )
    base.write.partitionBy("location_id", "month").parquet(path)
    before = _partition_file_state(path)

    # touch ONE partition: replace sale 1, insert sale 6, both in
    # (location_id=10, month=2024-01)
    updates = spark.createDataFrame(
        [(1, 10, "2024-01", 101), (6, 10, "2024-01", 600)],
        "sale_id long, location_id long, month string, cents long",
    )
    n = merge_upsert_partitioned(
        spark, path, updates, key_cols=("sale_id", "location_id", "month")
    )
    assert n == 1

    got = {
        (r["sale_id"], r["cents"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, 101), (2, 200), (3, 300), (4, 400), (5, 500), (6, 600)}

    after = _partition_file_state(path)
    untouched_before = {
        k: v for k, v in before.items() if "location_id=10/month=2024-01" not in k
    }
    untouched_after = {
        k: v for k, v in after.items() if "location_id=10/month=2024-01" not in k
    }
    assert untouched_before == untouched_after  # byte-identical, same names

    # idempotent re-run
    merge_upsert_partitioned(
        spark, path, updates, key_cols=("sale_id", "location_id", "month")
    )
    again = {
        (r["sale_id"], r["cents"]) for r in spark.read.parquet(path).collect()
    }
    assert again == got


def test_merge_upsert_partitioned_contract_and_first_load(spark, tmp_path):
    """partition_keys ⊄ key_cols must be refused (rows could move
    partitions and leave stale twins); a merge into a nonexistent
    target is the first load."""
    import pytest

    from analytics_etl_spark.sinks.writer import merge_upsert_partitioned

    updates = spark.createDataFrame(
        [(1, 10, "2024-01", 100)],
        "sale_id long, location_id long, month string, cents long",
    )
    with pytest.raises(ValueError, match="partition_keys"):
        merge_upsert_partitioned(
            spark, str(tmp_path / "x"), updates, key_cols=("sale_id",)
        )

    path = str(tmp_path / "fresh")
    n = merge_upsert_partitioned(
        spark, path, updates, key_cols=("sale_id", "location_id", "month")
    )
    assert n == 1
    assert spark.read.parquet(path).count() == 1


def test_merge_scoped_vs_full_gap_grows_with_partition_count(spark, tmp_path):
    """The scale argument, pinned deterministically on rewritten-file
    counts (not wall clock): a 1-partition delta makes the scoped
    MERGE rewrite O(1) partitions while the layout-preserving full
    rewrite touches all P — so the rewritten fraction falls as 1/P."""
    from analytics_etl_spark.sinks.writer import merge_upsert, merge_upsert_partitioned

    def build(path, months):
        rows = [(m * 100 + i, f"2024-{m:02d}", i) for m in range(1, months + 1) for i in range(5)]
        spark.createDataFrame(rows, "sale_id long, month string, v long").repartition(
            "month"
        ).write.partitionBy("month").parquet(path)

    def rewritten(before, after):
        return sum(1 for k, v in after.items() if before.get(k) != v)

    fractions = []
    for months in (4, 16):
        upd = spark.createDataFrame(
            [(100 + 99, "2024-01", 999)], "sale_id long, month string, v long"
        )
        p_scoped = str(tmp_path / f"s{months}")
        p_full = str(tmp_path / f"f{months}")
        build(p_scoped, months)
        build(p_full, months)
        b_s, b_f = _partition_file_state(p_scoped), _partition_file_state(p_full)
        merge_upsert_partitioned(
            spark, p_scoped, upd, key_cols=("sale_id", "month"), partition_keys=("month",)
        )
        merge_upsert(spark, p_full, upd, key_cols=("sale_id",), partition_keys=("month",))
        r_s = rewritten(b_s, _partition_file_state(p_scoped))
        r_f = rewritten(b_f, _partition_file_state(p_full))
        assert r_s == 1  # exactly the touched month, at any P
        assert r_f >= months  # every partition rewritten
        fractions.append(r_s / r_f)
    assert fractions[1] < fractions[0]  # gap grows with partition count
