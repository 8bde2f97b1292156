"""Manifest-based file skipping (operators/data_skipping.py): pruning
must be correct (superset of matches, exact after residual filter) and
actually skip files when the layout correlates with the indexed column."""

from __future__ import annotations

from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.data_skipping import (
    build_manifest,
    prune_files,
    read_pruned,
)
from pinterest_data_pipeline_spark.sources.parquet import load_table


def _laid_out_orders(spark, sf_dir, tmp_path) -> str:
    """Write orders range-partitioned + sorted on o_totalprice — the
    layout that makes per-file min/max ranges narrow and disjoint."""
    out = str(tmp_path / "orders_by_price")
    (
        load_table(spark, sf_dir, "orders")
        .repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def test_pruned_read_equals_full_scan(spark, sf_dir, tmp_path):
    path = _laid_out_orders(spark, sf_dir, tmp_path)
    manifest = build_manifest(spark, path, ["o_totalprice"]).cache()
    lo, hi = 100000.0, 150000.0
    got = read_pruned(spark, manifest, "o_totalprice", lo, hi)
    full = (
        spark.read.parquet(path)
        .filter((F.col("o_totalprice") >= lo) & (F.col("o_totalprice") <= hi))
    )
    assert sorted(r["o_orderkey"] for r in got.collect()) == sorted(
        r["o_orderkey"] for r in full.collect()
    )


def test_manifest_actually_skips_files(spark, sf_dir, tmp_path):
    path = _laid_out_orders(spark, sf_dir, tmp_path)
    manifest = build_manifest(spark, path, ["o_totalprice"]).cache()
    n_files = manifest.count()
    assert n_files >= 8
    # a narrow band in a range-partitioned layout touches few files
    survivors = prune_files(manifest, "o_totalprice", 100000.0, 150000.0)
    assert 0 < len(survivors) < n_files / 2, (len(survivors), n_files)


def test_fully_pruned_range_returns_empty_with_schema(spark, sf_dir, tmp_path):
    path = _laid_out_orders(spark, sf_dir, tmp_path)
    manifest = build_manifest(spark, path, ["o_totalprice"]).cache()
    got = read_pruned(spark, manifest, "o_totalprice", 10_000_000.0, 20_000_000.0)
    assert got.count() == 0
    assert "o_orderkey" in got.columns


def test_zorder_layout_prunes_on_both_dimensions(spark, sf_dir, tmp_path):
    """The point of Z-ordering: with files clustered on the Morton curve
    of (o_custkey, o_totalprice-cents), a narrow predicate on EITHER
    column prunes a real fraction of files — while the plain
    single-column layout prunes only on its own sort column."""
    from pinterest_data_pipeline_spark.operators.data_skipping import (
        zorder_layout,
    )

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "price_cents", (F.col("o_totalprice") * 100).cast("bigint")
    )
    zpath = str(tmp_path / "orders_z")
    zorder_layout(orders, ["o_custkey", "price_cents"]).write.mode(
        "overwrite"
    ).parquet(zpath)

    lpath = str(tmp_path / "orders_linear")
    (
        orders.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    zman = build_manifest(spark, zpath, ["o_custkey", "price_cents"]).cache()
    lman = build_manifest(spark, lpath, ["o_custkey", "price_cents"]).cache()
    zn, ln = zman.count(), lman.count()
    # range-partitioning on block id may merge adjacent blocks (sampling),
    # so slightly fewer than n_partitions files is expected
    assert zn >= 12 and ln >= 12, (zn, ln)

    # ~10%-wide band on each dimension
    stats = orders.agg(
        F.min("o_custkey").alias("klo"), F.max("o_custkey").alias("khi"),
        F.min("price_cents").alias("plo"), F.max("price_cents").alias("phi"),
    ).collect()[0]
    # bands sit at the 55% point so a 5%-wide band stays inside one
    # quarter-of-range block column (a band straddling a block boundary
    # legitimately touches two columns — twice the files)
    kmid = stats["klo"] + (stats["khi"] - stats["klo"]) * 11 // 20
    kwidth = (stats["khi"] - stats["klo"]) // 20
    pmid = stats["plo"] + (stats["phi"] - stats["plo"]) * 11 // 20
    pwidth = (stats["phi"] - stats["plo"]) // 20

    z_on_key = len(prune_files(zman, "o_custkey", kmid, kmid + kwidth))
    z_on_price = len(prune_files(zman, "price_cents", pmid, pmid + pwidth))
    l_on_key = len(prune_files(lman, "o_custkey", kmid, kmid + kwidth))
    l_on_price = len(prune_files(lman, "price_cents", pmid, pmid + pwidth))

    # z layout: both dimensions prune away at least half the files
    assert z_on_key <= zn / 2, (z_on_key, zn)
    assert z_on_price <= zn / 2, (z_on_price, zn)
    # linear layout: razor-sharp on its sort column, useless on the other
    assert l_on_key <= ln / 4, (l_on_key, ln)
    assert l_on_price == ln, (l_on_price, ln)


def test_zorder_pruned_read_is_exact(spark, sf_dir, tmp_path):
    """Pruning through the z layout is still a superset + residual filter:
    the 2-D box query must return exactly the full-scan answer."""
    from pinterest_data_pipeline_spark.operators.data_skipping import (
        zorder_layout,
    )

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "price_cents", (F.col("o_totalprice") * 100).cast("bigint")
    )
    zpath = str(tmp_path / "orders_z2")
    zorder_layout(orders, ["o_custkey", "price_cents"]).write.mode(
        "overwrite"
    ).parquet(zpath)
    man = build_manifest(spark, zpath, ["o_custkey", "price_cents"]).cache()

    lo, hi = 10_000_000, 20_000_000
    got = read_pruned(spark, man, "price_cents", lo, hi)
    want = spark.read.parquet(zpath).filter(
        (F.col("price_cents") >= lo) & (F.col("price_cents") <= hi)
    )
    assert sorted(r["o_orderkey"] for r in got.collect()) == sorted(
        r["o_orderkey"] for r in want.collect()
    )
