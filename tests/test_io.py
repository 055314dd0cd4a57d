"""IO surface (S13 snapshot/load, S14 HTTP CSV export) and KeyedTable
schema evolution (S16 alter)."""

import urllib.request

from pyspark.sql import Row

from spark_on_hbase_spark import io as EIO
from spark_on_hbase_spark.table import KeyedTable


def test_snapshot_roundtrip_sorted(spark, tmp_path):
    df = spark.createDataFrame([Row(key=f"k{i:02d}", v=i) for i in range(40)])
    path = str(tmp_path / "snap")
    EIO.snapshot(df, path, key_col="key")
    back = EIO.load_snapshot(spark, path)
    assert sorted(r["key"] for r in back.collect()) == sorted(r["key"] for r in df.collect())


def test_http_export_serves_tsv(spark):
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")])
    srv = EIO.HttpDataFrame(df.orderBy("a"))
    try:
        body = urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/", timeout=30).read().decode()
    finally:
        srv.stop()
    lines = [ln for ln in body.splitlines() if ln]
    assert lines[0].split("\t") == ["a", "b"]
    assert lines[1].split("\t") == ["1", "x"]
    assert lines[2].split("\t") == ["2", "y"]


def test_alter_table_add_drop_column(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([Row(key="a", ts=1, v=10)]))
    t.add_column("note", default="n/a", dtype="string")
    row = t.df().collect()[0]
    assert row["note"] == "n/a"
    t.drop_column("note")
    assert "note" not in t.df().columns


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Real parquet-footer evidence for the Z-ORDER claim: on the same data
    and file count, a y-range query overlaps (min/max-stats-wise) FEWER
    files under z-order clustering than under a plain x-sorted layout —
    single-column sort can never prune the other dimension."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from spark_on_hbase_spark import io as IO

    n, files = 40000, 16
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 65536).cast("int").alias("x"),
        (F.col("id") * 40503 % 65536).cast("int").alias("y"),
    )
    xs_path, z_path = str(tmp_path / "xsort"), str(tmp_path / "zorder")
    (
        df.repartitionByRange(files, "x").sortWithinPartitions("x")
        .write.mode("overwrite").parquet(xs_path)
    )
    IO.write_zordered(df, z_path, "x", "y", num_files=files)

    def overlapping(path, col, lo, hi):
        import glob

        hit = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        total += 1
                        st = c.statistics
                        if st is None or st.min is None:
                            hit += 1  # no stats: must read
                        elif not (st.max < lo or st.min > hi):
                            hit += 1
        return hit, total

    lo, hi = 1000, 5000  # ~6% of the y domain
    x_hit, x_total = overlapping(xs_path, "y", lo, hi)
    z_hit, z_total = overlapping(z_path, "y", lo, hi)
    assert x_total >= files and z_total >= files
    # x-sorted: every file spans the full y range -> nothing prunes
    assert x_hit == x_total
    # z-order: y bits participate in the clustering key -> most files prune
    assert z_hit <= z_total // 2, f"z-order pruned only {z_total - z_hit}/{z_total}"
