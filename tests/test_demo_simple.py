"""End-to-end parity with the reference's DemoSimpleApp
(examples/simple/DemoSimpleApp.scala:40-106, HBaseTableSimple.scala:23-67):
a keyed table with 'column family' map columns — T (tag set), FAM (typed
features) — driven through create/update/select/filter/count, using the F1
mandatory-column select and F4 map-contains semantics."""

import random

import pytest
from pyspark.sql import functions as F

from spark_on_hbase_spark.operators.scan import map_contains, select_required
from spark_on_hbase_spark.table import KeyedTable

TAGS = ["lego", "music", "sports", "books", "games"]


@pytest.fixture(scope="module")
def demo_table(spark, tmp_path_factory):
    """1000 rows with Gaussian width/height features and random tag sets —
    the DemoSimpleApp fixture (DemoSimpleApp.scala:40-48), seeded."""
    rng = random.Random(42)
    rows = []
    for i in range(1000):
        tags = {t: 1 for t in rng.sample(TAGS, rng.randint(0, 3))}
        feats = {}
        if rng.random() > 0.1:
            feats["width"] = rng.gauss(100.0, 10.0)
        if rng.random() > 0.1:
            feats["height"] = rng.gauss(50.0, 5.0)
        rows.append((f"{i:08x}", 1, tags, feats))
    df = spark.createDataFrame(
        rows, "key string, ts int, T map<string,int>, FAM map<string,double>"
    )
    t = KeyedTable(spark, str(tmp_path_factory.mktemp("demo") / "demo-simple"))
    return t.create(df), rows


def test_mandatory_column_select_drops_incomplete_rows(demo_table):
    table, rows = demo_table
    # F1: selecting FAM:width and FAM:height drops rows missing either
    got = select_required(table.df(), "key", "FAM:width", "FAM:height")
    expected = [r for r in rows if "width" in r[3] and "height" in r[3]]
    assert got.count() == len(expected)
    assert set(got.columns) == {"key", "FAM_width", "FAM_height"}


def test_map_contains_tag_filter(demo_table):
    table, rows = demo_table
    got = map_contains(table.df(), "T", "lego").select("key")
    expected = {r[0] for r in rows if "lego" in r[2]}
    assert {r["key"] for r in got.collect()} == expected


def test_select_then_filter_composition(demo_table):
    """The demo's flagship: table.select(Features).filter(Tags.contains(
    'lego')) (DemoSimpleApp.scala:103-106)."""
    table, rows = demo_table
    got = map_contains(
        select_required(table.df(), "key", "T", "FAM:width"), "T", "lego"
    )
    expected = [r for r in rows if "width" in r[3] and "lego" in r[2]]
    assert got.count() == len(expected)


def test_cell_count(demo_table):
    """A12 — cells per row via map sizes (HBaseTableSimple.CellCount,
    examples/simple/HBaseTableSimple.scala:45-54)."""
    table, rows = demo_table
    got = table.df().select(
        "key", (F.size("T") + F.size("FAM")).alias("n_cells")
    )
    expected = {r[0]: len(r[2]) + len(r[3]) for r in rows}
    sample = {r["key"]: r["n_cells"] for r in got.limit(50).collect()}
    for k, v in sample.items():
        assert v == expected[k]


def test_sample_derive_join_back(spark, demo_table):
    """The demo's sample -> derived column -> inner join back on key
    pipeline (DemoSimpleApp.scala:66-106): deterministic sample, compute
    width*height, join the small derived set back against the table."""
    from spark_on_hbase_spark.operators.joins import lookup_join
    from spark_on_hbase_spark.operators.scan import sample_deterministic

    table, rows = demo_table
    full = select_required(table.df(), "key", "FAM:width", "FAM:height")
    sampled = sample_deterministic(full, "key", 0.2).withColumn(
        "area", F.col("FAM_width") * F.col("FAM_height")
    )
    joined = lookup_join(table.df(), sampled.select("key", "area"), on="key")
    n_s, n_j = sampled.count(), joined.count()
    assert n_j == n_s  # every sampled key joins back exactly once
    assert 0 < n_s < full.count()
    r = joined.select("key", "area", "FAM").limit(1).collect()[0]
    assert r["area"] == pytest.approx(r["FAM"]["width"] * r["FAM"]["height"])


def test_update_merges_family_maps(spark, demo_table):
    table, rows = demo_table
    batch = spark.createDataFrame(
        [("00000000", 2, {"updated": 1}, {"width": 1.0})],
        "key string, ts int, T map<string,int>, FAM map<string,double>",
    )
    table.update(batch)
    row = table.df().where(F.col("key") == "00000000").collect()[0]
    assert row["T"] == {"updated": 1}  # whole-row upsert, newer ts wins
    assert row["FAM"] == {"width": 1.0}
