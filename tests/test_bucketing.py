"""Bucketed-table join: the shuffle-free co-located join at scale.

At 100 TB a fact-fact join (lineitem x orders) cannot broadcast either
side; bucketing both tables on the join key at write time pre-shuffles
them ONCE, and every later join/agg on that key runs with zero
exchanges. This test proves our ``write_parquet(bucket_by=...)`` path
actually delivers that plan.
"""

import pytest
from pyspark.sql import functions as F

from mit_map_reduce_spark.catalog import load_table
from mit_map_reduce_spark.plans import count_shuffles
from mit_map_reduce_spark.sources import write_parquet


@pytest.fixture()
def no_broadcast(spark):
    # Force a shuffle-capable join strategy so the test proves the
    # bucketed layout (not broadcast) eliminated the exchanges.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path, no_broadcast):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    write_parquet(li, str(tmp_path / "b_li"), bucket_by=(8, ["l_orderkey"]), table_name="b_lineitem")
    write_parquet(orders, str(tmp_path / "b_ord"), bucket_by=(8, ["o_orderkey"]), table_name="b_orders")

    a, b = spark.table("b_lineitem"), spark.table("b_orders")
    joined = a.join(b, a.l_orderkey == b.o_orderkey).groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("q"), F.max("o_totalprice").alias("p")
    )
    # join AND aggregation both ride the bucket partitioning: no
    # exchange anywhere in the plan.
    assert count_shuffles(joined) == 0
    # sanity: result is real (one group per order that has lineitems)
    n = joined.count()
    assert 0 < n <= orders.count()

    # control: the same join on plain (unbucketed) parquet shuffles.
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
    assert count_shuffles(plain) >= 2


def test_bucketed_join_query_zero_exchange(spark, sf_dir, no_broadcast):
    # The registered query (not just the raw mechanism above) must plan
    # its join + same-key aggregation with no exchange once the
    # bucketed tables exist.
    from mit_map_reduce_spark.operators.relational import rel_bucketed_join_revenue

    df = rel_bucketed_join_revenue(spark, sf_dir)  # first call writes tables
    df2 = rel_bucketed_join_revenue(spark, sf_dir)  # plan over existing tables
    assert count_shuffles(df2) == 0


def test_bucketed_scratch_publishes_atomically(spark, sf_dir, tmp_path, monkeypatch):
    """The bucketed copies are session artifacts: both tables live in
    the session's exit-swept artifact dir (no cross-run store under
    scratch_base()), and each finished write carries the _SUCCESS
    marker of Spark's output committer, which makes it atomic."""
    import os

    from mit_map_reduce_spark.catalog import _session_artifact_dir
    from mit_map_reduce_spark.operators.relational import rel_bucketed_join_revenue

    session_dir = _session_artifact_dir(spark)
    # a store keyed on scratch_base() at call time would land here
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    rel_bucketed_join_revenue(spark, sf_dir).count()
    assert os.listdir(tmp_path) == []
    names = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("b_lineitem_", "b_orders_"))
    ]
    assert len(names) == 2, names
    for name in names:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        loc = next(r.data_type for r in rows if r.col_name == "Location")
        path = loc.removeprefix("file:")
        assert path.startswith(session_dir + os.sep), (name, loc)
        assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_scratch_base_env_override(monkeypatch, tmp_path):
    """Session artifact dirs and the streaming scratch key off
    catalog.scratch_base() so a multi-node deployment can point them at
    shared storage with SPARK_GRAFT_SCRATCH_DIR; unset, it stays the
    local tempdir."""
    import tempfile

    from mit_map_reduce_spark import catalog

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    assert catalog.scratch_base() == tempfile.gettempdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    assert catalog.scratch_base() == str(tmp_path)
    # a new session's artifact dir lands under the override
    monkeypatch.setattr(catalog, "_ARTIFACT_SCRATCH", {})
    assert catalog._session_artifact_dir(object()).startswith(str(tmp_path))
