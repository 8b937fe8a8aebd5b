"""Round-trip tests for the source/sink surface.

The reference's test harness validates sinks by sorting all output
files and comparing bytes (``src/main/test-mr.sh:103``); same method
here — write, read back, compare as a sorted multiset.
"""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mit_map_reduce_spark.sources import (
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    read_text_lines,
    read_whole_text,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
    write_text_kv,
)


@pytest.fixture()
def kv_df(spark):
    rows = [Row(key=f"k{i % 7}", value=str(i)) for i in range(100)]
    return spark.createDataFrame(rows)


def test_whole_text_one_row_per_file(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"doc{i}.txt").write_text(f"line a {i}\nline b {i}\n")
    df = read_whole_text(spark, str(tmp_path / "*.txt"))
    rows = df.collect()
    assert len(rows) == 3  # wholetext: never line-split
    by_name = {os.path.basename(r.path): r.content for r in rows}
    assert by_name["doc1.txt"] == "line a 1\nline b 1\n"


def test_text_lines_splits(spark, tmp_path):
    (tmp_path / "a.txt").write_text("x\ny\nz\n")
    df = read_text_lines(spark, str(tmp_path / "a.txt"))
    assert sorted(r.line for r in df.collect()) == ["x", "y", "z"]


def test_text_kv_sink_format(spark, kv_df, tmp_path):
    out = str(tmp_path / "out")
    write_text_kv(kv_df, out, n_partitions=4)
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(files) == 4  # one file per reduce partition, mr-out-* analog
    lines = sorted(r.value for r in spark.read.text(out).collect())
    expected = sorted(f"k{i % 7} {i}" for i in range(100))
    assert lines == expected


def test_csv_roundtrip_explicit_schema(spark, kv_df, tmp_path):
    out = str(tmp_path / "csv")
    write_csv(kv_df, out)
    back = read_csv(spark, out, "key string, value string")
    assert sorted((r.key, r.value) for r in back.collect()) == sorted(
        (r.key, r.value) for r in kv_df.collect()
    )


def test_csv_corrupt_rows_not_silently_dropped(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("k,v\na,1\nbroken_line_no_delim\n")
    df = read_csv(spark, str(p), "k string, v int")
    rows = df.collect()
    assert len(rows) == 2  # PERMISSIVE keeps the malformed row (nulls)


def test_json_roundtrip(spark, kv_df, tmp_path):
    out = str(tmp_path / "json")
    write_json(kv_df, out)
    back = read_json(spark, out, "key string, value string")
    assert back.count() == 100


def test_parquet_partitioned_write_prunes(spark, kv_df, tmp_path):
    out = str(tmp_path / "pq")
    write_parquet(kv_df, out, partition_by=["key"])
    assert os.path.isdir(os.path.join(out, "key=k0"))  # hive layout
    back = read_parquet(spark, out).filter(F.col("key") == "k3")
    # partition pruning: only the key=k3 directory is scanned
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == sum(1 for i in range(100) if i % 7 == 3)
    assert "PartitionFilters: [isnotnull(key" in plan or "key=k3" in plan


def test_orc_roundtrip_partitioned(spark, kv_df, tmp_path):
    # ORC is the second native columnar format; partitioned write must
    # prune directories on read just like parquet.
    out = str(tmp_path / "orc_out")
    write_orc(kv_df, out, partition_by=["key"])
    back = read_orc(spark, out)
    assert back.count() == kv_df.count()
    one = read_orc(spark, out).filter(F.col("key") == "k3")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() == kv_df.filter(F.col("key") == "k3").count()
    # partition filter reached the scan (pruned, not post-filtered)
    assert "PartitionFilters: [isnotnull(key" in plan or "k3" in plan


def test_range_partitioned_global_sort(spark, tmp_path):
    # Distributed sort (the MapReduce paper's TeraSort shape): range
    # partitioning + per-partition sort gives a TOTAL order across
    # output files with NO single-reducer bottleneck — file part-i's
    # max must not exceed part-(i+1)'s min, and each file is sorted.
    from mit_map_reduce_spark.catalog import load_table
    import glob
    import os

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    out = str(tmp_path / "sorted")
    (
        li.repartitionByRange(8, F.col("l_extendedprice"))
        .sortWithinPartitions("l_extendedprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    parts = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    assert len(parts) >= 2  # actually distributed, not one reducer
    prev_max = None
    total = 0
    for p in parts:
        vals = [r.l_extendedprice for r in spark.read.parquet(p).collect()]
        if not vals:
            continue
        assert vals == sorted(vals)  # sorted within the file
        if prev_max is not None:
            assert prev_max <= vals[0]  # ranges don't overlap
        prev_max = vals[-1]
        total += len(vals)
    assert total == li.count()  # nothing lost or duplicated


def test_gzip_jsonl_roundtrip_writes_gzip_parts(spark, sf_dir):
    # The artifact must actually be gzip-compressed JSONL in several
    # files (gzip is unsplittable: one file == one read task, so a
    # single giant .gz would serialize the scan).
    import os
    from mit_map_reduce_spark.operators.sources_queries import (
        _roundtrip_copy,
        src_gzip_jsonl_roundtrip_docs,
    )

    src_gzip_jsonl_roundtrip_docs(spark, sf_dir).count()

    def no_rewrite(_):
        raise AssertionError("session artifact rewritten")

    out = _roundtrip_copy(spark, sf_dir, "jsonl|gzip|v1", "documents", no_rewrite)
    parts = [f for f in os.listdir(out) if f.endswith(".json.gz")]
    assert len(parts) >= 2
    with open(os.path.join(out, parts[0]), "rb") as fh:
        assert fh.read(2) == b"\x1f\x8b"  # gzip magic


def test_quarantine_isolates_exactly_planted_rows(spark, sf_dir):
    # Quarantined == planted bad keys; good money total excludes them
    # and equals the pure-integer truth computed straight off parquet.
    from mit_map_reduce_spark.catalog import load_table
    from mit_map_reduce_spark.operators.sources_queries import (
        QUAR_BAD_MOD,
        QUAR_PRICE_MOD,
        src_csv_malformed_quarantine,
    )
    from pyspark.sql import functions as F

    rows = src_csv_malformed_quarantine(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    n_bad = orders.filter(key % QUAR_BAD_MOD == 0).count()
    assert sum(r.n_quarantined for r in rows) == n_bad
    assert sum(r.n_rows for r in rows) == orders.count()
    truth = (
        orders.filter(key % QUAR_BAD_MOD != 0)
        .agg(F.sum(key % QUAR_PRICE_MOD))
        .first()[0]
    )
    assert sum(r.good_price_cents for r in rows) == truth


def test_quarantine_is_filesystem_free(spark, sf_dir, monkeypatch):
    # Round-9 pin: three red driver rounds with green local emulations
    # were traced to the only environment surfaces the query had — a
    # /tmp scratch round trip and float money math through a string.
    # Both are gone; this test makes any regression loud by failing the
    # query if it touches a DataFrame writer, a file-based CSV/text
    # read, or tempfile at all (the parquet table read stays allowed).
    import tempfile

    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from mit_map_reduce_spark.operators.sources_queries import (
        src_csv_malformed_quarantine,
    )

    def _boom(*a, **k):
        raise AssertionError("quarantine query must not touch the filesystem")

    for attr in ("text", "csv", "json", "parquet", "orc", "save"):
        monkeypatch.setattr(DataFrameWriter, attr, _boom)
    for attr in ("text", "csv", "json", "orc"):
        monkeypatch.setattr(DataFrameReader, attr, _boom)
    monkeypatch.setattr(tempfile, "gettempdir", _boom)
    monkeypatch.setattr(tempfile, "mkdtemp", _boom)
    monkeypatch.setattr(tempfile, "mkstemp", _boom)
    rows = src_csv_malformed_quarantine(spark, sf_dir).collect()
    assert len(rows) == 5


def test_dynamic_overwrite_preserves_untouched_partitions(spark, sf_dir):
    # Non-click partitions keep their full event counts; the click
    # partition shrinks to the cleaned subset — if static overwrite
    # semantics leaked through, the other partitions would be empty.
    from mit_map_reduce_spark.catalog import load_table
    from mit_map_reduce_spark.operators.sources_queries import (
        OVERWRITE_MIN_VALUE,
        src_dynamic_partition_overwrite,
    )
    from pyspark.sql import functions as F

    got = {r.event_type: r.n_events for r in src_dynamic_partition_overwrite(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    truth = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    n_clicks_kept = ev.filter(
        (F.col("event_type") == "click") & (F.col("value") > OVERWRITE_MIN_VALUE)
    ).count()
    for t, n in truth.items():
        assert got[t] == (n_clicks_kept if t == "click" else n)
    assert got["click"] < truth["click"]


def test_csv_parse_mode_postures(spark, tmp_path):
    # The three loader postures on the same malformed batch (documents
    # the contract the quarantine query builds on): PERMISSIVE keeps
    # the row with the bad field nulled + raw line captured;
    # DROPMALFORMED silently drops it; FAILFAST kills the job. A
    # parser upgrade that changes any of these changes loader
    # semantics and must be caught here first. Note from_csv supports
    # only PERMISSIVE and FAILFAST (PARSE_MODE_UNSUPPORTED otherwise);
    # DROPMALFORMED exists only on the file reader — part of why the
    # quarantine posture never uses it.
    import pytest
    from pyspark.sql import functions as F

    lines = spark.createDataFrame(
        [("1|100|A",), ("2|N/A|B",), ("3|300|C",)], "line string"
    )
    schema = "k bigint, cents bigint, pr string, _corrupt_record string"

    def parsed(mode):
        opts = {"sep": "|", "mode": mode}
        if mode == "PERMISSIVE":
            opts["columnNameOfCorruptRecord"] = "_corrupt_record"
        return lines.select(
            F.from_csv("line", schema, opts).alias("r")
        ).select("r.*")

    perm = parsed("PERMISSIVE").collect()
    assert len(perm) == 3
    bad = next(r for r in perm if r.k == 2)
    assert bad.cents is None and bad.pr == "B"
    assert bad._corrupt_record == "2|N/A|B"
    assert all(r._corrupt_record is None for r in perm if r.k != 2)

    with pytest.raises(Exception) as ei:
        parsed("FAILFAST").collect()
    assert "FAILFAST" in str(ei.value) or "Malformed" in str(ei.value)

    with pytest.raises(Exception) as ei:
        parsed("DROPMALFORMED").collect()
    assert "PARSE_MODE_UNSUPPORTED" in str(ei.value)

    p = tmp_path / "batch.csv"
    p.write_text("1|100|A\n2|N/A|B\n3|300|C\n")
    dropped = (
        spark.read.schema("k bigint, cents bigint, pr string")
        .option("sep", "|")
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
        .collect()
    )
    assert sorted(r.k for r in dropped) == [1, 3]
