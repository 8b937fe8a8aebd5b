"""Second-invocation determinism for artifact-backed queries.

Several queries materialize a session artifact on first use (IVF
centroids, bucketed warehouse tables, source-format round-trip copies;
``catalog.session_artifact``) or probe session-shared caches (normed
embeddings, shingle arrays, SimHash fingerprints). The driver and
bench call each query more than once across a round, so the SECOND
invocation — the one that hits the artifact/cache instead of building
it — must produce byte-identical results. A stale or half-keyed
artifact shows up here as a diff.
"""

import os

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()

ARTIFACT_BACKED = [
    "sim_ann_ivf_topk",  # parquet centroid artifact
    "rel_bucketed_join_revenue",  # bucketed saveAsTable pair
    "src_csv_roundtrip_orders",  # csv scratch copy
    "src_partitioned_pruning_events",  # partitioned scratch copy
    "dedup_simhash_band_pairs",  # shared_persist fingerprint cache
    "sketch_cms_heavy_hitters",  # pure recompute (control)
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", ARTIFACT_BACKED)
def test_second_invocation_identical(spark, sf_dir, name):
    first = _rows(QUERIES[name](spark, sf_dir))
    second = _rows(QUERIES[name](spark, sf_dir))
    assert first == second
    assert len(first) > 0


def test_session_artifacts_stay_in_session_dir(spark, sf_dir, tmp_path, monkeypatch):
    """Every artifact-backed query writes into the session's own
    exit-swept dir — never into a cross-run store under scratch_base()
    — and writes it once per session: a second call in the same
    session reuses the registered path without running the writer."""
    import os

    from mit_map_reduce_spark import catalog
    from mit_map_reduce_spark.operators import sources_queries

    session_dir = catalog._session_artifact_dir(spark)
    # any store keyed on scratch_base() at call time would land here
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    real = catalog.session_artifact
    writes = []

    def spy(spark_, key, write_fn):
        def counted(path):
            writes.append(key)
            write_fn(path)

        return real(spark_, key, counted)

    monkeypatch.setattr(catalog, "session_artifact", spy)
    monkeypatch.setattr(sources_queries, "session_artifact", spy)
    names = ("sim_ann_ivf_topk", "rel_bucketed_join_revenue", "src_csv_roundtrip_orders")
    for name in names:
        QUERIES[name](spark, sf_dir).collect()
    # each writer ran at most once (earlier tests may have built some)
    assert len(writes) == len(set(writes)), writes
    ours = {
        key: path
        for (sid, key), path in catalog._SESSION_ARTIFACTS.items()
        if sid == id(spark)
    }
    kinds = ("ivf_centroids|", "bucketed|b_lineitem_", "bucketed|b_orders_", "src_rt|orders|csv|")
    for kind in kinds:
        assert any(k.startswith(kind) for k in ours), (kind, sorted(ours))
    assert all(p.startswith(session_dir + os.sep) for p in ours.values())
    assert os.listdir(tmp_path) == []  # no mmrs_ivf_centroids/_bucketed/_source_rt

    writes.clear()
    for name in names:
        QUERIES[name](spark, sf_dir).collect()
    assert writes == []


def test_session_artifact_registers_only_finished_writes(spark):
    """A failed write registers nothing; the retry runs the writer
    again into an emptied path, and only a finished write is reused."""
    import os

    from mit_map_reduce_spark.catalog import _session_artifact_dir, session_artifact

    key = "test|session_artifact|retry"

    def crash(path):
        os.makedirs(path)
        with open(os.path.join(path, "partial.txt"), "w") as fh:
            fh.write("x")
        raise RuntimeError("writer died mid-write")

    with pytest.raises(RuntimeError):
        session_artifact(spark, key, crash)
    seen = []

    def write(path):
        seen.append(os.path.exists(path))
        os.makedirs(path)
        with open(os.path.join(path, "data.txt"), "w") as fh:
            fh.write("x")

    path = session_artifact(spark, key, write)
    assert seen == [False]  # retry started from an empty path
    assert session_artifact(spark, key, write) == path
    assert seen == [False]  # reused, not rewritten
    assert os.listdir(path) == ["data.txt"]
    assert path.startswith(_session_artifact_dir(spark) + os.sep)


def test_scratch_base_has_two_users():
    """Only the catalog (session artifacts) and the streaming scratch
    may call scratch_base(): any other caller would be a private
    artifact store outside the session lifecycle, the shape the three
    removed cross-run stores had."""
    import ast
    import os

    import mit_map_reduce_spark

    pkg = os.path.dirname(mit_map_reduce_spark.__file__)
    callers = set()
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Call):
                    fn = node.func
                    name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                    if name == "scratch_base":
                        callers.add(os.path.relpath(path, pkg))
    assert callers == {"catalog.py", os.path.join("streaming", "queries.py")}


def _windowed_artifact(spark, src_dir, name):
    """A truncated shared_persist artifact whose build frame holds an
    unpartitioned scan-rooted window — the exact shape the probe exists
    to flag."""
    from pyspark.sql import Window, functions as F

    from mit_map_reduce_spark import catalog

    path = f"{src_dir}/probe_src.parquet"
    spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(path)

    def factory():
        df = spark.read.parquet(path).withColumn(
            "rn", F.row_number().over(Window.orderBy("id"))
        )
        df.persist().count()  # eager, like the fixpoint builders
        return df

    return catalog.shared_persist(spark, name, src_dir, factory)


def _checkpoint_rdd_id(art) -> int:
    return art._jdf.queryExecution().analyzed().rdd().id()


def test_truncated_artifact_probe_passthrough_and_cleanup(spark, tmp_path):
    """shared_persist truncates a persisted build frame with one path on
    every master: a reliable checkpoint whose files live in the
    session artifact dir. The truncation must not blind the plan
    probes (r15 ADVICE): the PRE-truncation build frame is stashed
    keyed by the checkpoint RDD id, and unpartitioned_corpus_windows
    descends through the RDDScanExec leaf into it. clear_shared_caches
    forgets the stash."""
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from mit_map_reduce_spark import catalog
    from mit_map_reduce_spark.plans import unpartitioned_corpus_windows

    art = _windowed_artifact(spark, str(tmp_path), "test_probe_passthrough")
    # truncated: the artifact frame itself is a checkpoint leaf ...
    leaf = art._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in leaf and "row_number" not in leaf
    # ... but the probe still sees the window inside the build frame
    consumer = art.groupBy("k").agg(F.max("rn").alias("m"))
    assert len(unpartitioned_corpus_windows(consumer)) == 1
    # the checkpoint files live in the session dir, swept at exit
    ck_uri = spark.sparkContext.getCheckpointDir()
    assert ck_uri is not None
    ck_dir = urlparse(ck_uri).path
    session_dir = os.path.realpath(catalog._session_artifact_dir(spark))
    assert os.path.realpath(ck_dir).startswith(session_dir + os.sep)
    rdd_dir = os.path.join(ck_dir, f"rdd-{_checkpoint_rdd_id(art)}")
    assert any(f.startswith("part-") for f in os.listdir(rdd_dir))
    catalog.clear_shared_caches()
    assert catalog._SHARED_BUILD_FRAMES == {}


def test_probe_passthrough_raises_when_build_frame_unwalkable(
    spark, tmp_path, monkeypatch
):
    """A py4j failure while resolving an artifact's build frame must
    raise out of the probe, not end the walk with an empty (passing)
    result."""
    from py4j.protocol import Py4JError
    from pyspark.sql import functions as F

    from mit_map_reduce_spark import catalog
    from mit_map_reduce_spark.plans import inspect as inspect_mod
    from mit_map_reduce_spark.plans import unpartitioned_corpus_windows

    art = _windowed_artifact(spark, str(tmp_path), "test_probe_fail_loud")
    build = catalog._SHARED_BUILD_FRAMES[_checkpoint_rdd_id(art)]
    real_plan_root = inspect_mod._plan_root

    def plan_root(df):
        if df is build:
            raise Py4JError("build frame plan unavailable")
        return real_plan_root(df)

    monkeypatch.setattr(inspect_mod, "_plan_root", plan_root)
    consumer = art.groupBy("k").agg(F.max("rn").alias("m"))
    try:
        with pytest.raises(Py4JError):
            unpartitioned_corpus_windows(consumer)
    finally:
        catalog.clear_shared_caches()
