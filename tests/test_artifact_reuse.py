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


def test_truncated_artifact_probe_passthrough_and_cleanup(spark):
    """The r15 localCheckpoint lineage truncation must not blind the
    plan probes (r15 ADVICE): shared_persist stashes the PRE-truncation
    build frame keyed by the checkpoint RDD id, and
    unpartitioned_corpus_windows descends through the RDDScanExec leaf
    into it. clear_shared_caches must also free the checkpoint blocks
    themselves (they live outside the CacheManager, so plain
    DataFrame.unpersist() is a no-op on them)."""
    from pyspark.sql import Window, functions as F

    from mit_map_reduce_spark import catalog
    from mit_map_reduce_spark.plans import unpartitioned_corpus_windows

    # a build frame with an unpartitioned scan-rooted window inside —
    # the exact shape the probe exists to flag
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/probe_src.parquet"
        spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(path)

        def factory():
            df = (
                spark.read.parquet(path)
                .withColumn("rn", F.row_number().over(Window.orderBy("id")))
            )
            df.persist().count()  # eager, like the fixpoint builders
            return df

        art = catalog.shared_persist(
            spark, "test_probe_passthrough", d, factory
        )
        # truncated: the artifact frame itself is a checkpoint leaf ...
        leaf = art._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in leaf and "row_number" not in leaf
        # ... but the probe still sees the window inside the build frame
        consumer = art.groupBy("k").agg(F.max("rn").alias("m"))
        assert len(unpartitioned_corpus_windows(consumer)) == 1
        # checkpoint blocks are tracked and freed on clear
        key = (id(spark), "test_probe_passthrough", d)
        jrdd = catalog._CHECKPOINT_RDDS.get(key)
        assert jrdd is not None
        assert jrdd.id() in catalog._SHARED_BUILD_FRAMES
        catalog.clear_shared_caches()
        assert catalog._CHECKPOINT_RDDS == {}
        assert catalog._SHARED_BUILD_FRAMES == {}
        # the unpersist call went through without raising; block drop is
        # async (blocking=False) so we only pin the registry hygiene here
