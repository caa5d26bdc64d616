"""The session-artifact facility (``delta_lake_stock_pipeline_spark.artifacts``):
value-scoped memoization, scratch-dir ownership, and the declared setup
artifacts ``bench.py`` prices."""

from __future__ import annotations

import os
import weakref
from types import SimpleNamespace

import pytest

from delta_lake_stock_pipeline_spark import artifacts, session
from delta_lake_stock_pipeline_spark.artifacts import PRICED, artifact, clear_all, own_dir
from delta_lake_stock_pipeline_spark.operators import dedup, graph, multimodal, similarity
from delta_lake_stock_pipeline_spark.sources import fixtures
from delta_lake_stock_pipeline_spark.streaming import windows

from conftest import SF_DIR

# Every DataFrame-valued artifact, with the arguments after ``spark``.
FRAME_ARTIFACTS = [
    (fixtures._scan, (SF_DIR, "orders")),
    (fixtures._scan, (SF_DIR, "events")),
    (similarity._read_index, (os.path.join(SF_DIR, "region.parquet"),)),
    (dedup._shingle_posts, (SF_DIR,)),
    (dedup._dup_pairs, (SF_DIR,)),
    (dedup._minhash_sigs, (SF_DIR,)),
    (dedup._simhash_table, (SF_DIR,)),
    (multimodal._ahash_table, (SF_DIR,)),
    (multimodal._afp_table, (SF_DIR,)),
    (multimodal._nd_clusters, (SF_DIR,)),
    (multimodal._and_clusters, (SF_DIR,)),
    (multimodal._vframes_table, (SF_DIR,)),
    (multimodal._vnd_clusters, (SF_DIR,)),
    (graph._cs_pairs_cached, (SF_DIR,)),
    (graph._trade_edges_cached, (SF_DIR,)),
    (windows._tiles_cached, (SF_DIR,)),
]


@pytest.fixture(scope="module")
def child(spark):
    return spark.newSession()


@pytest.mark.parametrize(
    "build,args",
    FRAME_ARTIFACTS,
    ids=[b.__name__ + "-" * (len(a) > 1) + "".join(a[1:]) for b, a in FRAME_ARTIFACTS],
)
def test_child_session_plans_its_own_frames(spark, child, build, args):
    """A ``newSession()`` child shares the application but owns its SQL
    confs, so every DataFrame artifact it asks for must be planned under
    the child -- never the parent's memoized frame."""
    frames = lambda v: v if isinstance(v, list) else [v]  # noqa: E731
    assert all(df.sparkSession is spark for df in frames(build(spark, *args)))
    assert all(df.sparkSession is child for df in frames(build(child, *args)))


def test_child_session_shares_path_artifacts(spark, child):
    """Paths and values are per application: a child reuses the parent's
    tile files and span instead of rebuilding them."""
    assert windows._tile_files(child, SF_DIR) is windows._tile_files(spark, SF_DIR)
    assert windows._events_span(child, SF_DIR) is windows._events_span(spark, SF_DIR)


class _FakeSession:
    """Stands in for a SparkSession: the facility only reads the app id."""

    sparkContext = SimpleNamespace(applicationId="app-fault-test")


@pytest.fixture
def fake_root(monkeypatch, tmp_path):
    """Empty facility state and a scratch root under ``tmp_path``, so a
    broken guard could only ever delete test-owned dirs."""
    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setattr(session, "scratch_root", lambda: str(root))
    monkeypatch.setattr(artifacts, "_by_session", weakref.WeakKeyDictionary())
    monkeypatch.setattr(artifacts, "_by_app", {})
    monkeypatch.setattr(artifacts, "_dirs", [])
    return str(root)


def test_failed_build_removes_its_dirs_and_memoizes_nothing(fake_root):
    made = []

    @artifact
    def flaky(spark, sf_dir):
        made.append(session.scratch_mkdtemp(prefix="flaky_"))
        if len(made) == 1:
            raise RuntimeError("build failed")
        return made[-1]

    with pytest.raises(RuntimeError):
        flaky(_FakeSession(), "x")
    assert not os.path.exists(made[0])
    path = flaky(_FakeSession(), "x")  # nothing memoized: builds again
    assert len(made) == 2 and os.path.isdir(path)
    assert flaky(_FakeSession(), "x") == path and len(made) == 2
    clear_all()
    assert not os.path.exists(path)
    assert flaky(_FakeSession(), "x") != path and len(made) == 3


def test_nested_build_keeps_inner_dirs_when_outer_fails(fake_root):
    @artifact
    def inner(spark, sf_dir):
        return session.scratch_mkdtemp(prefix="inner_")

    @artifact
    def outer(spark, sf_dir):
        session.scratch_mkdtemp(prefix="outer_")
        inner(spark, sf_dir)
        raise RuntimeError("outer failed")

    with pytest.raises(RuntimeError):
        outer(_FakeSession(), "x")
    kept = inner(_FakeSession(), "x")
    assert os.listdir(fake_root) == [os.path.basename(kept)]
    clear_all()
    assert os.listdir(fake_root) == []


def test_clear_all_removes_only_recorded_dirs_below_the_root(fake_root):
    """The round-10 incident: a cache entry whose scratch dir was the
    shared root itself made teardown delete the whole root."""
    stranger = session.scratch_mkdtemp(prefix="stranger_")  # no build: unowned

    @artifact
    def greedy(spark, sf_dir):
        own_dir(fake_root)
        own_dir(os.path.dirname(fake_root))
        return session.scratch_mkdtemp(prefix="owned_")

    owned = greedy(_FakeSession(), "x")
    clear_all()
    assert not os.path.exists(owned)
    assert os.path.isdir(fake_root) and os.path.isdir(stranger)


def test_priced_artifacts_declare_registry_consumers():
    """Static: every ``used_by=`` key is a registry key, and bench prices
    exactly the declared artifacts under the setup names and order its
    JSON has always had."""
    import bench
    from delta_lake_stock_pipeline_spark.operators import all_queries

    keys = set(all_queries())
    for art in PRICED.values():
        assert art.used_by and art.used_by <= keys, (art.name, art.used_by - keys)
    assert bench.SETUP_ARTIFACTS == [
        "ann_ivf_index",
        "ann_pq_index",
        "ann_ivfpq_index",
        "dedup_postings",
        "dedup_pairs",
        "image_fingerprints",
        "audio_fingerprints",
        "image_nd_clusters",
        "audio_nd_clusters",
        "video_frames",
        "video_nd_clusters",
        "trade_adjacency",
        "trade_edges",
        "stream_tiles",
    ]
    assert set(PRICED) == set(bench.SETUP_ARTIFACTS)
