import shutil

import pytest

from anisearch_model_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="asms-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def index_dir(spark, tmp_path_factory):
    """A small built index shared by query-path tests."""
    from anisearch_model_spark.datagen import gen_transcripts
    from anisearch_model_spark.index.store import build_index

    d = str(tmp_path_factory.mktemp("idx") / "main")
    shutil.rmtree(d, ignore_errors=True)
    tr = gen_transcripts(spark, 3000, seed=42)
    build_index(spark, tr, d, num_buckets=6)
    return d


@pytest.fixture
def each_path(monkeypatch):
    """``for path in each_path():`` runs the loop body twice: every
    request pinned to the driver ("local"), then to the cluster
    ("cluster"), by patching the driver-scoring bound of query/engine.py.
    A check inside the loop then holds on both scoring paths."""
    from anisearch_model_spark.query import engine

    def paths():
        for path in ("local", "cluster"):
            with monkeypatch.context() as mp:
                mp.setattr(engine, "LOCAL_MAX_POSTINGS",
                           1 << 40 if path == "local" else 0)
                yield path

    return paths
