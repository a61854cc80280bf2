import os

import pytest

# The test session's JVM heap. The library's 48g default sizes a production
# driver; on a 15 GB host it let one tier-1 session grow until the kernel's
# OOM killer stopped it. An explicit setting still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    from gensim_spark.session import get_spark

    s = get_spark("gensim_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


# FIXTURES.md §3a — gensim/test/test_bm25model.py:27,46
BM25_DOCS = [["cat", "dog", "mouse"], ["cat", "lion"], ["cat", "lion"]]

# FIXTURES.md §3b — gensim/test/utils.py:195-205 common_texts
COMMON_TEXTS = [
    ["human", "interface", "computer"],
    ["survey", "user", "computer", "system", "response", "time"],
    ["eps", "user", "interface", "system"],
    ["system", "human", "system", "eps"],
    ["user", "response", "time"],
    ["trees"],
    ["graph", "trees"],
    ["graph", "minors", "trees"],
    ["graph", "minors", "survey"],
]


@pytest.fixture(scope="session")
def bm25_docs():
    return BM25_DOCS


@pytest.fixture(scope="session")
def common_texts():
    return COMMON_TEXTS


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, tokens array<string>"
    )


def crash_commits(monkeypatch, when):
    """Make ``IceTable.commit_staged`` raise for every commit whose summary
    satisfies ``when``: the writer's files are staged but its snapshot
    never lands — a writer killed between the two commit phases."""
    from gensim_spark.index.icetable import IceTable

    real = IceTable.commit_staged

    def commit(self, files, write_uuid, summary=None, operation="append"):
        if when(summary or {}):
            raise RuntimeError("simulated crash before commit")
        return real(self, files, write_uuid, summary=summary,
                    operation=operation)

    monkeypatch.setattr(IceTable, "commit_staged", commit)


def staged_files(out_dir):
    """Every parquet data file under a store's ``data/`` — committed or
    not."""
    import glob
    import os

    return glob.glob(os.path.join(out_dir, "data", "**", "*.parquet"),
                     recursive=True)
