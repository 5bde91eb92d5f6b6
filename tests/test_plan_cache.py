"""The shared plan memo (:mod:`sophia_rs_spark.plan_cache`): a stored
plan is reused only while its key still describes what it reads, and
the reuse that repeated ``spark_triples`` + ``query`` traffic relies on
holds."""

import gc
import weakref

import pytest

from sophia_rs_spark import plan_cache
from sophia_rs_spark.plan_cache import CAP, listing, plan
from sophia_rs_spark.sources.direct_mapping import (
    VOC,
    XSD_INTEGER_SUFFIX,
    ColumnMap,
    TableMap,
    spark_triples,
)
from sophia_rs_spark.sparql import eval as E

MAPPING = [TableMap("t", "id", "thing", "Thing", [ColumnMap("name", VOC + "name")])]
SCHEMA = "id long, name string"


@pytest.fixture
def table(spark, tmp_path):
    """A two-row mapped table ``t`` under ``tmp_path`` (4 triples) →
    (directory, writer of more rows)."""

    def write(rows, mode):
        spark.createDataFrame(rows, SCHEMA).write.mode(mode).parquet(
            str(tmp_path / "t.parquet")
        )

    write([(1, "a"), (2, "b")], "overwrite")
    return str(tmp_path), write


def test_appended_part_file_is_read(spark, table):
    sf_dir, write = table
    assert spark_triples(spark, sf_dir, MAPPING).count() == 4
    write([(3, "c")], "append")
    assert spark_triples(spark, sf_dir, MAPPING).count() == 6


def test_overwritten_table_is_read(spark, table):
    sf_dir, write = table
    assert spark_triples(spark, sf_dir, MAPPING).count() == 4
    write([(9, "z")], "overwrite")
    assert spark_triples(spark, sf_dir, MAPPING).count() == 2


def test_unchanged_table_reuses_frame_and_query_plan(spark, table, monkeypatch):
    sf_dir, _ = table
    triples = spark_triples(spark, sf_dir, MAPPING)
    assert spark_triples(spark, sf_dir, MAPPING) is triples
    builds = []
    evaluate = E.evaluate
    monkeypatch.setattr(
        E, "evaluate", lambda *a: builds.append(1) or evaluate(*a)
    )
    text = "SELECT (COUNT(*) AS ?n) { ?s ?p ?o }"
    counts = [E.query(triples, text).collect()[0]["n"] for _ in range(2)]
    assert counts == ['"4' + XSD_INTEGER_SUFFIX] * 2
    assert len(builds) == 1


def test_unlistable_path_is_never_stored(spark, table):
    sf_dir, _ = table
    assert listing("hdfs://h/x") is None
    uri = "file://" + sf_dir  # Spark reads it; os cannot list it
    assert listing(f"{uri}/t.parquet") is None
    first = spark_triples(spark, uri, MAPPING)
    assert first.count() == 4
    assert spark_triples(spark, uri, MAPPING) is not first


class _Owner:
    pass


def _build(built, value=None):
    def build():
        built.append(1)
        return value if value is not None else object(), True

    return build


def test_owner_keeps_its_newest_plans():
    owner, built = _Owner(), []
    for k in range(CAP):
        plan(owner, k, _build(built))
    plan(owner, 0, _build(built))  # a hit makes key 0 the newest
    plan(owner, CAP, _build(built))  # evicts key 1, the oldest
    assert len(built) == CAP + 1
    plan(owner, 0, _build(built))
    plan(owner, CAP, _build(built))
    assert len(built) == CAP + 1
    plan(owner, 1, _build(built))
    assert len(built) == CAP + 2


def test_dropping_the_owner_frees_its_plans():
    owner, value = _Owner(), _Owner()
    freed = weakref.ref(value)
    plan(owner, "k", _build([], value))
    assert owner in plan_cache._PLANS
    del owner, value
    gc.collect()
    assert freed() is None
