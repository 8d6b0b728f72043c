"""Core Relation DSL semantics (operators the DuckDB oracle can't see:
ordering guarantees, positional refs, split routing, assert failure)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pig_spark import Relation


@pytest.fixture(scope="module")
def students(spark):
    rows = [
        Row(name="alice", age=20, gpa=3.5),
        Row(name="bob", age=22, gpa=2.0),
        Row(name="carol", age=20, gpa=4.0),
        Row(name=None, age=None, gpa=1.0),
    ]
    return Relation(spark.createDataFrame(rows))


def test_filter_and_dollar_refs(students):
    out = students.filter(F.col("age") == 20).foreach("$0", "$2").dump()
    assert sorted((r[0], r[1]) for r in out) == [("alice", 3.5), ("carol", 4.0)]


def test_foreach_aliasing(students):
    out = students.foreach("name", double_age=F.col("age") * 2).df
    assert out.columns == ["name", "double_age"]


def test_foreach_star(students):
    assert students.foreach("*").df.columns == ["name", "age", "gpa"]


def test_group_keeps_null_key(students):
    # Pig: null group key forms its own group (PigNullableWritable)
    out = students.group_by("age").agg(n=F.count(F.lit(1))).dump(10)
    by_key = {r["age"]: r["n"] for r in out}
    assert by_key[None] == 1 and by_key[20] == 2


def test_group_bag_shape(students):
    out = students.group_by("age").bag("st").df
    assert dict(out.dtypes)["st"].startswith("array<struct")


def test_split_routing_and_otherwise(students):
    young, old, other = students.split(
        F.col("age") < 21, F.col("age") >= 21, otherwise=True
    )
    assert young.df.count() == 2
    assert old.df.count() == 1
    # null-age row matches neither condition → OTHERWISE
    assert [r["gpa"] for r in other.dump()] == [1.0]


def test_union_onschema_null_fill(spark):
    a = Relation(spark.createDataFrame([Row(x=1, y="a")]))
    b = Relation(spark.createDataFrame([Row(x=2, z=3.0)]))
    out = a.union(b, onschema=True).df
    assert set(out.columns) == {"x", "y", "z"}
    rows = {r["x"]: r for r in out.collect()}
    assert rows[1]["z"] is None and rows[2]["y"] is None


def test_union_positional_no_dedup(students):
    assert students.union(students).df.count() == 8


def test_limit_and_distinct(students):
    assert students.foreach("age").distinct().df.count() == 3  # 20, 22, null
    assert students.limit(2).df.count() == 2


def test_assert_by_raises(students):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        students.assert_by(F.col("gpa") > 1.5, "low gpa").dump()
    assert "ASSERT failed" in str(exc.value)


def test_assert_by_passes(students):
    assert len(students.assert_by(F.col("gpa") > 0.0).dump()) == 4


def test_sample_bounds(students):
    n = students.sample(0.5, seed=1).df.count()
    assert 0 <= n <= 4


def test_with_scalar(students):
    out = students.with_scalar("max_gpa", students.group_all().agg(m=F.max("gpa")), "m")
    top = out.filter(F.col("gpa") == F.col("max_gpa")).dump()
    assert [r["name"] for r in top] == ["carol"]


def test_with_scalar_multirow_raises(students):
    """Pig runtime error parity (ReadScalars.java:40): a scalar source
    with >1 row must raise at execution, not silently duplicate."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    out = students.with_scalar("gpa2", students, "gpa")  # students has >1 row
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="more than one row"):
        out.dump()


def test_with_scalar_empty_is_null(students):
    empty = students.filter(F.lit(False))
    out = students.with_scalar("nope", empty, "gpa")
    assert all(r["nope"] is None for r in out.dump())


def test_order_by_explicit_ascending(students):
    names = [r["name"] for r in students.filter(F.col("age").isNotNull()).order_by("gpa", ascending=False).dump()]
    assert names == ["carol", "alice", "bob"]
