"""UDF signature inference, setup/teardown lifecycle, nested models, and
the delta unsafe-op guard (reference lib/udf_signature.py:1-236,
lib/udf.py:241-249, delta.py:27-45; test style mirrors
/root/reference/tests/unit/lib/test_udf_signature.py and
tests/func/test_delta.py unsafe-op cases).

NOTE deliberately no `from __future__ import annotations`: model classes
are defined INSIDE tests so cloudpickle ships them by value to executors,
and without the future import their field hints are real types that
get_type_hints resolves without module-namespace lookups.
"""

from dataclasses import dataclass
from typing import Iterator, NamedTuple, Optional

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datachain_spark import chain as dc
from datachain_spark.chain import DeltaDisabledError, read_values
from datachain_spark.udf import infer_output, infer_params, model_to_struct, spark_type_of


@pytest.fixture()
def ch(spark):
    return read_values(spark, v=[10.0, 20.0, 30.0], name=["aa", "bb", "cc"])


# ---------------- type mapping ----------------
def test_spark_type_of_generics():
    assert spark_type_of(list[float]) == T.ArrayType(T.DoubleType())
    assert spark_type_of(dict[str, int]) == T.MapType(T.StringType(), T.LongType())
    assert spark_type_of(Optional[str]) == T.StringType()


def test_model_to_struct_nested():
    @dataclass
    class Inner:
        x: int
        y: str

    @dataclass
    class Outer:
        name: str
        inner: Inner
        scores: list[float]

    st = model_to_struct(Outer)
    assert st.fieldNames() == ["name", "inner", "scores"]
    assert isinstance(st["inner"].dataType, T.StructType)
    assert st["inner"].dataType.fieldNames() == ["x", "y"]


# ---------------- inference ----------------
def test_infer_params_and_output():
    def double(v: float) -> float:
        return v * 2

    assert infer_params(double, ["v", "name"]) == ["v"]
    out = infer_output(double)
    assert out.fieldNames() == ["double"] and out["double"].dataType == T.DoubleType()

    def bad(missing_col: int) -> int:
        return missing_col

    with pytest.raises(ValueError, match="missing_col"):
        infer_params(bad, ["v"])
    with pytest.raises(ValueError, match="return annotation"):
        infer_output(lambda v: v)


def test_map_inferred_schema_no_output_dict(ch):
    def doubled(v: float) -> float:
        return v * 2

    out = ch.map(doubled)
    assert sorted(out.to_values("doubled")) == [20.0, 40.0, 60.0]
    # signal_map keyword names the output column
    out2 = ch.map(tripled=lambda v: v * 3, output={"tripled": float})
    assert sorted(out2.to_values("tripled")) == [30.0, 60.0, 90.0]


def test_map_model_output_expands_to_columns(ch):
    class Stats(NamedTuple):
        half: float
        label: str

    def stats(v: float, name: str) -> Stats:
        return Stats(v / 2, name.upper())

    out = ch.map(stats).order_by("v")
    assert out.to_values("half") == [5.0, 10.0, 15.0]
    assert out.to_values("label") == ["AA", "BB", "CC"]


def test_map_nested_model_column(ch):
    @dataclass
    class Inner:
        x: int

    @dataclass
    class Wrapped:
        tag: str
        inner: Inner

    def wrap(name: str) -> Wrapped:
        return Wrapped(tag=name, inner=Inner(x=len(name)))

    out = ch.map(wrap).order_by("v")
    rows = out.to_records()
    assert rows[0]["tag"] == "aa" and rows[0]["inner"]["x"] == 2
    # nested-aware partial select keeps the struct shape
    part = out.select("inner.x")
    assert part.schema["inner"].dataType.fieldNames() == ["x"]


def test_gen_inferred_from_iterator_annotation(ch):
    class Pair(NamedTuple):
        ch: str
        idx: int

    def letters(name: str) -> Iterator[Pair]:
        for i, c in enumerate(name):
            yield Pair(c, i)

    out = ch.gen(letters)
    assert out.count() == 6
    assert set(out.to_values("ch")) == {"a", "b", "c"}


def test_setup_teardown_lifecycle(ch, tmp_path):
    marker = str(tmp_path / "lifecycle")

    class Mapper:
        def setup(self):
            self.factor = 10
            with open(marker + ".setup", "a") as f:
                f.write("s")

        def teardown(self):
            with open(marker + ".teardown", "a") as f:
                f.write("t")

        def process(self, v: float) -> float:
            return v * self.factor

    out = ch.map(Mapper())
    assert sorted(out.to_values("process")) == [100.0, 200.0, 300.0]
    import os

    assert os.path.exists(marker + ".setup")
    assert os.path.exists(marker + ".teardown")
    n_setup = len(open(marker + ".setup").read())
    assert 1 <= n_setup <= 8  # once per python worker, never per row


def test_read_values_model_column(spark):
    @dataclass
    class FileModel:
        path: str
        size: int

    c = read_values(spark, f=[FileModel("a", 1), FileModel("b", 2)], n=[10, 20])
    assert isinstance(c.schema["f"].dataType, T.StructType)
    rows = c.order_by("n").to_records()
    assert rows[0]["f"] == {"path": "a", "size": 1}
    # dotted select keeps partial model
    assert c.select("f.path").schema["f"].dataType.fieldNames() == ["path"]


# ---------------- delta guard ----------------
def test_delta_guard_refuses_unsafe_ops(ch):
    d = ch.as_delta()
    for op in [
        lambda: d.group_by("name", n=F.count(F.lit(1))),
        lambda: d.union(ch),
        lambda: d.distinct("name"),
        lambda: d.merge(ch, on="name"),
        lambda: d.subtract(ch, on="name"),
        lambda: d.agg(lambda p: p, "name", output={"name": str}),
    ]:
        with pytest.raises(DeltaDisabledError):
            op()
    # safe ops still flow, and the flag propagates through them
    d2 = d.filter(F.col("v") > 5).mutate(v2=F.col("v") * 2)
    with pytest.raises(DeltaDisabledError):
        d2.distinct()
    # explicit override
    assert ch.as_delta(delta_unsafe=True).distinct("name").count() == 3


def test_udf_dict_output_default_fill_and_mismatch(spark):
    """Reference-style output validation (lib/udf.py pydantic construction):
    missing declared signals fill as NULL; a dict sharing NO keys with the
    declared output raises instead of storing an all-null row."""
    import pytest as _p

    from datachain_spark import chain as dc

    ch = dc.read_values(spark, id=[1, 2])

    def partial(id):
        # 'b' missing on purpose -> default-filled NULL
        return {"a": id * 10, "b": None} if id == 1 else {"a": id * 10}

    rows = {
        r["id"]: (r["a"], r["b"])
        for r in ch.map(partial, output={"a": int, "b": int}, params=["id"]).df.collect()
    }
    assert rows == {1: (10, None), 2: (20, None)}

    def typo(id):
        return {"aa": 1, "bb": 2}  # no declared key present

    with _p.raises(Exception, match="match none of the declared"):
        ch.map(typo, output={"a": int, "b": int}, params=["id"]).df.collect()


def test_udf_single_scalar_output_dict_handling(spark):
    """Single scalar output column: a dict return is a named-signal
    mapping (extract by name, raise on mismatch); a struct-typed single
    output still takes dict cells as the value."""
    import dataclasses

    import pytest as _p

    from datachain_spark import chain as dc

    ch = dc.read_values(spark, id=[1, 2])
    out = ch.map(lambda id: {"a": id * 5}, output={"a": int}, params=["id"])
    assert sorted(out.to_values("a")) == [5, 10]
    with _p.raises(Exception, match="match none of the declared"):
        ch.map(lambda id: {"zz": 1}, output={"a": int}, params=["id"]).df.collect()

    @dataclasses.dataclass
    class M:
        x: int

    got = ch.map(lambda id: M(id), output={"m": M}, params=["id"]).df.collect()
    assert sorted(r["m"]["x"] for r in got) == [1, 2]


# ---------- gen() scalar yields ----------
def test_gen_scalar_int_yield(spark):
    ch = dc.read_values(spark, n=[2, 3])

    def expand(n) -> "__import__('typing').Iterator[int]":  # noqa: F821
        for i in range(n):
            yield i

    out = ch.gen(expand, output={"i": int}, params=["n"]).to_values("i")
    assert sorted(out) == [0, 0, 1, 1, 2]


def test_gen_scalar_str_yield(spark):
    # multi-char strings used to crash (tuple("hi") -> column-count
    # mismatch); 1-char strings silently stored a shredded row
    ch = dc.read_values(spark, word=["hi", "x"])

    def echo(word):
        yield word
        yield word + "!"

    out = ch.gen(echo, output={"s": str}, params=["word"]).to_values("s")
    assert sorted(out) == ["hi", "hi!", "x", "x!"]
