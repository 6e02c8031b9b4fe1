"""UDF signature inference + lifecycle — the reference's udf_signature.py
and setup/teardown hooks, Spark-first.

The reference infers a UDF's input params and output schema from Python
type hints (/root/reference/src/datachain/lib/udf_signature.py:1-236) and
gives worker-lifetime resources setup()/teardown() hooks on its UDF classes
(/root/reference/src/datachain/lib/udf.py:241-249). Here:

- `infer_params(fn, columns)` reads the function signature and maps
  parameter names to input columns (the reference maps params to signals
  the same way).
- `infer_output(fn, default_name)` reads the return annotation:
  * a plain type (int, str, list[float], Optional[T], ...) becomes one
    output column named after the function (or `default_name`);
  * a dataclass or typing.NamedTuple becomes MULTIPLE output columns, one
    per model field, with nested models mapping to nested StructType —
    the reference flattens Pydantic models into `file__path`-style flat
    columns (signal_schema.py:260-279) because SQL warehouses lack
    nested types; Spark keeps real nested structs.
- `model_to_struct(cls)` is the model -> StructType mapping, recursive.
- `Lifecycle` wraps callables or Mapper-style objects (process + optional
  setup/teardown) so map/gen/agg can run setup once per executor-python
  worker before the first batch and teardown after the last — not per
  row, not per batch.
- `map_adapter`/`gen_adapter` turn a UDF's return value into output
  tuples and `row_runner` is the one Arrow batch loop around them, shared
  by map and gen with and without `checkpoint=`.
"""

from __future__ import annotations

import dataclasses
import datetime
import inspect
import typing
from collections.abc import Callable
from typing import Any, get_args, get_origin, get_type_hints

from pyspark.sql import types as T

_PRIMITIVES: dict[type, T.DataType] = {
    int: T.LongType(),
    float: T.DoubleType(),
    str: T.StringType(),
    bool: T.BooleanType(),
    bytes: T.BinaryType(),
    datetime.datetime: T.TimestampType(),
    datetime.date: T.DateType(),
}


def _is_namedtuple(cls: Any) -> bool:
    return (
        isinstance(cls, type)
        and issubclass(cls, tuple)
        and hasattr(cls, "_fields")
        and hasattr(cls, "__annotations__")
    )


def is_model(cls: Any) -> bool:
    """A 'model' = dataclass or typing.NamedTuple (the reference's Pydantic
    DataModel analog, lib/data_model.py:31-49)."""
    return dataclasses.is_dataclass(cls) or _is_namedtuple(cls)


def spark_type_of(py_type: Any) -> T.DataType:
    """Python type annotation -> Spark DataType (reference
    NAMES_TO_TYPES/python-to-SQL mapping, lib/signal_schema.py:53-71)."""
    if isinstance(py_type, T.DataType):
        return py_type
    if py_type in _PRIMITIVES:
        return _PRIMITIVES[py_type]
    origin = get_origin(py_type)
    if origin in (typing.Union, getattr(__import__("types"), "UnionType", ())):
        args = [a for a in get_args(py_type) if a is not type(None)]
        if len(args) == 1:
            return spark_type_of(args[0])  # Optional[T] -> T (nullable anyway)
        raise TypeError(f"unsupported union type {py_type!r}")
    if origin in (list, typing.List):  # noqa: UP006
        (elem,) = get_args(py_type) or (str,)
        return T.ArrayType(spark_type_of(elem))
    if origin in (dict, typing.Dict):  # noqa: UP006
        k, v = get_args(py_type) or (str, str)
        return T.MapType(spark_type_of(k), spark_type_of(v))
    if is_model(py_type):
        return model_to_struct(py_type)
    raise TypeError(f"cannot map python type {py_type!r} to a Spark type")


def _hints(cls: Any) -> dict[str, Any]:
    try:
        return get_type_hints(cls)
    except NameError as e:
        raise TypeError(
            f"cannot resolve type hints of {cls.__name__}: {e}. Under "
            "`from __future__ import annotations`, model classes must be "
            "defined at module level (their field types resolve via the "
            "module namespace)"
        ) from e


def model_to_struct(cls: Any) -> T.StructType:
    """dataclass / NamedTuple -> nested StructType, recursively."""
    if dataclasses.is_dataclass(cls):
        hints = _hints(cls)
        return T.StructType(
            [T.StructField(f.name, spark_type_of(hints[f.name]), True) for f in dataclasses.fields(cls)]
        )
    if _is_namedtuple(cls):
        hints = _hints(cls)
        return T.StructType(
            [T.StructField(n, spark_type_of(hints[n]), True) for n in cls._fields]
        )
    raise TypeError(f"{cls!r} is not a dataclass or NamedTuple")


def model_from_cell(cls: Any, data: Any) -> Any:
    """Struct cell (dict / Row) -> model instance, recursively — the
    reference's SignalSchema.row_to_objs rebuilding Pydantic objects from
    warehouse rows (lib/signal_schema.py:591-614). Missing keys keep the
    model's defaults; extra keys are ignored (so a File hint tolerates a
    struct without `version`/`location`)."""
    if data is None or isinstance(data, cls):
        return data
    if hasattr(data, "asDict"):
        data = data.asDict()
    hints = _hints(cls)
    names = (
        [f.name for f in dataclasses.fields(cls)]
        if dataclasses.is_dataclass(cls)
        else list(cls._fields)
    )
    kwargs = {n: _coerce_cell(hints[n], data[n]) for n in names if n in data}
    return cls(**kwargs)


def _coerce_cell(py_type: Any, v: Any) -> Any:
    if v is None:
        return None
    origin = get_origin(py_type)
    if origin in (typing.Union, getattr(__import__("types"), "UnionType", ())):
        args = [a for a in get_args(py_type) if a is not type(None)]
        if len(args) == 1:
            return _coerce_cell(args[0], v)
        return v
    if is_model(py_type):
        return model_from_cell(py_type, v)
    if origin in (list, typing.List):  # noqa: UP006
        (elem,) = get_args(py_type) or (Any,)
        return [_coerce_cell(elem, x) for x in v]
    if origin in (dict, typing.Dict):  # noqa: UP006
        args = get_args(py_type)
        vt = args[1] if args else Any
        return {k: _coerce_cell(vt, x) for k, x in v.items()}
    if py_type is bytes and isinstance(v, bytearray):
        return bytes(v)
    return v


def input_converters(fn: Any, use: list[str]) -> list[Callable | None] | None:
    """Per-input-column converters for a row UDF, aligned positionally to
    `use`: a parameter type-hinted with a model (e.g. `file: File`) gets a
    dict->model coercer, everything else passes through. Returns None when
    no parameter is model-hinted, so the common scalar path pays nothing.
    This is what lets the reference idiom `.map(lambda file:
    file.read_text())` work against the Spark `file` struct (reference
    signal_schema.py:591-614 + lib/udf.py row-to-feature conversion)."""
    import functools

    proc = _process_fn(fn)
    try:
        hints = get_type_hints(proc)
    except Exception:
        return None
    sig = inspect.signature(proc)
    params = [
        p.name
        for p in sig.parameters.values()
        if p.kind in (p.POSITIONAL_OR_KEYWORD, p.POSITIONAL_ONLY)
    ]
    convs: list[Callable | None] = []
    for name in params[: len(use)]:
        t = hints.get(name)
        origin = get_origin(t)
        if origin in (typing.Union, getattr(__import__("types"), "UnionType", ())):
            args = [a for a in get_args(t) if a is not type(None)]
            t = args[0] if len(args) == 1 else t
        if t is not None and is_model(t):
            convs.append(functools.partial(model_from_cell, t))
        else:
            convs.append(None)
    convs += [None] * (len(use) - len(convs))
    return convs if any(c is not None for c in convs) else None


def coerce_args(convs: list[Callable | None] | None, row: tuple) -> tuple:
    if convs is None:
        return row
    return tuple(v if c is None else c(v) for c, v in zip(convs, row))


def model_to_row(obj: Any) -> Any:
    """Model instance -> plain tuple/dict tree Spark can ingest."""
    if dataclasses.is_dataclass(obj) and not isinstance(obj, type):
        return tuple(model_to_row(getattr(obj, f.name)) for f in dataclasses.fields(obj))
    if isinstance(obj, tuple) and hasattr(obj, "_fields"):
        return tuple(model_to_row(v) for v in obj)
    return obj


def _process_fn(fn: Any) -> Callable:
    """The callable that actually processes rows: a function itself, or a
    Mapper-style object's .process (reference lib/udf.py UDFBase)."""
    if inspect.isfunction(fn) or inspect.ismethod(fn) or isinstance(fn, type):
        if isinstance(fn, type):
            raise TypeError("pass an INSTANCE of a Mapper-style class, not the class")
        return fn
    if hasattr(fn, "process"):
        return fn.process
    if callable(fn):
        return fn
    raise TypeError(f"{fn!r} is not callable and has no .process")


def infer_params(fn: Any, columns: list[str]) -> list[str]:
    """Map the function's positional parameters to input column names
    (reference udf_signature.py parses process() params the same way)."""
    proc = _process_fn(fn)
    sig = inspect.signature(proc)
    params = [
        p.name
        for p in sig.parameters.values()
        if p.kind in (p.POSITIONAL_OR_KEYWORD, p.POSITIONAL_ONLY)
    ]
    missing = [p for p in params if p not in columns]
    if missing:
        raise ValueError(
            f"UDF parameter(s) {missing} do not match any input column "
            f"(available: {columns}); pass params=[...] explicitly"
        )
    return params


def infer_output(fn: Any, default_name: str | None = None) -> T.StructType:
    """Output schema from the return annotation. Models expand to one
    column per field (nested models stay nested structs); plain types
    become a single column named after the function."""
    proc = _process_fn(fn)
    hints = get_type_hints(proc)
    if "return" not in hints:
        raise ValueError(
            f"cannot infer output schema: {getattr(proc, '__name__', proc)!r} has "
            "no return annotation; pass output={...} explicitly"
        )
    ret = hints["return"]
    origin = get_origin(ret)
    # generators: Iterator[X] / Iterable[X] -> X per yielded element
    if origin in (
        typing.Iterator,
        typing.Iterable,
        typing.Generator,
    ) or (origin is not None and origin.__name__ in ("Iterator", "Iterable", "Generator", "generator")):
        ret = get_args(ret)[0]
        origin = get_origin(ret)
    if is_model(ret):
        return model_to_struct(ret)
    name = default_name or getattr(proc, "__name__", None)
    if not name or name == "<lambda>":
        raise ValueError("cannot name the output of a lambda; pass output={...}")
    return T.StructType([T.StructField(name, spark_type_of(ret), True)])


class Lifecycle:
    """setup()/teardown() wrapper: runs once per Python worker around the
    Arrow batch iterator (reference lib/udf.py:241-249 runs them once per
    worker process — identical granularity)."""

    def __init__(self, fn: Any):
        self.fn = fn
        self.process = _process_fn(fn)

    def __enter__(self) -> Callable:
        setup = getattr(self.fn, "setup", None)
        if callable(setup):
            setup()
        return self.process

    def __exit__(self, *exc: Any) -> None:
        teardown = getattr(self.fn, "teardown", None)
        if callable(teardown):
            teardown()


def model_cell(v: Any) -> Any:
    """Model instance -> dict tree (what Arrow expects for struct cells),
    also inside dict values and list items."""
    if isinstance(v, (str, int, float, bytes, type(None))):
        return v
    if isinstance(v, dict):
        return {k: model_cell(x) for k, x in v.items()}
    if isinstance(v, list):
        return [model_cell(x) for x in v]
    if dataclasses.is_dataclass(v) and not isinstance(v, type):
        return {f.name: model_cell(getattr(v, f.name)) for f in dataclasses.fields(v)}
    if isinstance(v, tuple) and hasattr(v, "_fields"):
        return {n: model_cell(getattr(v, n)) for n in v._fields}
    return v


def _cell_value(cell: dict, name: str, names: tuple[str, ...]) -> Any:
    """UDF dict-output validation + default fill (reference lib/udf.py:
    pydantic construction fills declared defaults and raises on fully
    mismatched output). Missing declared signals fill as NULL — model
    defaults were already applied at dataclass/NamedTuple construction —
    but a non-empty dict sharing NO keys with the declared output is a
    wiring error (typo'd names) and raises with the two key sets, instead
    of silently storing an all-null row."""
    if name in cell:
        return cell[name]
    if cell and not any(n in cell for n in names):
        raise ValueError(
            f"UDF output dict keys {sorted(cell)} match none of the declared "
            f"output columns {list(names)}"
        )
    return None


# ---------- the one row path of map/gen, with or without checkpoint= ----------
# An adapter turns one input row into its schema-ordered output tuples:
# `(proc, row) -> list[tuple]`; row_runner drives it over Arrow batches and
# hands each batch's per-row results to an `emit(pdf, outs) -> pdf` that
# shapes the frame (map columns, gen rows, or checkpoint-keyed rows).


def output_row(item: Any, names: tuple[str, ...], struct_col: bool) -> tuple:
    """One UDF output item -> its schema-ordered row; the one rule of map
    and gen. A model instance becomes a dict. For a single struct-typed
    column (`struct_col`) a dict is the column's VALUE unless it holds the
    column's name; any other dict maps signal names to values. Any other
    item is unpacked across several columns; for one column a 1-tuple is
    the row and anything else is the value."""
    cell = model_cell(item)
    if isinstance(cell, dict):
        if struct_col and names[0] not in cell:
            return (cell,)
        return tuple(_cell_value(cell, n, names) for n in names)
    if len(names) > 1:
        return tuple(cell)
    # tuple("hi") would shred a string into characters
    return cell if isinstance(cell, tuple) and len(cell) == 1 else (cell,)


def _struct_col(out_struct: T.StructType) -> bool:
    return len(out_struct) == 1 and isinstance(out_struct.fields[0].dataType, T.StructType)


def map_adapter(out_struct: T.StructType, convs: list | None) -> Callable:
    """1:1 adapter: exactly one output tuple per row."""
    names, struct_col = tuple(out_struct.names), _struct_col(out_struct)

    def adapt(proc: Callable, row: tuple) -> list[tuple]:
        return [output_row(proc(*coerce_args(convs, row)), names, struct_col)]

    return adapt


def gen_adapter(out_struct: T.StructType, convs: list | None) -> Callable:
    """1:N adapter: one output tuple per yielded item (possibly none)."""
    names, struct_col = tuple(out_struct.names), _struct_col(out_struct)

    def adapt(proc: Callable, row: tuple) -> list[tuple]:
        return [output_row(item, names, struct_col) for item in proc(*coerce_args(convs, row))]

    return adapt


def row_runner(fn: Any, adapter: Callable, use: list[str], emit: Callable) -> Callable:
    """The mapInPandas function of every map/gen stage: setup()/teardown()
    once per worker, the adapter per row, `emit` per batch."""

    def run(batches):
        with Lifecycle(fn) as proc:
            for pdf in batches:
                rows = pdf[use].itertuples(index=False, name=None)
                yield emit(pdf, [adapter(proc, row) for row in rows])

    return run


class AbstractUDF:
    """Class-based UDF contract (reference lib/utils.py:15-26 AbstractUDF +
    lib/udf.py:235-630 UDFBase): subclass, implement `process`, optionally
    `setup`/`teardown` (run once per worker around the Arrow batch
    iterator — Lifecycle above). Pass an INSTANCE to Chain.map/gen/agg/
    map_batches; input columns come from `process`'s parameter names and
    the output schema from its return annotation, exactly like a plain
    function UDF. Constructor kwargs land on `self`, so per-job state
    (paths, thresholds, loaded models) travels to executors by pickle."""

    def __init__(self, **kwargs: Any):
        for k, v in kwargs.items():
            setattr(self, k, v)

    def process(self, *args: Any, **kwargs: Any) -> Any:
        raise NotImplementedError(
            f"{type(self).__name__} must implement process()"
        )

    def setup(self) -> None:
        pass

    def teardown(self) -> None:
        pass


class Mapper(AbstractUDF):
    """1:1 row transform — use with Chain.map (reference lib/udf.py:435-478)."""


class BatchMapper(AbstractUDF):
    """N:N batch transform over pandas Series — use with Chain.map_batches
    (reference lib/udf.py:480-539)."""


class Generator(AbstractUDF):
    """1:N row expansion; `process` yields/returns an iterable of outputs —
    use with Chain.gen (reference lib/udf.py:541-598)."""


class Aggregator(AbstractUDF):
    """N:M group transform; `process` receives column-value lists per
    group — use with Chain.agg (reference lib/udf.py:600-630)."""


class SetupAdapter:
    """Binds Chain.setup() values to a UDF (reference datachain.py
    .setup(), 2751-2793): parameters of `fn` whose names match setup keys
    are filled with the callables' results — evaluated ONCE per Python
    worker inside setup(), so non-picklable resources (API clients, model
    handles) are constructed executor-side — while the remaining
    parameters keep reading input columns. The synthesized `process`
    exposes only the column parameters (with the inner fn's already-
    resolved type hints), so infer_params / infer_output /
    input_converters work unchanged."""

    def __init__(self, fn: Any, setup_vals: dict[str, Callable]):
        inner = _process_fn(fn)
        sig = inspect.signature(inner)
        order = [
            p
            for p in sig.parameters.values()
            if p.kind in (p.POSITIONAL_OR_KEYWORD, p.POSITIONAL_ONLY)
        ]
        names = [p.name for p in order]
        self.fn = fn
        self._vals = {k: v for k, v in setup_vals.items() if k in names}
        self._order = names
        self._resolved: dict[str, Any] = {}
        col_params = [p for p in order if p.name not in self._vals]
        try:
            hints = get_type_hints(inner)  # resolve in the INNER fn's context
        except Exception:
            hints = {}

        def process(*args: Any) -> Any:
            vals = self._resolved
            it = iter(args)
            return inner(*(vals[n] if n in vals else next(it) for n in self._order))

        process.__signature__ = inspect.Signature(  # type: ignore[attr-defined]
            [p.replace(annotation=inspect.Parameter.empty) for p in col_params]
        )
        # resolved type OBJECTS (not strings) -> get_type_hints needs no eval
        process.__annotations__ = {
            **{p.name: hints[p.name] for p in col_params if p.name in hints},
            **({"return": hints["return"]} if "return" in hints else {}),
        }
        process.__name__ = getattr(inner, "__name__", "process")
        self.process = process

    def setup(self) -> None:
        inner_setup = getattr(self.fn, "setup", None)
        if callable(inner_setup):
            inner_setup()
        self._resolved = {k: v() for k, v in self._vals.items()}

    def teardown(self) -> None:
        inner = getattr(self.fn, "teardown", None)
        if callable(inner):
            inner()


def bind_setup(fn: Any, setup_vals: dict[str, Callable] | None) -> Any:
    """Wrap fn in a SetupAdapter iff any of its parameters name a setup
    value; otherwise return fn unchanged (zero overhead)."""
    if not setup_vals:
        return fn
    proc = _process_fn(fn)
    try:
        names = {
            p.name
            for p in inspect.signature(proc).parameters.values()
            if p.kind in (p.POSITIONAL_OR_KEYWORD, p.POSITIONAL_ONLY)
        }
    except (TypeError, ValueError):
        return fn
    return SetupAdapter(fn, setup_vals) if names & set(setup_vals) else fn
