"""Chain — the DataChain-style chainable user API, Spark-first.

Reproduces the reference's lazy chain surface (`DataChain`,
/root/reference/src/datachain/lib/dc/datachain.py:119) as a thin facade
over a Spark DataFrame: every chain method appends Catalyst operators
instead of the reference's Step list (/root/reference/src/datachain/query/
dataset.py:2140), so there is no custom IR, no subquery nesting, and no
row-wise Python in the relational path. A user of the reference maps:

    dc.read_storage(...)        -> chain.read_parquet/read_csv/read_json
    dc.read_dataset(name, ver)  -> chain.read_dataset (LakeTable snapshot)
    .select/.filter/.mutate     -> same names here
    .merge/.union/.subtract     -> same names (Catalyst joins)
    .diff                       -> same (datachain_spark.diff)
    .group_by(x=func.sum(...))  -> same via pyspark.sql.functions
    .map/.gen/.agg/.batch_map   -> Arrow-vectorized variants (per-row
                                   Python replaced by pandas batches,
                                   reference lib/udf.py:435-636)
    .save(name, version)        -> versioned LakeTable dataset + semver tag
                                   (reference catalog.py:796-890)

`.settings(...)` (reference lib/settings.py) is supported with
Spark-mapped semantics — see the Settings dataclass: `parallel` sizes
UDF-stage repartitioning, `namespace`/`project` qualify bare dataset
names, `batch_size` sizes checkpoint chunks. The knobs the reference's
multiprocess pool needed (worker count, task size, cache, prefetch) are
not settings here, because Spark executors are the dispatcher; passing
one raises SettingsError.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass, fields
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datachain_spark.lake.table import LakeTable
from datachain_spark.udf import (
    Lifecycle,
    bind_setup,
    gen_adapter,
    infer_output,
    infer_params,
    input_converters,
    is_model,
    map_adapter,
    model_cell,
    model_to_struct,
    row_runner,
    spark_type_of,
)

DEFAULT_CATALOG = os.environ.get("DATACHAIN_SPARK_HOME", os.path.expanduser("~/.datachain_spark"))


def _output_schema(output: dict[str, Any]) -> T.StructType:
    # values may be python types, Spark DataTypes, typing generics
    # (list[float], Optional[str]) or dataclass/NamedTuple models (nested
    # StructType) — see datachain_spark/udf.py
    return T.StructType([T.StructField(k, spark_type_of(v), True) for k, v in output.items()])


class SettingsError(ValueError):
    """Invalid .settings() argument (reference lib/settings.py:10-12)."""


@dataclass(frozen=True)
class Settings:
    """Chain execution settings (reference lib/settings.py Settings;
    datachain.py .settings()). On Spark the cluster and Catalyst own most
    of what the reference's multiprocess dispatcher needed knobs for, so
    the semantics map as:

    - parallel:   repartition width applied to the input of map/gen/
                  map_batches UDF stages (the reference's worker-process
                  count; here it sizes the Arrow task wave).
    - namespace/  default qualifiers for BARE dataset names in save()/
      project:    read_dataset() — `settings(namespace="dev",
                  project="etl").save("x")` lands at dev.etl.x
                  (reference Settings.namespace/project).
    - batch_size: row-chunk size of checkpointed map/gen commits
                  (the reference's insert batch; default 200,000).

    The reference's dispatcher knobs (worker count, task size, cache,
    prefetch) are not settings: executor-local caching and task sizing
    belong to Spark's scheduler, and file prefetch is
    sources/storage.prefetch_files.
    """

    parallel: int | None = None
    namespace: str | None = None
    project: str | None = None
    batch_size: int | None = None

    def __post_init__(self) -> None:
        for fld, typ in (
            ("parallel", int),
            ("batch_size", int),
        ):
            v = getattr(self, fld)
            if v is not None and (not isinstance(v, typ) or (typ is int and isinstance(v, bool))):
                raise SettingsError(
                    f"'{fld}' argument must be {typ.__name__}"
                    f" while {v.__class__.__name__} was given"
                )
        for fld in ("namespace", "project"):
            v = getattr(self, fld)
            if v is not None and not isinstance(v, str):
                raise SettingsError(
                    f"'{fld}' argument must be str while {v.__class__.__name__} was given"
                )

    def merged(self, **kw) -> "Settings":
        cur = {f.name: getattr(self, f.name) for f in fields(self)}
        for k, v in kw.items():
            if k not in cur:
                raise SettingsError(f"unknown setting {k!r}")
            cur[k] = v
        return Settings(**cur)

    def qualify(self, name: str) -> str:
        """Apply default namespace/project to a BARE dataset name."""
        if "." in name or not (self.namespace or self.project):
            return name
        from datachain_spark.namespaces import DEFAULT_NAMESPACE, DEFAULT_PROJECT

        ns = self.namespace or DEFAULT_NAMESPACE
        proj = self.project or DEFAULT_PROJECT
        return f"{ns}.{proj}.{name}"


class DeltaDisabledError(RuntimeError):
    """Raised for order/set-sensitive operators on a delta-enabled chain —
    incremental recompute over a diff is incorrect through aggregations,
    unions, distinct or merges (the reference refuses identically,
    /root/reference/src/datachain/delta.py:27-45, decorators at
    datachain.py:1247,1302,1843). Pass delta_unsafe=True to as_delta() to
    override knowingly."""


class C:
    """Column helper mirroring the reference's `C` (query/schema.py:45-64):
    C("a.b") resolves nested fields; .glob() maps to SQL LIKE-style
    matching, .regexp() to rlike."""

    def __new__(cls, name: str) -> Column:  # noqa: D102
        return F.col(name)

    @staticmethod
    def glob(name: str, pattern: str) -> Column:
        # translate glob to SQL LIKE: * -> %, ? -> _
        like = pattern.replace("%", r"\%").replace("_", r"\_").replace("*", "%").replace("?", "_")
        return F.col(name).like(like)

    @staticmethod
    def regexp(name: str, pattern: str) -> Column:
        return F.col(name).rlike(pattern)


class Chain:
    """Lazy chainable dataset. Immutable: every method returns a new Chain."""

    def __init__(
        self,
        df: DataFrame,
        catalog_root: str | None = None,
        delta: bool = False,
        delta_unsafe: bool = False,
        settings: Settings | None = None,
    ):
        if catalog_root is None:
            # the active Session owns the catalog (reference Session
            # semantics, query/session.py): a chain built inside
            # `with Session(..., catalog_root=r):` saves/reads under r,
            # so save(name=None) temp datasets land where cleanup() looks
            from datachain_spark.session import Session

            ctx = Session._CONTEXTS[-1] if Session._CONTEXTS else None
            catalog_root = ctx.catalog_root if ctx else DEFAULT_CATALOG
        self.df = df
        self.catalog_root = catalog_root
        self._delta = delta
        self._delta_unsafe = delta_unsafe
        self._settings = settings or Settings()
        self._setup: dict[str, Callable] = {}
        # provenance, set by read_dataset()/save() (reference name/version/
        # dataset properties); transformations drop it — the result is no
        # longer that dataset
        self._dataset_name: str | None = None
        self._dataset_version: str | int | None = None

    def _evolve(self, df: DataFrame) -> "Chain":
        out = Chain(
            df,
            self.catalog_root,
            delta=self._delta,
            delta_unsafe=self._delta_unsafe,
            settings=self._settings,
        )
        out._setup = dict(self._setup)
        return out

    def setup(self, **kwargs: Callable) -> "Chain":
        """Register worker-evaluated objects for UDFs (reference
        datachain.py:2751-2793): each value is a CALLABLE evaluated lazily
        once per Python worker (never on the driver, never pickled
        evaluated — exactly what a non-picklable API client needs); a
        map/gen parameter with a matching NAME receives the object instead
        of a column:

            ch.setup(client=lambda: Client(KEY))
              .map(lambda client, text: client.ask(text), output={...})
        """
        dup = set(self._setup) & set(kwargs)
        if dup:
            raise ValueError(f"already setup: {sorted(dup)}")
        bad = [k for k, v in kwargs.items() if not callable(v)]
        if bad:
            raise ValueError(
                f"setup value(s) {bad} must be callables (use `lambda: value`)"
            )
        out = self._evolve(self.df)
        out._setup = {**self._setup, **kwargs}
        return out

    # ---------- reference DataChain method-surface parity ----------
    # (thin delegates; each cites its reference signature)

    def apply(self, func: Callable, *args, **kwargs):
        """func(self, *args) — chain-level function application for
        composing reusable pipeline fragments (reference
        datachain.py:893-915)."""
        return func(self, *args, **kwargs)

    def batch_map(self, fn: Callable, output: dict[str, Any] | None = None) -> "Chain":
        """Reference name for map_batches (datachain.py:1144-1219)."""
        return self.map_batches(fn, output)

    def clone(self) -> "Chain":
        """Copy of this chain (reference datachain.py:345-350)."""
        return self._evolve(self.df)

    def c(self, column: str | Column) -> Column:
        """Column reference bound to this chain (reference
        datachain.py:288-294)."""
        return self.column(column) if isinstance(column, str) else column

    def column(self, name: str) -> Column:
        """Column by name, validated against the schema — nested fields
        use dotted paths (reference datachain.py:272-287)."""
        head = name.split(".")[0]
        if head not in self.df.columns:
            raise ValueError(
                f"column {name!r} not found (available: {self.df.columns})"
            )
        return F.col(name)

    @property
    def delta(self) -> bool:
        """True when delta (incremental) processing is on (reference
        datachain.py:259-262)."""
        return self._delta

    @property
    def delta_unsafe(self) -> bool:
        return self._delta_unsafe

    @property
    def empty(self) -> bool:
        """True when the chain has no rows (reference datachain.py:254-257);
        evaluates limit(1), never a full count."""
        return len(self.df.take(1)) == 0

    def hash(self) -> str:
        """Deterministic identity of the chain's LOGICAL PLAN (reference
        datachain.py:225-252 hashes the serialized query steps for
        checkpoint identity): Catalyst's semanticHash over the analyzed
        plan, so two chains built the same way hash equal regardless of
        object identity."""
        return f"{self.df.semanticHash() & 0xFFFFFFFF:08x}"

    @property
    def session(self):
        """The active Session (reference datachain.py:295-302)."""
        from datachain_spark.session import Session

        return Session.get(catalog_root=self.catalog_root)

    @property
    def name(self) -> str | None:
        """Dataset name when this chain is an unmodified read_dataset()/
        save() result (reference datachain.py:316-319)."""
        return self._dataset_name

    @property
    def version(self) -> str | int | None:
        """Dataset version matching .name (reference datachain.py:321-324):
        the semver tag when the snapshot has one, else the snapshot id."""
        return self._dataset_version

    @property
    def dataset(self) -> dict | None:
        """Identity record for a dataset-backed chain (reference
        datachain.py:326-339 returns DatasetRecord; here a plain dict of
        name/version/namespace/project)."""
        if self._dataset_name is None:
            return None
        ns, proj, base = _parse_name(self._dataset_name)
        return {
            "name": base,
            "full_name": self._dataset_name,
            "version": self._dataset_version,
            "namespace": ns,
            "project": proj,
        }

    @property
    def namespace_name(self) -> str:
        """Namespace of the backing dataset, or the local default
        (reference datachain.py:584-590)."""
        if self._dataset_name:
            ns, _, _ = _parse_name(self._dataset_name)
            if ns:
                return ns
        return self._settings.namespace or "local"

    @property
    def project_name(self) -> str:
        if self._dataset_name:
            _, proj, _ = _parse_name(self._dataset_name)
            if proj:
                return proj
        return self._settings.project or "local"

    @property
    def job(self) -> None:
        """Hosted-runtime job handle — always None here (the reference's
        Job rides its SaaS layer, datachain.py:304-314; job-scoped params/
        metrics live in params.py/metrics.py keyed by DATACHAIN_JOB_ID)."""
        return None

    def reset_settings(self, settings: "Settings | None" = None) -> "Chain":
        """Replace (not merge) the chain settings (reference
        datachain.py:446-450)."""
        out = self._evolve(self.df)
        out._settings = settings or Settings()
        return out

    def results(self, row_factory: Callable | None = None) -> list[tuple]:
        """All rows as tuples (reference datachain.py:1582-1605)."""
        rows = [tuple(r) for r in self.df.collect()]
        if row_factory is None:
            return rows
        cols = self.df.columns
        return [row_factory(cols, r) for r in rows]

    def to_columnar_data_with_names(
        self, *cols: str
    ) -> tuple[list[str], list[list[Any]]]:
        """(names, column-major values) (reference datachain.py:1558-1580).
        Driver-materializing by definition — bounded use only."""
        names = list(cols) or self.df.columns
        rows = self.df.select(*names).collect()
        return names, [[r[i] for r in rows] for i in range(len(names))]

    def to_jsonl(self, path: str, mode: str = "overwrite") -> None:
        """JSON-lines export (reference datachain.py:2535-2551). Spark's
        distributed json writer is line-delimited natively."""
        self.df.write.mode(mode).json(path)

    def file_diff(
        self,
        other: "Chain",
        column: str = "file",
        compare: list[str] | None = None,
    ) -> "Chain":
        """File-listing diff (reference datachain.py:1998-2069); delegates
        to sources.storage.file_diff."""
        from datachain_spark.sources.storage import file_diff as _fd

        return self._evolve(_fd(self.df, other.df, column=column, compare=compare))

    def parse_tabular(
        self, format: str = "csv", column: str = "file", **options: str
    ) -> "Chain":  # noqa: A002 - reference API name
        """Parse the CONTENT of this chain's file listing as tabular data
        (reference datachain.py:2214-2320)."""
        from datachain_spark.sources.storage import parse_tabular as _pt

        return self._evolve(
            _pt(self.df.sparkSession, self.df, format=format, column=column, **options)
        )

    def explode(
        self,
        col: str,
        model_name: str | None = None,
        column: str | None = None,
        schema_sample_size: int = 1,
    ) -> "Chain":
        """Explode a JSON-string column into a typed struct column
        (reference datachain.py:495-551): the schema is inferred from the
        first `schema_sample_size` rows (driver-side, tiny), then the
        PARSE is `from_json` — JVM codegen over every row, where the
        reference maps per-row Python json.loads through a UDF. A
        dataclass model named `model_name` (default
        `<Col>ExplodedModel`) is generated and registered in ModelStore,
        matching the reference's dict_to_data_model."""
        import json as _json

        samples = [r[0] for r in self.df.select(col).limit(schema_sample_size).collect()]
        dicts = []
        for v in samples:
            if isinstance(v, str):
                v = _json.loads(v)
            elif hasattr(v, "asDict"):
                v = v.asDict(recursive=True)
            if not isinstance(v, dict):
                raise TypeError(f"Column {col} should be a string or dict type with JSON")
            dicts.append(v)
        if not dicts:
            raise ValueError(f"cannot infer schema: column {col!r} has no rows")
        from datachain_spark.sources.meta import _infer_type, merge_struct

        schema = _infer_type(dicts[0])
        for d in dicts[1:]:
            schema = merge_struct(schema, _infer_type(d))
        out_col = column or f"{col}_expl"
        out = self._evolve(
            self.df.withColumn(out_col, F.from_json(F.col(col), schema))
        )
        # generated + registered model for reference parity (ModelStore
        # lookup by name; the struct column itself never touches Python)
        from datachain_spark.data_model import ModelStore
        from datachain_spark.sources.meta import gen_datamodel_code, load_spec

        mname = model_name or f"{col.title()}ExplodedModel"
        try:
            model = load_spec(gen_datamodel_code(_json.dumps(dicts[0]), model_name=mname))
            ModelStore.register(model)
        except Exception:  # noqa: BLE001 - model codegen is best-effort sugar
            pass
        return out

    # -- reference from_* classmethod aliases (deprecated there in favor
    #    of module-level read_*; kept for drop-in compatibility) --

    @classmethod
    def from_storage(cls, spark: SparkSession, uri: str, **kw) -> "Chain":
        from datachain_spark.sources.storage import read_storage

        return cls(read_storage(spark, uri, **kw))

    @classmethod
    def from_dataset(cls, spark: SparkSession, name: str, **kw) -> "Chain":
        return read_dataset(spark, name, **kw)

    @classmethod
    def from_values(cls, spark: SparkSession, **cols) -> "Chain":
        return read_values(spark, **cols)

    @classmethod
    def from_pandas(cls, spark: SparkSession, pdf, **kw) -> "Chain":
        return read_pandas(spark, pdf, **kw)

    @classmethod
    def from_records(cls, spark: SparkSession, records, **kw) -> "Chain":
        return read_records(spark, records, **kw)

    @classmethod
    def from_csv(cls, spark: SparkSession, path: str, **kw) -> "Chain":
        return read_csv(spark, path, **kw)

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str, **kw) -> "Chain":
        return read_parquet(spark, path, **kw)

    @classmethod
    def from_json(cls, spark: SparkSession, path: str, **kw) -> "Chain":
        return read_json(spark, path, **kw)

    @classmethod
    def from_hf(cls, spark: SparkSession, *a, **kw) -> "Chain":
        from datachain_spark.sources.hf import read_hf

        return cls(read_hf(spark, *a, **kw))

    @classmethod
    def datasets(
        cls, spark: SparkSession, catalog_root: str | None = None, **kw
    ) -> "Chain":
        """Chain of dataset-info rows (reference datachain.py:552-566)."""
        from datachain_spark.dataset_info import datasets_info

        root = catalog_root or DEFAULT_CATALOG
        return cls(datasets_info(spark, root, **kw), root)

    @classmethod
    def listings(cls, spark: SparkSession, cache_root: str, **kw) -> "Chain":
        """Chain of cached-listing info rows (reference
        datachain.py:568-582)."""
        from datachain_spark.sources.storage import listings as _listings

        return cls(_listings(spark, cache_root, **kw))

    def settings(self, **kw) -> "Chain":
        """Attach execution settings (reference datachain.py .settings(),
        lib/settings.py): parallel, namespace, project, batch_size — see
        Settings for how each maps onto Spark; any other name raises
        SettingsError. Settings propagate through every downstream op."""
        out = self._evolve(self.df)
        out._settings = self._settings.merged(**kw)
        return out

    def _udf_input(self, df: DataFrame) -> DataFrame:
        """UDF-stage input with settings applied: `parallel=n` sizes the
        Arrow task wave (the reference's worker count) via repartition."""
        if self._settings.parallel:
            return df.repartition(self._settings.parallel)
        return df

    # ---------- delta guard (reference delta.py:27-45) ----------
    def as_delta(self, delta_unsafe: bool = False) -> "Chain":
        """Mark this chain delta-enabled: downstream order/set-sensitive
        operators (group_by/union/distinct/merge/subtract/agg) raise
        DeltaDisabledError, because replaying them over a source DIFF does
        not equal recomputing them over the full source."""
        return Chain(self.df, self.catalog_root, delta=True, delta_unsafe=delta_unsafe)

    def _guard_delta(self, op: str) -> None:
        if self._delta and not self._delta_unsafe:
            raise DeltaDisabledError(
                f"{op}() on a delta-enabled chain produces incorrect increments; "
                "use as_delta(delta_unsafe=True) to override"
            )

    # ---------- schema ----------
    @property
    def schema(self) -> T.StructType:
        return self.df.schema

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def print_schema(self) -> "Chain":
        self.df.printSchema()
        return self

    # ---------- projections / filters (reference datachain.py:1263-1511) ----------
    def select(self, *names: str | Column) -> "Chain":
        """Nested-aware select: dotted names keep PARTIAL models —
        select("file.path") yields a `file` struct containing only `path`,
        mirroring the reference's partial-model select
        (/root/reference/src/datachain/lib/signal_schema.py:260-279);
        Spark-native flat extraction is one .alias away when wanted."""
        if not any(isinstance(n, str) and "." in n for n in names):
            return self._evolve(self.df.select(*names))
        proj: list[Column] = []
        grouped: dict[str, list[str]] = {}
        order: list[tuple[str, Any]] = []  # ("col", c) | ("root", name)
        for n in names:
            if isinstance(n, str) and "." in n:
                root, rest = n.split(".", 1)
                if root not in grouped:
                    order.append(("root", root))
                grouped.setdefault(root, []).append(rest)
            else:
                order.append(("col", n))
        for kind, v in order:
            if kind == "col":
                proj.append(F.col(v) if isinstance(v, str) else v)
            else:
                proj.append(_partial_struct(v, grouped[v]).alias(v))
        return self._evolve(self.df.select(*proj))

    def select_except(self, *names: str) -> "Chain":
        return self._evolve(self.df.drop(*names))

    def mutate(self, **exprs: Column) -> "Chain":
        return self._evolve(self.df.withColumns(dict(exprs)))

    def rename(self, **mapping: str) -> "Chain":
        df = self.df
        for new, old in mapping.items():
            df = df.withColumnRenamed(old, new)
        return self._evolve(df)

    def filter(self, *conds: Column) -> "Chain":
        df = self.df
        for c in conds:  # ANDed, like the reference (datachain.py:2905-2973)
            df = df.filter(c)
        return self._evolve(df)

    # ---------- ordering / limiting (reference datachain.py:1221-1244, 2975-3025) ----------
    def order_by(self, *cols: str | Column, descending: bool = False) -> "Chain":
        cs = [F.col(c) if isinstance(c, str) else c for c in cols]
        if descending:
            cs = [c.desc() for c in cs]
        return self._evolve(self.df.orderBy(*cs))

    def limit(self, n: int) -> "Chain":
        return self._evolve(self.df.limit(n))

    def offset(self, n: int, *order_by: str | Column) -> "Chain":
        """Skip the first `n` rows of an EXPLICIT total order (reference
        datachain.py:2975-2995). Requires order keys: offset without a
        defined order is meaningless, and the tempting implementation — a
        row_number window over monotonically_increasing_id with no
        partitionBy — pulls the whole table through one task. Spark's
        native offset operator handles the skip after the sort."""
        if not order_by:
            raise ValueError(
                "offset(n) requires explicit order columns, e.g. "
                "chain.offset(100, 'id') — a global offset is undefined "
                "without a total order"
            )
        cs = [F.col(c) if isinstance(c, str) else c for c in order_by]
        return self._evolve(self.df.orderBy(*cs).offset(n))

    def distinct(self, *cols: str) -> "Chain":
        self._guard_delta("distinct")
        return self._evolve(self.df.dropDuplicates(list(cols) or None))

    def sample(self, n: int, seed: int = 42) -> "Chain":
        return self._evolve(self.df.orderBy(F.rand(seed)).limit(n))

    def shuffle(self, *key_cols: str) -> "Chain":
        """Deterministic shuffle: order by xxhash64 of the given (or all)
        columns — repeatable across cluster sizes, unlike the reference's
        regenerated sys__rand (warehouse.py:281-334)."""
        cols = list(key_cols) or self.df.columns
        return self._evolve(self.df.orderBy(F.xxhash64(*cols)))

    def with_sys(self, seed: int = 42) -> "Chain":
        """Materialize the internal `sys` signals struct (reference Sys
        model, lib/dc/utils.py:132-136; `.settings(sys=True)` exposes
        sys__id/sys__rand from the warehouse rowid + a random column,
        warehouse.py:281-334). Spark substitution, both JVM-side: `id` =
        monotonically_increasing_id() (unique per materialized read, like
        a rowid), `rand` = xxhash64 of the full row + seed masked to a
        63-bit non-negative — DETERMINISTIC, so sample/chunk/split built
        on it are repeatable across cluster sizes, which the reference's
        regenerated random is not."""
        cols = [c for c in self.df.columns if c != "sys"]
        rand = F.xxhash64(*cols, F.lit(seed)).bitwiseAND(F.lit((1 << 63) - 1))
        return self._evolve(
            self.df.withColumn(
                "sys",
                F.struct(
                    F.monotonically_increasing_id().alias("id"),
                    rand.alias("rand"),
                ),
            )
        )

    def chunk(self, index: int, total: int, *key_cols: str) -> "Chain":
        """Deterministic 1/total slice by key hash (reference
        datachain.py:3005-3025 uses sys__rand % total)."""
        cols = list(key_cols) or self.df.columns
        return self._evolve(
            self.df.filter(F.pmod(F.xxhash64(*cols), F.lit(total)) == index)
        )

    def train_test_split(
        self, weights: Sequence[float], seed: int | None = 42
    ) -> list["Chain"]:
        """Deterministic weighted split (reference toolkit/split.py:10-108):
        a per-ROW hash rand, scaled by a seed-derived multiplier, bucketed
        at cumulative-weight boundaries. Splits are disjoint, exhaustive,
        and row-stable — unlike randomSplit, which samples per partition
        and reshuffles rows between splits when partitioning changes."""
        import random as _random

        if len(weights) < 2:
            raise ValueError("Weights should have at least two elements")
        if any(w < 0 for w in weights):
            raise ValueError("Weights should be non-negative")
        resolution = 2**31 - 1  # reference RESOLUTION (split.py:6)
        norm = [w / sum(weights) for w in weights]
        rand = F.pmod(F.xxhash64(*self.df.columns), F.lit(resolution))
        if seed is not None:
            mult = _random.Random(seed).randrange(1, resolution)
            rand = F.pmod(rand * F.lit(mult), F.lit(resolution))
        bounds = [0]
        cum = 0.0
        for w in norm[:-1]:
            cum += w
            bounds.append(round(cum * resolution))
        bounds.append(resolution)  # pmod yields [0, resolution), so hi-exclusive covers all
        return [
            self._evolve(self.df.filter((rand >= lo) & (rand < hi)))
            for lo, hi in zip(bounds, bounds[1:])
        ]

    # ---------- set ops / joins (reference datachain.py:1734-2069) ----------
    def union(self, other: "Chain") -> "Chain":
        self._guard_delta("union")
        return self._evolve(self.df.unionByName(other.df))

    def merge(
        self,
        right: "Chain",
        on: str | Sequence[str] | Column,
        right_on: str | Sequence[str] | None = None,
        inner: bool = False,
        full: bool = False,
        rname: str = "right_",
    ) -> "Chain":
        """Reference merge semantics (datachain.py:1734-1841): left-outer
        by default; right-side name collisions prefixed with `rname`."""
        self._guard_delta("merge")
        how = "inner" if inner else ("full_outer" if full else "left_outer")
        rdf = right.df
        if isinstance(on, Column):
            cond = on
        else:
            lkeys = [on] if isinstance(on, str) else list(on)
            rkeys = (
                lkeys
                if right_on is None
                else ([right_on] if isinstance(right_on, str) else list(right_on))
            )
            # prefix-colliding right columns (keep right keys addressable)
            renames = {
                c: f"{rname}{c}" for c in rdf.columns if c in set(self.df.columns)
            }
            for old, new in renames.items():
                rdf = rdf.withColumnRenamed(old, new)
            rkeys = [renames.get(k, k) for k in rkeys]
            cond = None
            for lk, rk in zip(lkeys, rkeys):
                e = self.df[lk].eqNullSafe(rdf[rk])
                cond = e if cond is None else (cond & e)
        return self._evolve(self.df.join(rdf, cond, how))

    def subtract(
        self, other: "Chain", on: str | Sequence[str] | None = None
    ) -> "Chain":
        """Null-safe anti-join (reference warehouse.py:1095-1136)."""
        self._guard_delta("subtract")
        keys = (
            [on] if isinstance(on, str) else list(on or [c for c in self.columns if c in set(other.columns)])
        )
        cond = None
        for k in keys:
            e = self.df[k].eqNullSafe(other.df[k])
            cond = e if cond is None else (cond & e)
        return self._evolve(self.df.join(other.df, cond, "left_anti"))

    def diff(
        self,
        other: "Chain",
        on: Sequence[str] | str,
        compare: Sequence[str] | None = None,
        added: bool = True,
        deleted: bool = True,
        modified: bool = True,
        same: bool = False,
        status_col: str = "diff_status",
    ) -> "Chain":
        from datachain_spark.diff import diff as _diff

        statuses = [
            s
            for s, keep in zip("ADMS", (added, deleted, modified, same))
            if keep
        ]
        on = [on] if isinstance(on, str) else list(on)
        return self._evolve(
            _diff(self.df, other.df, on=on, compare=compare, status_col=status_col,
                  statuses=statuses)
        )

    # ---------- aggregation (reference datachain.py:1302-1423) ----------
    def group_by(self, *partition_by: str | Column, **aggs: Column) -> "Chain":
        self._guard_delta("group_by")
        cols = [F.col(c) if isinstance(c, str) else c for c in partition_by]
        agg_cols = [v.alias(k) for k, v in aggs.items()]
        return self._evolve(self.df.groupBy(*cols).agg(*agg_cols))

    def count(self) -> int:
        return self.df.count()

    def sum(self, col: str):
        return self.df.agg(F.sum(col)).first()[0]

    def avg(self, col: str):
        return self.df.agg(F.avg(col)).first()[0]

    def min(self, col: str):
        return self.df.agg(F.min(col)).first()[0]

    def max(self, col: str):
        return self.df.agg(F.max(col)).first()[0]

    # ---------- UDFs, Arrow-vectorized (reference lib/udf.py:435-636) ----------
    def map(
        self,
        fn: Callable[..., Any] | Any = None,
        output: dict[str, Any] | T.StructType | None = None,
        params: list[str] | None = None,
        checkpoint: str | None = None,
        checkpoint_on: Sequence[str] | None = None,
        **signal_map: Callable[..., Any],
    ) -> "Chain":
        """1:1 mapper. `fn` is called per row with `params` values (like the
        reference Mapper) but executed over Arrow batches via mapInPandas —
        no per-row IPC. For fully-vectorized transforms use map_batches.

        Reference-parity ergonomics (lib/udf_signature.py:1-236):
        - `params` default: inferred from the function's parameter NAMES
          matched against input columns;
        - `output` default: inferred from the return annotation — a plain
          type becomes one column named after the function (or the
          signal_map keyword: `.map(new_col=fn)`), a dataclass/NamedTuple
          becomes one column per model field (nested models stay nested
          structs);
        - `fn` may be a Mapper-style object with process() and optional
          setup()/teardown(), run once per Python worker
          (lib/udf.py:241-249).

        `checkpoint=dir` enables ROW-LEVEL RESUME (reference
        query/dataset.py:1221-1360): output is persisted in committed chunks
        of ~`settings(batch_size=)` rows (default 200,000) keyed by a content
        hash of `checkpoint_on` (default: all input columns); a crashed run
        reprocesses only rows without committed output. The key identifies a
        UNIT OF WORK: rows that are duplicates under it are processed once
        and each receives the single stored output (so `checkpoint_on` must
        functionally determine the fn's inputs — see checkpoint.py for the
        64-bit-collision caveat at multi-billion-row scale). Requires a
        deterministic fn and upstream. Materializes eagerly; concurrent
        resumes of one store are refused via an exclusive file lock."""
        default_name = None
        if fn is None:
            if len(signal_map) != 1:
                raise ValueError("map() needs a function or exactly one name=fn keyword")
            default_name, fn = next(iter(signal_map.items()))
        elif signal_map:
            raise TypeError(f"map() got unexpected keyword arguments {sorted(signal_map)}")
        return self._row_udf("map", fn, output, params, checkpoint, checkpoint_on, default_name)

    def map_batches(self, fn: Callable, output: dict[str, Any] | None = None) -> "Chain":
        """N:N pandas-DataFrame-in/out (reference BatchMapper,
        lib/udf.py:480-538), Arrow-batched."""
        out_schema = (
            self.df.schema
            if output is None
            else T.StructType(list(self.df.schema.fields) + list(_output_schema(output).fields))
        )

        def run(batches):
            # Lifecycle so BatchMapper instances (.process) work and their
            # setup()/teardown() run once per worker, like map/gen
            with Lifecycle(fn) as proc:
                for pdf in batches:
                    yield proc(pdf)

        return self._evolve(self._udf_input(self.df).mapInPandas(run, out_schema))

    def gen(
        self,
        fn: Callable[..., Iterable] | Any,
        output: dict[str, Any] | T.StructType | None = None,
        params: list[str] | None = None,
        checkpoint: str | None = None,
        checkpoint_on: Sequence[str] | None = None,
    ) -> "Chain":
        """1:N generator (reference Generator, lib/udf.py:541-597): `fn`
        yields output tuples (or model instances) per input row; runs over
        Arrow batches. Output schema inferable from an Iterator[Model] /
        Iterator[T] return annotation; setup()/teardown() honored.
        `checkpoint=dir` enables row-level resume (see map — including the
        duplicate-key unit-of-work semantics); input rows whose outputs
        (possibly zero — recorded via an explicit marker) are committed are
        never re-generated."""
        return self._row_udf("gen", fn, output, params, checkpoint, checkpoint_on)

    def _row_udf(
        self,
        kind: str,
        fn: Any,
        output: dict[str, Any] | T.StructType | None,
        params: list[str] | None,
        checkpoint: str | None,
        checkpoint_on: Sequence[str] | None,
        default_name: str | None = None,
    ) -> "Chain":
        """The one row path of map (kind "map") and gen (kind "gen"), with
        or without checkpoint=: both resolve the UDF signature here, and
        every stage runs the kind's adapter through udf.row_runner over the
        `parallel`-sized input."""
        import pandas as pd

        fn = bind_setup(fn, self._setup)
        use = params if params is not None else infer_params(fn, self.df.columns)
        out_struct = (
            output
            if isinstance(output, T.StructType)
            else _output_schema(output)
            if output is not None
            else infer_output(fn, default_name)
        )
        # model-hinted params (file: File, ...) get struct-dict -> object
        # coercion; None when no param is model-hinted (zero overhead)
        convs = input_converters(fn, use)
        adapter = (map_adapter if kind == "map" else gen_adapter)(out_struct, convs)

        def run(df: DataFrame, emit: Callable, schema: T.StructType) -> DataFrame:
            return self._udf_input(df).mapInPandas(row_runner(fn, adapter, use, emit), schema)

        if checkpoint is not None:
            from datachain_spark.checkpoint import checkpointed_udf

            return self._evolve(
                checkpointed_udf(
                    self.df,
                    run,
                    out_struct,
                    checkpoint,
                    use,
                    key_cols=list(checkpoint_on) if checkpoint_on else None,
                    rows_per_commit=self._settings.batch_size or 200_000,
                    is_gen=kind == "gen",
                )
            )
        names = out_struct.names
        if kind == "gen":

            def gen_emit(pdf, outs):
                return pd.DataFrame([t for o in outs for t in o], columns=names)

            return self._evolve(run(self.df, gen_emit, out_struct))
        # an output signal named like an input column OVERWRITES it (the
        # reference's signal replacement; pdf[name] = ... below replaces in
        # place) — the schema must carry the name once, with the OUTPUT type
        out_schema = T.StructType(
            [f for f in self.df.schema.fields if f.name not in names] + out_struct.fields
        )

        def map_emit(pdf, outs):
            for i, name in enumerate(names):
                pdf[name] = [o[0][i] for o in outs]
            # overwritten columns keep their ORIGINAL pandas position;
            # reorder to the declared schema (mapInPandas matches by
            # position, not name)
            return pdf[out_schema.names]

        return self._evolve(run(self.df, map_emit, out_schema))

    def agg(
        self,
        fn: Callable | Any,
        partition_by: str | Sequence[str],
        output: dict[str, Any] | T.StructType,
    ) -> "Chain":
        """N:M grouped aggregator (reference Aggregator, lib/udf.py:600-636):
        `fn(pdf) -> pdf` per group via applyInPandas — the shuffle replaces
        the reference's dense_rank partitions table (query/dataset.py:781-816).
        `output` stays explicit (a pandas-frame transform has no row-typed
        return annotation to infer from); setup()/teardown() honored, but
        per GROUP here (applyInPandas exposes no batch-iterator hook) —
        keep heavyweight resources in map/gen, which run them per worker."""
        self._guard_delta("agg")
        keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        out_schema = output if isinstance(output, T.StructType) else _output_schema(output)

        def run(pdf):
            with Lifecycle(fn) as proc:
                return proc(pdf)

        return self._evolve(self.df.groupBy(*keys).applyInPandas(run, out_schema))

    # ---------- persistence (reference datachain.py:599-716) ----------
    def persist(self) -> "Chain":
        return self._evolve(self.df.persist())

    def _table(self, name: str) -> LakeTable:
        from datachain_spark.namespaces import dataset_root

        return LakeTable(dataset_root(self.catalog_root, name))

    def save(
        self,
        name: str | None = None,
        version: str | None = None,
        key_cols: Sequence[str] | None = None,
        num_buckets: int | None = None,
        description: str | None = None,
        attrs: Sequence[str] | None = None,
        update_version: str = "patch",
    ) -> "Chain":
        """Materialize as a new version of dataset `name` (semver-tagged
        LakeTable snapshot; reference catalog.py:796-890 + dataset
        versioning dataset.py:240-360). Auto-bumps the patch version
        (`update_version=` picks major/minor/patch, reference
        datachain.py:618-641).

        `description`/`attrs` are DATASET-level metadata (reference
        dataset.py:423-424: they live on the dataset record, not the
        version): stored as `dataset.*` snapshot props, inherited by every
        later commit until overwritten by another save(description=...) or
        edit_dataset(). `attrs` entries are bare ("NLP") or valued
        ("location=US") strings.

        `key_cols`/`num_buckets` select a BUCKETED layout (hash of the
        first key column), making the saved dataset a first-class CDC
        merge target and giving reads bucket pruning; without them (and
        with no pre-existing layout) the dataset is a single logical
        bucket — file-level parallelism survives, pruning doesn't.

        `name` may be fully qualified (`namespace.project.name`, reference
        lib/dc/datasets.py:29-52) — the namespace/project records are
        created on demand (datachain_spark/namespaces.py)."""
        from datachain_spark.namespaces import dataset_root, ensure_dataset_parent

        cat_root = self.catalog_root
        if name is None:
            # ephemeral dataset owned by the active Session (reference
            # datachain.py save(name=None) -> session temp dataset,
            # query/session.py:43-48); deleted at session cleanup(). BOTH
            # the name and the catalog root come from the session, so the
            # temp dataset always lands where cleanup() looks — even for
            # chains built before the session context was entered
            from datachain_spark.session import Session

            sess = Session.get(catalog_root=self.catalog_root)
            cat_root = sess.catalog_root
            name = self._settings.qualify(sess.generate_temp_dataset_name())
            sess.track_dataset(name)
        else:
            name = self._settings.qualify(name)
        ensure_dataset_parent(cat_root, name)
        root = dataset_root(cat_root, name)
        df = self.df
        if not LakeTable.exists(root):
            table = LakeTable.create(
                root,
                df.schema,
                key_cols=list(key_cols) if key_cols else [],
                num_buckets=num_buckets or (16 if key_cols else 1),
            )
        else:
            table = LakeTable(root)
            if key_cols and list(key_cols) != table.snapshot().key_cols:
                raise ValueError(
                    f"dataset {name!r} already has key_cols="
                    f"{table.snapshot().key_cols}; cannot re-key on save"
                )
        ver = version or _next_semver(table, update_version)
        dprops: dict = {}
        if description is not None:
            dprops["dataset.description"] = description
        if attrs is not None:
            dprops["dataset.attrs"] = list(attrs)
        # a keyed layout buckets like the CDC apply, so the dataset is a
        # merge target; save keeps full-snapshot semantics on an existing
        # table (overwrite replaces every bucket)
        table.overwrite(df, "save", tag=ver, props=dprops)
        return read_dataset(df.sparkSession, name, catalog_root=cat_root)

    def merge_into(
        self,
        name: str,
        on: Sequence[str] | None = None,
        delete_col: str | None = None,
        lsn_col: str | None = None,
    ) -> dict:
        """MERGE INTO a saved bucketed dataset (the Delta/Iceberg MERGE
        analog; the reference's nearest surface is delta-save, which
        re-diffs whole dataset versions — delta.py:240-396). Full-row
        upsert by the TARGET's key_cols: matched keys are replaced, new
        keys inserted, and rows where `delete_col` is true become delete
        tombstones. Missing payload columns surface as NULL on the new
        row version (full-row semantics, not column patching); NEW
        columns in the source evolve the target schema.

        Ordering: `lsn_col` supplies the LWW order (for sources carrying
        their own change sequence); by default the whole merge gets one
        fresh LSN above the table's watermark, so later merges beat
        earlier ones and beat the save()-written base rows (their `_lsn`
        is null, which sorts last under the LWW desc order). In-batch
        duplicate keys resolve arbitrarily without `lsn_col` — pass it
        when duplicates matter.

        Execution is the SAME one-shuffle CDC apply as the streaming
        path: cost O(this chain), never O(target); only touched buckets
        gain a segment; the commit is atomic and shows up in
        read_changes/stream_changes like any CDC batch."""
        import uuid as _uuid

        from datachain_spark.cdc.apply import apply_batch
        from datachain_spark.namespaces import dataset_root

        qname = self._settings.qualify(name)
        table = LakeTable(dataset_root(self.catalog_root, qname))
        key_cols = table.snapshot().key_cols
        if not key_cols:
            raise ValueError(
                f"dataset {qname!r} was not saved with key_cols=; "
                "it is not a merge target (save it bucketed first)"
            )
        if on is not None and list(on) != list(key_cols):
            raise ValueError(
                f"on={list(on)} does not match dataset key_cols {key_cols}"
            )
        df = self.df
        missing = [c for c in key_cols if c not in df.columns]
        if missing:
            raise ValueError(f"source is missing key columns {missing}")
        nxt = max(table.snapshot().watermarks.values(), default=-1) + 1
        lsn = (
            F.col(lsn_col).cast("long") if lsn_col else F.lit(int(nxt)).cast("long")
        )
        op = (
            F.when(F.col(delete_col), F.lit("D")).otherwise(F.lit("U"))
            if delete_col
            else F.lit("U")
        )
        ev = df.withColumn("lsn", lsn).withColumn("op", op)
        if delete_col:
            ev = ev.drop(delete_col)
        if lsn_col and lsn_col != "lsn":
            # the source ordering column is consumed into `lsn`; leaving it
            # in the payload would silently evolve the target schema via
            # apply_batch's candidate-column path (r5 ADVICE)
            ev = ev.drop(lsn_col)
        return apply_batch(
            df.sparkSession,
            table,
            ev,
            job_id=f"merge-{_uuid.uuid4().hex[:12]}",
            batch_id=0,
            normalize=False,
        )

    # ---------- sinks (reference datachain.py:2352-2667) ----------
    def to_parquet(self, path: str, mode: str = "overwrite", partition_by: Sequence[str] | None = None) -> None:
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def to_csv(self, path: str, mode: str = "overwrite", header: bool = True) -> None:
        self.df.write.mode(mode).option("header", header).csv(path)

    def to_json(self, path: str, mode: str = "overwrite") -> None:
        self.df.write.mode(mode).json(path)

    def to_database(
        self,
        table: str,
        url: str,
        mode: str = "append",
        on_conflict: list[str] | None = None,
        **props: str,
    ) -> None:
        """JDBC sink with optional set-wise upsert (reference
        datachain.py:2553-2667) — see datachain_spark/sources/database.py."""
        from datachain_spark.sources.database import to_database as _to_db

        _to_db(self.df, table, url, mode=mode, on_conflict=on_conflict, **props)

    # ---------- driver-side collection (reference datachain.py:1607-3058) ----------
    def to_pandas(self):
        return self.df.toPandas()

    def to_records(self) -> list[dict[str, Any]]:
        return [r.asDict(recursive=True) for r in self.df.collect()]

    def to_list(self) -> list[tuple]:
        return [tuple(r) for r in self.df.collect()]

    def to_values(self, col: str) -> list[Any]:
        return [r[0] for r in self.df.select(col).collect()]

    def to_iter(self):
        for r in self.df.toLocalIterator():
            yield tuple(r)

    def to_pytorch(self, transform: Callable[[dict], Any] | None = None):
        """An IterableDataset over this chain (reference lib/pytorch.py
        PytorchDataset): rows stream via toLocalIterator (never a full
        collect), and under a multi-worker DataLoader each worker reads its
        own deterministic shard via chunk(worker_id, num_workers) — the
        reference shards the same way (lib/pytorch.py:116-132). Requires
        torch at call time only (import-gated: the sandbox has no torch)."""
        try:
            from torch.utils.data import IterableDataset, get_worker_info
        except ImportError as e:  # pragma: no cover - torch absent here
            raise ImportError("to_pytorch requires torch (pip install torch)") from e

        chain = self
        cols = self.df.columns

        class _ChainDataset(IterableDataset):
            def __iter__(self):
                info = get_worker_info()
                src = (
                    chain
                    if info is None or info.num_workers <= 1
                    else chain.chunk(info.id, info.num_workers)
                )
                for row in src.to_iter():
                    rec = dict(zip(cols, row))
                    yield transform(rec) if transform is not None else rec

        return _ChainDataset()

    def collect(self) -> list[tuple]:
        return self.to_list()

    def show(self, n: int = 20, truncate: bool = True) -> "Chain":
        self.df.show(n, truncate=truncate)
        return self


def _partial_struct(prefix: str, rests: list[str]) -> Column:
    """Reassemble a partial struct from dotted leaf selections, recursively
    (select("a.b.c") -> a: struct{b: struct{c}})."""
    leaves: list[str] = []
    nested: dict[str, list[str]] = {}
    for r in rests:
        if "." in r:
            h, t = r.split(".", 1)
            nested.setdefault(h, []).append(t)
        else:
            leaves.append(r)
    cols = [F.col(f"{prefix}.{leaf}").alias(leaf) for leaf in leaves]
    cols += [_partial_struct(f"{prefix}.{h}", ts).alias(h) for h, ts in nested.items()]
    return F.struct(*cols)


def _next_semver(table: LakeTable, update_version: str = "patch") -> str:
    if update_version not in ("major", "minor", "patch"):
        raise ValueError(
            f"update_version must be major/minor/patch, got {update_version!r}"
        )
    best = (0, 0, 0)
    for v in table.versions():
        tag = table.snapshot(v).tag
        if tag and re.fullmatch(r"v\d+\.\d+\.\d+", tag):
            best = max(best, tuple(int(x) for x in tag[1:].split(".")))
    if best == (0, 0, 0):
        return "v1.0.0"
    if update_version == "major":
        return f"v{best[0] + 1}.0.0"
    if update_version == "minor":
        return f"v{best[0]}.{best[1] + 1}.0"
    return f"v{best[0]}.{best[1]}.{best[2] + 1}"


# ---------- constructors (reference lib/dc/*.py) ----------
def read_parquet(spark: SparkSession, path: str, **opts: str) -> Chain:
    return Chain(spark.read.options(**opts).parquet(path))


def read_csv(spark: SparkSession, path: str, header: bool = True, schema=None, **opts: str) -> Chain:
    r = spark.read.options(**opts).option("header", header)
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", True)
    return Chain(r.csv(path))


def read_json(spark: SparkSession, path: str, schema=None, multiline: bool = False, **opts: str) -> Chain:
    r = spark.read.options(**opts).option("multiLine", multiline)
    if schema is not None:
        r = r.schema(schema)
    return Chain(r.json(path))


def read_values(spark: SparkSession, **cols: list) -> Chain:
    """In-memory columns -> chain (reference lib/dc/values.py). Columns of
    dataclass/NamedTuple instances become nested STRUCT columns (the
    reference flattens Pydantic models to `a__b` flat columns,
    signal_schema.py:260-279; Spark keeps real nesting)."""
    names = list(cols.keys())
    if any(cols[n] and is_model(type(cols[n][0])) for n in names):
        fields = []
        for n in names:
            vals = cols[n]
            if vals and is_model(type(vals[0])):
                fields.append(T.StructField(n, model_to_struct(type(vals[0])), True))
            else:
                fields.append(
                    T.StructField(n, spark_type_of(type(vals[0])) if vals else T.StringType(), True)
                )
        schema = T.StructType(fields)
        rows = [tuple(model_cell(v) for v in row) for row in zip(*cols.values())]
        return Chain(spark.createDataFrame(rows, schema))
    rows = list(zip(*cols.values()))
    return Chain(spark.createDataFrame(rows, names))


def read_records(spark: SparkSession, records: list[dict], schema=None) -> Chain:
    return Chain(spark.createDataFrame(records, schema=schema))


def read_pandas(spark: SparkSession, pdf) -> Chain:
    return Chain(spark.createDataFrame(pdf))


def read_dataset(
    spark: SparkSession,
    name: str,
    version: int | str | None = None,
    catalog_root: str = DEFAULT_CATALOG,
    namespace: str | None = None,
    project: str | None = None,
    as_of=None,
) -> Chain:
    """Open a saved dataset at a version: an int snapshot id, an exact
    semver tag ("v1.2.3" or "1.2.3"), or a SPECIFIER string like
    ">=1.0.0,<2" / "~=1.2" resolving to the HIGHEST matching tag
    (reference lib/dc/datasets.py:27-224 accepts the same forms).
    `name` may be fully qualified (`namespace.project.name`), or bare
    with explicit `namespace=`/`project=` (same reference signature).
    `as_of` (epoch float / datetime / ISO string) is timestamp time
    travel — the latest version committed at or before that instant."""
    from datachain_spark.namespaces import dataset_root

    if namespace or project:
        name = Settings(namespace=namespace, project=project).qualify(name)

    table = LakeTable(dataset_root(catalog_root, name))
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        version = table.version_at(as_of)
    if isinstance(version, str) and any(version.startswith(p) for p in (">", "<", "=", "~", "!")):
        version = _resolve_semver_spec(table, version)
    ch = Chain(table.read(spark, version=version), catalog_root=catalog_root)
    # provenance for .name/.version/.dataset (reference datachain.py:316-339)
    ch._dataset_name = name
    try:
        v = (
            table.current_version()
            if version is None
            else version
            if isinstance(version, int)
            else table.resolve_tag(version)
        )
        ch._dataset_version = table.snapshot(v).tag or v
    except Exception:  # noqa: BLE001 - provenance is metadata sugar
        ch._dataset_version = version
    return ch


def _parse_name(name: str) -> tuple[str | None, str | None, str]:
    from datachain_spark.namespaces import parse_dataset_name

    return parse_dataset_name(name)


def _resolve_semver_spec(table: LakeTable, spec: str) -> int:
    """Resolve a comma-ANDed semver specifier against the table's tags and
    return the snapshot id of the highest matching version."""

    def parse(v: str) -> tuple[int, ...]:
        v = v.lstrip("v")
        parts = [int(x) for x in v.split(".") if x != ""]
        return tuple(parts + [0] * (3 - len(parts)))

    def matches(ver: tuple[int, ...], clause: str) -> bool:
        clause = clause.strip()
        for op in ("~=", ">=", "<=", "==", "!=", ">", "<", "="):
            if clause.startswith(op):
                rhs_raw = clause[len(op) :].strip()
                rhs = parse(rhs_raw)
                if op == "~=":
                    # PEP 440 compatible release: pin all but the LAST given
                    # component — ~=1.2.3 means >=1.2.3,<1.3.0 (not "same
                    # major", which would let ~=1.2.3 match 1.9.0)
                    given = len([x for x in rhs_raw.lstrip("v").split(".") if x != ""])
                    pin = max(given - 1, 1)
                    return ver >= rhs and ver[:pin] == rhs[:pin]
                if op in ("==", "="):
                    return ver == rhs
                if op == "!=":
                    return ver != rhs
                if op == ">=":
                    return ver >= rhs
                if op == "<=":
                    return ver <= rhs
                if op == ">":
                    return ver > rhs
                return ver < rhs
        return ver == parse(clause)

    best: tuple[tuple[int, ...], int] | None = None
    for v in table.versions():
        tag = table.snapshot(v).tag
        if not tag or not re.fullmatch(r"v?\d+(\.\d+){0,2}", tag):
            continue
        ver = parse(tag)
        if all(matches(ver, c) for c in spec.split(",")):
            if best is None or ver > best[0]:
                best = (ver, v)
    if best is None:
        raise KeyError(f"no version of {table.root} matches specifier {spec!r}")
    return best[1]


class DatasetNotFoundError(KeyError):
    """Raised by delete_dataset / move_dataset on a missing dataset
    (reference src/datachain/error.py DatasetNotFoundError)."""


def delete_dataset(
    name: str,
    catalog_root: str = DEFAULT_CATALOG,
    version: int | str | None = None,
    force: bool = False,
) -> None:
    """Remove one dataset version — the latest by default, or the given
    snapshot id / semver tag / semver specifier — or, with `force=True`,
    the whole dataset (reference lib/dc/datasets.py:307-383: version=None
    deletes the latest version; force deletes every version). Dropping the
    HEAD version rewinds the dataset to its parent; data files referenced
    by surviving versions are never touched."""
    import shutil

    from datachain_spark.namespaces import dataset_root

    root = dataset_root(catalog_root, name)
    if not LakeTable.exists(root):
        raise DatasetNotFoundError(f"dataset {name!r} not found under {catalog_root}")
    if force:
        shutil.rmtree(root)
        return
    table = LakeTable(root)
    if version is None:
        v = table.current_version()
    elif isinstance(version, int):
        v = version
    elif any(version.startswith(p) for p in (">", "<", "=", "~", "!")):
        v = _resolve_semver_spec(table, version)
    else:
        v = table.resolve_tag(version)
    table.drop_version(v)


def move_dataset(src: str, dest: str, catalog_root: str = DEFAULT_CATALOG) -> None:
    """Move/rename an ENTIRE dataset between namespaces and projects
    (reference lib/dc/datasets.py:386-439): `src` stops existing, all its
    versions and tags appear under `dest`. Both names may be fully
    qualified (`ns.proj.name`); the destination project is created on
    demand like save()'s. Atomic when source and destination share a
    filesystem (one rename(2))."""
    from datachain_spark.namespaces import dataset_root, ensure_dataset_parent

    src_root = dataset_root(catalog_root, src)
    if not LakeTable.exists(src_root):
        raise DatasetNotFoundError(f"dataset {src!r} not found under {catalog_root}")
    ensure_dataset_parent(catalog_root, dest)
    dest_root = dataset_root(catalog_root, dest)
    if os.path.exists(dest_root):
        raise FileExistsError(f"dataset {dest!r} already exists under {catalog_root}")
    os.makedirs(os.path.dirname(dest_root), exist_ok=True)
    os.rename(src_root, dest_root)


def edit_dataset(
    name: str,
    catalog_root: str = DEFAULT_CATALOG,
    new_name: str | None = None,
    description: str | None = None,
    attrs: Sequence[str] | None = None,
) -> None:
    """Edit dataset-level metadata and/or rename a dataset (reference
    catalog.py:1560-1582 edit_dataset: new_name/description/attrs, each
    only applied when given). description/attrs land as a metadata-only
    commit (`dataset.*` props; no data rewritten, time travel intact);
    rename delegates to move_dataset — new_name may be qualified
    (`ns.proj.name`), creating the target project on demand."""
    from datachain_spark.namespaces import dataset_root

    root = dataset_root(catalog_root, name)
    if not LakeTable.exists(root):
        raise DatasetNotFoundError(f"dataset {name!r} not found under {catalog_root}")
    updates: dict = {}
    if description is not None:
        updates["dataset.description"] = description
    if attrs is not None:
        updates["dataset.attrs"] = list(attrs)
    if updates:
        LakeTable(root).edit_props(updates)
    if new_name and new_name != name:
        move_dataset(name, new_name, catalog_root=catalog_root)


def datasets(
    catalog_root: str = DEFAULT_CATALOG,
    namespace: str | None = None,
    project: str | None = None,
) -> list[str]:
    """Registered dataset names, fully qualified where they live in a
    namespace/project; optional namespace/project filters (reference
    lib/dc/datasets.py:225-280 datasets() + its namespace filtering)."""
    from datachain_spark.namespaces import list_dataset_names

    return list_dataset_names(catalog_root, namespace=namespace, project=project)


def read_database(spark: SparkSession, query: str, url: str, **props: str) -> Chain:
    """JDBC read (reference lib/dc/database.py); executed for real against
    embedded Derby in tests — see datachain_spark/sources/database.py for
    partitioned parallel reads."""
    from datachain_spark.sources.database import read_database as _read_db

    return Chain(_read_db(spark, query, url, **props))
