"""Command-line facade (reference src/datachain/cli/: ls, du, find, index,
show, datasets ls/rm/mv, query, gc, clear-cache).

Every command is a thin wrapper over the library API — the CLI owns
argument parsing and printing only. `main(argv, spark=...)` accepts an
injected session so tests drive it in-process; standalone invocation
(`python -m datachain_spark ...`) creates one lazily, and only for the
commands that need Spark at all.
"""

from __future__ import annotations

import argparse
import fnmatch
import os
import shutil
import sys
from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="datachain_spark", description="PySpark-native datachain CLI"
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    ls = sub.add_parser("ls", help="list a storage URI")
    ls.add_argument("uri")
    ls.add_argument("--glob", default=None)
    ls.add_argument("--no-recursive", action="store_true")
    ls.add_argument("-l", "--long", action="store_true", help="print sizes")

    du = sub.add_parser("du", help="disk usage of a storage URI")
    du.add_argument("uri")
    du.add_argument(
        "-d", "--depth", type=int, default=0,
        help="aggregate at this directory depth (0 = one total)",
    )

    find = sub.add_parser("find", help="find files under a URI")
    find.add_argument("uri")
    find.add_argument("--name", default=None, help="filename glob")
    find.add_argument("--iname", default=None, help="case-insensitive glob")
    find.add_argument("--size", type=int, default=None, help="minimum bytes")

    index = sub.add_parser("index", help="warm the persistent listing cache")
    index.add_argument("uri")
    index.add_argument("--cache-root", default=None)

    cc = sub.add_parser("clear-cache", help="drop all cached listings")
    cc.add_argument("cache_root", help="listing-cache directory")

    show = sub.add_parser("show", help="print rows of a saved dataset")
    show.add_argument("name")
    show.add_argument("--version", default=None)
    show.add_argument("--limit", type=int, default=20)
    show.add_argument("--columns", default=None, help="comma-separated")
    show.add_argument("--catalog", default=None)

    ds = sub.add_parser("datasets", help="dataset catalog operations")
    ds_sub = ds.add_subparsers(dest="ds_cmd", required=True)
    ds_ls = ds_sub.add_parser("ls", help="list datasets")
    ds_ls.add_argument("--namespace", default=None)
    ds_ls.add_argument("--project", default=None)
    ds_ls.add_argument("--versions", action="store_true")
    ds_ls.add_argument("--catalog", default=None)
    ds_rm = ds_sub.add_parser("rm", help="delete a dataset version")
    ds_rm.add_argument("name")
    ds_rm.add_argument("--version", default=None, help="snapshot id, tag or semver specifier")
    ds_rm.add_argument(
        "--force", action="store_true", help="delete every version"
    )
    ds_rm.add_argument("--catalog", default=None)
    ds_mv = ds_sub.add_parser("mv", help="rename/move a dataset")
    ds_mv.add_argument("src")
    ds_mv.add_argument("dest")
    ds_mv.add_argument("--catalog", default=None)
    ds_ed = ds_sub.add_parser("edit", help="edit dataset metadata")
    ds_ed.add_argument("name")
    ds_ed.add_argument("--new-name", default=None)
    ds_ed.add_argument("--description", default=None)
    ds_ed.add_argument(
        "--attrs", default=None,
        help="comma-separated attributes, e.g. NLP,location=US",
    )
    ds_ed.add_argument("--catalog", default=None)

    q = sub.add_parser("query", help="run a python query script")
    q.add_argument("script")
    q.add_argument("params", nargs="*", help="KEY=VALUE query params")

    gc = sub.add_parser("gc", help="vacuum orphan files from datasets")
    gc.add_argument("names", nargs="*", help="dataset names (default: all)")
    gc.add_argument("--older-than", type=float, default=3600.0)
    gc.add_argument("--catalog", default=None)

    return p


def _spark(injected: SparkSession | None) -> SparkSession:
    if injected is not None:
        return injected
    from datachain_spark.session import get_spark

    return get_spark()


def _catalog(arg: str | None) -> str:
    from datachain_spark.chain import DEFAULT_CATALOG

    return arg or DEFAULT_CATALOG


def main(argv: Sequence[str] | None = None, spark: SparkSession | None = None,
         out=None) -> int:
    args = _build_parser().parse_args(argv)
    out = out or sys.stdout
    emit = lambda s: print(s, file=out)  # noqa: E731

    if args.cmd == "ls":
        from datachain_spark.sources.storage import read_storage

        df = read_storage(
            _spark(spark), args.uri, type="meta",
            recursive=not args.no_recursive, glob=args.glob,
        )
        rows = df.select("file.path", "file.size").orderBy("path").collect()
        for r in rows:
            emit(f"{r['size']:>12}  {r['path']}" if args.long else r["path"])
        return 0

    if args.cmd == "du":
        from datachain_spark.sources.storage import read_storage

        df = read_storage(_spark(spark), args.uri, type="meta")
        if args.depth > 0:
            parts = F.split(F.col("file.path"), "/")
            # directory prefix at the requested depth ('' for root files)
            prefix = F.when(
                F.size(parts) > args.depth,
                F.concat_ws("/", F.slice(parts, 1, args.depth)),
            ).otherwise(F.lit(""))
            agg = (
                df.groupBy(prefix.alias("dir"))
                .agg(F.sum("file.size").alias("bytes"))
                .orderBy("dir")
                .collect()
            )
            for r in agg:
                emit(f"{r['bytes']:>12}  {r['dir'] or '.'}")
        else:
            total = df.agg(F.sum("file.size")).first()[0] or 0
            emit(f"{total:>12}  {args.uri}")
        return 0

    if args.cmd == "find":
        from datachain_spark.sources.storage import read_storage

        df = read_storage(_spark(spark), args.uri, type="meta")
        name = F.element_at(F.split(F.col("file.path"), "/"), -1)
        if args.name:
            df = df.filter(name.rlike(_glob_re(args.name)))
        if args.iname:
            df = df.filter(F.lower(name).rlike(_glob_re(args.iname.lower())))
        if args.size is not None:
            df = df.filter(F.col("file.size") >= args.size)
        for r in df.select("file.path").orderBy("path").collect():
            emit(r["path"])
        return 0

    if args.cmd == "index":
        from datachain_spark.sources.storage import read_storage

        n = read_storage(
            _spark(spark), args.uri, type="meta",
            cache_root=args.cache_root, update=True,
        ).count()
        emit(f"indexed {n} files from {args.uri}")
        return 0

    if args.cmd == "clear-cache":
        root = args.cache_root
        removed = 0
        if os.path.isdir(root):
            for entry in os.listdir(root):
                if entry.startswith("lst__"):
                    shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
                    removed += 1
        emit(f"removed {removed} cached listings")
        return 0

    if args.cmd == "show":
        from datachain_spark.chain import read_dataset

        chain = read_dataset(
            _spark(spark), args.name, version=args.version,
            catalog_root=_catalog(args.catalog),
        )
        df = chain.df
        if args.columns:
            df = df.select(*[c.strip() for c in args.columns.split(",")])
        rows = df.limit(args.limit).collect()
        cols = df.columns
        emit("\t".join(cols))
        for r in rows:
            emit("\t".join(str(r[c]) for c in cols))
        return 0

    if args.cmd == "datasets":
        from datachain_spark.chain import datasets, delete_dataset, move_dataset

        root = _catalog(args.catalog)
        if args.ds_cmd == "ls":
            names = datasets(root, namespace=args.namespace, project=args.project)
            if args.versions:
                from datachain_spark.lake.table import LakeTable
                from datachain_spark.namespaces import dataset_root

                for n in names:
                    t = LakeTable(dataset_root(root, n))
                    emit(f"{n}\t{t.current_version()}")
            else:
                for n in names:
                    emit(n)
            return 0
        if args.ds_cmd == "rm":
            delete_dataset(args.name, catalog_root=root, version=args.version,
                           force=args.force)
            emit(f"removed {args.name}")
            return 0
        if args.ds_cmd == "mv":
            move_dataset(args.src, args.dest, catalog_root=root)
            emit(f"moved {args.src} -> {args.dest}")
            return 0
        if args.ds_cmd == "edit":
            from datachain_spark.chain import edit_dataset

            edit_dataset(
                args.name, catalog_root=root, new_name=args.new_name,
                description=args.description,
                attrs=args.attrs.split(",") if args.attrs is not None else None,
            )
            emit(f"edited {args.name}")
            return 0

    if args.cmd == "query":
        # reference `datachain query script.py` contract: the script runs
        # with a live session; KEY=VALUE args surface via params.param()
        import json as _json

        from datachain_spark import params as dc_params

        if args.params:
            overrides = dict(kv.split("=", 1) for kv in args.params)
            os.environ[dc_params.PARAMS_ENV] = _json.dumps(overrides)
            dc_params._reset_params_cache()
        code = open(args.script, encoding="utf-8").read()
        glb = {"__name__": "__main__", "spark": _spark(spark)}
        exec(compile(code, args.script, "exec"), glb)  # noqa: S102
        return 0

    if args.cmd == "gc":
        from datachain_spark.chain import datasets
        from datachain_spark.lake.table import LakeTable
        from datachain_spark.namespaces import dataset_root

        root = _catalog(args.catalog)
        names = args.names or datasets(root)
        total = 0
        for n in names:
            t = LakeTable(dataset_root(root, n))
            removed = t.remove_orphans(older_than=args.older_than)
            total += removed
            emit(f"{n}: {removed} orphan files removed")
        emit(f"total: {total}")
        return 0

    return 2  # unreachable: argparse enforces a command


def _glob_re(pattern: str) -> str:
    """Anchored regex for a filename glob (fnmatch translate keeps the
    semantics identical to POSIX find -name)."""
    return fnmatch.translate(pattern)


if __name__ == "__main__":
    raise SystemExit(main())
