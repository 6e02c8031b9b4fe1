"""Delta / incremental recompute + retry — the reference's delta.py,
Spark-first.

Reference semantics (/root/reference/src/datachain/delta.py:240-396):
on save of a delta-enabled chain, (1) diff the source's latest version
against the version last consumed, (2) re-apply the chain's transform to
the diff (plus retry rows), (3) keep previous-result rows whose keys are
not superseded and union the recomputed rows, (4) short-circuit when the
diff is empty. Deletes are NOT propagated by the reference (delta.py:123);
here a key deleted from the source is deleted from the result, per the
north rule.

Here versions are LakeTable snapshots; the transform is any
DataFrame -> DataFrame function (Catalyst plan, not a Step list).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datachain_spark.diff import A, D, M, diff
from datachain_spark.lake.table import LakeTable


def delta_update(
    spark: SparkSession,
    source: LakeTable,
    result: LakeTable,
    transform: Callable[[DataFrame], DataFrame],
    on: Sequence[str],
    compare: Sequence[str] | None = None,
    retry_predicate: F.Column | None = None,
) -> int | None:
    """Incrementally bring `result` up to date with `source`'s latest
    snapshot. Returns the new result version, or None when there was no
    change (the reference's no-change short-circuit, delta.py:373-395).

    The last consumed source version is recorded in the result snapshot's
    props (the reference records dataset dependencies,
    delta.py:188-237)."""
    on = list(on)
    latest_src = source.current_version()
    res_snap = result.snapshot()
    # dependency records: every result version carries the (source_root,
    # version) pairs it was derived from (the reference resolves the
    # last-consumed source version through recorded dataset dependencies,
    # delta.py:188-237 + catalog.get_dataset_dependencies) — multi-input
    # chains each find their own entry.
    deps = {d["source"]: d["version"] for d in res_snap.props.get("dependencies", [])}
    last_src = deps.get(source.root)

    src_df = source.read(spark, version=latest_src)
    if last_src is None:
        changed = src_df  # first run: everything is new
        deleted_keys = None
    else:
        if last_src == latest_src:
            return None
        prev_df = source.read(spark, version=last_src)
        d = diff(src_df, prev_df, on=on, compare=compare)
        changed = d.filter(F.col("diff_status").isin([A, M])).drop("diff_status")
        deleted_keys = d.filter(F.col("diff_status") == D).select(*on)

    prev_result = result.read(spark)
    if retry_predicate is not None and set(prev_result.columns) >= set(on):
        # reprocess rows whose error predicate holds (reference
        # delta_retry, delta.py:126-185), unless already in the diff
        retry_keys = prev_result.filter(retry_predicate).select(*on)
        retry_rows = src_df.join(retry_keys, on, "left_semi").join(
            changed.select(*on), on, "left_anti"
        )
        changed = changed.unionByName(retry_rows)

    recomputed = transform(changed)

    keep = prev_result.join(recomputed.select(*on), on, "left_anti")
    if deleted_keys is not None:
        keep = keep.join(deleted_keys, on, "left_anti")
    new_result = keep.unionByName(recomputed, allowMissingColumns=True)

    deps[source.root] = latest_src
    return result.overwrite(
        new_result,
        "delta",
        props={
            "dependencies": [
                {"source": s, "version": v} for s, v in sorted(deps.items())
            ],
        },
    )
