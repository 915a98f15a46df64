"""Per-group ordering checks: monotonicity / contiguity / gap detection.

No reference analog (typical validates one value at a time); required by
the input_hint's stable-turn-ordering invariant (SURVEY.md Table B,
"Window functions" row). One window pass per group computes lag() of the
ordered columns; each violation class is a cheap comparison on the lagged
values — all in a single shuffle on the group key.

Scale: the window variant shuffles on `group_cols` (conv_id) and is the
right default — conversations are bounded (≲10^4 turns), so per-group
state is tiny. A group CANNOT be salted without breaking its order, but
it does not have to be windowed either: `ordering_violations_skew_safe`
range-partitions on (group, order) — a pathological 10^9-turn group is
then SPLIT across many ordered partitions, adjacent pairs are checked
inside each partition (Arrow batches, with carry between batches), and
the O(#partitions) boundary pairs are checked in one tiny follow-up.
Same violations, no task ever holds more than a partition's worth of one
group (pytest asserts exact equality with the window variant).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from typical_spark.plans.validation import violation_array


def ordering_violations(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    ts_col: str | None = None,
    require_contiguous: bool = True,
    require_ts_monotonic: bool = True,
) -> DataFrame:
    """Violations of per-group turn ordering.

    Emits one row per offending row with check_id in:
      order_duplicate  — same order value as previous row (row_number tie)
      order_gap        — order jumps by > 1 (contiguity break)
      order_regression — order value decreased
      ts_out_of_order  — timestamp decreased while order increased
    Output: group_cols…, order value, check_id, observed, expected.
    """
    # ts breaks order_col ties (asc = nulls first, matching the
    # stateful operator's python sort): without it, duplicate order
    # values with UNEQUAL timestamps gave the next row a
    # nondeterministic "previous", so ts_out_of_order output could
    # change run to run
    order_keys = [F.col(order_col).asc()] + (
        [F.col(ts_col).asc()] if ts_col else []
    )
    w = Window.partitionBy(*group_cols).orderBy(*order_keys)
    prev_o = F.lag(order_col).over(w)
    lagged = df.select(
        *group_cols,
        F.col(order_col),
        prev_o.alias("_prev_o"),
        *( [F.col(ts_col), F.lag(ts_col).over(w).alias("_prev_ts")]
           if ts_col else [] ),
    )
    checks = []
    d = F.col(order_col) - F.col("_prev_o")
    checks.append(
        (
            F.col("_prev_o").isNotNull() & (d == 0),
            F.struct(
                F.lit("order_duplicate").alias("check_id"),
                F.col(order_col).cast("string").alias("observed"),
                F.concat(F.lit("!= prev "), F.col("_prev_o")).alias("expected"),
            ),
        )
    )
    if require_contiguous:
        checks.append(
            (
                F.col("_prev_o").isNotNull() & (d > 1),
                F.struct(
                    F.lit("order_gap").alias("check_id"),
                    F.col(order_col).cast("string").alias("observed"),
                    F.concat(F.lit("prev + 1 = "), F.col("_prev_o") + 1).alias(
                        "expected"
                    ),
                ),
            )
        )
    if ts_col and require_ts_monotonic:
        checks.append(
            (
                F.col("_prev_ts").isNotNull()
                & F.col(ts_col).isNotNull()
                & (F.col(ts_col) < F.col("_prev_ts"))
                & (d > 0),
                F.struct(
                    F.lit("ts_out_of_order").alias("check_id"),
                    F.col(ts_col).cast("string").alias("observed"),
                    F.concat(F.lit(">= prev ts "), F.col("_prev_ts").cast("string")).alias(
                        "expected"
                    ),
                ),
            )
        )
    arr = violation_array(checks, fields=("check_id", "observed", "expected"))
    # no size() pre-filter: explode drops empty arrays itself, and a
    # filter would be pushed below the projection, evaluating the check
    # array twice per row
    return (
        lagged.withColumn("_v", arr)
        .select(*group_cols, F.col(order_col), F.explode("_v").alias("v"))
        .select(*group_cols, F.col(order_col), "v.*")
    )


def _fmt_ts(t) -> str:
    """Mirror Spark's timestamp->string cast (fraction without trailing
    zeros) so skew-safe violations are byte-identical to the window
    variant's."""
    s = t.strftime("%Y-%m-%d %H:%M:%S")
    us = getattr(t, "microsecond", 0)
    if us:
        s += "." + f"{us:06d}".rstrip("0")
    return s


def ordering_violations_skew_safe(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    ts_col: str | None = None,
    require_contiguous: bool = True,
    require_ts_monotonic: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Hot-group-proof twin of ordering_violations: identical violation
    rows, but NO per-group window. repartitionByRange on (group, order)
    splits even a 10^9-turn group across ordered partitions; adjacent
    pairs are checked inside each partition with an Arrow-batched pass
    (carrying the last row across batch boundaries), and the
    O(#partitions) pairs that straddle partition boundaries are checked
    in a bounded driver-side follow-up (2 summary rows per partition).
    Ties in order_col make the 'previous row' of the NEXT element
    ambiguous in BOTH variants (window sort is equally tie-unstable), so
    exact-equality guarantees hold for tie-free order values; the
    duplicate/gap/regression classes are tie-order-independent."""
    from pyspark import TaskContext

    gc = list(group_cols)
    cols = [*gc, order_col] + ([ts_col] if ts_col else [])
    src = df.select(*cols)
    spark = src.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    sort_exprs = [F.col(c) for c in (*gc, order_col)]
    rp = src.repartitionByRange(n, *sort_exprs).sortWithinPartitions(*sort_exprs)

    types = {f.name: f.dataType.simpleString() for f in src.schema.fields}
    out_schema = ", ".join(
        [f"`{c}` {types[c]}" for c in cols]
        + ["kind string", "pid int",
           "check_id string", "observed string", "expected string"]
    )

    def check_pair(prev: dict, cur: dict) -> list[tuple[str, str, str]]:
        if any(prev[g] != cur[g] for g in gc):
            return []
        po, co = prev[order_col], cur[order_col]
        if po is None or co is None:
            return []
        out = []
        d = co - po
        if d == 0:
            out.append(("order_duplicate", str(co), f"!= prev {po}"))
        if require_contiguous and d > 1:
            out.append(("order_gap", str(co), f"prev + 1 = {po + 1}"))
        if ts_col and require_ts_monotonic:
            pt, ct = prev[ts_col], cur[ts_col]
            if pt is not None and ct is not None and ct < pt and d > 0:
                out.append(
                    ("ts_out_of_order", _fmt_ts(ct), f">= prev ts {_fmt_ts(pt)}")
                )
        return out

    def _clean(rec: dict) -> dict:
        return {k: (None if pd.isna(v) else v) for k, v in rec.items()}

    # Arrow->pandas converts an integral column to float64 whenever the
    # batch contains a NULL, which would format violations as '3.0' and
    # break byte-parity with the window variant; restore nullable ints.
    # (Caveat: integral values beyond 2^53 in a null-containing batch
    # have already lost precision in that float hop.)
    int_cols = [
        f.name for f in src.schema.fields
        if f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
    ]

    out_cols = [*cols, "kind", "pid", "check_id", "observed", "expected"]

    def part(it):
        # Vectorized adjacent-pair checks: each batch is compared against
        # its shift(1) (the previous batch's last row is prepended so the
        # batch-boundary pair is covered); per-row Python runs only over
        # the (sparse) violation subset when formatting messages.
        import numpy as np

        pid = TaskContext.get().partitionId()
        carry = None  # one-row DataFrame: last row of the previous batch
        first = None
        for pdf in it:
            for c in int_cols:
                if pdf[c].dtype.kind == "f":
                    pdf[c] = pdf[c].astype("Int64")
            if len(pdf) == 0:
                continue
            if first is None:
                first = _clean(pdf.iloc[0].to_dict())
            work = pdf if carry is None else pd.concat(
                [carry, pdf], ignore_index=True
            )
            prev = work.shift(1)
            # shift() widens native int64 to float64 (NaN in row 0); restore
            # nullable ints so str formatting stays '3', not '3.0'
            for c in int_cols:
                if prev[c].dtype.kind == "f":
                    prev[c] = prev[c].astype("Int64")
            same = pd.Series(True, index=work.index)
            for g in gc:
                same &= (work[g] == prev[g]) | (
                    work[g].isna() & prev[g].isna()
                )
            po, co = prev[order_col], work[order_col]
            valid = same & po.notna() & co.notna()
            d = co - po

            chunks = []

            def emit(cond, cid, obs_fn, exp_fn):
                mask = np.asarray(
                    pd.Series(valid & cond).fillna(False), bool
                )
                if not mask.any():
                    return
                sub = work.loc[mask, cols].copy()
                sub["kind"] = "v"
                sub["pid"] = pid
                sub["check_id"] = cid
                sub["observed"] = np.asarray(obs_fn(mask), object)
                sub["expected"] = np.asarray(exp_fn(mask), object)
                chunks.append(sub)

            emit(d == 0, "order_duplicate",
                 lambda m: co[m].astype(str),
                 lambda m: "!= prev " + po[m].astype(str))
            if require_contiguous:
                emit(d > 1, "order_gap",
                     lambda m: co[m].astype(str),
                     lambda m: "prev + 1 = " + (po[m] + 1).astype(str))
            if ts_col and require_ts_monotonic:
                pt, ct = prev[ts_col], work[ts_col]
                emit(pt.notna() & ct.notna() & (ct < pt) & (d > 0),
                     "ts_out_of_order",
                     lambda m: ct[m].map(_fmt_ts),
                     lambda m: ">= prev ts " + pt[m].map(_fmt_ts))
            if chunks:
                yield pd.concat(chunks, ignore_index=True)[out_cols]
            carry = work.iloc[[-1]]
        rows = []
        last = _clean(carry.iloc[0].to_dict()) if carry is not None else None
        for kind, rec in (("first", first), ("last", last)):
            if rec is not None:
                rows.append({
                    **{c: rec[c] for c in cols}, "kind": kind, "pid": pid,
                    "check_id": None, "observed": None, "expected": None,
                })
        yield pd.DataFrame(rows, columns=out_cols)

    # localCheckpoint (eager), NOT persist(): the two downstream reads
    # share the materialized blocks, and the ContextCleaner reclaims them
    # once the returned DataFrame is dereferenced — an explicit persist
    # would pin executor storage forever with no handle for the caller
    # to unpersist.
    res = rp.mapInPandas(part, out_schema).localCheckpoint()
    inner = res.where(F.col("kind") == "v")

    # boundary pairs: last(p) x first(next non-empty p) — bounded by the
    # partition count, never by data volume
    bounds = sorted(
        (r.asDict() for r in res.where(F.col("kind") != "v").collect()),
        key=lambda r: (r["pid"], 0 if r["kind"] == "first" else 1),
    )
    edge_rows = []
    prev_last = None
    for r in bounds:
        if r["kind"] == "first":
            if prev_last is not None:
                for cid, obs, exp in check_pair(prev_last, r):
                    edge_rows.append({
                        **{c: r[c] for c in cols}, "kind": "v",
                        "pid": int(r["pid"]), "check_id": cid,
                        "observed": obs, "expected": exp,
                    })
        else:
            prev_last = r
    edges = spark.createDataFrame(
        [tuple(e[c] for c in [*cols, "kind", "pid", "check_id", "observed", "expected"])
         for e in edge_rows],
        out_schema,
    )
    out = inner.unionByName(edges)
    return out.select(
        *gc, F.col(order_col), "check_id", "observed", "expected"
    )
