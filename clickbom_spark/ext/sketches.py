"""Mergeable-summary sketch operators: Misra–Gries heavy hitters (the
ClickHouse ``topK()`` analog) and a KLL-style quantile sketch (the
``quantileTDigest``-family analog — per-partition compactor summaries
whose union IS the merge).

Heavy hitters, Spark-shaped as the classic 2-pass scheme:

1. **Candidate pass** — a per-partition Misra–Gries summary of size
   ``k`` (Misra & Gries 1982; the `space-saving` family ClickHouse's
   topK implements).  MG's guarantee: any item with partition frequency
   > n_p/k survives that partition's summary; by pigeonhole, an item
   with GLOBAL frequency > N/k must exceed n_p/k in at least one
   partition, so the union of per-partition candidates is a SUPERSET
   of the true heavy hitters — completeness is structural, not
   probabilistic.  The same pass emits each partition's row count as a
   sentinel row, so N needs no extra corpus scan.
2. **Recount pass** — exact counts for the (tiny) candidate set via a
   broadcast semi-join + hash aggregate, then the > N/k cutoff.

The sketch runs in ``mapInPandas`` (Arrow batches, one dict of ≤2k
counters per partition — the iterator spans the partition, so state
carries across batches); everything after it is built-in expressions.
Output is EXACT: same rows as a full groupBy-count with the same
cutoff, at a fraction of the shuffle (candidates only, never the full
key cardinality).  Total cost: two corpus scans (sketch + recount).
The sketch output is collected to the driver — like k-means centers or
the BPE argmax, the summary IS the model — but only after intermediate
merge rounds (mergeable summaries, Agarwal et al. 2012) fold the
per-partition summaries down to ≤ fanin (``_MG_FANIN``) partitions, so
the collect is bounded at (k+1)·fanin rows regardless of how many tasks
scanned the input: partition-count-proof at 100k-task scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from clickbom_spark.session import local_frame

# Internal columns: the per-partition total sentinel and the residual
# MG counter (the weight a candidate survived with — carried so
# summaries stay MERGEABLE across tree levels); the value column may
# not use these names (or the output names) — guarded below.
_PN = "_mg_pn"
_CNT = "_mg_cnt"
_RESERVED = ("cnt", "n_total", _PN, _CNT)

# Above this many input partitions, fold the per-partition summaries
# through intermediate merge rounds so the driver only ever collects
# ≤ (k+1)·fanin rows — partition-count-proof at 100k-task scale.
_MG_FANIN = 64


_MG_NAN = float("nan")  # single canonical NaN key: dict lookup passes
# on object identity, so all NaN occurrences share one counter —
# matching Spark's NaN normalization in groupBy/join semantics


def mg_ingest(counters: dict, weighted: dict, k: int) -> None:
    """Weighted Misra–Gries update, shared by the batch and streaming
    kernels: add each (value, count), then while more than ``k``
    counters exist subtract the minimum from all and drop zeros.

    Per-batch cost is O(distinct·k), not O(rows·k): the caller
    pre-aggregates the batch with ``value_counts`` so the Python loop
    touches distinct values only.  Bound: every eviction round removes
    ≥ (k+1)·δ total weight, so a surviving counter understates its true
    count by at most N/(k+1) — at least as tight as the classic
    decrement-by-one bound, and any value with true frequency > N/k
    still survives (the pigeonhole completeness guarantee)."""
    for v, c in weighted.items():
        if isinstance(v, float) and v != v:
            v = _MG_NAN
        counters[v] = counters.get(v, 0) + int(c)
    while len(counters) > k:
        delta = min(counters.values())
        dead = []
        for key in counters:
            counters[key] -= delta
            if counters[key] == 0:
                dead.append(key)
        for key in dead:
            del counters[key]


def _mg_partition(k: int, col: str):
    """mapInPandas kernel: one Misra–Gries summary per partition —
    candidate rows carry their residual counter in ``_CNT`` (so the
    summary is mergeable downstream), plus a (NULL, 0, row-count)
    sentinel row."""

    def run(batches):
        import pandas as pd

        counters: dict = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            vc = pdf[col].value_counts(dropna=False)
            mg_ingest(counters, dict(vc.items()), k)
        yield pd.DataFrame(
            {
                col: list(counters.keys()) + [None],
                _CNT: [int(c) for c in counters.values()] + [0],
                _PN: [0] * len(counters) + [n_part],
            }
        )

    return run


def _mg_merge(k: int, col: str):
    """mapInPandas kernel for an intermediate merge round: fold many
    (candidate, residual-count) summaries plus sentinels into one —
    weighted MG ingest of the residual counters (the mergeable-summary
    construction of Agarwal et al. 2012: merged error stays ≤ W/(k+1),
    so candidate completeness for true frequency > W/k is preserved
    across ANY merge tree), summing the sentinel totals."""

    def run(batches):
        import pandas as pd

        counters: dict = {}
        total = 0
        for pdf in batches:
            sent = pdf[_PN] > 0
            total += int(pdf.loc[sent, _PN].sum())
            cand = pdf.loc[~sent]
            if len(cand):
                # Arrow folds NaN keys to null on the way out and
                # pandas reads them back as NaN; duplicate keys across
                # input summaries are pre-summed so mg_ingest sees one
                # weighted entry per value
                grp = cand.groupby(col, dropna=False, sort=False)[_CNT].sum()
                mg_ingest(counters, dict(grp.items()), k)
        yield pd.DataFrame(
            {
                col: list(counters.keys()) + [None],
                _CNT: [int(c) for c in counters.values()] + [0],
                _PN: [0] * len(counters) + [total],
            }
        )

    return run


def _mg_sketch_frame(src: DataFrame, kernel, merge_kernel, schema, fanin: int):
    """Sketch ``src`` per partition, then fold through merge rounds
    until at most ``fanin`` summary partitions remain — the final
    frame has ≤ (k+1)·fanin rows no matter how many tasks scanned the
    input, which is the bound the driver-side collect relies on."""
    sk = src.mapInPandas(kernel, schema=schema)
    nparts = src.rdd.getNumPartitions()
    while nparts > fanin:
        nparts = max(1, -(-nparts // fanin))
        sk = sk.repartition(nparts).mapInPandas(merge_kernel, schema=schema)
    return sk


def _candidates(spark, rows, val_field: StructField) -> DataFrame:
    """The distinct candidate values of a collected MG sketch frame.

    Sentinels have _PN > 0, or _CNT = 0 for an empty partition (a value
    above the cutoff keeps a positive counter).  NOT a null value: the
    Arrow return conversion folds float NaN into null, so a null in a
    candidate row is a NaN (true nulls were filtered upstream)."""
    col = val_field.name
    return local_frame(
        spark,
        [
            (r[col] if r[col] is not None else float("nan"),)
            for r in rows
            if r[_PN] == 0 and r[_CNT] > 0
        ],
        StructType([StructField(col, val_field.dataType, True)]),
    ).distinct()


def heavy_hitters(df: DataFrame, col: str, k: int = 16) -> DataFrame:
    """Exact items with frequency > N/k (N = non-null row count).

    Returns (``col``, cnt, n_total) — identical to the full
    groupBy-count answer at the same cutoff (completeness from the MG
    pigeonhole bound, exactness from the recount), but the aggregate
    shuffles only the candidate subset.  Deterministic: the output set
    is a property of the data, not of partitioning (candidates are a
    superset under ANY partitioning; the recount+cutoff trims it to
    the same final set).
    """
    if col in _RESERVED:
        raise ValueError(
            f"heavy_hitters value column may not be named {_RESERVED}"
        )
    src = df.select(F.col(col).alias(col)).where(F.col(col).isNotNull())
    # the sentinel row carries NULL in the value column, so the field
    # must be re-declared nullable regardless of the input's schema
    # (a non-nullable input field otherwise NPEs inside codegen)
    val_field = src.schema.fields[0]
    schema = StructType(
        [StructField(val_field.name, val_field.dataType, True),
         StructField(_CNT, LongType(), False),
         StructField(_PN, LongType(), False)]
    )
    # The final sketch frame is bounded at ≤(k+1)·_MG_FANIN rows — merge
    # rounds fold high partition counts first — so the collect is one
    # small job, like the BPE argmax: no persist/unpersist lifecycle
    # leaks into the caller's session, and N becomes a plan literal.
    rows = _mg_sketch_frame(
        src, _mg_partition(k, col), _mg_merge(k, col), schema, _MG_FANIN
    ).collect()
    n_total = sum(r[_PN] for r in rows)
    cands = _candidates(df.sparkSession, rows, val_field)
    counted = (
        src.join(F.broadcast(cands), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counted.where(F.col("cnt") * k > F.lit(n_total))
        .select(col, "cnt", F.lit(n_total).alias("n_total"))
    )


def _mg_weighted_partition(k: int, col: str, weight_col: str):
    """mapInPandas kernel: weighted Misra–Gries per partition, plus a
    (NULL, total-weight) sentinel row."""

    def run(batches):
        import pandas as pd

        counters: dict = {}
        w_part = 0
        for pdf in batches:
            grp = pdf.groupby(col, dropna=False, sort=False)[weight_col].sum()
            w_part += int(pdf[weight_col].sum())
            mg_ingest(counters, dict(grp.items()), k)
        yield pd.DataFrame(
            {
                col: list(counters.keys()) + [None],
                _CNT: [int(c) for c in counters.values()] + [0],
                _PN: [0] * len(counters) + [w_part],
            }
        )

    return run


def heavy_hitters_weighted(
    df: DataFrame, col: str, weight_col: str, k: int = 16
) -> DataFrame:
    """Exact weighted heavy hitters — ClickHouse ``topKWeighted``: the
    values whose total weight exceeds W/k (W = total weight), exactly.

    Identical scheme to :func:`heavy_hitters` with weights threaded
    through the shared :func:`mg_ingest` kernel: any value with global
    weight > W/k has partition weight > W_p/k somewhere (pigeonhole on
    weights), so the per-partition MG candidates remain a superset and
    the weighted recount restores exactness.  Weights must be
    non-negative integers; null values and null/negative weights are
    excluded.
    """
    if col in _RESERVED or weight_col in _RESERVED:
        raise ValueError(
            f"heavy_hitters_weighted columns may not be named {_RESERVED}"
        )
    w = F.col(weight_col).cast("long")
    src = df.select(F.col(col).alias(col), w.alias(weight_col)).where(
        F.col(col).isNotNull() & w.isNotNull() & (w >= 0)
    )
    val_field = src.schema.fields[0]
    schema = StructType(
        [StructField(val_field.name, val_field.dataType, True),
         StructField(_CNT, LongType(), False),
         StructField(_PN, LongType(), False)]
    )
    # same bounded-collect scheme as heavy_hitters: merge rounds keep
    # the driver's view at ≤(k+1)·_MG_FANIN rows (the merge kernel ingests
    # residual WEIGHTS, so the pigeonhole-on-weights superset holds)
    rows = _mg_sketch_frame(
        src,
        _mg_weighted_partition(k, col, weight_col),
        _mg_merge(k, col),
        schema,
        _MG_FANIN,
    ).collect()
    w_total = sum(r[_PN] for r in rows)
    cands = _candidates(df.sparkSession, rows, val_field)
    counted = (
        src.join(F.broadcast(cands), col, "left_semi")
        .groupBy(col)
        .agg(F.sum(weight_col).cast("long").alias("total_w"))
    )
    return counted.where(F.col("total_w") * k > F.lit(w_total)).select(
        col, "total_w", F.lit(w_total).cast("long").alias("w_total")
    )


def _mg_grouped_partition(k: int, group_cols: list, col: str):
    """mapInPandas kernel: one Misra–Gries summary PER GROUP KEY seen in
    the partition (state ≤ groups-in-partition × k counters), plus one
    (group, NULL, row-count) sentinel row per group."""

    def run(batches):
        import pandas as pd

        per_group: dict = {}
        totals: dict = {}
        for pdf in batches:
            for gkey, gdf in pdf.groupby(group_cols, dropna=False, sort=False):
                if not isinstance(gkey, tuple):
                    gkey = (gkey,)
                totals[gkey] = totals.get(gkey, 0) + len(gdf)
                counters = per_group.setdefault(gkey, {})
                vc = gdf[col].value_counts(dropna=False)
                mg_ingest(counters, dict(vc.items()), k)
        rows = {c: [] for c in group_cols}
        rows[col] = []
        rows[_PN] = []
        for gkey, counters in per_group.items():
            for v in counters:
                for c, gv in zip(group_cols, gkey):
                    rows[c].append(gv)
                rows[col].append(v)
                rows[_PN].append(0)
            for c, gv in zip(group_cols, gkey):
                rows[c].append(gv)
            rows[col].append(None)
            rows[_PN].append(totals[gkey])
        yield pd.DataFrame(rows)

    return run


def heavy_hitters_by(
    df: DataFrame, col: str, group_cols: Sequence[str], k: int = 16
) -> DataFrame:
    """Per-group exact heavy hitters — ClickHouse ``topK(k)(col) GROUP
    BY dims`` with the recount upgrade: items whose within-group
    frequency exceeds N_g/k, exactly.

    Same two-pass scheme as :func:`heavy_hitters`, with the group key
    threaded through: per-partition MG summaries per group (candidate
    completeness per group by the same pigeonhole), then a distributed
    recount — candidates semi-join + (group, value) hash aggregate +
    per-group totals from the sentinel rows.  Unlike the global
    operator nothing is collected to the driver, so the group-key
    cardinality may itself be huge; per-partition state is bounded by
    (groups present in the partition) × k counters.

    Scan count (an unpersisted input is scanned THREE times): the
    lazy sketch frame is consumed twice (candidates + per-group
    totals) and the recount once more.  Persist the input upstream
    when that matters; the sketch itself is small but rebuilt per
    consumer by design — no persist lifecycle leaks out of this call.
    """
    gcols = list(group_cols)
    reserved = set(_RESERVED) | {"grp_n"}
    if col in reserved or any(g in (col, *_RESERVED, "grp_n") for g in gcols):
        raise ValueError(
            f"heavy_hitters_by columns may not collide with {sorted(reserved)}"
        )
    src = df.select(*gcols, F.col(col)).where(F.col(col).isNotNull())
    fields = [StructField(f.name, f.dataType, True) for f in src.schema.fields]
    schema = StructType(fields + [StructField(_PN, LongType(), False)])
    sketch = src.mapInPandas(
        _mg_grouped_partition(k, gcols, col), schema=schema
    )
    cands = (
        sketch.where(F.col(_PN) == 0).select(*gcols, col).distinct()
    )
    totals = (
        sketch.where(F.col(_PN) > 0)
        .groupBy(*gcols)
        .agg(F.sum(_PN).alias("grp_n"))
    )
    counted = (
        src.join(F.broadcast(cands), [*gcols, col], "left_semi")
        .groupBy(*gcols, col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counted.join(totals, gcols)
        .where(F.col("cnt") * k > F.col("grp_n"))
        .select(*gcols, col, "cnt", F.col("grp_n").alias("n_group"))
    )


# ---- KLL-style mergeable quantile sketch ----

def kll_compact(levels: list, flips: list, k: int, l: int = 0) -> None:
    """One weight-exact KLL compaction step, shared by the batch and
    streaming kernels (weight conservation is load-bearing: a change
    here that diverged between the two would silently break the
    documented Σ weight == N invariant on one side).

    An odd buffer cannot halve weight-exactly, so one element stays
    behind; the kept-alternation offset flips with the level's
    compaction count — deterministic, no RNG state.
    """
    buf = sorted(levels[l])
    leftover = [buf.pop()] if len(buf) % 2 == 1 else []
    keep = buf[flips[l] % 2 :: 2]
    flips[l] += 1
    levels[l] = leftover
    if l + 1 == len(levels):
        levels.append([])
        flips.append(0)
    levels[l + 1].extend(keep)
    if len(levels[l + 1]) >= k:
        kll_compact(levels, flips, k, l + 1)


def _kll_partition(col: str, k: int):
    """mapInPandas kernel: one KLL-style compactor sketch per partition,
    emitted as (value, weight) rows.

    Level l holds items of weight 2^l in a buffer of capacity k; a full
    buffer compacts via :func:`kll_compact`.  Compaction preserves
    total weight exactly, so the union of all partitions' rows sums to
    the (non-null, non-NaN) input count.
    """

    def run(batches):
        import pandas as pd

        levels: list[list] = [[]]
        flips: list[int] = [0]
        for pdf in batches:
            for v in pdf[col]:
                levels[0].append(float(v))
                if len(levels[0]) >= k:
                    kll_compact(levels, flips, k)
        vals, weights = [], []
        for l, buf in enumerate(levels):
            for v in buf:
                vals.append(v)
                weights.append(1 << l)
        yield pd.DataFrame({"value": vals, "weight": weights})

    return run


def quantile_sketch(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """Mergeable quantile summary: (value, weight) rows, Σ weight = N.

    The per-partition sketches ARE the mergeable states (union = merge,
    exactly like ClickHouse's quantile*State): downstream consumers
    re-sketch, store, or union them freely.  Output size is
    O(k·log(n/k)) rows per partition — negligible next to the input.
    """
    c = F.col(col).cast("double")
    # NaN is excluded along with null: NaN has no rank (sorted() over a
    # NaN-containing buffer breaks the alternating-keep compaction), so
    # a quantile summary cannot represent it
    src = df.select(c.alias(col)).where(c.isNotNull() & ~F.isnan(c))
    schema = StructType(
        [
            StructField("value", DoubleType(), False),
            StructField("weight", LongType(), False),
        ]
    )
    return src.mapInPandas(_kll_partition(col, k), schema=schema)


_HLL_P_MIN = 7  # alpha constant below assumes m >= 128


def hll_bucket_rho(value, p: int):
    """The (bucket, rho) pair for one value — the single HLL hash
    kernel shared by the batch register builders and the streaming
    twin (one implementation, like mg_ingest/kll_compact): 60-bit
    portable md5 hash, bucket = low ``p`` bits, rho = trailing zeros
    of the remaining bits + 1 via ``length(bin(x & -x))``."""
    m = 1 << p
    wbits = 60 - p
    h = F.conv(
        F.substring(F.md5(value.cast("string")), 1, 15), 16, 10
    ).cast("long")
    rem = F.shiftright(h, p)
    rho = F.when(rem == 0, F.lit(wbits + 1)).otherwise(
        F.length(F.bin(rem.bitwiseAND(-rem)))
    )
    return F.pmod(h, F.lit(m)), rho.cast("int")


def hll_registers(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """HyperLogLog registers for ``col``: all ``2^p`` rows of
    (bucket, rho), empty buckets at rho 0 — the third mergeable
    summary next to the Misra–Gries heavy hitters and the KLL
    quantile sketch (ClickHouse ``uniqState`` analog).

    Engine-portable by construction: the 60-bit hash is the repo's
    standard md5-hex prefix, bucket = low ``p`` bits, and
    rho = trailing zeros of the remaining bits + 1 computed as
    ``length(bin(rem & -rem))`` — exact integer ops any engine
    reproduces bit-for-bit (no floats anywhere in the state).

    The register table IS the mergeable state: merge = union +
    per-bucket max (:func:`hll_merge`), identical to rescanning the
    concatenated input.  One hash aggregate over ``2^p`` groups plus a
    broadcast spine join — at 100 TB this is a map-side-combinable
    aggregate producing a KB-sized summary.
    """
    if p < _HLL_P_MIN:
        raise ValueError(f"hll_registers requires p >= {_HLL_P_MIN}")
    m = 1 << p
    bucket, rho = hll_bucket_rho(F.col(col), p)
    regs = (
        df.where(F.col(col).isNotNull())
        .select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    spine = df.sparkSession.range(m).select(F.col("id").alias("bucket"))
    return spine.join(F.broadcast(regs), "bucket", "left").select(
        "bucket", F.coalesce(F.col("rho"), F.lit(0)).cast("int").alias("rho")
    )


def hll_merge(*register_sets: DataFrame) -> DataFrame:
    """Merge register tables: union + per-bucket max.  Associative and
    commutative; merge(regs(A), regs(B)) == regs(A ∪ B) exactly."""
    from functools import reduce

    merged = reduce(DataFrame.unionByName, register_sets)
    return merged.groupBy("bucket").agg(F.max("rho").alias("rho"))


def hll_harmonic_aggs(p: int = 8) -> tuple[Column, Column]:
    """The two aggregate Columns (``s``, ``v``) of the Flajolet
    estimator — the exact-decimal harmonic sum over ``2^62 >> rho``
    and the empty-bucket count — factored out so single-pass consumers
    can compute them alongside other aggregates in ONE job."""
    return (
        F.sum(
            F.expr(
                "cast(shiftleft(cast(1 as bigint), 62 - rho)"
                " as decimal(38,0))"
            )
        ).alias("s"),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0))
        .cast("long")
        .alias("v"),
    )


def hll_est_expr(p: int = 8) -> Column:
    """The estimate Column over aggregated (``s``, ``v``) columns —
    the finalizer half of :func:`hll_estimate`, shared with
    single-pass consumers."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    scale = alpha * m * m * float(1 << 62)
    raw = F.lit(scale) / F.col("s").cast("double")
    return F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("v") > 0),
        F.round(
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v").cast("double")),
            4,
        ),
    ).otherwise(F.round(raw, 4))


def hll_estimate(registers: DataFrame, p: int = 8) -> DataFrame:
    """One-row (est_hll double) cardinality estimate from a register
    table (Flajolet 2007, with the small-range linear-counting
    correction below 2.5·m when empty buckets remain).

    Deterministic cross-engine: the harmonic sum is an exact
    decimal(38,0) over powers of two (order-independent), the scale
    constant folds into ONE double literal, and the final value is a
    single correctly-rounded division (or m·ln(m/V), rounded to 4
    decimals to absorb libm ULP drift in ``ln``).
    """
    s, v = hll_harmonic_aggs(p)
    agg = registers.agg(s, v)
    return agg.select(hll_est_expr(p).alias("est_hll"))


def _hll_group_estimate(
    regs: DataFrame, group_cols: Sequence[str], p: int, integer: bool = False
) -> DataFrame:
    """Spine-free per-group estimate from (group…, bucket, rho)
    bucket-max rows — the shared finalizer behind
    :func:`hll_distinct_by` and :func:`hll_distinct_from_codes`.
    Empty buckets contribute ``(m - present) * 2^62`` to the harmonic
    sum and ``v = m - present`` to the linear-counting correction.
    ``integer=True`` rounds the RAW estimate to a bigint (the dialect
    uniqMerge convention); default keeps the 4-decimal double of the
    original hll_distinct_by contract."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    scale = alpha * m * m * float(1 << 62)
    per = regs.groupBy(*group_cols).agg(
        F.sum(
            F.expr(
                "cast(shiftleft(cast(1 as bigint), 62 - rho)"
                " as decimal(38,0))"
            )
        ).alias("_s_present"),
        F.count(F.lit(1)).cast("long").alias("_n_present"),
    )
    s_d = F.col("_s_present").cast("double") + (
        F.lit(m) - F.col("_n_present")
    ).cast("double") * F.lit(float(1 << 62))
    v = (F.lit(m) - F.col("_n_present")).cast("long")
    raw = F.lit(scale) / s_d
    inner = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    est = (
        F.round(inner).cast("long").alias("uniq_est")
        if integer
        else F.round(inner, 4).alias("est_hll")
    )
    return per.select(*group_cols, est)


def hll_distinct_from_codes(
    df: DataFrame,
    group_cols: Sequence[str],
    code_col: str = "code",
    p: int = 8,
    integer: bool = True,
) -> DataFrame:
    """Per-group cardinality estimate from (group…, code) rows where
    ``code = bucket * 64 + rho`` — the relational form of the
    dialect's ``uniqState`` code-set state (dialect.py
    _uniq_state_expr) and of the lake-maintained distinct-count
    matview state (ext.manifest.maintain_uniq_state).  Two hash
    aggregates: (group, bucket) → max rho, then the shared spine-free
    finalizer; defaults to the dialect's integer-rounded estimate so
    maintained states finalize to the same values ``uniqMerge``
    returns (pinned by test)."""
    if p < _HLL_P_MIN:
        raise ValueError(f"hll_distinct_from_codes requires p >= {_HLL_P_MIN}")
    regs = (
        df.select(
            *group_cols,
            F.expr(f"{code_col} DIV 64").alias("bucket"),
            (F.col(code_col) % 64).cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    return _hll_group_estimate(regs, group_cols, p, integer=integer)


def hll_distinct_by(
    df: DataFrame,
    col: str,
    group_cols: Sequence[str],
    p: int = 8,
) -> DataFrame:
    """Per-group HLL cardinality estimate — ``uniq(col) GROUP BY dims``,
    the canonical ClickHouse OLAP shape — as two hash aggregates:
    (dims, bucket) → max rho, then dims → estimate.

    Spine-free: empty buckets contribute ``(m - present) · 2^62`` to
    the harmonic sum and ``v = m - present`` to the linear-counting
    correction, so no per-group bucket spine is materialized.  The
    present-bucket sum stays exact in decimal; its one cast to double
    and the missing-bucket product (a small int times a power of two)
    are both exactly representable or correctly rounded, so estimates
    stay engine-portable.  At 100 TB both aggregates are map-side
    combinable and the shuffled state is ≤ m rows per group.
    """
    if p < _HLL_P_MIN:
        raise ValueError(f"hll_distinct_by requires p >= {_HLL_P_MIN}")
    bucket, rho = hll_bucket_rho(F.col(col), p)
    regs = (
        df.where(F.col(col).isNotNull())
        .select(
            *[F.col(c) for c in group_cols],
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    # value-identical refactor: round(CASE …) == the original
    # per-branch round(…, 4) (the round applies to whichever branch
    # was selected)
    return _hll_group_estimate(regs, group_cols, p)


def approx_quantiles_from_sketch(
    sketch: DataFrame, probs: Sequence[float]
) -> list[float]:
    """Quantile estimates from a (value, weight) summary: the smallest
    value whose cumulative weight reaches p·N.  The sketch is tiny, so
    the rank scan collects it — the summary is driver-resident state by
    design (like every mergeable agg state)."""
    rows = sorted(
        (r["value"], r["weight"]) for r in sketch.collect()
    )
    total = sum(w for _, w in rows)
    out = []
    for p in probs:
        target = p * total
        acc = 0
        val = rows[-1][0] if rows else float("nan")
        for v, w in rows:
            acc += w
            if acc >= target:
                val = v
                break
        out.append(val)
    return out


def heavy_hitters_from_parts(
    dfs: Sequence[DataFrame], col: str, k: int = 16
) -> DataFrame:
    """Exact heavy hitters over the UNION of several ingest parts,
    computed by sketching each part independently and merging the
    summaries — the ClickHouse ``topKState``/``-Merge`` workflow: each
    site ships only its ≤(k+1)·_MG_FANIN-row summary, the merge round
    combines them (mergeable MG, Agarwal et al. 2012), and one recount
    over the unioned corpus restores exact counts at the > N/k cutoff.
    Identical output to :func:`heavy_hitters` on the pre-unioned data
    (law pinned by the staged query's oracle)."""
    if not dfs:
        raise ValueError("heavy_hitters_from_parts: no parts")
    if col in _RESERVED:
        raise ValueError(
            f"heavy_hitters_from_parts value column may not be {_RESERVED}"
        )
    srcs = [
        df.select(F.col(col).alias(col)).where(F.col(col).isNotNull())
        for df in dfs
    ]
    val_field = srcs[0].schema.fields[0]
    schema = StructType(
        [StructField(val_field.name, val_field.dataType, True),
         StructField(_CNT, LongType(), False),
         StructField(_PN, LongType(), False)]
    )
    sketches = [
        _mg_sketch_frame(s, _mg_partition(k, col), _mg_merge(k, col),
                         schema, _MG_FANIN)
        for s in srcs
    ]
    merged = sketches[0]
    for sk in sketches[1:]:
        merged = merged.unionByName(sk)
    # one more merge level over the unioned summaries, then the shared
    # recount path over the unioned corpus
    final = merged.repartition(1).mapInPandas(
        _mg_merge(k, col), schema=schema
    )
    rows = final.collect()
    n_total = sum(r[_PN] for r in rows)
    union_src = srcs[0]
    for s in srcs[1:]:
        union_src = union_src.unionByName(s)
    cands = _candidates(union_src.sparkSession, rows, val_field)
    counted = (
        union_src.join(F.broadcast(cands), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counted.where(F.col("cnt") * k > F.lit(n_total)).select(
        col, "cnt", F.lit(n_total).alias("n_total")
    )
