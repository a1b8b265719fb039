"""Count-min sketch: fixed-size frequency summaries with mergeable state.

The reference stack answers "how often did X occur" by asking
Elasticsearch for a terms aggregation over everything it has indexed
(reference kafka_to_es.py:55-69 ships every row so Kibana can count
them). At 100 TB you cannot afford an exact count table for unbounded
key domains; a count-min sketch (Cormode & Muthukrishnan, J.Alg 2005)
bounds the state at depth × width counters with a one-sided error
guarantee (estimate >= true count, overshoot <= eN with probability
1 - (1/2)^depth for width = 2/e).

Spark shape, chosen for scale:

- BUILD is one map-side-combinable aggregation: each key row explodes
  into `depth` (row, bucket) cells — a constant 4× row blowup that
  partial aggregation collapses to at most depth × width rows per
  partition BEFORE the shuffle; the exchange then carries a bounded
  depth × width grid no matter how many input rows there were. This is
  the same "fixed-size mergeable state" contract as the HLL rollup in
  relational.py — per-day / per-partition sketch tables can be summed
  cell-wise to answer any coarser window without rescanning facts.
- ESTIMATE broadcasts the candidate keys (heavy-hitter candidates are
  few by definition), recomputes their cells with the same hash family,
  joins the sketch grid on (row, bucket), and takes min() over rows —
  one broadcast join against a <= depth × width row table.

The hash family is md5-derived (row r of key k hashes
md5(k || ':' || r)), so a DuckDB oracle can rebuild the IDENTICAL grid
cell-for-cell — the sketch is deterministic and differentially
checkable, unlike engine-native HLL state. All counters are BIGINTs;
there is no float anywhere in the mechanism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def md5_row_hash(key: Column, row: int, width: int) -> Column:
    """Bucket of `key` in sketch row `row`: first 15 hex chars of
    md5(key || ':' || row) as a long, mod width. DuckDB twin:
    ('0x' || substring(md5(k || ':' || r), 1, 15))::UBIGINT % width."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(key, F.lit(f":{row}"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(width),
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build the depth × width counter grid in ONE aggregation pass.

    Returns (r, bucket, n): at most depth × width COUNTER rows (r >= 0)
    plus ONE parameter-sentinel row (r = -1, bucket = width, n = depth)
    that cms_estimate validates probes against — the grid carries its
    own build parameters, so a mismatched probe is an error, never a
    confident 0. The explode is a constant-factor map-side blowup that
    the partial hash aggregate absorbs; the shuffle payload is the
    bounded grid, which is the property that makes this a 100 TB
    operator (compare: exact per-key counts shuffle the key domain).

    NULL keys are excluded: md5(NULL) is NULL, which would silently
    hash to a NULL cell and probe back as 0 — an undercount the CMS
    one-sided guarantee forbids. Count NULLs separately if they matter.
    """
    key = F.col(key_col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                md5_row_hash(key, r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    grid = (
        df.filter(F.col(key_col).isNotNull())
        .select(F.explode(cells).alias("cell"))
        .groupBy(
            F.col("cell.r").alias("r"), F.col("cell.bucket").alias("bucket")
        )
        .agg(F.count("*").alias("n"))
    )
    sentinel = grid.sparkSession.createDataFrame(
        [(-1, width, depth)], "r int, bucket long, n long"
    )
    return grid.unionByName(sentinel.selectExpr("r", "bucket", "CAST(n AS long) n"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketch grids built with the same (depth, width, hash
    family): counter cells (r >= 0) sum cell-wise; the parameter
    sentinels (r = -1) dedup instead of summing. A mixed-parameter
    merge therefore yields a grid with TWO distinct sentinel rows,
    which cms_estimate rejects — the merge cannot silently produce an
    answerable-but-wrong grid."""
    it = iter(sketches)
    acc = next(it)
    for s in it:
        acc = acc.unionByName(s)
    cells = (
        acc.filter(F.col("r") >= 0)
        .groupBy("r", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    return cells.unionByName(acc.filter(F.col("r") < 0).distinct())


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the grid for each candidate key: min over the
    depth row counters. Candidates broadcast (heavy-hitter shortlists
    are small); the sketch side is <= depth × width rows, so this join
    never touches the original facts.

    Parameter-mismatch guard: probing with a (depth, width) different
    from the build parameters would hash probes into absent cells — the
    left join coalesces those to 0 and min() returns a confidently
    WRONG estimate of 0. The grid carries its build parameters in the
    r = -1 sentinel row cms_build writes (bucket = width, n = depth); a
    broadcast scalar of the sentinel is checked lazily inside the plan
    and raise_error()s when it disagrees with the probe parameters,
    when it is missing (grid not built by cms_build), or when a
    mixed-parameter merge left more than one sentinel. A sentinel-less
    grid is rejected because it is indistinguishable from a frame that
    was never built by cms_build; accepting it would reopen the
    silent-zero failure mode this guard exists to close."""
    key = F.col(key_col).cast("string")
    # materialize the bounded grid ONCE: the sentinel guard is a second
    # plan branch over `sketch`, and without this the whole upstream
    # build (a full fact-table scan when the caller passes
    # cms_build(...) unmaterialized) runs once per branch — measured 2×
    # the probe time at sf0.1 (r7 guard-cost audit). The grid is
    # <= depth×width+1 rows, so the checkpoint is O(grid), not O(facts).
    sketch = sketch.localCheckpoint(eager=False)
    shape = sketch.filter(F.col("r") < 0).agg(
        F.count("*").alias("_n_sent"),
        F.max("bucket").alias("_grid_width"),
        F.max("n").alias("_grid_depth"),
    )
    shape_ok = F.when(
        (F.col("_n_sent") != 1)
        | (F.col("_grid_depth") != F.lit(depth))
        | (F.col("_grid_width") != F.lit(width)),
        F.raise_error(
            F.concat(
                F.lit(
                    f"cms_estimate parameter mismatch: probing with "
                    f"depth={depth} width={width} but the grid sentinel says "
                    f"depth="
                ),
                F.coalesce(F.col("_grid_depth").cast("string"), F.lit("?")),
                F.lit(" width="),
                F.coalesce(F.col("_grid_width").cast("string"), F.lit("?")),
                F.lit(" (sentinels: "),
                F.col("_n_sent").cast("string"),
                F.lit("; 1 expected — 0 means the grid was not built by "
                      "cms_build, >1 means a mixed-parameter merge)"),
            )
        ),
    )
    probes = candidates.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        md5_row_hash(key, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(key_col, F.col("cell.r").alias("r"), F.col("cell.bucket").alias("bucket"))
    # broadcast the GRID, not the probes: Spark cannot build the left
    # side of a left-outer join, so a hint on `probes` is silently
    # dropped (HintErrorLogger WARN) and the planner falls back to
    # size estimates. The grid is the bounded side anyway (≤
    # depth×width+1 rows by construction) while `probes` is
    # candidate-sized — at scale this replaces a shuffle of every
    # probe row with one broadcast of the fixed-size sketch.
    return (
        probes
        .join(F.broadcast(sketch.filter(F.col("r") >= 0)), ["r", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_est"))
        .crossJoin(F.broadcast(shape))
        .select(
            key_col,
            F.coalesce(shape_ok, F.col("cms_est")).alias("cms_est"),
        )
    )


#: hash space of the 15-hex-char md5 prefix: 16^15 == 2^60 (exactly
#: representable as a double, which keeps the estimator cross-engine exact)
KMV_SPACE = 16 ** 15


def kmv_hash(key: Column, seed: str = "kmv") -> Column:
    """Uniform 60-bit value for KMV: first 15 hex chars of
    md5(seed:key). DuckDB twin: ('0x' || substring(md5(...), 1, 15))
    ::UBIGINT."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")


def _bottom_k(d: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Shared rank-and-keep mechanism for kmv_build/kmv_merge: distinct
    (group, h) rows → per-group ascending rank → keep rk <= k. One
    place owns the tie/bound rule so build and merge cannot drift."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(F.asc("h"))
    return (
        d.distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def kmv_build(
    df: DataFrame, group_cols: list[str], key_col: str, k: int = 64
) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al., RANDOM 2002)
    per group: the k smallest distinct md5 hashes of the key. Returns
    (group..., h, rk) rows — at most k per group.

    Why this exists next to the HLL rollup (relational.py): HLL state is
    engine-specific, so its queries are rows-only under the driver; KMV
    with an md5 family is fully deterministic — a DuckDB oracle computes
    the SAME bottom-k and the SAME estimate, putting a distinct-count
    SKETCH under the value-hash gate. It is also trivially mergeable:
    bottom-k of a union == bottom-k of the merged bottom-k sets (pinned
    in tests), so per-shard sketches roll up without rescanning.

    Shape: distinct on (group, hash) — one shuffle, map-side combined —
    then a per-group window keeps k rows. State per group is k longs.

    NULL keys are excluded: kmv_hash(NULL) is NULL, and a NULL hash
    would sort FIRST in Spark's ascending window but LAST in a DuckDB
    oracle's — a cross-engine divergence, and either way not a value.
    NULL contributes nothing to the distinct count, matching
    COUNT(DISTINCT) semantics."""
    return _bottom_k(
        df.filter(F.col(key_col).isNotNull()).select(
            *group_cols, kmv_hash(F.col(key_col)).alias("h")
        ),
        group_cols,
        k,
    )


def kmv_merge(
    sketches_df: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Merge KMV sketch rows (same seed, any split of the data): dedup
    hashes per group, keep the k smallest again. bottom-k is a
    semilattice — merge of sketches == sketch of the union."""
    return _bottom_k(
        sketches_df.select(*group_cols, "h"), group_cols, k
    )


def kmv_estimate(
    sketch: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Distinct-count estimate per group from a kmv_build/kmv_merge
    frame: exact count when the group holds fewer than k hashes, else
    (k-1) / (h_k / SPACE) — the classic KMV estimator, computed as two
    correctly-rounded IEEE ops so any engine agrees bit-for-bit."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count("*").alias("n_seen"),
        F.max(F.when(F.col("rk") == k, F.col("h"))).alias("kth"),
    )
    est = F.when(
        F.col("n_seen") < k, F.col("n_seen").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) / (F.col("kth") / F.lit(float(KMV_SPACE)))
    )
    return agg.select(*group_cols, "n_seen", est.alias("ndv_est"))


def bloom_build(
    df: DataFrame,
    key_col: str,
    n_hashes: int = 4,
    n_bits: int = 4096,
) -> DataFrame:
    """Bloom membership sketch (Bloom, CACM 1970) as a SET-BIT table:
    one row per distinct set bit position — at most min(n_bits,
    n_hashes × NDV) rows whatever the input size, the same
    bounded-state contract as the CMS grid. Completes the sketch family
    (CMS = frequency, KMV = cardinality, Bloom = membership): the
    "have we ever seen this key" question a 100 TB pipeline answers
    without keeping the key domain (ingest dedup gates, FK prefilters,
    cross-shard existence checks).

    The hash family reuses `md5_row_hash` (bit r of key k =
    md5(k || ':' || r) mod n_bits), so a DuckDB oracle rebuilds the
    IDENTICAL bit set and the probe verdicts are value-hash checkable —
    unlike engine-native bloom_filter_agg state. Merge = UNION +
    distinct (bitwise OR in set form). Returns (bit) rows.

    NULL keys are EXCLUDED (md5(NULL) is NULL — it would store a NULL
    bit that no probe can match, turning an ingested NULL into a false
    negative and breaking the contract). The pinned semantic: NULL is
    never a member; bloom_probe answers false for it. Track NULLs with
    an explicit counter if they matter.

    Shape: explode k cells per row, distinct — one map-side-combined
    shuffle carrying at most the bit table. Like cms_build, the table
    carries its own build parameters: one NEGATIVE sentinel row
    (bit = -(n_bits·1024 + n_hashes), outside the valid [0, n_bits)
    domain) that bloom_probe validates against, so a mismatched-
    parameter probe fails fast instead of silently returning false
    negatives — the exact failure mode the CMS sentinel closes."""
    assert 0 < n_hashes < 1024, "sentinel encoding assumes n_hashes < 1024"
    key = F.col(key_col).cast("string")
    bits = (
        df.filter(F.col(key_col).isNotNull())
        .select(
            F.explode(
                F.array(
                    *[md5_row_hash(key, r, n_bits) for r in range(n_hashes)]
                )
            ).alias("bit")
        )
        .distinct()
    )
    sentinel = df.sparkSession.createDataFrame(
        [(_bloom_sentinel(n_hashes, n_bits),)], "bit long"
    )
    return bits.unionByName(sentinel)


def _bloom_sentinel(n_hashes: int, n_bits: int) -> int:
    """Parameter sentinel value for a bloom bit table: negative (so it
    can never collide with a real bit, which is always in [0, n_bits))
    and injective over (n_bits, n_hashes) for n_hashes < 1024."""
    return -(n_bits * 1024 + n_hashes)


def bloom_merge(*sketches: DataFrame) -> DataFrame:
    """OR together bloom bit-sets built with the same (n_hashes, n_bits,
    family): union + distinct. Same semilattice argument as kmv_merge —
    merge of sketches == sketch of the union (pinned in tests).
    Identical parameter sentinels dedup to one; a mixed-parameter merge
    leaves TWO distinct sentinels, which bloom_probe rejects — the
    merge cannot silently produce an answerable-but-wrong table."""
    it = iter(sketches)
    acc = next(it)
    for s in it:
        acc = acc.unionByName(s)
    return acc.distinct()


def bloom_probe(
    sketch: DataFrame,
    candidates: DataFrame,
    key_col: str,
    n_hashes: int = 4,
    n_bits: int = 4096,
) -> DataFrame:
    """Probe the bit table: a candidate might be a member iff ALL its
    probe bits are set — no false negatives ever, false positives at
    the classic (1-e^{-kn/m})^k rate. The probe explodes each candidate
    into its k bits, broadcast-joins the bit table, and requires EVERY
    probe row to hit (min over the per-row hit flags), so the verdict
    is duplicate-safe: a key appearing N times in `candidates` yields
    N·k probe rows that all hit iff the key's bits are set — the
    count-based alternative (sum == k) would see N·k ≠ k and return a
    FALSE NEGATIVE for a true member, breaking the contract for
    natural uses like probing a raw (unduplicated) event stream.
    The sketch side never exceeds n_bits (+1 sentinel) rows, so this is
    a broadcast join against a bounded table regardless of corpus size.
    Returns (key, might_contain); a NULL candidate key answers false —
    NULLs are never members (see bloom_build).

    Parameter guard: the bit table's sentinel (see bloom_build) must
    agree with (n_hashes, n_bits) here, else the probe would hash into
    the wrong bit positions and answer false for true members; the
    check raise_error()s on mismatch, on a missing sentinel (table not
    built by bloom_build), and on >1 sentinel (mixed-parameter merge)."""
    key = F.col(key_col).cast("string")
    expect = _bloom_sentinel(n_hashes, n_bits)
    # materialize the bounded bit table ONCE — the sentinel guard and
    # the hit broadcast are separate plan branches, and an
    # unmaterialized bloom_build(...) upstream would run its full
    # member scan per branch (measured 2× probe time at sf0.1, r7).
    # The table is <= n_bits+1 rows: O(bits) checkpoint, O(facts) saved.
    sketch = sketch.localCheckpoint(eager=False)
    shape = sketch.filter(F.col("bit") < 0).agg(
        F.count("*").alias("_n_sent"),
        F.max("bit").alias("_sent"),
    )
    shape_ok = F.when(
        (F.col("_n_sent") != 1) | (F.col("_sent") != F.lit(expect)),
        F.raise_error(
            F.concat(
                F.lit(
                    f"bloom_probe parameter mismatch: probing with "
                    f"n_hashes={n_hashes} n_bits={n_bits} (sentinel {expect}) "
                    f"but the bit table carries sentinel "
                ),
                F.coalesce(F.col("_sent").cast("string"), F.lit("<none>")),
                F.lit(" (count "),
                F.col("_n_sent").cast("string"),
                F.lit("; 1 expected — 0 means the table was not built by "
                      "bloom_build, >1 means a mixed-parameter merge)"),
            )
        ),
    )
    probes = candidates.select(
        F.col(key_col),
        F.explode(
            F.array(*[md5_row_hash(key, r, n_bits) for r in range(n_hashes)])
        ).alias("bit"),
    )
    hit = F.broadcast(
        sketch.filter(F.col("bit") >= 0).withColumn("__set", F.lit(1))
    )
    return (
        probes.join(hit, "bit", "left")
        .groupBy(key_col)
        .agg(
            (F.min(F.coalesce(F.col("__set"), F.lit(0))) == F.lit(1))
            .alias("might_contain")
        )
        .crossJoin(F.broadcast(shape))
        .select(
            key_col,
            F.coalesce(shape_ok, F.col("might_contain")).alias(
                "might_contain"
            ),
        )
    )


def logbucket_id(v: Column) -> Column:
    """Integer log-bucket of a POSITIVE integer value — the DDSketch
    idea (Masson et al., VLDB 2019: quantile sketches with RELATIVE
    error bounds from log-spaced buckets) made engine-exact: instead of
    ceil(log_gamma(x)) — whose libm ln can flip a boundary bucket
    between engines by one ulp — the bucket is (bit_length, next 3
    bits after the MSB), computed with string-length-of-binary and
    integer shift/mask only. That is a quantized log base 2^(1/8):
    every bucket spans [lo, lo·(1+1/8)), so any value reported from
    its bucket's lower bound is at most 12.5% below the truth — a
    RELATIVE guarantee exact counts can't give without the full value
    distribution. DuckDB twin: length(printf('%b', v)) and the same
    shift/mask."""
    nb = F.length(F.bin(v))
    shift = F.greatest(nb - 4, F.lit(0))
    sub = F.call_function("shiftright", v, shift).bitwiseAND(F.lit(7))
    return (nb * 8 + sub).cast("long")


def logbucket_lo(bucket: Column) -> Column:
    """Inclusive lower bound of a logbucket_id: for nb > 3 it is
    (8 + sub) << (nb - 4); small values (nb <= 3) are EXACT — their
    bucket holds one value, v itself."""
    nb = F.floor(bucket / 8).cast("long")
    sub = F.pmod(bucket, F.lit(8))
    # nb<=3 → v < 8: bucket id encodes v exactly (sub == v & 7 == v
    # for nb in (1,2,3) because the build shift was 0); recover v = sub
    return F.when(nb <= 3, sub).otherwise(
        F.call_function("shiftleft", sub + 8, nb - 4)
    ).cast("long")


def logbucket_build(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Quantile sketch per group: (group..., bucket, n) counts over the
    integer log-buckets — at most 8·64 = 512 rows per group whatever
    the value distribution or input size (64-bit values), the same
    bounded-state contract as the other sketches. Non-positive values
    are excluded (log buckets need v >= 1; shift cents into range or
    sketch magnitudes separately). Merge = cell-wise sum
    (logbucket_merge); the completing fourth sketch: CMS frequency,
    KMV cardinality, Bloom membership, log-bucket QUANTILES."""
    v = F.col(value_col).cast("long")
    return (
        df.filter(v >= 1)
        .select(*group_cols, logbucket_id(v).alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count("*").alias("n"))
    )


def logbucket_merge(
    sketches_df: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge log-bucket sketches by cell-wise sum — same algebra as
    cms_merge (SUM-based: replaying a batch double-counts, so streaming
    maintenance needs a ledger, unlike Bloom/KMV)."""
    return sketches_df.groupBy(*group_cols, "bucket").agg(
        F.sum("n").alias("n")
    )


def logbucket_quantile(
    sketch: DataFrame, group_cols: list[str], qs: list[float]
) -> DataFrame:
    """Quantile estimates from a log-bucket sketch: for each requested
    q, the lower bound of the first bucket whose running count reaches
    ceil(q·N) (the percentile_disc convention on the bucketized
    distribution). One window cumsum over the tiny bucket table per
    group — never touches original values. Returns (group..., q,
    n_total, est) with est exact for values < 8 and within -12.5%/+0%
    of a true order statistic's bucket otherwise. q arrives as
    per-mille to keep the rank arithmetic integer end to end."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # alias the two derivations of the same frame: some sources (e.g.
    # a streaming memory-sink view) hit Spark's conflicting-reference
    # self-join error without distinct lineage roots
    cum = sketch.alias("__lbq_cum").withColumn("cumn", F.sum("n").over(w))
    tot = (
        sketch.alias("__lbq_tot")
        .groupBy(*group_cols)
        .agg(F.sum("n").alias("n_total"))
    )
    qdf = cum.sparkSession.createDataFrame(
        [(int(round(q * 1000)),) for q in qs], "q_mille long"
    )
    ranked = (
        cum.join(tot, group_cols)
        .crossJoin(F.broadcast(qdf))
        # rank = ceil(q·N) as pure integers: (q_mille·N + 999) DIV 1000
        .withColumn(
            "rank", F.expr("(q_mille * n_total + 999) DIV 1000")
        )
        .filter(F.col("cumn") >= F.col("rank"))
        .groupBy(*group_cols, "q_mille", "n_total")
        .agg(F.min("bucket").alias("bucket"))
    )
    return ranked.select(
        *group_cols,
        (F.col("q_mille") / 1000.0).alias("q"),
        "n_total",
        logbucket_lo(F.col("bucket")).alias("est"),
    )


def cms_join_cardinality(a: DataFrame, b: DataFrame) -> DataFrame:
    """Equi-join SIZE estimate from two CMS grids — the inner-product
    estimator (Alon-Gilbert-Matias-Szegedy lineage; Cormode &
    Muthukrishnan §4.2): per sketch row r, Σ_bucket nA·nB
    overestimates Σ_key fA(k)·fB(k) = |A ⋈ B| by exactly the
    collision cross-terms, so MIN over the depth rows is a one-sided
    upper bound that tightens with width. This is what a cost-based
    optimizer wants BEFORE running the join — both sides summarized in
    depth×width counters, the estimate computed from grid⋈grid without
    touching either table.

    Both grids must share (depth, width, family): validated against
    the parameter sentinels (fail-fast, like cms_estimate). Returns
    one row (join_size_est)."""
    # materialize each bounded grid ONCE: `a` feeds THREE plan branches
    # (its sentinel guard, the inner-product join, and the per-row
    # domain) and `b` two — unmaterialized cms_build inputs re-scan
    # their fact tables per branch (the r7 guard-cost audit measured
    # this as the whole +29% regression). Grids are depth×width+1 rows.
    a = a.localCheckpoint(eager=False)
    b = b.localCheckpoint(eager=False)
    sa = a.filter(F.col("r") < 0).agg(
        F.count("*").alias("_ns_a"),
        F.max("bucket").alias("_w_a"),
        F.max("n").alias("_d_a"),
    )
    sb = b.filter(F.col("r") < 0).agg(
        F.count("*").alias("_ns_b"),
        F.max("bucket").alias("_w_b"),
        F.max("n").alias("_d_b"),
    )
    mismatch = F.when(
        (F.col("_ns_a") != 1)
        | (F.col("_ns_b") != 1)
        | (F.col("_w_a") != F.col("_w_b"))
        | (F.col("_d_a") != F.col("_d_b")),
        F.raise_error(
            F.concat(
                F.lit("cms_join_cardinality parameter mismatch: grids say "
                      "width/depth "),
                F.coalesce(F.col("_w_a").cast("string"), F.lit("?")),
                F.lit("/"),
                F.coalesce(F.col("_d_a").cast("string"), F.lit("?")),
                F.lit(" vs "),
                F.coalesce(F.col("_w_b").cast("string"), F.lit("?")),
                F.lit("/"),
                F.coalesce(F.col("_d_b").cast("string"), F.lit("?")),
            )
        ),
    )
    ca = a.filter(F.col("r") >= 0).select(
        "r", "bucket", F.col("n").alias("na")
    )
    cb = b.filter(F.col("r") >= 0).select(
        "r", "bucket", F.col("n").alias("nb")
    )
    # a row with NO colliding buckets has inner product 0 — it must
    # participate in the min as 0, not vanish from it (vanishing would
    # inflate the bound exactly when the sketches prove disjointness)
    prods = (
        ca.join(cb, ["r", "bucket"])
        .groupBy("r")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("ip"))
    )
    per_row = (
        ca.select("r")
        .distinct()
        .join(prods, "r", "left")
        .select(F.coalesce("ip", F.lit(0)).alias("ip"))
    )
    return (
        per_row.agg(F.min("ip").alias("join_size_est"))
        .crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .select(
            F.coalesce(
                mismatch, F.coalesce(F.col("join_size_est"), F.lit(0))
            ).alias("join_size_est")
        )
    )
