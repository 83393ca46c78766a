"""Deduplication operators: exact, exact-Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

All hot paths are built-in Spark expressions (JVM-side, codegen); no
row-at-a-time Python anywhere. Scale design per operator:

- exact:          dropDuplicates == hash shuffle on the dedup key.
- exact Jaccard:  token-explode + equi-join + count — exact but
                  O(sum of per-token pair counts); hot tokens explode
                  the join. Correctness baseline; use MinHash-LSH at
                  scale.
- MinHash+LSH:    signatures via k permutation-hashes (one shuffle),
                  banding, candidate join on (band, band_hash) — the
                  100 TB path: cost is bounded by bucket collisions,
                  not n².
- SimHash:        64-bit signature per doc; near-dup = small Hamming
                  distance; banding over 4x16-bit chunks bounds the
                  candidate join.
- embedding:      cosine over normalized vectors; exact variant is a
                  self-join (test scale); LSH path in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import conf_scope

# Deterministic MinHash permutation parameters (seeded; public
# textbook construction h_i(x) = (a_i*x + b_i) mod p). Coefficients and
# the base hash are kept under 2^31 so a*x fits in int64 without
# overflow (Spark 4 ANSI mode rejects silent wraparound).
MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime 2^31-1


def _perm_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup — hash shuffle on the key columns (or all columns)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


# Spread gate for CPU-heavy text pipelines (round 15): a corpus that
# arrives in fewer files than cores serializes tokenize/hash behind
# single tasks (a 50k-doc single-row-group parquet file is ONE scan
# task no matter the core count), while the rows themselves are ~100 B
# — the fix-up shuffle moves kilobytes per core. Only worth it when
# there is real work to spread: the A/B break-even sits near ~30k docs
# (sf0.1's 5k-doc/580 KB corpus LOSES ~70 ms to the exchange, sf1's
# 50k-doc/856 KB corpus gains ~1.2 s), so the floor lands between.
_SPREAD_MIN_BYTES = 640 * 1024


def _corpus_stats(df: DataFrame) -> tuple[int, int] | None:
    """(n_files, total_bytes) of a file-backed frame's input, or None
    when that is unknowable (non-file source, non-local paths)."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        total = sum(
            os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
            for f in files
        )
    except OSError:
        return None  # non-local paths: splits follow the FS block size
    return len(files), total


def _corpus_is_large(df: DataFrame) -> bool:
    """True when the corpus is big enough that skew/parallelism fixes
    pay for their exchange; unknown sources count as large (the safe
    direction at scale)."""
    stats = _corpus_stats(df)
    return stats is None or stats[1] >= _SPREAD_MIN_BYTES


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin a few-file, big-enough text source across the
    default parallelism before a CPU-bound (ms/doc) pipeline. At real
    scale inputs arrive in >= cores splits and this is a no-op; it
    exists for the single-row-group-file shape where Spark's byte-range
    splits cannot parallelize the scan."""
    spark = df.sparkSession
    width = spark.sparkContext.defaultParallelism
    stats = _corpus_stats(df)
    if stats is None:
        return df
    n_files, total = stats
    if n_files >= width or total < _SPREAD_MIN_BYTES:
        return df
    return df.repartition(width)


def token_set(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) pairs, one row per DISTINCT token per document."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("token"),
    )


def exact_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """All pairs (id_a < id_b) with token-set Jaccard >= threshold.

    Exact formulation: |A∩B| via token equi-join, |A∪B| = |A|+|B|-|A∩B|.
    Returns (id_a, id_b, jaccard)."""
    tok = token_set(df, id_col, text_col)
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures.

    One explode + one groupBy with num_hashes min-aggregates — a single
    shuffle regardless of k; map-side partial mins keep shuffle volume
    at k longs per document.

    The k min-aggregates are built as ONE parsed SQL expression
    (array of mins) instead of k Column trees: each F.lit/operator is
    a py4j round-trip, and 64 hashes cost ~0.2 s of pure driver-side
    construction per call the parser does in microseconds
    (OPTIMIZATION_r14.md §construction). Same integer arithmetic,
    same values."""
    params = _perm_params(num_hashes, seed)
    tok = token_set(df, id_col, text_col)
    h = f"pmod(xxhash64(token), {MINHASH_PRIME}L)"
    mins = ", ".join(
        f"min(({h} * {a}L + {b}L) % {MINHASH_PRIME}L)" for a, b in params
    )
    return tok.groupBy("id").agg(F.expr(f"array({mins})").alias("sig"))


def lsh_band_index(sig_df: DataFrame, bands: int = 16) -> DataFrame:
    """(id, band_idx, band_hash) — the banded form of a signature
    frame. Self-joined it yields candidate pairs; PERSISTED (e.g. as
    an engine table) it is the probe-able LSH index an incremental
    ingest dedups new batches against without touching the corpus."""
    return sig_df.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> hash(slice(sig, b * (size(sig) div {bands}) + 1, size(sig) div {bands}), b))"
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(sig_df: DataFrame, bands: int = 16) -> DataFrame:
    """Band the signature and join docs sharing any band bucket.

    Returns distinct (id_a < id_b) candidate pairs. The join key is
    (band_idx, hash(band slice)) — collisions, not n², bound the cost."""
    banded = lsh_band_index(sig_df, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_rep_graph(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int | None = None,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """The near-dup graph in COLLAPSED form: ``(rep_pairs,
    membership)`` where rep_pairs = (id_a, id_b, jaccard) edges with
    verified Jaccard >= threshold between identical-token-set
    representatives, and membership = (id, rep) with rep = the min id
    of each identical-set group.

    Consumers that only need CONNECTIVITY (duplicate groups,
    dedup-aware splits) should take this form: expanding identical-set
    groups into pairwise cliques multiplies the edge count by the
    square of the duplication factor while adding no reachability —
    measured on a 50k-doc corpus with 10x exact copies, the expanded
    pair list is 19.3M edges where the collapsed graph is ~2k rep
    edges + 50k membership stars, and connected components over the
    stars is ~40x faster with identical components (rep = group min
    id, so min-label propagation yields the same labels)."""
    if bands is None:
        bands = 8 if threshold >= 0.9 else 16

    # Collapse identical token SETS first: members of a set-group are
    # interchangeable for Jaccard, so LSH + exact verification runs on
    # one representative per distinct set and results expand back by
    # joins. On duplicate-heavy corpora (the whole point of dedup) this
    # shrinks the quadratic candidate/verify core by the dup factor —
    # this is what keeps the operator viable at 100 TB.
    toks_all = _spread_small_input(df).select(
        F.col(id_col).alias("id"),
        F.array_sort(F.array_distinct(F.split(F.col(text_col), " "))).alias("toks"),
    )
    # groups/reps feed signatures, verification AND expansion — persist
    # so the tokenize+fingerprint subtree runs once, not per consumer
    # (MEMORY_AND_DISK default; Spark's ContextCleaner reclaims it).
    groups = toks_all.withColumn("fp", F.md5(F.concat_ws("\x1f", "toks"))).persist()
    members = groups.select("id", "fp")
    # rep = min id per fingerprint; all rows of an fp-group carry the
    # IDENTICAL sorted token array by construction, so any(first) toks
    # is the rep's toks — one aggregate, no join-back/dropDuplicates
    # (the former 3-shuffle formulation materialized the same frame).
    reps = (
        groups.groupBy("fp")
        .agg(F.min("id").alias("rep"), F.first("toks").alias("toks"))
        .persist()
    )

    # The banded LSH candidate frame is only PLANNED when a path below
    # consumes it (construction-gated round 14: 64 hash expressions
    # are ~0.25 s of py4j/analysis work per call, pure waste on the
    # small-rep all-pairs path that never executes them).
    def banded_candidates() -> DataFrame:
        rep_docs = reps.select(
            F.col("rep").alias(id_col), F.array_join("toks", " ").alias(text_col)
        )
        sig = minhash_signatures(rep_docs, id_col, text_col, num_hashes, seed)
        return lsh_candidate_pairs(sig, bands)

    # Exact verification. Vocab-adaptive: with a small corpus
    # vocabulary (dictionary-encodable), token sets become long-array
    # bitsets and per-pair Jaccard is popcount(AND)/popcount(OR) — a
    # handful of ALU ops instead of a string-array intersection. The
    # vocabulary count is one cheap distinct aggregate up front.
    VOCAB_CAP = 4096
    ALLPAIRS_REP_CAP = 8192
    # ONE synchronizing action before the main computation (round 14:
    # was two jobs; each job on a small input is mostly scheduler
    # floor), and none of it is throwaway work:
    # - the capped distinct-token collect IS the vocabulary decision
    #   (<= 4097 short strings to the driver, metadata-scale; a huge
    #   shingle space short-circuits at the limit after one partial-
    #   aggregate pass) and doubles as the exact dictionary for the
    #   bitset encoder — inlined as a literal map, the encode becomes
    #   a pure projection: no explode, no join, no shuffle;
    # - the unioned 1-row count decides all-pairs vs banded AND
    #   materializes the persisted reps subtree the verify step reads
    #   anyway (the count rides the union; reps ROWS never collect).
    # Both branches read the PERSISTED groups subtree, so this first
    # action populates the cache the later passes reuse — otherwise
    # the full corpus is tokenized twice.
    # The vocab limit is collected in ONE parallel wave (round 15):
    # a small token universe never satisfies LIMIT 4097, so the
    # default CollectLimit escalation (1 partition, then 4, 20, ...)
    # serializes scheduler rounds — and on a spread corpus that is 4
    # sequential waves of tiny tasks per call. initialNumPartitions
    # covers every partition in the first wave.
    spark = df.sparkSession
    with conf_scope(spark, {"spark.sql.limit.initialNumPartitions": "100000"}):
        stats_rows = (
            groups.select(F.explode("toks").alias("t"))
            .distinct()
            .limit(VOCAB_CAP + 1)
            .select(F.lit(0).alias("__k"), F.col("t"))
            .unionAll(
                reps.agg(F.count(F.lit(1)).cast("string").alias("t")).select(
                    F.lit(1).alias("__k"), F.col("t")
                )
            )
            .collect()
        )
    vocab_rows = [r for r in stats_rows if r["__k"] == 0]
    n_reps = int(next(r["t"] for r in stats_rows if r["__k"] == 1))
    if len(vocab_rows) <= VOCAB_CAP:
        tokens = sorted(r["t"] for r in vocab_rows)
        n_vocab = len(tokens)
        n_words = (n_vocab + 63) // 64
        # literal token->bit map as ONE parsed expression (two py4j
        # calls per token otherwise; at the 4096-token cap that is
        # ~8k round-trips of construction for the same literal map)
        esc = lambda s: s.replace("\\", "\\\\").replace("'", "\\'")
        map_sql = ", ".join(f"'{esc(t)}', {i}" for i, t in enumerate(tokens))
        bit_map = F.expr(f"map({map_sql})")
        enc = reps.select(
            "rep", F.transform("toks", lambda t: F.element_at(bit_map, t)).alias("bits")
        ).select(
            "rep",
            F.expr(
                f"transform(sequence(0, {n_words - 1}), w -> "
                f"aggregate(filter(bits, b -> b div 64 = w), 0L, "
                f"(acc, b) -> acc | shiftleft(1L, b % 64)))"
            ).alias("bs"),
        )
        rt = F.broadcast(enc)
        if n_words == 1:
            # whole set in one machine word: Jaccard is 4 ALU ops
            wa = F.element_at(F.col("bs_a"), 1)
            wb = F.element_at(F.col("bs_b"), 1)
            inter_bits = F.bit_count(wa.bitwiseAND(wb))
            union_bits = F.bit_count(wa.bitwiseOR(wb))
        else:
            inter_bits = F.aggregate(
                F.zip_with("bs_a", "bs_b", lambda x, y: F.bit_count(x.bitwiseAND(y))),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            union_bits = F.aggregate(
                F.zip_with("bs_a", "bs_b", lambda x, y: F.bit_count(x.bitwiseOR(y))),
                F.lit(0),
                lambda acc, v: acc + v,
            )
        # LSH banding presupposes a large shingle space. On a
        # dictionary-small token universe min-hashes take at most
        # n_vocab distinct values, band hashes collide pervasively, and
        # the "candidate" set approaches ALL pairs (observed at sf0.1:
        # 5.2M candidates of 7.7M possible, 31-token vocab) — the
        # banding machinery then costs more than it saves. With few
        # distinct sets, bitset-comparing every rep pair directly is
        # strictly cheaper AND has recall exactly 1; past the cap, the
        # banded join bounds the work and we verify candidates only.
        if n_reps <= ALLPAIRS_REP_CAP:
            paired = enc.select(
                F.col("rep").alias("id_a"), F.col("bs").alias("bs_a")
            ).join(
                F.broadcast(
                    enc.select(F.col("rep").alias("id_b"), F.col("bs").alias("bs_b"))
                ),
                F.col("id_a") < F.col("id_b"),
            )
        else:
            paired = banded_candidates().join(
                rt.withColumnRenamed("rep", "id_a").withColumnRenamed("bs", "bs_a"),
                "id_a",
            ).join(
                rt.withColumnRenamed("rep", "id_b").withColumnRenamed("bs", "bs_b"),
                "id_b",
            )
        rep_pairs = paired.select(
            "id_a", "id_b", (inter_bits / union_bits).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)
    else:
        rt = F.broadcast(reps.select("rep", "toks"))
        rep_pairs = (
            banded_candidates()
            .join(rt.withColumnRenamed("rep", "id_a").withColumnRenamed("toks", "toks_a"), "id_a")
            .join(rt.withColumnRenamed("rep", "id_b").withColumnRenamed("toks", "toks_b"), "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.size(F.array_intersect("toks_a", "toks_b"))
                    / F.size(F.array_union("toks_a", "toks_b"))
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    membership = members.join(reps.select("fp", "rep"), "fp").select("id", "rep")
    return rep_pairs, membership


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH candidates, then EXACT Jaccard verification on the
    candidates only (array_intersect/array_union on the two token
    arrays — built-in, no explode needed for the verify step).

    Returns (id_a, id_b, jaccard >= threshold) over ALL member pairs —
    the oracle-comparable expanded form; use ``minhash_rep_graph``
    when only connectivity is needed. Precision is exact (false
    positives filtered); recall is 1-(1-t^r)^b. Band count is tuned to
    the threshold when not given: high thresholds take longer bands
    (fewer, larger rows-per-band) so sub-threshold pairs rarely
    collide — on similarity-dense corpora this cuts the candidate set
    by orders of magnitude at equal recall (0.9998 at t=0.95 with
    8x8; 0.99998 at t=0.8 with 16x4)."""
    rep_pairs, membership = minhash_rep_graph(
        df, id_col, text_col, threshold, num_hashes, bands, seed
    )
    # Persist both rep-graph frames: the expansion consumes membership
    # four times (two inter joins + the intra self-join) and rep_pairs
    # once inside a union whose branches each re-plan their inputs —
    # unpersisted, the verify subtree and the membership join
    # re-evaluate per consumer (A/B at sf1, 50k docs / 19.3M output
    # pairs: 16.8 s unpersisted vs 5.3 s persisted; round-11 measured
    # the same shape). The persists are LAZY (round-14 change): the
    # first consumer's action fills the cache in the same job, so the
    # two eager count() jobs the old code paid purely to materialize
    # them (~0.3 s of scheduler floor at sf0.1; sf1 A/B: eager 5.24 s
    # vs lazy 5.35 s — noise) are gone. Both frames are collapsed-
    # graph-sized (reps²-filtered pairs + one row per doc), not
    # output-sized; Spark's ContextCleaner reclaims them when the
    # result's refs drop.
    rep_pairs = rep_pairs.persist()
    membership = membership.persist()
    # expand representative pairs to member pairs. On a large corpus
    # the edge list is round-robined first (guide §2.4 skew): every
    # edge with the same id_a sits in ONE partition (the all-pairs
    # join streams by the left rep), so a hot rep's whole expansion —
    # members(a) x members(b) PER EDGE — lands on one task. Measured
    # at sf1: one rep with 2,480 members put 11.9M of the 15.5M
    # expanded rows in a single 5.8 s straggler (median task 54 ms);
    # spreading the kilobyte-sized edge list costs one tiny exchange
    # and bounds the worst task by the single largest edge instead.
    # Gated on corpus size: below the floor the expansion is tiny and
    # the extra exchange is pure job-floor cost (sf0.1 A/B +0.25 s).
    expand_src = rep_pairs
    if _corpus_is_large(df):
        expand_src = rep_pairs.repartition(
            df.sparkSession.sparkContext.defaultParallelism
        )
    mem = F.broadcast(membership)
    inter = (
        expand_src
        .join(mem.withColumnRenamed("rep", "id_a").withColumnRenamed("id", "ma"), "id_a")
        .join(mem.withColumnRenamed("rep", "id_b").withColumnRenamed("id", "mb"), "id_b")
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "jaccard",
        )
    )
    out = inter
    if threshold <= 1.0:
        m1 = mem.alias("m1")
        m2 = mem.alias("m2")
        intra = (
            m1.join(
                m2,
                (F.col("m1.rep") == F.col("m2.rep")) & (F.col("m1.id") < F.col("m2.id")),
            )
            .select(
                F.col("m1.id").alias("id_a"),
                F.col("m2.id").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        out = inter.unionByName(intra)
    return out


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document from xxhash64 token hashes.

    bit_i(sig) = sign of sum over tokens of (+1 if bit_i(hash(tok)) else -1).
    Pure expression pipeline: explode -> 64 conditional sums -> pack.
    Both stages build as parsed SQL (round 14): the per-bit Column
    trees cost ~400 py4j round-trips of pure construction per call
    (the minhash_signatures story). Same integer arithmetic, same
    bits."""
    tok = token_set(df, id_col, text_col)
    sums = ", ".join(
        f"sum(case when (shiftright(xxhash64(token), {i}) & 1) = 1 "
        f"then 1 else -1 end)"
        for i in range(64)
    )
    agg = tok.groupBy("id").agg(F.expr(f"array({sums})").alias("s"))
    packed = " ^ ".join(
        f"shiftleft(cast(s[{i}] > 0 as long), {i})" for i in range(64)
    )
    return agg.select("id", F.expr(packed).alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Blocking: split the 64-bit sig into (max_hamming + 1) chunks — by
    pigeonhole any pair within the Hamming budget agrees on at least
    one chunk, so the candidate join is on (chunk_idx, chunk_value),
    never n²."""
    sig = simhash_signatures(df, id_col, text_col)
    n_chunks = max_hamming + 1
    base, rem = divmod(64, n_chunks)
    chunk_exprs = []
    start = 0
    for i in range(n_chunks):
        width = base + (1 if i < rem else 0)
        mask = (1 << width) - 1
        chunk_exprs.append(F.shiftright("simhash", start).bitwiseAND(F.lit(mask)))
        start += width
    chunks = sig.select(
        "id",
        "simhash",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 5, threshold: float = 0.5
) -> DataFrame:
    """Character-n-gram shingle Jaccard near-dup (catches token-order
    changes that token-set Jaccard misses). Explode+join exact
    formulation, same scale caveat as exact_jaccard_pairs."""
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)), "
                f"i -> substring({text_col}, i, {n}))"
            )
        ).alias("shingles"),
    )
    tok = shingled.select("id", F.explode("shingles").alias("token"))
    sizes = shingled.select("id", F.size("shingles").alias("sz"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_near_duplicates(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Pairs with cosine(vec_a, vec_b) >= threshold, exact self-join
    formulation (test scale). For 100 TB use similarity.lsh_topk's
    hyperplane bucketing as the candidate generator instead."""
    from .similarity import cosine_expr

    v = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_expr("a.vec", "b.vec").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    dim: int = 64,
    num_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH candidate buckets +
    exact cosine re-rank — the 100 TB form of embedding_near_duplicates
    (which stays as the all-pairs correctness oracle only).

    Pipeline: sign-bucket every vector on ``num_planes`` seeded random
    hyperplanes (similarity.hyperplane_buckets, Charikar 2002), explode
    each row to its multi-probe buckets (all codes within Hamming
    ``probe_hamming``), equi-join probe.bucket == home.bucket with
    id_a < id_b, de-dup candidates, then exact cosine >= threshold.
    Every join is a hash/sort-merge equi-join on the bucket key — no
    cross or theta self-join anywhere (plan-gated in test_plans.py),
    so cost scales with bucket occupancy, not corpus².

    Recall: a true near-dup pair at high threshold differs on a plane
    only when that plane's dot product sits inside the perturbation
    margin, so probing Hamming<=1 covers single-plane disagreements;
    structurally identical vectors always share a bucket. (At the 0.35
    threshold the fixture's isotropic vectors would defeat ANY
    sub-quadratic exact method — near-dup means high cosine.)
    """
    from .similarity import cosine_expr, hyperplane_buckets

    b = hyperplane_buckets(df, id_col, vec_col, dim=dim, num_planes=num_planes, seed=seed)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)][
            : num_planes if probe_hamming >= 1 else 0
        ],
    )
    probe = b.select("id", "vec", F.explode(probes).alias("bucket")).alias("p")
    home = b.alias("h")
    cand = (
        probe.join(home, (F.col("p.bucket") == F.col("h.bucket")))
        .filter(F.col("p.id") < F.col("h.id"))
        .select(
            F.col("p.id").alias("id_a"),
            F.col("h.id").alias("id_b"),
            F.col("p.vec").alias("vec_a"),
            F.col("h.vec").alias("vec_b"),
        )
        # a pair can collide in several probe buckets; one exact check each
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a", "id_b", cosine_expr("vec_a", "vec_b").alias("cosine")
        ).filter(F.col("cosine") >= threshold)
    )


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """Connected components over an undirected edge list — the
    cluster-resolution step of a dedup pipeline (near-dup PAIRS ->
    duplicate GROUPS -> keep min-id doc per group).

    Min-label propagation: every node repeatedly takes the minimum of
    its own label and its neighbors' labels until fixpoint. Each
    iteration is one join + one aggregate (all data movement stays in
    DataFrame ops; the driver loop only counts iterations), and
    ``localCheckpoint`` truncates lineage so plans don't grow with
    iteration count. Converges in O(graph diameter) rounds — near-dup
    clusters are near-cliques (diameter ~2), so 2-3 rounds in practice.

    Returns (id, component) with component = min node id reachable.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("s").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.d == labels.id)
            .groupBy("s")
            .agg(F.min("comp").alias("nbr_min"))
        )
        # Carry the did-anything-change bit INSIDE the propagated frame:
        # the convergence probe is then a scan-count of the checkpointed
        # result instead of a second labels-vs-new-labels join per round.
        stepped = (
            labels.join(nbr, labels.id == nbr.s, "left")
            .select(
                labels.id,
                F.least(F.col("comp"), F.coalesce("nbr_min", F.col("comp"))).alias(
                    "new_comp"
                ),
                F.col("comp").alias("old_comp"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(F.col("new_comp") != F.col("old_comp")).count()
        labels = stepped.select("id", F.col("new_comp").alias("comp"))
        if changed == 0:
            break
    sym.unpersist()
    return labels


def resolve_components(
    rep_pairs: DataFrame, membership: DataFrame
) -> DataFrame:
    """(id, comp) labels for every node of the near-dup graph, taking
    the COLLAPSED graph (``minhash_rep_graph`` output) and keeping it
    collapsed through resolution: min-label propagation runs ONLY over
    the rep-pair edges, then ONE join folds the membership stars in.

    Equivalent to ``connected_components(rep edges + star edges)``
    because rep = the min id of its identical-set group, so the min
    member id reachable from any node equals the min REP reachable in
    the rep graph. At 100 TB this is the difference between iterating
    joins over a corpus-sized label frame (every star member carried
    through every round) and iterating over the near-dup rep edges —
    which duplication keeps small — with the corpus touched once at
    the end. Node set matches the expanded graph exactly: members of
    multi-doc set-groups (star endpoints, including the rep itself)
    plus reps with a verified near-dup edge.
    """
    comp_rep = connected_components(rep_pairs.select("id_a", "id_b"))
    group_sz = membership.groupBy("rep").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        membership.join(group_sz, "rep")
        .join(
            comp_rep.select(
                F.col("id").alias("rep"), F.col("comp").alias("rep_comp")
            ),
            "rep",
            "left",
        )
        .filter((F.col("n_members") > 1) | F.col("rep_comp").isNotNull())
        .select("id", F.coalesce("rep_comp", F.col("rep")).alias("comp"))
    )


def duplicated_span_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Per-document duplicated-SPAN statistics at k-token granularity —
    the exact-substring dedup signal of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499):
    a span is duplicated when its k-token shingle occurs more than once
    in the corpus (any document, including its own). Returns
    ``(id, n_shingles, n_dup_shingles)`` per document that has at least
    k tokens; callers derive dup fractions / removal decisions.

    Shape: shingles never leave the executors as strings — each k-token
    window is hashed to 64 bits in the projection (xxhash64), so the
    two shuffles (global shingle counts, per-doc rollup) move fixed-
    width longs, not text. At 100 TB the shingle-count aggregate is the
    dominant shuffle and it is map-side-combinable; a 64-bit collision
    marks a span duplicated spuriously at P ~ n²/2⁶⁵ — the standard
    trade every suffix-free implementation of this pipeline makes."""
    w = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("w"),
    )
    sh = w.filter(F.size("w") >= k).select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {k - 1}), "
                f"i -> xxhash64(array_join(slice(w, i, {k}), ' ')))"
            )
        ).alias("h"),
    )
    per = sh.groupBy("h", "id").agg(F.count(F.lit(1)).alias("n_hi"))
    tot = per.groupBy("h").agg(F.sum("n_hi").alias("tot"))
    return (
        per.join(tot, "h")
        .groupBy("id")
        .agg(
            F.sum("n_hi").alias("n_shingles"),
            F.sum(
                F.when(F.col("tot") > 1, F.col("n_hi")).otherwise(F.lit(0))
            ).alias("n_dup_shingles"),
        )
    )


def incremental_near_duplicates(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.95,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicates of a NEW batch against an EXISTING corpus — the
    operational form of dedup at 100 TB: daily ingest is checked
    against the standing index, the corpus is never re-paired with
    itself. Returns ``(new_id, corpus_id, jaccard)`` for every batch
    document whose token-set Jaccard with a corpus document is >=
    threshold.

    Two-path, like ``minhash_rep_graph``:
    - IDENTICAL token sets short-circuit through a fingerprint
      equi-join (md5 of the sorted distinct tokens) — recall exactly 1
      for verbatim copies, which dominate real duplication;
    - near-but-not-identical pairs go bands(batch) ⋈ bands(corpus) on
      ``(band_idx, band_hash)`` then EXACT Jaccard verification on the
      candidates. The corpus side is precisely the frame a standing
      pipeline persists as its LSH index (``lsh_band_index``); probe
      cost is O(batch × collisions), independent of corpus size.
    Cost at scale: the batch is small by definition; the only
    corpus-sized work is building the index once, and that amortizes
    across every subsequent batch."""

    def prep(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out),
            F.array_sort(
                F.array_distinct(F.split(F.col(text_col), " "))
            ).alias("toks"),
        ).withColumn("fp", F.md5(F.concat_ws("\x1f", "toks")))

    c = prep(corpus, "corpus_id").persist()
    b = prep(batch, "new_id").persist()
    exact = (
        b.select("new_id", "fp")
        .join(c.select("corpus_id", "fp"), "fp")
        .select("new_id", "corpus_id", F.lit(1.0).alias("jaccard"))
    )

    def sig(df: DataFrame, idc: str) -> DataFrame:
        docs = df.select(
            F.col(idc).alias(id_col), F.array_join("toks", " ").alias(text_col)
        )
        return minhash_signatures(docs, id_col, text_col, num_hashes, seed)

    cband = lsh_band_index(sig(c, "corpus_id"), bands).withColumnRenamed(
        "id", "corpus_id"
    )
    bband = lsh_band_index(sig(b, "new_id"), bands).withColumnRenamed(
        "id", "new_id"
    )
    cand = (
        bband.join(cband, ["band_idx", "band_hash"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    near = (
        cand.join(
            b.select(
                "new_id", F.col("toks").alias("toks_n"), F.col("fp").alias("fp_n")
            ),
            "new_id",
        )
        .join(
            c.select(
                "corpus_id",
                F.col("toks").alias("toks_c"),
                F.col("fp").alias("fp_c"),
            ),
            "corpus_id",
        )
        .filter(F.col("fp_n") != F.col("fp_c"))  # exact path owns these
        .select(
            "new_id",
            "corpus_id",
            (
                F.size(F.array_intersect("toks_n", "toks_c"))
                / F.size(F.array_union("toks_n", "toks_c"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return exact.unionByName(near)


def chunk_dup_stats(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 20
) -> DataFrame:
    """Sub-document (chunk-level) exact dedup statistics.

    Documents are cut into consecutive non-overlapping ``chunk_tokens``
    windows; a chunk is DUPLICATED when it appears in >= 2 distinct
    documents. This catches boilerplate and partial copies that
    whole-document dedup misses (headers, licenses, templated pages).

    Shape: one explode -> one hash aggregate on the chunk string ->
    one per-doc aggregate. No joins over pairs anywhere, so cost is
    linear in total chunks — at 100 TB, hash the chunk to a 64-bit key
    before the aggregate so the shuffle carries 8 bytes, not the text
    (here the chunk string itself is grouped so the oracle can match).

    Returns one summary row: total/distinct/duplicated chunk counts
    and how many documents are majority-duplicated.
    """
    toks = f"split({text_col}, ' ')"
    chunks = F.expr(
        f"transform(sequence(0, (size({toks}) - 1) div {chunk_tokens}), "
        f"c -> concat_ws(' ', slice({toks}, c * {chunk_tokens} + 1, {chunk_tokens})))"
    )
    c = df.select(F.col(id_col).alias("id"), F.explode(chunks).alias("chunk"))
    per_chunk = c.groupBy("chunk").agg(
        F.countDistinct("id").alias("n_docs_chunk"), F.count(F.lit(1)).alias("n_occ")
    )
    doc_frac = (
        c.join(per_chunk.select("chunk", "n_docs_chunk"), "chunk")
        .groupBy("id")
        .agg(
            (
                F.sum(F.when(F.col("n_docs_chunk") >= 2, 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("dup_frac")
        )
    )
    summary = per_chunk.agg(
        F.sum("n_occ").cast("long").alias("n_chunks_total"),
        F.count(F.lit(1)).cast("long").alias("n_chunks_distinct"),
        F.sum(F.when(F.col("n_docs_chunk") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_chunks"),
    )
    docs_major = doc_frac.agg(
        F.sum(F.when(F.col("dup_frac") > 0.5, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_majority_dup")
    )
    return summary.crossJoin(F.broadcast(docs_major))


def prefix_filter_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard near-dup pairs via PREFIX FILTERING (the
    PPJoin-family pruning): identical result to exact_jaccard_pairs,
    but the candidate join only carries each document's rarest
    ``|s| - ceil(t*|s|) + 1`` tokens instead of its whole token set —
    for two sets to reach Jaccard >= t they MUST share at least one
    token inside both prefixes under any fixed global token order, so
    nothing is missed (prefix-filter principle; order chosen =
    ascending document frequency, which makes prefixes maximally
    selective because the rarest tokens collide least).

    Scale shape: document frequencies are a vocab-scale aggregate
    (broadcast; term-keyed shuffle past the threshold); prefix
    selection is one per-document window; each doc contributes only
    ~(1-t) of its tokens to the candidate join (at t=0.95, ~5%); the
    exact verify joins candidate pairs against per-doc sorted token
    arrays — linear in candidate count, never all-pairs.

    Honest applicability bound (measured, sf0.01 fixtures): pruning
    power is governed by the df of PREFIX tokens, so the technique
    needs a large (Zipfian) vocabulary where rare tokens are actually
    rare. The fixture corpus has a ~100-token vocabulary — its rarest
    tokens still hit hundreds of docs — and candidates shrink only
    ~23% (124,745 -> 95,749). On such distributions MinHash-LSH
    (minhash_near_duplicates) remains the scale path; this operator is
    the exact-result alternative for corpora whose vocab supports it."""
    from pyspark.sql import Window

    tok = token_set(df, id_col, text_col)
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # per-doc rank by global (df, token) order; tokens are ranked
    # rarest-first so the prefix holds the most selective tokens
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("token"))
    ranked = (
        tok.join(F.broadcast(dfreq), "token")
        .withColumn("pos", F.row_number().over(w))
        .join(F.broadcast(sizes), "id")
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = ranked.filter(F.col("pos") <= prefix_len).select("id", "token")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    arrs = tok.groupBy("id").agg(
        F.sort_array(F.collect_list("token")).alias("toks"),
        F.count(F.lit(1)).alias("sz"),
    )
    va, vb = arrs.alias("va"), arrs.alias("vb")
    inter = F.size(F.array_intersect(F.col("va.toks"), F.col("vb.toks")))
    return (
        cand.join(va, F.col("id_a") == F.col("va.id"))
        .join(vb, F.col("id_b") == F.col("vb.id"))
        .select(
            "id_a",
            "id_b",
            (inter / (F.col("va.sz") + F.col("vb.sz") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_clusters: int = 8,
    iters: int = 3,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with k-means, then within each cluster drop every
    vector whose cosine similarity to a lower-id vector in the same
    cluster is >= ``threshold``. Returns the KEPT rows
    (id, vec, cluster).

    Scale design: the k-means fit/assign reuses the IVF machinery
    (operators/similarity.ivf_index — literal-broadcast centroid
    assignment, ONE (cluster, dim) shuffle per Lloyd iteration), so
    the only pairwise work is the within-cluster self-join, bounded by
    the largest cluster — at 100 TB you raise n_clusters so cluster
    size stays bounded (the paper runs 50k clusters on LAION), and the
    self-join is an equi-join on the cluster key, never a cross join.

    Keep rule (deterministic): drop x iff exists y in cluster(x) with
    id(y) < id(x) and cos(x, y) >= threshold. The kept set is
    guaranteed clean: for any kept pair (y < x), cos < threshold,
    otherwise x would have been dropped.
    """
    from .similarity import cosine_expr, ivf_index

    assigned, _ = ivf_index(
        df, id_col, vec_col, n_centroids=n_clusters, iters=iters, seed=seed
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") > F.col("b.id")),
        )
        .filter(cosine_expr("a.vec", "b.vec") >= threshold)
        .select(F.col("a.id").alias("id"))
        .distinct()
    )
    return assigned.join(dropped, "id", "left_anti")
