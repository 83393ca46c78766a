"""Group H (+ text-analysis extras) — LLM-data-pipeline operators as
oracle-checked queries over the documents/embeddings fixtures
(SURVEY.md §2.2 H; BASELINE.json north star).

The real operator implementations live in ``operators/``; each query
here is a thin parameterization so the driver's DuckDB gate exercises
them. Ops whose internals aren't SQL-expressible (MinHash-LSH,
SimHash, hyperplane ANN) are either self-checking — the LSH result is
verified-exact so it must EQUAL the exact-SQL oracle when recall is
complete (deterministic for fixed seeds/data; verified at all three
SFs) — or registered without an oracle (rows-only gate + unit tests).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fixtures import load_table
from ..operators.dedup import (
    embedding_near_dup_lsh,
    exact_jaccard_pairs,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from ..operators.similarity import (
    _LRUCache,
    brute_force_topk,
    cosine_expr,
    ivf_candidates,
    ivf_topk,
    lsh_candidates,
    lsh_topk,
)
from ..operators.text import STOPWORDS, fingerprint, quality_score
from ..session import conf_scope
from . import register

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

# Deterministic multiplicative split/sample hashes: ids are pre-reduced
# modulo floor(sqrt(2^63-1)) so id' * 2654435761 stays inside int64 for
# ANY id. Without the reduction, ids past ~3.5e9 wrap: Spark's long
# arithmetic wraps silently (negative products -> signed % -> negative
# remainders falling through WHEN chains), while DuckDB promotes to
# HUGEINT — the two sides diverge exactly when ids get large. The
# double-mod on the SQL side mirrors Spark's pmod for negative ids too.
# For ids below the modulus (every test fixture) the reduction is the
# identity, so assignments are unchanged at test scale.
HASH_RED = 3037000499


def safe_mult_hash(col, add: int = 0):
    """Overflow-safe ``pmod(id, HASH_RED) * 2654435761 + add`` as a
    Spark column; callers apply their own outer modulus."""
    return F.pmod(F.col(col), F.lit(HASH_RED)) * F.lit(2654435761) + F.lit(add)


def safe_mult_hash_sql(col: str, add: int = 0) -> str:
    """DuckDB rendering of ``safe_mult_hash`` (identical values)."""
    red = f"(({col} % {HASH_RED} + {HASH_RED}) % {HASH_RED})"
    return f"({red} * 2654435761 + {add})"


@register(
    "h1_exact_dedup",
    oracle="SELECT COUNT(*) AS cnt FROM (SELECT DISTINCT text FROM documents)",
    group="H",
)
def h1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("text").dropDuplicates().agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "h2_normalized_dedup",
    oracle="""
SELECT COUNT(DISTINCT regexp_replace(LOWER(text), '[^a-z ]', '', 'g')) AS cnt
FROM documents
""",
    group="H",
)
def h2_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower("text"), "[^a-z ]", "")
    return docs.agg(F.countDistinct(norm).alias("cnt"))


@register(
    "h3_top_tokens",
    oracle="""
SELECT token, COUNT(*)::BIGINT AS cnt
FROM (SELECT UNNEST(str_split(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY cnt DESC, token LIMIT 20
""",
    group="H",
)
def h3_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(20)
    )


@register(
    "h4_bigrams",
    oracle="""
SELECT bg, COUNT(*)::BIGINT AS cnt FROM (
  SELECT toks[i] || ' ' || toks[i + 1] AS bg
  FROM (SELECT toks, UNNEST(range(1, len(toks))) AS i
        FROM (SELECT str_split(text, ' ') AS toks FROM documents))
) GROUP BY bg ORDER BY cnt DESC, bg LIMIT 20
""",
    group="H",
)
def h4_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bigrams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 2 THEN "
        "transform(sequence(0, size(split(text, ' ')) - 2), "
        "i -> concat(split(text, ' ')[i], ' ', split(text, ' ')[i + 1])) "
        "ELSE array() END"
    )
    return (
        docs.select(F.explode(bigrams).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bg")
        .limit(20)
    )


@register(
    "h5_lang_stats",
    oracle="""
SELECT lang, COUNT(*) AS cnt, ROUND(AVG(n_chars), 4) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
""",
    group="H",
)
def h5_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("n_chars"), 4).alias("avg_chars"))
        .orderBy("lang")
    )


_EXACT_JACCARD_SQL = """
WITH tok AS (SELECT doc_id, UNNEST(list_distinct(str_split(text, ' '))) AS token FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM (
  SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS j
  FROM inter
  JOIN sz sa ON sa.doc_id = id_a
  JOIN sz sb ON sb.doc_id = id_b
) WHERE j >= 0.95
"""


@register("h6_jaccard_near_dup", oracle=_EXACT_JACCARD_SQL, group="H")
def h6_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (threshold 0.95)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(docs, "doc_id", "text", threshold=0.95)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@register("h6b_minhash_lsh_near_dup", oracle=_EXACT_JACCARD_SQL, group="H")
def h6b_minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup, exact-verified on candidates. With 64
    hashes / 16 bands, P(miss) at j>=0.95 is ~1e-12 per pair and the
    pipeline is deterministic (seeded), so the result must equal the
    exact-Jaccard oracle — this checks LSH recall, not just shape."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.95, num_hashes=64, bands=16
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@register(
    "h6c_simhash_near_dup",
    oracle="""
SELECT COUNT(*)::BIGINT AS planted_total, COUNT(*)::BIGINT AS planted_found,
       TRUE AS check_ok
FROM documents WHERE doc_id < 20
""",
    group="H",
)
def h6c_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup (Hamming <= 3 on 64-bit signatures). xxhash64
    isn't reproducible in DuckDB, so the pair list itself can't be
    oracled — instead the output IS the self-check, hash-gradable: the
    corpus carries planted exact copies (doc_id + 10^7, identical text
    -> Hamming 0, which pigeonhole blocking MUST surface), and the
    query returns (planted_total, planted_found, check_ok). A missed
    planted pair makes planted_found < planted_total and the driver's
    value-hash check fails. Pair-level behavior is covered in
    tests/test_operators.py."""
    OFFSET = 10_000_000
    N_PLANT = 20
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        docs.filter(F.col("doc_id") < N_PLANT)
        .select((F.col("doc_id") + OFFSET).alias("doc_id"), "text")
    )
    corpus = docs.unionByName(planted)
    pairs = simhash_near_duplicates(corpus, "doc_id", "text", max_hamming=3)
    hit = (
        (F.col("id_b") - F.col("id_a") == OFFSET) & (F.col("id_a") < N_PLANT)
    ).cast("long")
    found = pairs.agg(F.sum(hit).alias("planted_found"))
    expected = planted.agg(F.count(F.lit(1)).alias("planted_total"))
    return (
        expected.crossJoin(found)
        .select(
            "planted_total", F.coalesce("planted_found", F.lit(0)).alias("planted_found")
        )
        .withColumn("check_ok", F.col("planted_found") == F.col("planted_total"))
    )


@register(
    "h7_cosine_pairs",
    oracle="""
SELECT a.vec_id AS vec_id,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
ORDER BY vec_id
""",
    group="H",
)
def h7_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine via built-in higher-order fns (zip_with + aggregate) on
    double-cast arrays — JVM-side, no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.round(cosine_expr("a.vec", "b.vec"), 4).alias("cos_sim"),
        )
        .orderBy("vec_id")
    )


_ANN_ORACLE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
SELECT query_id, neighbor_id, sim, rn FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.vec, c.vec), 4) AS sim,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY ROUND(list_cosine_similarity(q.vec, c.vec), 4) DESC,
                                     c.vec_id) AS rn
  FROM v q JOIN v c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
) WHERE rn <= 5
ORDER BY query_id, rn
"""


@register("h8_ann_bruteforce_topk", oracle=_ANN_ORACLE, group="H")
def h8_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine 5-NN for queries vec_id < 5 (broadcast queries,
    single corpus scan, per-query window top-k)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=5, dim=64).orderBy("query_id", "rn")


# ANN index cache, keyed by (applicationId, sf_dir, kind): an inverted
# file / LSH bucket table exists to be built ONCE and queried many
# times, so the registered queries carry index-build cost on first use
# only — the same amortization a real deployment gets by persisting the
# index partitioned by cell/bucket. Persisted DataFrames are reclaimed
# with the session. Bounded LRU (VERDICT r14 #6): a bench/driver session
# holds at most ~8 kinds x 3 sf_dirs; 32 never evicts there, while a
# long-lived serving session cycling corpora retires (and unpersists)
# the oldest indexes instead of leaking them.
_ANN_INDEX_CACHE = _LRUCache(maxsize=32)


def _ann_index(spark: SparkSession, sf_dir: str, kind: str):
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    if key not in _ANN_INDEX_CACHE:
        from ..operators.similarity import ivf_build, lsh_build

        emb = load_table(spark, sf_dir, "embeddings")
        if kind == "lsh":
            idx = lsh_build(emb, dim=64, num_planes=4).persist()
            idx.count()  # materialize the corpus pass once
        elif kind == "ivf":
            assigned, cents = ivf_build(emb, n_centroids=8, iters=3)
            assigned = assigned.persist()
            assigned.count()
            idx = (assigned, cents)
        elif kind == "pq":
            from ..operators.similarity import pq_build

            # iters=1 (one Lloyd update over the deterministic init)
            # is the measured recall floor with margin: mean recall@5
            # 1.0 at sf0.01, 0.96 at sf0.1. Width-clamp the fit: its
            # shuffles carry n*m code rows, model-scale at any SF here.
            with conf_scope(
                spark,
                {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
            ):
                codes_df, books = pq_build(emb, m=16, n_codes=32, iters=1)
                codes_df = codes_df.persist()
                codes_df.count()  # one corpus pass builds codes + codebooks
            idx = (codes_df, books)
        elif kind == "ivfpq":
            from ..operators.similarity import _assign_literal, _ivf_fit

            # compose from the cached PQ codes (same knobs as the 'pq'
            # kind) + a fresh coarse quantizer — exactly how a deployed
            # IVF-PQ reuses one codes table across coarse re-clusterings.
            # Width clamp as in the other builders.
            codes_df, books = _ann_index(spark, sf_dir, "pq")
            with conf_scope(
                spark,
                {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
            ):
                v, cents = _ivf_fit(
                    emb, "vec_id", "embedding", n_centroids=8, iters=3, seed=42
                )
                assigned = _assign_literal(v, cents, top=1).select("id", "cluster")
                index_df = codes_df.join(assigned, "id").select(
                    "id", "vec", "cluster", "code"
                )
                index_df = index_df.persist()
                index_df.count()
            idx = (index_df, cents, books)
        elif kind == "ivfpq_table":
            # the PERSISTED form: same composed index written as an
            # engine table partitioned by cluster (identity transform),
            # probed via runtime-filtered planning. Reuses the cached
            # in-memory index's codebooks/cells so the two graded rows
            # share one training.
            import atexit as _atexit
            import shutil as _shutil
            import tempfile as _tempfile

            from ..operators.similarity import _assign_literal
            from ..table import create_table, identity

            index_df, cents, books = _ann_index(spark, sf_dir, "ivfpq")
            root = _tempfile.mkdtemp(prefix="ann_ivfpq_tbl_") + "/t"
            _atexit.register(
                _shutil.rmtree, os.path.dirname(root), ignore_errors=True
            )
            tbl = create_table(
                root, index_df.schema, partition=identity("cluster")
            )
            # one shuffle partition per cell: files land single-cell
            # (exact stats pruning) without a 200-task default shuffle
            tbl.append(index_df.repartition(len(cents), "cluster"))
            idx = (tbl, cents, books)
        elif kind == "queries":
            # The probe batch itself: in a deployment the query vectors
            # arrive from the caller; re-scanning the corpus parquet for
            # them on every probe is pure fixture overhead.
            idx = emb.filter(F.col("vec_id") < 5).persist()
            idx.count()
        elif kind == "exact_kth":
            # the exact side collapsed to per-query (kth sim, row
            # count) — |queries| x 3 scalars, the grading constants
            # _ann_selfcheck_lit folds into its one-aggregation check
            exact = _ann_index(spark, sf_dir, "exact")
            idx = [
                (r["query_id"], float(r["__kth"]), int(r["__n"]))
                for r in exact.groupBy("query_id")
                .agg(F.min("sim").alias("__kth"), F.count(F.lit(1)).alias("__n"))
                .collect()
            ]
        else:  # the brute-force verification oracle (queries x k rows)
            queries = emb.filter(F.col("vec_id") < 5)
            idx = brute_force_topk(emb, queries, k=5, dim=64).persist()
            idx.count()
        _ANN_INDEX_CACHE.put(key, idx)
    return _ANN_INDEX_CACHE[key]


_ANN_SELFCHECK_ORACLE = """
SELECT COUNT(*)::BIGINT AS n_queries, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5
"""


def _ann_selfcheck(annotated: DataFrame, k: int) -> DataFrame:
    """Collapse an annotate_recall output to the driver-gradable
    invariant: every query answered, and mean recall@k over the recall
    bar. A dropped query or a recall miss flips a value and fails the
    hash check — the quality gate rides in the graded output."""
    return annotated.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        F.coalesce(F.bool_and("recall_ok"), F.lit(False)).alias("recall_ok"),
    )


def _ann_selfcheck_lit(
    approx: DataFrame,
    kth_rows: list,
    k: int,
    tol: float = 1e-4,
    min_recall: float = 0.9,
) -> DataFrame:
    """The ANN self-check summary as ONE aggregation over the approx
    result — no joins, no broadcasts, no persist. ``kth_rows`` is the
    exact side collapsed to (query_id, kth_sim, n_exact) tuples: the
    model/grading-scale constants (|queries| x 3 scalars) collected
    once per session off the cached exact index (_ann_index
    'exact_kth'), the same convention as the k-means centroid
    collects. Value-identical to
    _ann_selfcheck(annotate_recall(approx, exact, k)) — asserted in
    tests/test_operators.py::test_ann_selfcheck_direct_equivalence:
    per-query recall anchored on the exact side (an unanswered query
    contributes 0 to the mean), n_queries = queries answered,
    recall_ok false on empty input.

    Motivation (round 14): the annotated form persisted the whole
    candidate pipeline and re-joined it twice per run — and because
    Spark's CacheManager matches persists by canonicalized PLAN, a
    re-built identical query found the previous run's cached rows, so
    repeated bench runs silently timed a result-cache hit instead of
    a read (the d1e map-output-reuse pitfall in a different coat;
    BENCH_r13's h8b/h8c rode it). This form recomputes honestly per
    run and pays one job for it."""
    spark = approx.sparkSession
    if not kth_rows:
        return spark.createDataFrame(
            [(0, k, False)], "n_queries bigint, k bigint, recall_ok boolean"
        )
    from ..operators.similarity import _dlit

    qids = [r[0] for r in kth_rows]
    # literal maps as ONE parsed expression each (py4j-call-free)
    kmap_sql = ", ".join(f"{int(r[0])}L, {_dlit(float(r[1]))}" for r in kth_rows)
    # denominator = least(k, n_exact), folded python-side
    dmap_sql = ", ".join(f"{int(r[0])}L, {int(min(k, int(r[2])))}" for r in kth_rows)
    hit = F.expr(
        f"cast(sim >= element_at(map({kmap_sql}), bigint(query_id)) - {_dlit(tol)} as int)"
    )
    per_q = (
        approx.filter(F.col("query_id").isin(qids))
        .groupBy("query_id")
        .agg(F.sum(hit).alias("__hits"))
    )
    recall_i = F.col("__hits") / F.expr(
        f"element_at(map({dmap_sql}), bigint(query_id))"
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        F.coalesce(
            (F.sum(recall_i) / F.lit(len(qids))) >= F.lit(min_recall), F.lit(False)
        ).alias("recall_ok"),
    )


def _ann_selfcheck_onejob(
    cands: DataFrame,
    kth_rows: list,
    k: int,
    tol: float = 1e-4,
    min_recall: float = 0.9,
) -> DataFrame:
    """The ANN self-check summary as ONE GLOBAL aggregation over the
    UNRANKED candidate frame (lsh_candidates / ivf_candidates) — no
    per-query ranking window, no groupBy(query_id), so the whole plan
    carries exactly one (single-partition, |queries|-row) Exchange.

    Value-identical to _ann_selfcheck_lit(topk(cands), kth_rows, k)
    (asserted in tests/test_operators.py::
    test_ann_selfcheck_onejob_equivalence). Why ranking is redundant
    for the SUMMARY: the top-k of a candidate set ordered by
    (sim desc, neighbor_id) contains min(n_above, k) above-threshold
    rows, because every candidate with sim >= kth - tol outranks every
    candidate below the threshold (ordering is by sim first, and hit
    status is monotone in sim). So hits-in-top-k = least(count of
    above-threshold candidates, k) — computable without ever ranking.
    n_queries = queries with >= 1 candidate (the window keeps rn=1 for
    any non-empty query, so topk answers exactly the queries the
    candidate frame touches). The per-query grading constants
    (kth sim, denominator) fold in as literals, one aggregate
    expression per query — |queries| is a serving batch (5 here),
    model-scale, never corpus-scale."""
    spark = cands.sparkSession
    if not kth_rows:
        return spark.createDataFrame(
            [(0, k, False)], "n_queries bigint, k bigint, recall_ok boolean"
        )
    from ..operators.similarity import _dlit

    ans_terms = []
    rec_terms = []
    for qid, kth, n_exact in kth_rows:
        cond = f"query_id = {int(qid)}L"
        hits = (
            f"least(coalesce(sum(case when {cond} and "
            f"sim >= {_dlit(float(kth))} - {_dlit(tol)} "
            f"then 1 else 0 end), 0L), {int(k)}L)"
        )
        ans_terms.append(f"coalesce(max(case when {cond} then 1 else 0 end), 0)")
        rec_terms.append(f"({hits}) / {_dlit(float(min(k, int(n_exact))))}")
    n_queries_sql = " + ".join(ans_terms)
    recall_mean_sql = "(" + " + ".join(rec_terms) + f") / {_dlit(float(len(kth_rows)))}"
    return cands.select("query_id", "sim").agg(
        F.expr(f"cast({n_queries_sql} as bigint)").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        F.expr(
            f"coalesce(({recall_mean_sql}) >= {_dlit(float(min_recall))}, false)"
        ).alias("recall_ok"),
    )


def _ann_selfcheck_direct(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    tol: float = 1e-4,
    min_recall: float = 0.9,
) -> DataFrame:
    """_ann_selfcheck(annotate_recall(approx, exact, k)) computed in
    ONE plan, value-identical by construction (equality asserted in
    tests/test_operators.py::test_ann_selfcheck_direct_equivalence):

    - tie-tolerant per-query recall anchored on the EXACT side (a
      query the approx result missed scores 0, same as annotate_recall);
    - n_queries = queries the approx result answered (the annotated
      form's countDistinct over an approx-side inner join);
    - recall_ok = mean recall >= min_recall, false on an empty input.

    annotate_recall exists to ship per-row recall columns in a graded
    output; when only this 1-row summary is consumed, building the
    annotated frame cost a persist of the whole candidate pipeline
    plus two broadcast joins per run (~0.35 s of the h8b/h8c bench
    rows) purely to aggregate it away again."""
    kth = exact.groupBy("query_id").agg(
        F.min("sim").alias("__kth"), F.count(F.lit(1)).alias("__n_exact")
    )
    hit = (F.col("sim") >= F.col("__kth") - tol).cast("int")
    hits = (
        approx.join(F.broadcast(kth), "query_id")
        .groupBy("query_id")
        .agg(F.sum(hit).alias("__hits"))
    )
    per_q = kth.join(hits, "query_id", "left").select(
        F.col("__hits").isNotNull().alias("__answered"),
        "query_id",
        (
            F.coalesce(F.col("__hits"), F.lit(0))
            / F.least(F.lit(k), F.col("__n_exact"))
        ).alias("__recall"),
    )
    return per_q.agg(
        F.countDistinct(F.when(F.col("__answered"), F.col("query_id"))).alias(
            "n_queries"
        ),
        F.lit(k).cast("long").alias("k"),
        F.coalesce(F.avg("__recall") >= F.lit(min_recall), F.lit(False)).alias(
            "recall_ok"
        ),
    )


@register("h8b_ann_lsh_topk", oracle=_ANN_SELFCHECK_ORACLE, group="H")
def h8b_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 5-NN via random-hyperplane LSH with multi-probe.
    Approximate by design, so the neighbor list itself can't be
    oracled; the graded output is the self-check summary (n_queries,
    k, recall_ok) where recall_ok = mean recall@5 vs brute force
    >= 0.9 (see _ann_selfcheck). The bucketed corpus is a cached
    index (see _ann_index)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _ann_index(spark, sf_dir, "queries")
    # probe_hamming is the recall knob: at this test-scale corpus (500
    # vectors) wide probing (15/16 buckets) is needed for recall>=0.9;
    # at 100 TB you'd raise num_planes and accept narrower probes
    approx = lsh_topk(
        emb, queries, k=5, dim=64, num_planes=4, probe_hamming=3,
        index=_ann_index(spark, sf_dir, "lsh"),
    )
    return _ann_selfcheck_lit(approx, _ann_index(spark, sf_dir, "exact_kth"), k=5)


@register("h8c_ann_ivf_topk", oracle=_ANN_SELFCHECK_ORACLE, group="H")
def h8c_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 5-NN via IVF (k-means cells + nprobe search) — the
    data-adaptive counterpart to h8b's LSH buckets. Same graded
    self-check summary as h8b (mean recall@5 >= 0.9 vs brute force;
    holds at the sf0.01 gate corpus — on corpora without cluster
    structure recall tracks the probed fraction and the flag exposes
    it). The k-means fit + corpus assignment is a cached index
    (see _ann_index)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _ann_index(spark, sf_dir, "queries")
    # nprobe/n_centroids is the recall knob: the 500-vector fixture
    # corpora have little cluster structure, so recall tracks the
    # probed fraction — 6/8 cells clears the 0.9 bar at every fixture
    # SF; a real corpus gets more centroids and proportionally
    # narrower probes
    approx = ivf_topk(
        emb, queries, k=5, n_centroids=8, nprobe=6, iters=3,
        index=_ann_index(spark, sf_dir, "ivf"),
    )
    return _ann_selfcheck_lit(approx, _ann_index(spark, sf_dir, "exact_kth"), k=5)


@register("h8bp_prepared_ann_lsh_topk", oracle=_ANN_SELFCHECK_ORACLE, group="H")
def h8bp_prepared_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h8b under PREPARED-PLAN semantics — the ANN SERVING row: the
    LSH index is prebuilt (_ann_index, untimed, the d1p convention for
    what a deployment amortizes) and the probe-batch plan is
    constructed once per session (queries.prepared.prepared_plan), so
    a timed run pays exactly the per-probe-batch work a serving layer
    pays: broadcast the probe buckets, map-side join them against the
    bucketed corpus, one global self-check aggregation. The summary
    skips the per-query ranking window via _ann_selfcheck_onejob
    (value-identical, equivalence test-gated), leaving ONE Exchange in
    the whole plan (the 5-row summary agg). The construction-per-call
    sibling h8b_ann_lsh_topk stays registered — both protocols remain
    visible side by side, same honesty contract as d1 vs d1p."""
    from .prepared import prepared_plan

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        queries = _ann_index(spark, sf_dir, "queries")
        cands = lsh_candidates(
            emb, queries, dim=64, num_planes=4, probe_hamming=3,
            index=_ann_index(spark, sf_dir, "lsh"),
        )
        return _ann_selfcheck_onejob(
            cands, _ann_index(spark, sf_dir, "exact_kth"), k=5
        )

    return prepared_plan(spark, sf_dir, "h8bp_prepared_ann_lsh_topk", build)


@register("h8cp_prepared_ann_ivf_topk", oracle=_ANN_SELFCHECK_ORACLE, group="H")
def h8cp_prepared_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h8c under PREPARED-PLAN semantics — IVF serving row: prebuilt
    inverted file (untimed, amortized index), prepared probe plan, one
    global self-check aggregation (no ranking window — see
    _ann_selfcheck_onejob; value-identical, test-gated). ONE Exchange
    in the whole plan. The construction-per-call sibling
    h8c_ann_ivf_topk stays registered (d1-vs-d1p honesty contract)."""
    from .prepared import prepared_plan

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        queries = _ann_index(spark, sf_dir, "queries")
        cands = ivf_candidates(
            emb, queries, n_centroids=8, nprobe=6, iters=3,
            index=_ann_index(spark, sf_dir, "ivf"),
        )
        return _ann_selfcheck_onejob(
            cands, _ann_index(spark, sf_dir, "exact_kth"), k=5
        )

    return prepared_plan(spark, sf_dir, "h8cp_prepared_ann_ivf_topk", build)


@register(
    "h9_label_centroids",
    oracle="""
SELECT label,
       ROUND(AVG(embedding[1]::DOUBLE), 4) AS c0,
       ROUND(AVG(embedding[2]::DOUBLE), 4) AS c1
FROM embeddings GROUP BY label ORDER BY label
""",
    group="H",
)
def h9_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.round(F.avg(F.col("embedding").getItem(0).cast("double")), 4).alias("c0"),
            F.round(F.avg(F.col("embedding").getItem(1).cast("double")), 4).alias("c1"),
        )
        .orderBy("label")
    )


@register(
    "h10_binary_bytes",
    oracle="""
SELECT SUM(octet_length(text::BLOB))::BIGINT AS total_bytes,
       MAX(octet_length(text::BLOB)) AS max_bytes,
       COUNT(*) AS cnt
FROM documents
""",
    group="H",
)
def h10_binary_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column stats (multimodal passthrough shape; the
    full decode plumbing is operators/multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    blob = F.col("text").cast("binary")
    return docs.agg(
        F.sum(F.octet_length(blob)).alias("total_bytes"),
        F.max(F.octet_length(blob)).cast("long").alias("max_bytes"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "h11_embedding_near_dup",
    oracle="""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
planted AS (
  SELECT vec_id + 10000000 AS vec_id,
         list_concat([vec[1] * 1.02], vec[2:]) AS vec
  FROM base WHERE vec_id < 25),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.vec, b.vec), 4) AS cosine
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.vec, b.vec) >= 0.9
ORDER BY id_a, id_b
""",
    group="H",
)
def h11_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup at dedup threshold (0.9) over the
    corpus plus planted near-copies (vec_id + 10^7, first component
    scaled 1.02 -> cosine ~0.9996): the executed plan is the 100 TB
    path — hyperplane-LSH bucket candidates + exact re-rank, equi-join
    only (operators/dedup.embedding_near_dup_lsh, plan-gated in
    test_plans.py) — while the oracle recomputes the same corpus with
    the all-pairs exact form feasible only at test scale. Planted
    recall is structural: a 2% single-dim perturbation flips a
    hyperplane sign only inside its margin, and Hamming<=1 multi-probe
    covers any single flip."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    planted = base.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.concat(
            F.array(F.col("vec").getItem(0) * 1.02), F.slice("vec", 2, 63)
        ).alias("vec"),
    )
    corpus = base.unionByName(planted)
    pairs = embedding_near_dup_lsh(
        corpus, "vec_id", "vec", threshold=0.9, dim=64, num_planes=8, probe_hamming=1
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine")).orderBy(
        "id_a", "id_b"
    )


@register(
    "h12_quality_scores",
    oracle=f"""
WITH x AS (SELECT doc_id, text, str_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       ROUND(length(text)::DOUBLE / len(toks), 4) AS mean_word_len,
       ROUND(len(list_filter(toks, t -> list_contains({_STOP_SQL}, t)))::DOUBLE / len(toks), 4) AS stopword_ratio,
       ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text), 4) AS alpha_ratio,
       ROUND(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS distinct_ratio
FROM x ORDER BY doc_id LIMIT 100
""",
    group="H",
)
def h12_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        quality_score(docs, "doc_id", "text")
        .withColumn("n_tokens", F.col("n_tokens").cast("long"))
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "h13_fingerprint",
    oracle="""
SELECT doc_id, md5(regexp_replace(LOWER(text), '\\s+', ' ', 'g')) AS fp_md5
FROM documents ORDER BY doc_id LIMIT 100
""",
    group="H",
)
def h13_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs, "doc_id", "text").select("doc_id", "fp_md5").orderBy(
        "doc_id"
    ).limit(100)


@register(
    "h14_language_id",
    oracle="""
SELECT lang, COUNT(*)::BIGINT AS n_docs, TRUE AS pred_in_domain,
       TRUE AS acc_above_chance
FROM documents GROUP BY lang ORDER BY lang
""",
    group="H",
)
def h14_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram naive-Bayes language-ID: train per-lang profiles on
    the labeled corpus, classify every doc. The confusion matrix isn't
    SQL-expressible (the classifier is trained, not declared), and the
    fixture corpus is near-uniform token soup whose ``lang`` labels
    carry only weak signal — absolute accuracy is bounded by the data,
    not the operator. The graded output is therefore the invariant
    triple: per-language row counts prove every doc was classified
    exactly once (inner join on predictions — a dropped or duplicated
    doc shifts n_docs), ``pred_in_domain`` proves every prediction is
    a trained label, and ``acc_above_chance`` proves global accuracy
    beats uniform chance (1/n_langs) — what a real trained profile
    achieves even on weak data. Determinism + planted-example behavior
    unit-tested in tests/test_operators.py."""
    from pyspark.sql.window import Window

    from ..operators.text import language_id, train_char_profiles

    docs = load_table(spark, sf_dir, "documents")
    profiles = train_char_profiles(docs, "lang", "text", n=2)
    pred = language_id(docs, profiles, "doc_id", "text", n=2)
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    per_lang = (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("lang") == F.col("predicted_lang")).cast("long")).alias(
                "__correct"
            ),
            F.bool_and(F.col("predicted_lang").isin(langs)).alias("pred_in_domain"),
        )
    )
    w = Window.partitionBy()
    return (
        per_lang.withColumn(
            "acc_above_chance",
            (F.sum("__correct").over(w) / F.sum("n_docs").over(w))
            > (1.0 / len(langs)),
        )
        .drop("__correct")
        .orderBy("lang")
    )


@register(
    "h15_stratified_sample",
    oracle="""
SELECT lang, TRUE AS within_tol FROM documents GROUP BY lang ORDER BY lang
""",
    group="H",
)
def h15_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded stratified sampling (sampleBy) — the train-data
    subsampling primitive. Self-checking: per-stratum sample counts
    must land within 40% of the 0.5 target fraction (deterministic for
    a fixed seed), so the oracle stays hash-matchable."""
    docs = load_table(spark, sf_dir, "documents")
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    sampled = docs.sampleBy("lang", fractions={l: 0.5 for l in langs}, seed=42)
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("total"))
    got = sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("got"))
    return (
        totals.join(got, "lang", "left")
        .select(
            "lang",
            (
                F.abs(F.coalesce(F.col("got"), F.lit(0)) - 0.5 * F.col("total"))
                <= 0.4 * 0.5 * F.col("total") + 3
            ).alias("within_tol"),
        )
        .orderBy("lang")
    )


@register(
    "h16_random_split",
    oracle="SELECT (SELECT COUNT(*) FROM documents) AS total, CAST(0 AS BIGINT) AS overlap",
    group="H",
)
def h16_random_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded train/test split: the partitions must be disjoint and
    exhaustive — exact invariants, checked against the source count."""
    docs = load_table(spark, sf_dir, "documents")
    train, test = docs.randomSplit([0.8, 0.2], seed=42)
    total = train.count() + test.count()
    overlap = train.select("doc_id").intersect(test.select("doc_id")).count()
    return spark.createDataFrame([(total, overlap)], "total bigint, overlap bigint")


@register(
    "h17_multimodal_features",
    oracle="""
SELECT media_type, CAST(cnt AS BIGINT) AS cnt,
       CAST(avg_bytes AS DOUBLE) AS avg_bytes, CAST(avg_f0 AS DOUBLE) AS avg_f0
FROM (VALUES ('audio', 20, 400.0, 0.4919),
             ('image', 20, 400.0, 0.4989),
             ('video', 20, 400.0, 0.4966)) AS t(media_type, cnt, avg_bytes, avg_f0)
ORDER BY media_type
""",
    group="H",
)
def h17_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature plumbing end to end: seeded binary
    media table -> mapInPandas feature extraction (Arrow-batched) ->
    per-type stats. Decode is a deterministic stub (no codec libs in
    this environment); the Spark-side schema/batching/partitioning is
    real. The media table is seeded and driver-built, so the stats are
    a reproducible constant — the oracle pins them exactly (a decode
    or batching change flips the hash). Determinism also
    unit-tested in tests/test_operators.py."""
    from ..operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, n=60)
    feats = extract_features(media)
    return (
        feats.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
            F.round(F.avg(F.col("feature").getItem(0)), 4).alias("avg_f0"),
        )
        .orderBy("media_type")
    )


# components cache: h18 (groups) and h19 (split) share one LSH + CC
# resolution per (session, sf) — the pipeline is the expensive part,
# the two outputs are different projections of the same components.
_CC_CACHE: dict = {}


def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, comp) connected components of the verified near-dup graph
    (collapsed rep edges + membership stars), persisted for reuse."""
    from ..operators.dedup import minhash_rep_graph, resolve_components

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CC_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        # Size the pipeline's shuffles to the INPUT, not the session's
        # global width: the LSH/CC subtree persists and localCheckpoints
        # its intermediates, and cached-plan output partitioning is
        # exempt from AQE coalescing — under a plain 200-partition
        # session every iteration materializes 200 near-empty tasks.
        # Width = max(cores, input split count) grows with the data
        # (100 TB of documents => thousands of input splits) and
        # collapses to core count on small SFs.
        width = max(
            spark.sparkContext.defaultParallelism,
            docs.rdd.getNumPartitions(),
        )
        with conf_scope(spark, {"spark.sql.shuffle.partitions": width}):
            rep_pairs, membership = minhash_rep_graph(
                docs, "doc_id", "text", threshold=0.95, num_hashes=64, bands=16
            )
            # CC over rep edges only; stars folded in with one join —
            # label propagation never carries the corpus-sized frame.
            cc = resolve_components(rep_pairs, membership).persist()
            cc.count()
        _CC_CACHE[key] = cc
    return _CC_CACHE[key]



@register(
    "h18_dedup_groups",
    oracle="""
WITH RECURSIVE
tok AS (SELECT doc_id, UNNEST(list_distinct(str_split(text, ' '))) AS token FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b FROM (
            SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS j
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b) WHERE j >= 0.95),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach AS (SELECT id, id AS r FROM nodes
          UNION
          SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id)
SELECT id AS doc_id, MIN(r) AS group_id
FROM reach GROUP BY id ORDER BY doc_id
""",
    group="H",
)
def h18_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> duplicate GROUPS: connected components over
    the near-dup edge list via min-label propagation (the cluster
    resolution every dedup pipeline needs before "keep one per group").
    Edges come from MinHash-LSH with exact verification on candidates
    (the h6b pipeline) — the identical pair set as all-pairs exact
    Jaccard (P(miss) ~1e-12 per pair at j>=0.95), but candidate-
    bounded instead of hot-token-quadratic: at sf0.1 the all-pairs
    token join takes ~75 s where LSH takes ~1.5 s, and only the LSH
    form survives 100 TB. The oracle computes the same components with
    a recursive CTE over all-pairs Jaccard — feasible in DuckDB only
    at test scale; label propagation is the form that scales
    (O(diameter) joins, near-clique clusters => ~3)."""
    cc = _dedup_components(spark, sf_dir)
    return cc.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("group_id")
    ).orderBy("doc_id")


@register(
    "h19_dedup_aware_split",
    oracle="""
WITH RECURSIVE
tok AS (SELECT doc_id, UNNEST(list_distinct(str_split(text, ' '))) AS token FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b FROM (
            SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS j
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b) WHERE j >= 0.95),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach AS (SELECT id, id AS r FROM nodes
          UNION
          SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
grp AS (SELECT id AS doc_id, MIN(r) AS group_id FROM reach GROUP BY id),
allg AS (SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id
         FROM documents d LEFT JOIN grp g USING (doc_id)),
a AS (SELECT doc_id, group_id,
             CASE WHEN group_id % 10 < 8 THEN 'train'
                  WHEN group_id % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM allg),
leak AS (SELECT COUNT(*) AS leaks FROM (
           SELECT group_id FROM a GROUP BY group_id
           HAVING COUNT(DISTINCT split) > 1))
SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT group_id) AS n_groups,
       (SELECT leaks FROM leak) = 0 AS leakage_free
FROM a GROUP BY split ORDER BY split
""",
    group="H",
)
def h19_dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split: the unit of assignment is the
    near-duplicate GROUP (h18's connected components; singleton docs
    are their own group), so two near-copies of one document can never
    land in different splits — the train/test-leakage failure mode a
    naive per-doc randomSplit has on duplicate-heavy corpora.

    Assignment is deterministic (group_id % 10 -> 8/1/1), so the whole
    pipeline is retry-safe and SQL-expressible for the oracle; a real
    deployment would substitute a salted hash of the group id at the
    same split ratios. The leakage check rides in the output
    (``leakage_free``) rather than only in tests."""
    docs = load_table(spark, sf_dir, "documents")
    cc = _dedup_components(spark, sf_dir)
    groups = (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["id"], "left")
        .select("doc_id", F.coalesce("comp", "doc_id").alias("group_id"))
    )
    assignment = groups.withColumn(
        "split",
        F.when(F.pmod("group_id", F.lit(10)) < 8, F.lit("train"))
        .when(F.pmod("group_id", F.lit(10)) == 8, F.lit("val"))
        .otherwise(F.lit("test")),
    )
    leaks = (
        assignment.groupBy("group_id")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(F.sum((F.col("ns") > 1).cast("int")).alias("__leaks"))
    )
    return (
        assignment.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("group_id").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leaks))
        .withColumn("leakage_free", F.col("__leaks") == 0)
        .drop("__leaks")
        .orderBy("split")
    )


# ---- PII scrub (h20) ---------------------------------------------------
# Patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): no backrefs, no lookaround.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\d{3}[-.]\d{3}[-.]\d{4}"
_PII_IPV4 = r"(?:\d{1,3}\.){3}\d{1,3}"
_PII_ANY = f"{_PII_EMAIL}|{_PII_PHONE}|{_PII_IPV4}"
# Planted rows make the query self-checking: the fixture corpus is
# PII-free word salad, so the expected per-type counts are exactly the
# planted ones — and `clean` proves redaction removed every match.
_PII_PLANTED = [
    (1000001, "contact alice@example.com or bob.smith+x@mail.co for info"),
    (1000002, "call 555-867-5309 or 415.555.0199 now"),
    (1000003, "server at 192.168.1.100 and 10.0.0.7 responded"),
    (1000004, "no pii here at all"),
]
_PII_PLANTED_SQL = ", ".join(f"({i}, '{t}')" for i, t in _PII_PLANTED)


@register(
    "h20_pii_redaction",
    oracle=f"""
WITH planted(doc_id, text) AS (VALUES {_PII_PLANTED_SQL}),
corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM planted),
m AS (SELECT doc_id,
        len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
        len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phone,
        len(regexp_extract_all(text, '{_PII_IPV4}')) AS n_ipv4,
        regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IPV4}', '<IP>', 'g') AS red
      FROM corpus)
SELECT SUM(n_email)::BIGINT AS n_email, SUM(n_phone)::BIGINT AS n_phone,
       SUM(n_ipv4)::BIGINT AS n_ipv4,
       SUM(CASE WHEN n_email + n_phone + n_ipv4 > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_redacted,
       BOOL_AND(NOT regexp_matches(red, '{_PII_ANY}')) AS clean
FROM m
""",
    group="H",
)
def h20_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count + redact emails / phone numbers / IPv4s across
    the corpus, in one JVM-side expression pipeline (regexp_extract_all
    + chained regexp_replace — no Python in the row path). Planted PII
    rows ride along so the type counts and the post-redaction `clean`
    invariant are non-trivially checkable against the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    planted = spark.createDataFrame(_PII_PLANTED, "doc_id bigint, text string")
    corpus = docs.select("doc_id", "text").unionByName(planted)
    zero = F.lit(0)
    n_email = F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), zero))
    n_phone = F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), zero))
    n_ipv4 = F.size(F.regexp_extract_all("text", F.lit(_PII_IPV4), zero))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IPV4,
        "<IP>",
    )
    m = corpus.select(
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        n_ipv4.alias("n_ipv4"),
        red.alias("red"),
    )
    return m.agg(
        F.sum("n_email").alias("n_email"),
        F.sum("n_phone").alias("n_phone"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum(
            ((F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")) > 0).cast("int")
        ).alias("docs_redacted"),
        F.bool_and(~F.col("red").rlike(_PII_ANY)).alias("clean"),
    )


@register(
    "h21_repetition_quality",
    oracle="""
WITH bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
  FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks))) AS i
        FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents))),
c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
p AS (SELECT doc_id, MAX(cnt) AS maxc, SUM(cnt) AS total,
             SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dupc
      FROM c GROUP BY doc_id)
SELECT doc_id, ROUND(maxc::DOUBLE / total, 4) AS top_bigram_frac,
       ROUND(dupc::DOUBLE / total, 4) AS dup_bigram_frac,
       (maxc::DOUBLE / total > 0.06 OR dupc::DOUBLE / total > 0.1) AS flagged
FROM p ORDER BY doc_id LIMIT 100
""",
    group="H",
)
def h21_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: per-document share of
    the most frequent bigram and share of bigram occurrences that are
    repeats. Thresholds (0.06 / 0.10) flag ~30% of the fixture corpus,
    so both branches of the filter are exercised. Pure explode +
    two-level aggregation — map-side partial aggs, one shuffle on
    (doc_id, bg), one on doc_id; no window, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    toks = "split(text, ' ')"
    bigrams = F.expr(
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"transform(sequence(0, size({toks}) - 2), "
        f"i -> concat({toks}[i], ' ', {toks}[i + 1])) "
        "ELSE array() END"
    )
    c = (
        docs.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    p = c.groupBy("doc_id").agg(
        F.max("cnt").alias("maxc"),
        F.sum("cnt").alias("total"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dupc"),
    )
    top = F.col("maxc") / F.col("total")
    dup = F.col("dupc") / F.col("total")
    return (
        p.select(
            "doc_id",
            F.round(top, 4).alias("top_bigram_frac"),
            F.round(dup, 4).alias("dup_bigram_frac"),
            ((top > 0.06) | (dup > 0.1)).alias("flagged"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "h22_ngram_decontamination",
    oracle="""
WITH g AS (
  SELECT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] AS gram
  FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks) - 3)) AS i
        FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents))),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
train AS (SELECT doc_id, gram FROM g WHERE doc_id >= 20),
hit AS (SELECT t.doc_id, COUNT(DISTINCT t.gram) AS n_shared
        FROM train t JOIN bench b USING (gram) GROUP BY t.doc_id)
SELECT (SELECT COUNT(DISTINCT doc_id) FROM train) AS n_train,
       (SELECT COUNT(*) FROM hit) AS n_contaminated,
       (SELECT COALESCE(SUM(n_shared), 0) FROM hit)::BIGINT AS total_shared_grams
""",
    group="H",
)
def h22_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    token 5-gram with a held-out benchmark set (here: doc_id < 20 —
    the fixture's planted near-duplicates guarantee non-trivial hits).
    Benchmark grams are a broadcast-joined set (a real benchmark is
    orders of magnitude smaller than the training corpus); the
    training side streams through one explode + hash join + per-doc
    agg, so the shape scales to 100 TB with no all-pairs work."""
    docs = load_table(spark, sf_dir, "documents")
    toks = "split(text, ' ')"
    grams = F.expr(
        f"CASE WHEN size({toks}) >= 5 THEN "
        f"transform(sequence(0, size({toks}) - 5), "
        f"i -> concat_ws(' ', {toks}[i], {toks}[i+1], {toks}[i+2], {toks}[i+3], {toks}[i+4])) "
        "ELSE array() END"
    )
    g = docs.select("doc_id", F.explode(grams).alias("gram"))
    bench = g.filter(F.col("doc_id") < 20).select("gram").distinct()
    train = g.filter(F.col("doc_id") >= 20)
    hit = (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
    )
    n_train = train.agg(F.countDistinct("doc_id").alias("n_train"))
    summary = hit.agg(
        F.count(F.lit(1)).alias("n_contaminated"),
        F.coalesce(F.sum("n_shared"), F.lit(0)).alias("total_shared_grams"),
    )
    return n_train.crossJoin(F.broadcast(summary))


# ---- BPE-ish token counting (h23) --------------------------------------
# The planted rows carry punctuation/digits so the regex tokenization
# provably diverges from whitespace counting (the fixture corpus is
# space-separated words, where the two coincide). Negative doc_ids sort
# first, keeping the planted rows inside the LIMIT window.
_BPE_PLANTED = [
    (-3, "price: $3.50 (tax incl.) -- order #42 now!"),
    (-2, "v2.0.1 beta, released 2024-06-01; see notes"),
    (-1, "hello,world:a-b c_d 12ab"),
]
_BPE_PLANTED_SQL = ", ".join(f"({i}, '{t}')" for i, t in _BPE_PLANTED)
_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


@register(
    "h23_token_counts",
    oracle=f"""
WITH planted(doc_id, text) AS (VALUES {_BPE_PLANTED_SQL}),
corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM planted)
SELECT doc_id,
       len(str_split(text, ' '))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE_PATTERN}'))::BIGINT AS n_bpe_tokens
FROM corpus ORDER BY doc_id LIMIT 100
""",
    group="H",
)
def h23_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-style
    pre-tokenizer regex (letter runs | digit runs | punctuation runs —
    the GPT-2 pre-split shape without lookarounds, so Java regex and
    RE2 agree). Both are single JVM-side projections; the per-document
    counts are the budgeting primitive every training pipeline needs."""
    docs = load_table(spark, sf_dir, "documents")
    planted = spark.createDataFrame(_BPE_PLANTED, "doc_id bigint, text string")
    corpus = docs.select("doc_id", "text").unionByName(planted)
    return (
        corpus.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
            F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0)))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


# ---- sequence packing (h24) --------------------------------------------
@register(
    "h24_sequence_packing",
    oracle="""
WITH RECURSIVE d AS (
  SELECT source, doc_id, len(str_split(text, ' '))::BIGINT AS tok,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents),
pack AS (
  SELECT source, rn, tok, 1::BIGINT AS bin, tok AS fill FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.rn, d.tok,
         CASE WHEN p.fill + d.tok > 512 THEN p.bin + 1 ELSE p.bin END,
         CASE WHEN p.fill + d.tok > 512 THEN d.tok ELSE p.fill + d.tok END
  FROM pack p JOIN d ON d.source = p.source AND d.rn = p.rn + 1),
per_bin AS (
  SELECT source, bin, COUNT(*) AS bd, SUM(tok)::BIGINT AS bt
  FROM pack GROUP BY source, bin)
SELECT source AS group_key,
       MAX(bin)::BIGINT AS n_bins,
       SUM(bd)::BIGINT AS n_docs,
       SUM(bt)::BIGINT AS total_tokens,
       MAX(bt)::BIGINT AS max_bin_tokens
FROM per_bin GROUP BY source
""",
    group="H",
)
def h24_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing of documents into 512-token training
    bins, grouped by source. The sequential greedy loop runs inside
    ``applyInPandas`` per group (the correct Spark pattern for
    order-dependent per-group logic); groups pack in parallel across
    executors. The oracle reproduces the same first-fit-sequential
    semantics with a recursive CTE."""
    from ..operators.packing import pack_summary

    docs = load_table(spark, sf_dir, "documents")
    return pack_summary(
        docs, "source", "doc_id", F.size(F.split("text", " ")), budget=512
    )


# ---- URL canonicalization dedup (h25) ----------------------------------
_URL_RAW_SQL = """
CASE doc_id % 4
  WHEN 0 THEN 'https://example.com/' || source || '/page' || CAST(doc_id // 2 AS VARCHAR)
  WHEN 1 THEN 'https://www.example.com/' || source || '/page' || CAST(doc_id // 2 AS VARCHAR) || '/'
  WHEN 2 THEN 'HTTPS://EXAMPLE.COM/' || source || '/page' || CAST(doc_id // 2 AS VARCHAR) || '?utm_source=feed'
  ELSE 'https://example.com/' || source || '/page' || CAST(doc_id // 2 AS VARCHAR) || '#frag'
END
"""


@register(
    "h25_url_canonical_dedup",
    oracle=f"""
WITH raw AS (SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents),
canon AS (
  SELECT doc_id, url,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           LOWER(url), '#.*$', ''), '\\?.*$', ''), '://www\\.', '://'), '/$', '') AS curl
  FROM raw)
SELECT COUNT(*)::BIGINT AS n_docs,
       COUNT(DISTINCT url)::BIGINT AS n_raw_urls,
       COUNT(DISTINCT curl)::BIGINT AS n_canonical,
       MIN(curl) AS min_canonical,
       MAX(curl) AS max_canonical
FROM canon
""",
    group="H",
)
def h25_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup: lowercase, strip fragment/query/
    www./trailing slash, then count distinct canonical pages. The
    fixture has no URL column, so a deterministic raw URL is derived
    per document (four surface variants per logical page — the shapes
    a crawler actually emits); dedup on the canonical form halves the
    distinct count. Expression-only; at scale this is the shuffle key
    of an exact dedup, with the same cost model as h1."""
    from ..operators.text import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    page = F.expr("CAST(doc_id div 2 AS STRING)")
    raw = (
        F.when(
            F.pmod("doc_id", F.lit(4)) == 0,
            F.concat(F.lit("https://example.com/"), F.col("source"), F.lit("/page"), page),
        )
        .when(
            F.pmod("doc_id", F.lit(4)) == 1,
            F.concat(
                F.lit("https://www.example.com/"), F.col("source"), F.lit("/page"), page, F.lit("/")
            ),
        )
        .when(
            F.pmod("doc_id", F.lit(4)) == 2,
            F.concat(
                F.lit("HTTPS://EXAMPLE.COM/"),
                F.col("source"),
                F.lit("/page"),
                page,
                F.lit("?utm_source=feed"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com/"), F.col("source"), F.lit("/page"), page, F.lit("#frag")
            )
        )
    )
    urls = docs.select(raw.alias("url"))
    canon = urls.select("url", canonical_url(F.col("url")).alias("curl"))
    return canon.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("url").alias("n_raw_urls"),
        F.countDistinct("curl").alias("n_canonical"),
        F.min("curl").alias("min_canonical"),
        F.max("curl").alias("max_canonical"),
    )


# ---- Bloom-filter decontamination (h26) --------------------------------
@register(
    "h26_bloom_decontamination",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id IN (3, 7, 11)),
bench AS (SELECT DISTINCT text FROM corpus WHERE doc_id < 20),
train AS (SELECT doc_id, text FROM corpus WHERE doc_id >= 20)
SELECT (SELECT COUNT(*) FROM train)::BIGINT AS n_train,
       (SELECT COUNT(*) FROM train t
         WHERE EXISTS (SELECT 1 FROM bench b WHERE b.text = t.text))::BIGINT
         AS n_contaminated
""",
    group="H",
)
def h26_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination with a Bloom-filter prefilter: the
    bench set (doc_id < 20, plus planted exact copies so hits are
    guaranteed) is hashed into a 16 Kbit filter ONCE and shipped as a
    literal; every training doc probes it as a pure projection (5
    xxhash64 calls, no join), and only probe-positives pay the exact
    broadcast verification join. Bloom has no false negatives, so the
    result EQUALS the exact semi-join the oracle computes — while at
    100 TB the filter cuts the verify join's input by orders of
    magnitude."""
    from ..operators.bloom import bloom_build_bits, bloom_probe

    M, K = 16384, 5
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        docs.filter(F.col("doc_id").isin(3, 7, 11))
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    corpus = docs.unionByName(planted)
    bench = corpus.filter(F.col("doc_id") < 20).select("text").distinct()
    train = corpus.filter(F.col("doc_id") >= 20)
    bits = bloom_build_bits(bench, F.col("text"), m=M, k=K)
    candidates = train.filter(bloom_probe(bits, F.col("text"), m=M, k=K))
    contaminated = candidates.join(F.broadcast(bench), "text", "left_semi")
    n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
    n_hit = contaminated.agg(F.count(F.lit(1)).alias("n_contaminated"))
    return n_train.crossJoin(F.broadcast(n_hit))


# ---- int8 embedding quantization (h27) ---------------------------------
@register(
    "h27_embedding_quantization",
    oracle="""
WITH flat AS (
  SELECT vec_id, (i - 1)::BIGINT AS dim, CAST(emb[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding AS emb,
               UNNEST(range(1, len(embedding) + 1)) AS i
        FROM embeddings)),
cal AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM flat GROUP BY dim),
q AS (SELECT vec_id, x, lo,
             GREATEST((hi - lo) / 255.0, 1e-12) AS scale
      FROM flat JOIN cal USING (dim)),
e AS (SELECT vec_id,
             x - (lo + LEAST(GREATEST(FLOOR((x - lo) / scale + 0.5), 0), 255) * scale) AS err
      FROM q)
SELECT COUNT(DISTINCT vec_id)::BIGINT AS n_vecs,
       AVG(err * err) * 1e6 AS mse_e6,
       MAX(ABS(err)) * 1e3 AS max_abs_err_e3
FROM e
""",
    group="H",
)
def h27_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension affine int8 quantization of the embedding column
    with a reconstruction-error report. Calibration (per-dim min/max)
    aggregates to `dim` rows regardless of corpus size; quantize +
    error are pure projections after a broadcast join on dim."""
    from ..operators.similarity import int8_quantize_error

    emb = load_table(spark, sf_dir, "embeddings")
    return int8_quantize_error(emb, "vec_id", "embedding")


# ---- chunk-level dedup (h28) -------------------------------------------
@register(
    "h28_chunk_dedup",
    oracle="""
WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
c AS (SELECT doc_id,
             array_to_string(list_slice(toks, ci * 20 + 1, ci * 20 + 20), ' ') AS chunk
      FROM (SELECT doc_id, toks,
                   UNNEST(range(0, ((len(toks) - 1) // 20) + 1)) AS ci
            FROM d)),
per_chunk AS (SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs_chunk, COUNT(*) AS n_occ
              FROM c GROUP BY chunk),
doc_frac AS (SELECT doc_id,
                    SUM(CASE WHEN n_docs_chunk >= 2 THEN 1 ELSE 0 END)::DOUBLE
                      / COUNT(*) AS dup_frac
             FROM c JOIN per_chunk USING (chunk) GROUP BY doc_id)
SELECT (SELECT SUM(n_occ) FROM per_chunk)::BIGINT AS n_chunks_total,
       (SELECT COUNT(*) FROM per_chunk)::BIGINT AS n_chunks_distinct,
       (SELECT SUM(CASE WHEN n_docs_chunk >= 2 THEN 1 ELSE 0 END)
          FROM per_chunk)::BIGINT AS n_dup_chunks,
       (SELECT SUM(CASE WHEN dup_frac > 0.5 THEN 1 ELSE 0 END)
          FROM doc_frac)::BIGINT AS n_docs_majority_dup
""",
    group="H",
)
def h28_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup statistics over non-overlapping 20-token
    chunks — catches boilerplate/partial copies whole-doc dedup
    misses. Linear explode + hash aggregates, no pairwise joins."""
    from ..operators.dedup import chunk_dup_stats

    docs = load_table(spark, sf_dir, "documents")
    return chunk_dup_stats(docs, "doc_id", "text", chunk_tokens=20)


# ---- multimodal frame pipeline (h29) -----------------------------------
@register(
    "h29_multimodal_frame_pipeline",
    oracle="""
SELECT CAST(n_videos AS BIGINT) AS n_videos,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(avg_frame_f0 AS DOUBLE) AS avg_frame_f0,
       CAST(avg_pooled_f0 AS DOUBLE) AS avg_pooled_f0
FROM (VALUES (20, 150, 0.5007, 0.499)) AS t(n_videos, n_frames, avg_frame_f0, avg_pooled_f0)
""",
    group="H",
)
def h29_multimodal_frame_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sample -> decode -> resize/pool pipeline: the
    metadata-only frame plan schedules work without touching bytes,
    blobs join in once per media, and per-frame decode + mean-pool run
    Arrow-batched in mapInPandas (decode/resize stubbed
    deterministically — no codec libs here; the schema, batching and
    partition flow are the real contract). Seeded media table makes
    the stats a reproducible constant the oracle pins exactly."""
    from ..operators.multimodal import decode_sampled_frames, synthetic_media

    media = synthetic_media(spark, n=60)
    frames = decode_sampled_frames(media, every_n=10)
    return frames.agg(
        F.countDistinct("media_id").alias("n_videos"),
        F.count(F.lit(1)).alias("n_frames"),
        F.round(F.avg("frame_f0"), 4).alias("avg_frame_f0"),
        F.round(F.avg("pooled_f0"), 4).alias("avg_pooled_f0"),
    )


@register(
    "h55_leakage_safe_split",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         MIN(doc_id) OVER (
           PARTITION BY md5(list_aggr(list_sort(list_distinct(
             str_split(text, ' '))), 'string_agg', CHR(31)))
         ) AS canonical_id
  FROM documents
),
s AS (
  SELECT doc_id, canonical_id,
         CASE WHEN {safe_mult_hash_sql("canonical_id")} % 100 < 80 THEN 'train'
              WHEN {safe_mult_hash_sql("canonical_id")} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM g
)
SELECT split,
       COUNT(*)::BIGINT AS n_docs,
       COUNT(DISTINCT canonical_id)::BIGINT AS n_groups,
       (SELECT COUNT(*) FROM (
          SELECT canonical_id FROM s GROUP BY canonical_id
          HAVING COUNT(DISTINCT split) > 1))::BIGINT AS leaked_groups
FROM s GROUP BY split ORDER BY split
""",
    group="H",
)
def h55_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split (round 8): the assignment that
    keeps DUPLICATE GROUPS on one side of the split — hashing raw doc
    ids leaks near-identical text across train and eval (the classic
    contamination bug dedup papers warn about); hashing the group's
    CANONICAL id cannot, by construction. Each doc resolves to its
    exact-duplicate canonical (min doc_id per token-set fingerprint —
    one hash shuffle; the near-dup generalization swaps in
    minhash_rep_graph's component id, unit-tested in
    tests/test_operators.py), the split is a deterministic
    multiplicative hash of the canonical id (seed-free, replayable on
    any cluster), and the graded output carries ``leaked_groups`` —
    the number of groups spanning splits, 0 by construction — next to
    the per-split doc/group counts."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(
            "\x1f", F.array_sort(F.array_distinct(F.split("text", " ")))
        )
    )
    g = docs.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(fp)).alias("canonical_id"),
    )
    r = F.pmod(safe_mult_hash("canonical_id"), F.lit(100))
    s = g.select(
        "doc_id",
        "canonical_id",
        F.when(r < 80, "train").when(r < 90, "val").otherwise("test").alias("split"),
    )
    leaked = (
        s.groupBy("canonical_id")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical_id").alias("n_groups"),
        )
        .withColumn("leaked_groups", F.lit(leaked).cast("long"))
        .orderBy("split")
    )


@register(
    "h54_ann_ivfpq_table",
    oracle="""
SELECT COUNT(*)::BIGINT AS n_queries, CAST(5 AS BIGINT) AS k,
       TRUE AS recall_ok, TRUE AS pruned
FROM embeddings WHERE vec_id < 5
""",
    group="H",
)
def h54_ann_ivfpq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ persisted AS AN ENGINE TABLE partitioned by cluster
    (identity transform) and probed through the engine's
    runtime-filtered scan planning — the deployment form of h53: at
    100 TB the inverted file is not a DataFrame you rebuilt, it is a
    table whose per-cell files carry min=max=cluster stats, so a probe
    PLANS only the nprobe probed cells' files from manifest metadata
    (zero data IO for every other cell) and index maintenance is the
    table layer's ordinary compaction/expiry/time-travel. Graded
    verdict adds ``pruned`` — files_scanned strictly below files_total
    straight from the planner's own accounting — to the family's
    recall self-check."""
    from ..operators.similarity import ivfpq_table_topk

    tbl, cents, books = _ann_index(spark, sf_dir, "ivfpq_table")
    queries = _ann_index(spark, sf_dir, "queries")
    with conf_scope(
        spark, {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism}
    ):
        approx, _batch_info = ivfpq_table_topk(
            spark, tbl, cents, books, queries, k=5, nprobe=6, rerank=20
        )
        rows = _ann_selfcheck_lit(
            approx, _ann_index(spark, sf_dir, "exact_kth"), k=5
        ).collect()
        # the pruning property is PER QUERY (nprobe cells of
        # n_centroids); a 5-query batch at nprobe=6/8 legitimately
        # unions to all cells on this tiny fixture, so grade the
        # planner accounting on a single-query probe
        one = queries.orderBy("vec_id").limit(1)
        _top1, info = ivfpq_table_topk(
            spark, tbl, cents, books, one, k=5, nprobe=6, rerank=20
        )
        _top1.collect()
    pruned = 0 < info["files_scanned"] < info["files_total"]
    return spark.createDataFrame(
        [(rows[0]["n_queries"], rows[0]["k"], rows[0]["recall_ok"], pruned)],
        "n_queries bigint, k bigint, recall_ok boolean, pruned boolean",
    )


# ---- real BMP decode pipeline (h29b, round 8) ---------------------------
@register(
    "h29b_multimodal_bmp_decode",
    oracle="""
SELECT CAST(32 AS BIGINT) AS n_images,
       TRUE AS dims_exact, TRUE AS means_exact, TRUE AS resize_exact
""",
    group="H",
)
def h29b_multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h29's decode stage with a REAL codec (VERDICT r7 stretch item):
    uncompressed 24-bit BMP encode/decode in pure numpy+struct —
    genuine header validation, stride/padding arithmetic, bottom-up
    row order — run Arrow-batched inside mapInPandas, so the graded
    pipeline measures actual byte parsing instead of a stub hash.
    Verdict: every seeded image decodes to the exact dimensions,
    channel means, and 2x2 mean-pool stats recomputed independently
    from the same seeded pixels on the driver. The encode side is
    exercised by the same row (the fixtures ARE our encoder's output;
    the operator test pins decode(encode(px)) == px bit-exactly and
    rejection of corrupt headers)."""
    import numpy as np

    from ..operators.multimodal import bmp_image_stats, synthetic_bmp_media

    n = 32
    media = synthetic_bmp_media(spark, n=n)
    got = {r["media_id"]: r for r in bmp_image_stats(media).collect()}
    rng = np.random.RandomState(42)  # same stream as synthetic_bmp_media
    dims_ok = means_ok = resize_ok = True
    for i in range(n):
        w = 10 + (i % 7)
        h = 6 + (i % 5)
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        r = got.get(i)
        if r is None or (r["dec_width"], r["dec_height"]) != (w, h):
            dims_ok = False
            continue
        if any(
            abs(r[k] - px[:, :, c].mean()) > 1e-9
            for c, k in enumerate(("mean_r", "mean_g", "mean_b"))
        ):
            means_ok = False
        hh, ww = h & ~1, w & ~1
        pool = (
            px[:hh, :ww].astype(np.float64)
            .reshape(hh // 2, 2, ww // 2, 2, 3)
            .mean(axis=(1, 3))
            .mean()
        )
        if abs(r["pool_mean"] - pool) > 1e-9:
            resize_ok = False
    return spark.createDataFrame(
        [(len(got), dims_ok, means_ok, resize_ok)],
        "n_images bigint, dims_exact boolean, means_exact boolean, "
        "resize_exact boolean",
    )


# ---- source mixture sampling (h30) -------------------------------------
@register(
    "h30_source_mixture_sample",
    oracle=f"""
WITH d AS (
  SELECT source,
         {safe_mult_hash_sql("doc_id")} % 1000 AS r,
         CASE WHEN CAST(SUBSTR(source, 4) AS BIGINT) % 2 = 0
              THEN 750 ELSE 250 END AS w
  FROM documents)
SELECT source,
       COUNT(*)::BIGINT AS n_total,
       SUM(CASE WHEN r < w THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM d GROUP BY source ORDER BY source
""",
    group="H",
)
def h30_source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling by source weight — the step that turns a raw
    corpus into a training mix (web 75%, books 25%, ...). The
    keep-decision is a deterministic multiplicative hash of the doc id
    against the source's weight threshold, so the sample is exactly
    reproducible across retries/engines (no rand()), sampling is a
    pure projection + filter (no shuffle), and re-running on appended
    data never resamples old rows. Even-numbered sources keep 75%,
    odd 25%."""
    docs = load_table(spark, sf_dir, "documents")
    r = F.pmod(safe_mult_hash("doc_id"), F.lit(1000))
    w = F.when(
        F.substring("source", 4, 10).cast("long") % 2 == 0, F.lit(750)
    ).otherwise(F.lit(250))
    return (
        docs.select("source", r.alias("r"), w.alias("w"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("r") < F.col("w"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


# ---- BPE vocabulary induction (h38) ------------------------------------
@register(
    "h38_bpe_vocab_induction",
    oracle="""
SELECT CAST(10 AS BIGINT) AS n_merges, TRUE AS all_counts_positive,
       TRUE AS mass_strictly_decreasing
""",
    group="H",
)
def h38_bpe_vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich 2016) over the
    documents corpus: ONE corpus pass reduces text to a word-type
    frequency table, then 10 merge rounds run at vocabulary scale
    (pair-count shuffle + 1-row argmax collect + JVM-side fold merge —
    operators/bpe.py). The learned merges are corpus statistics no SQL
    engine reproduces, so the graded output is the invariant summary:
    all 10 merges found positive-count pairs and each application
    strictly shrank the corpus symbol mass (a merge that was chosen
    but not applied, or an argmax over empty pairs, flips a value and
    fails the driver's hash check). Merge-level behavior is unit-tested
    in tests/test_operators.py."""
    from ..operators.bpe import bpe_selfcheck

    merges, _syms, masses = _bpe_trained(spark, sf_dir)
    return bpe_selfcheck(spark, merges, masses, n_merges=10)


# trained-tokenizer cache: h38 (train) and h38b (encode) share one fit,
# same pattern as _ANN_INDEX_CACHE — the index build amortizes over
# consumers. Keyed by applicationId so a new session never reuses
# another session's (unresolvable) plans.
_BPE_CACHE: dict = {}


def _bpe_trained(spark: SparkSession, sf_dir: str):
    from ..operators.bpe import bpe_train

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BPE_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        _BPE_CACHE[key] = bpe_train(docs, "text", n_merges=10)
    return _BPE_CACHE[key]


@register(
    "h38b_bpe_encode",
    oracle=r"""
SELECT COUNT(*)::BIGINT AS n_docs,
       (SELECT SUM(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                   x -> len(x) > 0)))::BIGINT
        FROM documents) AS total_words,
       TRUE AS all_words_mapped, TRUE AS encode_mass_consistent
FROM documents
""",
    group="H",
)
def h38b_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the h38-trained BPE tokenizer to the corpus — the
    scale-correct way: the trained (word -> segmentation) table IS the
    encoder, so encoding is ONE broadcast join on word types
    (operators/bpe.bpe_encode_tokens); the merge folds never re-run
    over documents. Graded output: doc/word totals the oracle
    recomputes, plus two exact invariants — every corpus word resolves
    through the trained table (all_words_mapped), and the corpus-wide
    encoded token count equals the training run's final symbol mass
    (encode_mass_consistent: sum over words of len(segmentation) ==
    masses[-1], an exact accounting identity between training and
    encoding)."""
    from ..operators.bpe import bpe_encode_tokens

    merges, syms, masses = _bpe_trained(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    enc = bpe_encode_tokens(docs, "text", syms)
    row = enc.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_words"),
        F.coalesce(F.bool_and("mapped"), F.lit(False)).alias("all_words_mapped"),
        F.sum("n_tok").alias("total_bpe_tokens"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                row["n_docs"],
                row["total_words"],
                bool(row["all_words_mapped"]),
                int(row["total_bpe_tokens"]) == masses[-1],
            )
        ],
        "n_docs long, total_words long, all_words_mapped boolean, "
        "encode_mass_consistent boolean",
    )


# ---- semantic dedup / SemDeDup (h39) -----------------------------------
@register(
    "h39_semantic_dedup",
    oracle="""
SELECT COUNT(*)::BIGINT + 5 AS n_input, CAST(5 AS BIGINT) AS n_planted,
       TRUE AS planted_all_dropped, TRUE AS kept_clean
FROM embeddings
""",
    group="H",
)
def h39_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas 2023): k-means cluster the embedding space,
    drop within-cluster cosine near-duplicates keeping the lowest id
    (operators/dedup.semantic_dedup — pairwise work bounded per
    cluster, cluster count scales with the corpus). k-means cells
    aren't SQL-reproducible, so the graded output is the self-check:
    5 planted exact copies (vec_id + 10^7, identical vectors => same
    cluster, cosine 1.0) MUST all be dropped, and the kept set must
    contain no within-cluster pair above the threshold (verified by
    re-running the candidate join on the kept rows). A dedup miss or a
    dirty kept set flips a flag and fails the driver's hash check."""
    from ..operators.dedup import semantic_dedup
    from ..operators.similarity import cosine_expr

    OFFSET = 10_000_000
    N_PLANT = 5
    THRESH = 0.95
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < N_PLANT).select(
        (F.col("vec_id") + OFFSET).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    # iters=2: the self-check (planted copies dropped + kept set clean)
    # is invariant to cluster QUALITY — identical vectors share a cell
    # under any centroid set — so extra Lloyd refinement only costs
    # grading-window seconds
    kept = semantic_dedup(
        corpus, "vec_id", "embedding", threshold=THRESH, n_clusters=8, iters=2
    ).persist()
    n_kept_planted = kept.filter(F.col("id") >= OFFSET).count()
    a, b = kept.alias("a"), kept.alias("b")
    dirty = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(cosine_expr("a.vec", "b.vec") >= THRESH)
        .count()
    )
    n_input = corpus.count()
    kept.unpersist()
    return spark.createDataFrame(
        [(n_input, N_PLANT, n_kept_planted == 0, dirty == 0)],
        "n_input long, n_planted long, planted_all_dropped boolean, "
        "kept_clean boolean",
    )


# ---- count-min heavy hitters (h40) -------------------------------------
@register(
    "h40_cms_heavy_hitters",
    oracle=r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> len(x) > 0)) AS token
  FROM documents
)
SELECT token, COUNT(*)::BIGINT AS exact_cnt, TRUE AS est_ge_exact
FROM toks GROUP BY token
ORDER BY exact_cnt DESC, token LIMIT 20
""",
    group="H",
)
def h40_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters under a count-min sketch (operators/sketch.py).
    The sketch's 4x256 counter grid is corpus-size-independent — the
    groupBy key space is the grid, not the vocabulary, which is what
    makes frequency estimation viable when the item space (n-grams,
    URLs) explodes at 100 TB. Graded output: the exact top-20 tokens
    (oracle-recomputed) each carrying the PROVABLE sketch invariant
    est >= exact (CMS counters only over-count; a single undercount
    flips the flag and fails the hash). Estimation error behavior is
    unit-tested with planted collisions in tests/test_operators.py."""
    from ..operators.sketch import cms_build, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).filter(F.length("token") > 0)
    exact_top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
        .limit(20)
    )
    sketch = cms_build(toks, "token", depth=4, width=256)
    est = cms_estimate(sketch, exact_top.select("token"), "token", depth=4, width=256)
    return (
        exact_top.join(est, "token")
        .select(
            "token",
            "exact_cnt",
            (F.col("cms_estimate") >= F.col("exact_cnt")).alias("est_ge_exact"),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
    )


# ---- exact-k weighted stratified sampling (h41) ------------------------
@register(
    "h41_weighted_sample_topk",
    oracle=f"""
WITH keyed AS (
  SELECT lang, doc_id,
         ln(({safe_mult_hash_sql("doc_id", 12345)} % 1048576 + 1) / 1048577.0)
           / n_chars AS es_key
  FROM documents WHERE n_chars > 0
), ranked AS (
  SELECT lang, doc_id, es_key,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY es_key DESC, doc_id) AS rn
  FROM keyed
)
SELECT lang, doc_id, ROUND(es_key, 6) AS es_key
FROM ranked WHERE rn <= 3 ORDER BY lang, es_key DESC, doc_id
""",
    group="H",
)
def h41_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement per stratum
    (Efraimidis-Spirakis 2006: priority u^(1/w), equivalently
    ln(u)/w, take the k largest). The uniform u is hash-derived from
    doc_id (integer arithmetic + one exact IEEE division), so the
    sample is fully deterministic and engine-reproducible — the oracle
    recomputes the very same 3 selected doc ids per language, not just
    counts. Retry-safe and append-stable: old rows keep their priority
    when the corpus grows, the textbook property that makes this the
    distributed form of weighted reservoir sampling (weight here =
    n_chars: longer docs proportionally likelier). Plain window top-k —
    one shuffle on the stratum key, WindowGroupLimit pushes the k
    filter below the sort."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (F.pmod(safe_mult_hash("doc_id", 12345), F.lit(1048576)) + 1) / F.lit(1048577.0)
    keyed = docs.select(
        "lang", "doc_id", (F.log(u) / F.col("n_chars")).alias("es_key")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("es_key"), F.asc("doc_id"))
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id", F.round("es_key", 6).alias("es_key"))
        .orderBy("lang", F.desc("es_key"), "doc_id")
    )


# ---- feature-hashing vectorizer (h42) ----------------------------------
@register(
    "h42_feature_hashing",
    oracle=r"""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> len(x) > 0)) AS w
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       (ascii(w[1]) * 961 + len(w) * 31 + ascii(w[-1])) % 16 AS bucket,
       COUNT(*)::BIGINT AS cnt
FROM words GROUP BY doc_id, bucket ORDER BY doc_id, bucket
""",
    group="H",
)
def h42_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger 2009 / scikit
    HashingVectorizer): words map to a FIXED 16-bucket feature space
    through a stateless hash, so vectorizing 100 TB needs no
    vocabulary build, no broadcast dictionary, and the output width is
    constant regardless of corpus — the property that makes hashed
    features the standard first stage for linear quality classifiers
    at scale. The hash here is integer-exact and engine-reproducible
    (ascii of first/last char + length), so the oracle recomputes the
    exact per-doc sparse vectors, not a summary."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    bucket = (
        F.ascii(F.substring("w", 1, 1)) * 961
        + F.length("w") * 31
        + F.ascii(F.substring("w", -1, 1))
    ) % 16
    return (
        words.select("doc_id", bucket.cast("long").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("doc_id", "bucket")
    )


# ---- hard-negative mining (h43) ----------------------------------------
@register(
    "h43_hard_negative_mining",
    oracle="""
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
s AS (SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
             list_cosine_similarity(q.v, c.v) AS cos_sim
      FROM q JOIN c ON c.label <> q.label),
r AS (SELECT query_id, neg_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neg_id) AS rn
      FROM s)
SELECT query_id, neg_id, ROUND(cos_sim, 4) AS cos_sim
FROM r WHERE rn <= 3 ORDER BY query_id, cos_sim DESC, neg_id
""",
    group="H",
)
def h43_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding/contrastive training: for
    each query vector, the top-3 highest-cosine vectors with a
    DIFFERENT label — the negatives that actually teach the model.
    Exact form here (broadcast query side x corpus, the h8 brute-force
    shape) as the oracle-checked baseline; at scale the candidate
    generation routes through the same LSH/IVF bucket joins as h8b/h8c
    and only the label-mismatch filter changes. Window top-k with
    WindowGroupLimit, no vocabulary of pairs ever materializes."""
    from pyspark.sql import Window

    from ..operators.similarity import cosine_expr

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"), "label"
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    pairs = F.broadcast(q).join(emb, F.col("label") != F.col("qlabel")).select(
        "query_id", F.col("vec_id").alias("neg_id"),
        cosine_expr("qv", "v").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neg_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neg_id", F.round("cos_sim", 4).alias("cos_sim"))
        .orderBy("query_id", F.desc("cos_sim"), "neg_id")
    )


# ---- temperature-scaled source mixing (h44) ----------------------------
@register(
    "h44_temperature_mixing",
    oracle=f"""
WITH sz AS (SELECT source, COUNT(*)::DOUBLE AS n FROM documents GROUP BY source),
w AS (SELECT source, n, sqrt(n) / (SELECT SUM(sqrt(n)) FROM sz) AS p FROM sz),
t AS (SELECT source, n, p, CAST(floor(p * 1000000) AS BIGINT) AS thresh FROM w)
SELECT d.source, CAST(t.n AS BIGINT) AS n_total, t.thresh AS thresh,
       SUM(CASE WHEN {safe_mult_hash_sql("d.doc_id", 987)} % 1000000 < t.thresh
                THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM documents d JOIN t ON d.source = t.source
GROUP BY d.source, t.n, t.thresh ORDER BY d.source
""",
    group="H",
)
def h44_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (mT5 / multilingual-corpus
    style, alpha = 0.5): per-source sampling probability proportional
    to size^alpha, damping head sources and boosting the tail. The
    probabilities derive from corpus stats computed IN the plan (tiny
    per-source aggregate, broadcast back); the keep decision is a
    deterministic multiplicative hash against an integer threshold —
    retry-safe, append-stable, reproducible across engines. alpha=0.5
    keeps the oracle exact: sqrt is correctly-rounded IEEE in both
    engines, unlike pow(x, 0.7)."""
    docs = load_table(spark, sf_dir, "documents")
    sz = docs.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n"))
    w = sz.crossJoin(
        F.broadcast(sz.agg(F.sum(F.sqrt("n")).alias("z")))
    ).select(
        "source", "n",
        F.floor(F.sqrt("n") / F.col("z") * 1_000_000).cast("long").alias("thresh"),
    )
    r = F.pmod(safe_mult_hash("doc_id", 987), F.lit(1_000_000))
    return (
        docs.join(F.broadcast(w), "source")
        .groupBy("source", F.col("n").cast("long").alias("n_total"), "thresh")
        .agg(F.sum((r < F.col("thresh")).cast("long")).alias("n_kept"))
        .orderBy("source")
    )


# ---- dataset card (h45) ------------------------------------------------
@register(
    "h45_dataset_card",
    oracle=r"""
WITH tok AS (SELECT doc_id, UNNEST(list_distinct(str_split(text, ' '))) AS token
             FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b FROM (
            SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS j
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b) WHERE j >= 0.95),
dup AS (SELECT DISTINCT id FROM (
          SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
words AS (SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                         x -> len(x) > 0)) AS n_words
          FROM documents)
SELECT d.source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN dup.id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
       SUM(w.n_words)::BIGINT AS total_words,
       SUM(d.n_chars)::BIGINT AS total_chars
FROM documents d
JOIN words w ON w.doc_id = d.doc_id
LEFT JOIN dup ON dup.id = d.doc_id
GROUP BY d.source ORDER BY d.source
""",
    group="H",
)
def h45_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: per-source document counts, near-duplicate
    membership, and token/char volume — the summary artifact every
    published training corpus ships. Duplicate membership comes from
    the MinHash-LSH pipeline (h6b: deterministic, exact-verified, so
    it equals the oracle's all-pairs Jaccard formulation); the word
    and char totals are one expression pass. One corpus tokenize, one
    near-dup resolution (shared machinery), one rollup keyed by the
    handful of sources — nothing here is corpus-quadratic."""
    from ..operators.dedup import minhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.95, num_hashes=64, bands=16
    )
    dup_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    words = F.size(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda w: F.length(w) > 0)
    )
    return (
        docs.join(F.broadcast(dup_ids), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("__dup", F.lit(0))).alias("n_dup_docs"),
            F.sum(words).alias("total_words"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


@register(
    "h49_canonical_selection",
    oracle="""
WITH RECURSIVE
tok AS (SELECT doc_id, UNNEST(list_distinct(str_split(text, ' '))) AS token FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b FROM (
            SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS j
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b) WHERE j >= 0.95),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach AS (SELECT id, id AS r FROM nodes
          UNION
          SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
grp AS (SELECT id AS doc_id, MIN(r) AS group_id FROM reach GROUP BY id),
allg AS (SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id,
                len(d.text) AS quality
         FROM documents d LEFT JOIN grp g USING (doc_id)),
ranked AS (SELECT doc_id, group_id, quality,
                  ROW_NUMBER() OVER (PARTITION BY group_id
                                     ORDER BY quality DESC, doc_id) AS rk,
                  COUNT(*) OVER (PARTITION BY group_id) AS members
           FROM allg)
SELECT group_id, doc_id AS kept_doc, CAST(members AS BIGINT) AS members,
       CAST(quality AS BIGINT) AS kept_quality
FROM ranked WHERE rk = 1 AND members > 1 ORDER BY group_id
""",
    group="H",
)
def h49_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection: after duplicate-group resolution (h18's
    connected components over LSH-verified near-dup pairs), keep ONE
    document per group by a deterministic quality rule (here: longest
    text, doc_id tiebreak — a real pipeline plugs in the h34 quality
    chain). This is the step that turns 'we found the duplicates'
    into 'this is the corpus we train on', and the keep-rule being
    per-GROUP arg-max (WindowGroupLimit over group_id) is what makes
    it one shuffle at any scale — never a cross-group comparison.
    Output = the kept representative of every multi-member group."""
    docs = load_table(spark, sf_dir, "documents")
    cc = _dedup_components(spark, sf_dir)
    allg = (
        docs.select("doc_id", F.length("text").alias("quality"))
        .join(cc, docs["doc_id"] == cc["id"], "left")
        .select(
            "doc_id",
            F.coalesce("comp", "doc_id").alias("group_id"),
            "quality",
        )
    )
    w = Window.partitionBy("group_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    ranked = allg.select(
        "doc_id",
        "group_id",
        "quality",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("group_id")).alias("members"),
    )
    return (
        ranked.filter((F.col("rk") == 1) & (F.col("members") > 1))
        .select(
            "group_id",
            F.col("doc_id").alias("kept_doc"),
            F.col("members").cast("long").alias("members"),
            F.col("quality").cast("long").alias("kept_quality"),
        )
        .orderBy("group_id")
    )


@register(
    "h50_duplicated_span_stats",
    oracle="""
WITH w AS (SELECT doc_id, source, str_split(text, ' ') AS ws FROM documents),
sh AS (SELECT doc_id, source, array_to_string(ws[i:i+7], ' ') AS s
       FROM w, UNNEST(range(1, len(ws) - 6)) AS t(i)
       WHERE len(ws) >= 8),
cnt AS (SELECT s, COUNT(*) AS tot FROM sh GROUP BY s),
doc AS (SELECT sh.doc_id, sh.source, COUNT(*) AS n_sh,
               SUM(CASE WHEN tot > 1 THEN 1 ELSE 0 END) AS n_dup
        FROM sh JOIN cnt USING (s) GROUP BY 1, 2)
SELECT source,
       CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
       CAST(SUM(n_dup) AS BIGINT) AS n_dup_shingles,
       ROUND(CAST(SUM(n_dup) AS DOUBLE) / SUM(n_sh), 4) AS dup_fraction,
       CAST(COUNT(CASE WHEN n_dup > 0 THEN 1 END) AS BIGINT) AS docs_with_dup
FROM doc GROUP BY source ORDER BY source
""",
    group="H",
)
def h50_duplicated_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN measurement at 8-token granularity (Lee et
    al. 2021, arXiv:2107.06499): a span is duplicated when its shingle
    occurs anywhere else in the corpus. Unlike document-level dedup
    (h1/h6b) this catches boilerplate INSIDE otherwise-unique documents
    — headers, license blocks, templated paragraphs — which document
    Jaccard never sees. Per-source rollup: shingle volume, duplicated
    volume, the duplicated fraction, and how many documents carry any
    duplicated span. The Spark side hashes shingles to 64-bit before
    the shuffle (the oracle counts the strings themselves; at 500-15k
    shingles a collision is ~1e-11, and the dtype-strict driver hash
    would catch one)."""
    from ..operators.dedup import duplicated_span_stats

    docs = load_table(spark, sf_dir, "documents")
    d = duplicated_span_stats(docs, "doc_id", "text", k=8)
    return (
        docs.select(F.col("doc_id").alias("id"), "source")
        .join(d, "id")
        .groupBy("source")
        .agg(
            F.sum("n_shingles").alias("n_shingles"),
            F.sum("n_dup_shingles").alias("n_dup_shingles"),
            F.round(
                F.sum("n_dup_shingles") / F.sum("n_shingles"), 4
            ).alias("dup_fraction"),
            F.sum(
                F.when(F.col("n_dup_shingles") > 0, 1).otherwise(0)
            ).cast("long").alias("docs_with_dup"),
        )
        .orderBy("source")
    )


@register(
    "h51_incremental_dedup",
    oracle="""
WITH w AS (SELECT doc_id, list_distinct(str_split(text, ' ')) AS ts FROM documents),
b AS (SELECT doc_id AS new_id, ts FROM w WHERE doc_id % 10 = 0),
c AS (SELECT doc_id AS corpus_id, ts FROM w WHERE doc_id % 10 <> 0)
SELECT new_id, corpus_id,
       ROUND(CAST(len(list_intersect(b.ts, c.ts)) AS DOUBLE)
             / len(list_distinct(b.ts || c.ts)), 4) AS jaccard
FROM b, c
WHERE CAST(len(list_intersect(b.ts, c.ts)) AS DOUBLE)
      / len(list_distinct(b.ts || c.ts)) >= 0.95
ORDER BY new_id, corpus_id
""",
    group="H",
)
def h51_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the NEW batch (doc_id % 10 == 0) is
    checked against the EXISTING corpus (the rest) — fingerprint
    equi-join for verbatim copies, LSH-index probe + exact verification
    for near-dups (operators/dedup.py incremental_near_duplicates).
    This is how dedup actually runs at 100 TB: the corpus index is
    built once and persisted; each day's batch probes it at O(batch ×
    collisions) instead of re-pairing the corpus with itself. The
    oracle is the brute-force batch×corpus exact Jaccard at the same
    threshold — equality grades both recall and the verify step."""
    from ..operators.dedup import incremental_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    # width clamp (round 8, same rationale as h51b): the probe joins
    # shuffle batch-scale frames; a 200-partition driver session pays
    # ~10 near-empty stages otherwise
    with conf_scope(
        spark, {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism}
    ):
        pairs = incremental_near_duplicates(
            corpus, batch, "doc_id", "text", threshold=0.95
        )
        rows = pairs.select(
            "new_id", "corpus_id", F.round("jaccard", 4).alias("jaccard")
        ).orderBy("new_id", "corpus_id").collect()
    return spark.createDataFrame(
        rows, "new_id bigint, corpus_id bigint, jaccard double"
    )


@register(
    "h51b_incremental_dedup_verdicts",
    oracle="""
WITH w AS (SELECT doc_id, list_distinct(str_split(text, ' ')) AS ts FROM documents),
b AS (SELECT doc_id AS new_id, ts FROM w WHERE doc_id % 10 = 0),
c AS (SELECT doc_id AS corpus_id, ts FROM w WHERE doc_id % 10 <> 0),
m AS (
  SELECT new_id, MIN(corpus_id) AS canonical_id
  FROM b, c
  WHERE CAST(len(list_intersect(b.ts, c.ts)) AS DOUBLE)
        / len(list_distinct(b.ts || c.ts)) >= 0.95
  GROUP BY new_id
)
SELECT b.new_id,
       CASE WHEN m.canonical_id IS NULL THEN 'clean' ELSE 'dup' END AS verdict,
       m.canonical_id
FROM b LEFT JOIN m USING (new_id)
ORDER BY new_id
""",
    group="H",
)
def h51b_incremental_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h51's PRODUCTION output shape: one verdict row per batch
    document — (new_id, 'dup'|'clean', canonical_id = smallest
    matching corpus doc) — the form an ingest pipeline actually
    consumes (i27's streaming fold emits exactly this), instead of
    h51's oracle-friendly expanded pair list whose size is
    O(batch x matches). Same probe machinery (fingerprint equi-join +
    LSH index probe + exact verify); the pairs aggregate to one row
    per batch doc BEFORE output, so the result is O(batch) whatever
    the duplication rate. The oracle is the brute-force batch x corpus
    Jaccard aggregated to the same verdicts."""
    from ..operators.dedup import incremental_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    # width clamp + materialize (the i-row pattern): the probe's LSH
    # band joins shuffle batch-sized frames — model-scale here — and a
    # plain 200-partition driver session pays ~10 near-empty stages
    # (measured at sf0.1: 59 s at 200 partitions vs ~7 s clamped)
    with conf_scope(
        spark, {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism}
    ):
        pairs = incremental_near_duplicates(
            corpus, batch, "doc_id", "text", threshold=0.95
        )
        canon = pairs.groupBy("new_id").agg(
            F.min("corpus_id").alias("canonical_id")
        )
        rows = (
            batch.select(F.col("doc_id").alias("new_id"))
            .join(canon, "new_id", "left")
            .select(
                "new_id",
                F.when(F.col("canonical_id").isNull(), F.lit("clean"))
                .otherwise(F.lit("dup"))
                .alias("verdict"),
                "canonical_id",
            )
            .orderBy("new_id")
            .collect()
        )
    return spark.createDataFrame(
        rows, "new_id bigint, verdict string, canonical_id bigint"
    )


@register("h52_ann_pq_topk", oracle=_ANN_SELFCHECK_ORACLE, group="H")
def h52_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 5-NN via product quantization + ADC scan + exact
    re-rank (Jégou et al. 2011) — the COMPRESSION member of the ANN
    family: h8b buckets (LSH), h8c partitions (IVF), h52 shrinks every
    vector to m codebook bytes so the scan reads codes, not floats
    (64x smaller at the defaults; at 100 TB that is the difference
    between scanning embeddings from disk and from memory). Same
    graded self-check as h8b/h8c: every query answered, mean recall@5
    vs brute force over the bar. The PQ fit + corpus encoding is a
    cached index (_ann_index 'pq'), amortized like a persisted
    codes table."""
    from ..operators.similarity import pq_topk

    codes_df, books = _ann_index(spark, sf_dir, "pq")
    queries = _ann_index(spark, sf_dir, "queries")
    # rerank=20 (100 exact-reranked candidates/query) is the test-scale
    # recall knob, h8b-style: on this near-isotropic fixture the ADC
    # ordering alone is weak, so recall rides the re-rank width — at
    # 100 TB the candidate count stays rerank*k while the corpus grows,
    # so the re-ranked FRACTION collapses (measured with these seeded
    # parameters: mean recall@5 = 1.0 at sf0.01/500 vecs AND at
    # sf0.1/2000 vecs — deterministic, not luck).
    approx = pq_topk(codes_df, books, queries, k=5, rerank=20)
    return _ann_selfcheck_lit(approx, _ann_index(spark, sf_dir, "exact_kth"), k=5)


@register("h53_ann_ivfpq_topk", oracle=_ANN_SELFCHECK_ORACLE, group="H")
def h53_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 5-NN via IVF-PQ (FAISS IVFPQ; Jégou et al. 2011
    §IV) — the COMPOSITION that survives 100 TB: h8c's IVF bounds WHAT
    the scan touches (nprobe of n_centroids cells) but stores floats;
    h52's PQ shrinks WHAT each touch reads (m code bytes) but scans
    the whole corpus. Composed, a query batch ADC-scans only the
    probed cells' codes — candidate volume (nprobe/n_centroids) x m
    bytes per vector, both independent of corpus size. Graded like the
    rest of the ANN family: self-check summary, mean recall@5 vs brute
    force >= 0.9. nprobe=6/8 is the near-isotropic-fixture knob, same
    as h8c; the candidate-fraction property (the point of the
    composition) is asserted in tests/test_operators.py and
    plan-gated no-cartesian in tests/test_plans.py."""
    from ..operators.similarity import ivfpq_topk

    index_df, cents, books = _ann_index(spark, sf_dir, "ivfpq")
    queries = _ann_index(spark, sf_dir, "queries")
    # materialize the 1-row verdict inside a width clamp (the probe's
    # shuffles carry candidate rows, model-scale here; a plain
    # 200-partition driver session would pay ~6 x 200 near-empty tasks)
    with conf_scope(
        spark, {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism}
    ):
        approx = ivfpq_topk(
            index_df, cents, books, queries, k=5, nprobe=6, rerank=20
        )
        rows = _ann_selfcheck_lit(
            approx, _ann_index(spark, sf_dir, "exact_kth"), k=5
        ).collect()
    return spark.createDataFrame(
        rows, "n_queries bigint, k bigint, recall_ok boolean"
    )


_CLUSTERED_IVFPQ_CACHE: dict[str, tuple] = {}
_CLUSTERED_BASE_INDEX_CACHE: dict[str, tuple] = {}


def clustered_base_index(spark: SparkSession) -> tuple:
    """Session-cached frozen IVF-PQ model over the clustered corpus'
    75% base split (vec_id % 4 != 0): (emb, base_index_df, cents,
    books). The index-maintenance rows (h56, i30) share ONE training
    and each write their OWN mutable index table from the cached rows
    — the model is frozen by contract, so sharing it is exactly the
    deployment shape, and the per-row cost drops to one 3k-row write.
    Callers must NOT unpersist the returned frames."""
    app = spark.sparkContext.applicationId
    cached = _CLUSTERED_BASE_INDEX_CACHE.get(app)
    if cached is None:
        from ..operators.similarity import clustered_corpus, ivfpq_build

        emb = clustered_corpus(spark).persist()
        emb.count()
        base = emb.filter(F.col("vec_id") % 4 != 0)
        index_df, cents, books = ivfpq_build(
            base, n_centroids=16, m=16, n_codes=16,
            kmeans_iters=2, pq_iters=1,
        )
        index_df = index_df.persist()
        index_df.count()
        cached = (emb, index_df, cents, books)
        _CLUSTERED_BASE_INDEX_CACHE[app] = cached
    return cached


def _write_base_index(spark: SparkSession, root: str):
    """Materialize the cached base model as a FRESH engine index table
    (identity(cluster) partitioning, single-cell files) that the
    calling scenario may mutate freely."""
    from ..table import create_table, identity

    emb, index_df, cents, books = clustered_base_index(spark)
    tbl = create_table(root, index_df.schema, partition=identity("cluster"))
    tbl.append(index_df.repartition(len(cents), "cluster"))
    return emb, tbl, cents, books


@register(
    "h53r_ann_ivfpq_residual_clustered",
    oracle="""
SELECT CAST(12 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
       TRUE AS recall_ok, TRUE AS sims_exact
""",
    group="H",
)
def h53r_ann_ivfpq_residual_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Residual IVF-PQ (IVFADC, Jégou 2011 §IV) on a CLUSTERED corpus
    (round 9, closing the round-8 caveat): codebooks train on cell
    RESIDUALS (v − centroid) with per-cell query distance tables. On
    the driver's near-isotropic embeddings fixture residuals measure
    ~equal to flat codes — cells capture little structure, so h53
    grades the flat form there. Real embedding corpora are clustered;
    on ``similarity.clustered_corpus`` (deterministic
    mixture-of-Gaussians, unit centers, σ=0.12 noise) the residual
    win is MEASURED, not asserted: recall@5 0.850 residual vs 0.733
    flat at identical m/codes/nprobe/rerank (the margin is asserted
    with headroom in tests/test_operators.py). This row grades the
    residual path end to end: every query answered, mean recall@5
    ≥ 0.8 vs brute force, and reported sims bit-equal to exact
    cosines (the re-rank contract). Corpus is sf-independent
    (generated, seeded); index cached per session like the other ANN
    indexes."""
    from ..operators.similarity import (
        brute_force_topk,
        clustered_corpus,
        ivfpq_build,
        ivfpq_topk,
    )

    with conf_scope(
        spark, {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism}
    ):
        app = spark.sparkContext.applicationId
        cached = _CLUSTERED_IVFPQ_CACHE.get(app)
        if cached is None:
            emb = clustered_corpus(spark).persist()
            emb.count()
            index_df, cents, books = ivfpq_build(
                emb, n_centroids=16, m=16, n_codes=16,
                kmeans_iters=3, pq_iters=3, residual=True,
            )
            index_df = index_df.persist()
            index_df.count()
            cached = (emb, index_df, cents, books)
            _CLUSTERED_IVFPQ_CACHE[app] = cached
        emb, index_df, cents, books = cached
        queries = emb.filter(F.col("vec_id") < 12)
        exact = brute_force_topk(emb, queries, k=5).collect()
        approx = ivfpq_topk(
            index_df, cents, books, queries,
            k=5, nprobe=4, rerank=4, residual=True,
        ).collect()
        exact_by_q: dict = {}
        exact_sims: dict = {}
        for r in exact:
            exact_by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            exact_sims[(r["query_id"], r["neighbor_id"])] = r["sim"]
        got: dict = {}
        sims_exact = True
        for r in approx:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            key = (r["query_id"], r["neighbor_id"])
            if key in exact_sims and abs(r["sim"] - exact_sims[key]) > 1e-9:
                sims_exact = False
        recalls = [
            len(exact_by_q[q] & got.get(q, set())) / len(exact_by_q[q])
            for q in exact_by_q
        ]
        mean_recall = sum(recalls) / len(recalls)
        return spark.createDataFrame(
            [(len(got), 5, mean_recall >= 0.8, sims_exact)],
            "n_queries bigint, k bigint, recall_ok boolean, "
            "sims_exact boolean",
        )


@register(
    "h56_ann_index_maintenance",
    oracle="""
SELECT CAST(3000 AS BIGINT) AS n_base, CAST(1000 AS BIGINT) AS n_delta,
       CAST(4000 AS BIGINT) AS rows_after, TRUE AS append_matches_encode,
       CAST(20 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
       TRUE AS recall_ok, TRUE AS pruned
""",
    group="H",
)
def h56_ann_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a DEPLOYED ANN index (round 10):
    new embeddings fold into the persisted IVF-PQ engine table
    (h54's layout) with the model FROZEN — each batch assigns to its
    nearest frozen coarse cell and PQ-encodes with the frozen
    codebooks (``ivfpq_table_append``, operators/similarity.py), then
    lands as ONE partition-aligned fast-append (single-cell files, so
    per-file min=max=cluster stats keep probe pruning exact). This is
    the 100 TB ingestion story: continuous arrival costs one
    delta-sized encode + one metadata commit, never an index rebuild;
    deletes/re-inserts ride the table layer's MOR machinery, and
    retrain-vs-drift is a periodic OFFLINE decision made from the same
    frozen model. Corpus is ``clustered_corpus`` (deterministic
    mixture-of-Gaussians, the geometry real embedding models produce
    and the one where IVF cells mean something — the h53r precedent;
    the driver's near-isotropic embeddings fixture caps IVF recall by
    construction, measured 0.79-0.84 at practical nprobe). Model
    trains on the 75% base split only. Graded checks: appended rows
    byte-equal a from-scratch encode under the same model (fold =
    pure encode, no drift), exact row accounting, probe still plans a
    strict subset of files after the append, and mean recall@5 vs
    brute force over the FULL grown corpus holds >= 0.8 for a
    20-query batch mixing base and newly-appended vectors."""
    import shutil
    import tempfile

    from ..operators.similarity import (
        annotate_recall,
        ivfpq_encode,
        ivfpq_table_append,
        ivfpq_table_topk,
    )

    root = tempfile.mkdtemp(prefix="ann_maint_") + "/t"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            emb, tbl, cents, books = _write_base_index(spark, root)
            delta = emb.filter(F.col("vec_id") % 4 == 0)
            n_base = tbl.scan(spark).count()
            stats = ivfpq_table_append(tbl, delta, cents, books)
            after = tbl.scan(spark).persist()
            rows_after = after.count()
            enc = ivfpq_encode(delta, cents, books).select(
                "id", "cluster", "code"
            )
            appended = after.join(
                delta.select(F.col("vec_id").alias("id")), "id"
            ).select("id", "cluster", "code")
            matches = (
                appended.exceptAll(enc).isEmpty()
                and enc.exceptAll(appended).isEmpty()
            )
            q = emb.filter(F.col("vec_id") < 20)
            n_queries = q.count()  # while the corpus is persisted
            exact = brute_force_topk(emb, q, k=5)
            approx, _ = ivfpq_table_topk(
                spark, tbl, cents, books, q, k=5, nprobe=6, rerank=20
            )
            recall_ok = bool(
                annotate_recall(approx, exact, k=5, min_recall=0.8)
                .agg(F.coalesce(F.bool_and("recall_ok"), F.lit(False)))
                .collect()[0][0]
            )
            one = delta.orderBy("vec_id").limit(1)
            probed, info = ivfpq_table_topk(
                spark, tbl, cents, books, one, k=5, nprobe=2, rerank=20
            )
            probed.collect()
            after.unpersist()  # emb stays persisted: session-cached model
            return spark.createDataFrame(
                [
                    (
                        n_base, stats["rows_appended"], rows_after, matches,
                        n_queries, 5, recall_ok,
                        0 < info["files_scanned"] < info["files_total"],
                    )
                ],
                "n_base bigint, n_delta bigint, rows_after bigint, "
                "append_matches_encode boolean, n_queries bigint, k bigint, "
                "recall_ok boolean, pruned boolean",
            )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)
