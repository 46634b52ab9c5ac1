"""Vector similarity search (north star X3) over the ``embeddings`` corpus.

Every entry reads only the embedded rows (:func:`embedded`) as float64
vectors, cast from float32 storage, with dot products summed in
sequential order on both engines, so Spark and DuckDB compute
bit-identical scores. The oracles read the same vectors from the CTE
``_V_SQL`` (the two PQ entries from ``_ICODE_SQL``), and every oracle
cosine is :func:`_cos_sql`.

Ten entries are top-k searches or are built on one. They share one
contract, written once per engine:

- the query set is the vectors with ``vec_id < _N_QUERIES``, with
  ``vec_id`` renamed ``query_id`` (:func:`_query_set`, :func:`_q_sql`);
- a query never scores itself: each candidate join keeps
  ``vec_id <> query_id``;
- each query's hits are ranked by the entry's score, ties broken by
  ``neighbor_id`` ascending, and the first ``_TOP_K`` are kept with
  their 1-based ``rank`` (:func:`_top_k`, :func:`_top_k_sql`);
- recall@k of a search is counted per query against the exact
  brute-force top-k: ``n_hits`` true neighbors found, ``k`` and
  ``recall_e6 = round(n_hits * 1e6 / k)`` (:func:`_recall_at_k`,
  :func:`_recall_sql`).

Each entry brings its own candidate stage and score: all pairs (exact
cosine, SQ8 and PQ codes, k-NN, packed sign bits), SimHash buckets,
IVF lists and IVF-PQ lists. Three of them output the exact cosine
(:func:`_cosine_top_k`). The range search reads the same query set but
keeps every neighbor above a radius instead of a rank. The other four
entries are the label centroids, one k-means step and two embedding
near-dup (X2) entries.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dround, dround_sql
from ..registry import register
from ..tables import ensure_min_parallelism, table

#: Random hyperplanes for SimHash bucketing — drawn once from a fixed
#: seed (deterministic across runs and engines).
_B_PLANES = 8
_rng = random.Random(7)
_PLANES: list[list[float]] = [
    [_rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(_B_PLANES)
]

#: Query-set bound (queries are the vectors with vec_id < _N_QUERIES)
#: and neighbors kept per query.
_N_QUERIES = 5
_TOP_K = 10

#: IVF probe width: the coarse lists each query probes in x03_ivf_topk
#: and x03_ivfpq_topk.
_NPROBE = 2


def embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table restricted to EMBEDDED rows.

    The ingest contract declares NULL embedding rows LEGAL (a document
    not yet embedded — ``FINITE_ARRAYS`` in ``tables.py``), but the
    vector surfaces never defined their behavior until the round-14
    all-NULL-embedding hostile corpus crashed ten oracles (on the
    pinned DuckDB 1.0.0, ``list_inner_product``/``list_cosine_similarity``
    over a COLUMN batch containing NULL rows raise ``Invalid Input
    Error: ... argument can not contain NULL values`` — reproduced
    r15; a CONSTANT NULL argument instead folds to NULL, which is why
    scalar probes don't show the crash) and diverged an
    eleventh (Spark emitted 0 centroid groups where the oracle emitted
    NULL centroids). The defined semantics: un-embedded rows DO NOT
    PARTICIPATE in vector operations — scoring, quantization, centroid
    math, banding — the same prune-before-the-boundary discipline as
    the null-text payload fixes. The filter rides the parquet scan
    (IsNotNull pushdown); every oracle mirrors it with
    ``WHERE embedding IS NOT NULL``."""
    return ensure_min_parallelism(
        table(spark, sf_dir, "embeddings").filter(
            F.col("embedding").isNotNull()
        )
    )


def _vec_double(col: str) -> Column:
    """float32 storage → float64 math (matches the oracle's CAST)."""
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential-order float64 dot product via higher-order functions."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, float64 end-to-end."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _query_set(df: DataFrame, *cols: Column | str) -> DataFrame:
    """The query rows of ``df`` (``vec_id < _N_QUERIES``): ``vec_id`` as
    ``query_id``, then ``cols``."""
    return df.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), *cols
    )


def _top_k(scored: DataFrame, order: Column, k: int = _TOP_K) -> DataFrame:
    """The rows of ``scored`` ranked ``rank <= k`` within their
    ``query_id`` by ``order``, ties to the lower ``neighbor_id``."""
    w = Window.partitionBy("query_id").orderBy(
        order, F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _cosine_top_k(pairs: DataFrame) -> DataFrame:
    """Exact-cosine top-k of candidate ``pairs`` (``query_id``, ``qe``,
    ``vec_id``, ``e``), the score emitted as ``cosine_sim`` at 6
    decimals."""
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qe"), F.col("e")).alias("cos"),
    )
    return _top_k(scored, F.col("cos").desc()).select(
        "query_id",
        "neighbor_id",
        "rank",
        dround(F.col("cos"), 6).alias("cosine_sim"),
    )


def _recall_at_k(
    spark: SparkSession, sf_dir: str, found: DataFrame
) -> DataFrame:
    """recall@k per query of ``found`` (``query_id``, ``neighbor_id``)
    against the exact top-k of :func:`x03_cosine_topk_bruteforce`."""
    exact = x03_cosine_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    # |queries|·k rows a side: broadcast the found side, no shuffle join.
    found = found.select("query_id", F.col("neighbor_id").alias("found_id"))
    hits = exact.join(
        F.broadcast(found),
        (exact["query_id"] == found["query_id"])
        & (exact["neighbor_id"] == found["found_id"]),
        "left",
    ).select(exact["query_id"].alias("qid"), "found_id")
    return hits.groupBy(F.col("qid").alias("query_id")).agg(
        F.count("found_id").cast("bigint").alias("n_hits"),
        F.lit(_TOP_K).cast("bigint").alias("k"),
        F.round(F.count("found_id") * 1000000.0 / _TOP_K)
        .cast("bigint")
        .alias("recall_e6"),
    )


#: DuckDB twin of :func:`embedded` + :func:`_vec_double`: the vectors
#: CTE ``v`` every oracle reads.
_V_SQL = """v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE embedding IS NOT NULL
    )"""


def _q_sql(src: str, cols: str) -> str:
    """DuckDB twin of :func:`_query_set`: the CTE ``q`` over ``src``."""
    return (
        f"q AS (SELECT vec_id AS query_id, {cols} FROM {src} "
        f"WHERE vec_id < {_N_QUERIES})"
    )


def _cos_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine` over two DOUBLE[] expressions."""
    return (
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})))"
    )


def _top_k_sql(order: str, cols: str, k: int = _TOP_K) -> str:
    """DuckDB twin of :func:`_top_k` over the CTE ``scored``: ``cols``
    of its rows ranked ``rank <= k``."""
    return f"""
    SELECT {cols} FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY {order}, neighbor_id ASC
        ) AS rank
        FROM scored
    )
    WHERE rank <= {k}"""


def _cosine_top_k_sql(pairs: str) -> str:
    """DuckDB twin of :func:`_cosine_top_k`: the CTE ``scored`` over the
    FROM clause ``pairs`` (``query_id``, ``qe``, ``vec_id``, ``e``) and
    its top-k."""
    return f"""scored AS (
        SELECT query_id, vec_id AS neighbor_id,
               {_cos_sql("qe", "e")} AS cos
        FROM {pairs}
    )
    {_top_k_sql("cos DESC", "query_id, neighbor_id, rank, "
                f"{dround_sql('cos', 6)} AS cosine_sim")}"""


def _recall_sql(found: str) -> str:
    """DuckDB twin of :func:`_recall_at_k` for the top-k query
    ``found``."""
    return f"""
    WITH exact AS ({_BRUTEFORCE_SQL}),
    found AS ({found})
    SELECT
        e.query_id,
        CAST(count(f.neighbor_id) AS BIGINT) AS n_hits,
        CAST({_TOP_K} AS BIGINT) AS k,
        CAST(round(count(f.neighbor_id) * 1000000.0 / {_TOP_K}) AS BIGINT)
            AS recall_e6
    FROM exact e
    LEFT JOIN found f
      ON f.query_id = e.query_id AND f.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


_BRUTEFORCE_SQL = f"""
    WITH {_V_SQL},
    {_q_sql("v", "e AS qe")},
    {_cosine_top_k_sql("q JOIN v ON vec_id <> query_id")}
    """


@register(
    "x03_cosine_topk_bruteforce",
    oracle=_BRUTEFORCE_SQL,
    tags=("similarity", "X3"),
)
def x03_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3a: exact top-k cosine neighbors, query set broadcast over corpus.

    The corpus side never shuffles: queries broadcast, dot products run
    inside codegen (``zip_with`` + ``aggregate``, no Python), and the
    per-query window ranks |corpus| rows hashed by query_id. At 1000
    executors this reads the corpus once, full stop.
    """
    emb = embedded(spark, sf_dir).select(
        "vec_id", _vec_double("embedding").alias("e")
    )
    q = _query_set(emb, F.col("e").alias("qe"))
    return _cosine_top_k(
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    )


def _bucket_bits(vec: Column) -> Column:
    """SimHash bucket id: sign bits against the B fixed hyperplanes."""
    bucket = F.lit(0)
    for i, plane in enumerate(_PLANES):
        plane_col = F.array(*[F.lit(p) for p in plane])
        bit = (_dot(vec, plane_col) >= 0).cast("int")
        bucket = bucket + (bit * F.lit(1 << i))
    return bucket


def _plane_sql(plane: list[float]) -> str:
    """One hyperplane as a DuckDB DOUBLE[] literal (repr round-trips)."""
    return "[" + ", ".join(repr(p) for p in plane) + "]"


#: DuckDB spelling of :func:`_bucket_bits` over a column ``e`` — the same
#: seeded planes embedded as literals, the same float64 sign test.
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(e, {_plane_sql(_PLANES[i])}) >= 0"
    f" THEN {1 << i} ELSE 0 END)"
    for i in range(_B_PLANES)
)

_PROBE_LIST_SQL = "[bucket, " + ", ".join(
    f"xor(bucket, {1 << i})" for i in range(_B_PLANES)
) + "]"


_LSH_SQL = f"""
    WITH {_V_SQL},
    b AS (SELECT vec_id, e, {_BUCKET_SQL} AS bucket FROM v),
    {_q_sql("b", "e AS qe, bucket")},
    probes AS (
        SELECT query_id, qe, unnest({_PROBE_LIST_SQL}) AS bucket FROM q
    ),
    {_cosine_top_k_sql(
        "probes JOIN b USING (bucket) WHERE vec_id <> query_id")}
    """


@register(
    "x03_ann_lsh_bucketed",
    oracle=_LSH_SQL,
    tags=("similarity", "X3", "lsh"),
)
def x03_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3b: approximate neighbors via random-hyperplane (SimHash) buckets.

    Each vector gets a B-bit bucket signature (sign of its dot with B
    seeded planes). Multi-probe: each corpus vector is indexed under its
    own bucket; each query probes its bucket plus all B single-bit-flip
    neighbors, so the candidate join stays equi (bucket = bucket) —
    |corpus|·(B+1) small rows, not |queries|×|corpus| pairs.

    Recall is probabilistic with respect to the TRUE neighbors, but the
    computation itself is deterministic: the seeded planes are embedded
    in the oracle as float literals, and both engines run the same
    float64 sign test (a bucket-bit flip would need |dot| < ~1e-13,
    vanishing for Gaussian planes against unit-scale data).
    """
    emb = embedded(spark, sf_dir).select(
        "vec_id", _vec_double("embedding").alias("e")
    )
    indexed = emb.select(
        "vec_id", "e", _bucket_bits(F.col("e")).alias("bucket")
    )
    # Multi-probe bucket list: own bucket + B Hamming-1 flips.
    probes = _query_set(
        indexed,
        F.col("e").alias("qe"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(_B_PLANES)
                ],
            )
        ).alias("bucket"),
    )
    return _cosine_top_k(
        indexed.join(F.broadcast(probes), "bucket").filter(
            F.col("vec_id") != F.col("query_id")
        )
    )


@register(
    "x03_ivf_topk",
    oracle=f"""
    WITH {_V_SQL},
    dims AS (
        SELECT label, gs.i AS dim, e[gs.i + 1] AS val
        FROM v CROSS JOIN LATERAL (SELECT unnest(range(0, 64)) AS i) gs
    ),
    cent_dims AS (
        SELECT label, dim, quantile_cont(val, 0.5) AS m
        FROM dims GROUP BY 1, 2
    ),
    centroids AS (
        SELECT label AS centroid_id, list(m ORDER BY dim) AS c
        FROM cent_dims GROUP BY label
    ),
    nearest AS (
        SELECT v.vec_id, v.e, ct.centroid_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_dot_product(ct.c, ct.c)
                            - 2 * list_dot_product(v.e, ct.c) ASC,
                            ct.centroid_id ASC
               ) AS rn
        FROM v CROSS JOIN centroids ct
    ),
    assigned AS (SELECT vec_id, e, centroid_id FROM nearest WHERE rn = 1),
    {_q_sql("v", "e AS qe")},
    probes AS (
        SELECT q.query_id, q.qe, n.centroid_id
        FROM q JOIN nearest n ON n.vec_id = q.query_id
        WHERE n.rn <= {_NPROBE}
    ),
    {_cosine_top_k_sql(
        "assigned JOIN probes USING (centroid_id) WHERE vec_id <> query_id")}
    """,
    tags=("similarity", "X3", "ivf"),
)
def x03_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3d: IVF-style probed search — centroid assignment bounds candidates.

    The inverted-file index pattern end-to-end: build coarse centroids,
    assign every corpus vector to its nearest centroid, then answer each
    query by probing only the lists of its ``_NPROBE`` (2) nearest
    centroids. The candidate join is equi on centroid id, so the work
    per query is |corpus| · nProbe / n_centroids instead of |corpus|.

    Cross-engine exactness rests on two determinism moves:

    * centroids are per-label element-wise MEDIANS (a k-medians coarse
      quantizer), not means — exact ``percentile`` is sort-based, so it
      is partition-order-INsensitive, and the two engines' median
      interpolations are bit-identical over identical doubles
      (empirically verified: DuckDB's ``quantile_cont`` computes the
      SYMMETRIC ``lo·(1−f)+hi·f`` form, which at f=0.5 matches Spark;
      do NOT hand-derive ``lower + (higher−lower)·frac`` in a future
      oracle — the two algebraic forms differ in the last ulp on ~22%
      of random doubles). A distributed mean's summation order varies
      run to run, so a mean would not hash-match;
    * nearest-centroid ranking uses ``dot(c,c) − 2·dot(e,c)`` — the
      same ``list_dot_product``/sequential-fold form the brute-force
      twin already pins bit-identically — instead of a ``(x−y)²`` fold
      the two engines would evaluate through different expression trees.

    Honesty note on this corpus: the synthetic embeddings are near-
    uniform (max organic pairwise cosine 0.51, no cluster structure), so
    measured recall@10 is ~38% at a 20% probe fraction — better than the
    20% a random probe would give, but far from the 90%+ IVF delivers on
    genuinely clustered data. The operator demonstrates the plumbing and
    its cost model, not a recall guarantee the data cannot support.
    """
    emb = embedded(spark, sf_dir).select(
        "vec_id", "label", _vec_double("embedding").alias("e")
    )
    # Coarse quantizer: per-label element-wise median (k-medians).
    by_dim = (
        emb.select("label", F.posexplode("e").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.percentile(F.col("val"), F.lit(0.5)).alias("m"))
    )
    # Persist the coarse quantizer (r17 opt): both the corpus
    # assignment and the query probing crossJoin against it, and
    # without the cache the whole posexplode + two-shuffle percentile
    # build executes twice. ~10 rows; production stores the trained
    # codebook anyway. Same cache lifecycle as the dedup family's
    # intermediates.
    centroids = (
        by_dim.groupBy("label")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("dim", "m"))
            ).alias("cmap")
        )
        .select(
            F.col("label").alias("centroid_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: F.element_at("cmap", j),
            ).alias("c"),
        )
        .persist()
    )
    # Nearest-centroid proxy distance: dot(c,c) - 2*dot(e,c), the
    # engine-portable form (see docstring). Broadcast 10 centroid rows.
    dist = _dot(F.col("c"), F.col("c")) - 2.0 * _dot(F.col("e"), F.col("c"))
    assigned = (
        emb.crossJoin(F.broadcast(centroids))
        .select("vec_id", "e", "centroid_id", dist.alias("d2"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("d2").asc(), F.col("centroid_id").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", "centroid_id")
    )
    # Queries probe their nProbe nearest centroid lists.
    probes = (
        _query_set(
            emb.crossJoin(F.broadcast(centroids)),
            F.col("e").alias("qe"),
            "centroid_id",
            dist.alias("d2"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("d2").asc(), F.col("centroid_id").asc()
                )
            ),
        )
        .filter(F.col("rn") <= _NPROBE)
        .select("query_id", "qe", "centroid_id")
    )
    return _cosine_top_k(
        assigned.join(F.broadcast(probes), "centroid_id").filter(
            F.col("vec_id") != F.col("query_id")
        )
    )


@register(
    "x02_embedding_neardup",
    oracle=f"""
    WITH {_V_SQL},
    corpus AS (
        SELECT vec_id, e FROM v
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               list_transform(e, x -> x * 1.01) AS e
        FROM v
    ),
    nz AS (
        SELECT vec_id, e FROM corpus
        WHERE list_dot_product(e, e) > 0
    ),
    b AS (SELECT vec_id, e, {_BUCKET_SQL} AS bucket FROM nz),
    pairs AS (
        SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
               {_cos_sql("l.e", "r.e")} AS cos
        FROM b l JOIN b r
          ON l.bucket = r.bucket AND l.vec_id < r.vec_id
    )
    SELECT vec_a, vec_b FROM pairs WHERE cos >= 0.999
    """,
    tags=("dedup", "X2", "embedding"),
)
def x02_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2d: embedding-cosine near-dup via SimHash buckets (no all-pairs).

    Input is the corpus ∪ a re-encoded copy of every vector (scaled
    ×1.01, fresh ids) — the "same item re-embedded" scenario. Cosine is
    scale-invariant, so each copy is an exact near-dup of its source and,
    crucially, has IDENTICAL hyperplane signs — SimHash recall on scaled
    duplicates is 1.0 by construction. On the committed fixtures the
    survivors are exactly the planted (v, v+100000) pairs (organic max
    pairwise cosine 0.51), but the oracle does NOT assume that: it
    mirrors the whole method — seeded planes as SQL literals (the
    x03_ann_lsh_bucketed pattern), bucket equi-join, the same float64
    cosine, the same ≥ 0.999 predicate — so a corpus carrying ORGANIC
    near-dups (exact duplicate vectors, antipodes, 1e-7 perturbations)
    grades correctly too (adversarial-sweep finding: the earlier
    planted-pair identity oracle undercounted on duplicate blocks).
    Zero-norm vectors are excluded on both sides before pairing —
    cosine is undefined there, and NaN-vs-threshold comparison
    semantics differ across engines (Spark orders NaN above every
    double; IEEE says incomparable).
    """
    base = embedded(spark, sf_dir).select(
        "vec_id", _vec_double("embedding").alias("e")
    )
    copies = base.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(F.col("e"), lambda x: x * 1.01).alias("e"),
    )
    corpus = base.unionByName(copies).filter(
        _dot(F.col("e"), F.col("e")) > 0
    )
    # Persist the bucketed index once (r17 opt): both join sides read
    # it, and without the cache the planner broadcasts one side —
    # executing the interpreted 8-hyperplane signing per row twice,
    # sequentially (the simhash-buckets pathology). Production stores
    # this index. Same cache lifecycle as the dedup family's
    # intermediates.
    indexed = corpus.select(
        "vec_id", "e", _bucket_bits(F.col("e")).alias("bucket")
    ).persist()
    lhs = indexed.alias("l")
    rhs = indexed.alias("r")
    return (
        lhs.join(
            rhs,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            cosine(F.col("l.e"), F.col("r.e")).alias("cos"),
        )
        .filter(F.col("cos") >= 0.999)
        .select("vec_a", "vec_b")
    )


@register(
    "x03_pairwise_label_centroids",
    oracle=f"""
    WITH {_V_SQL},
    dims AS (
        SELECT label, gs.i AS dim,
               CAST(round(e[gs.i + 1] * 1000000.0) AS HUGEINT) AS vq
        FROM v CROSS JOIN LATERAL (SELECT unnest(range(0, 64)) AS i) gs
    ),
    agg AS (
        SELECT label, dim, sum(vq) AS sq, count(*) AS n
        FROM dims GROUP BY 1, 2
    ),
    rounded AS (
        -- exact integer round-half-away(sq / n): no double anywhere,
        -- so HUGEINT magnitude (1e10-component vectors -> 1e17 sums,
        -- past double exactness) cannot produce last-digit drift
        SELECT label, dim, n,
               CAST(CASE WHEN sq >= 0 THEN (2*sq + n) // (2*n)
                         ELSE -((2*(-sq) + n) // (2*n)) END
                    AS BIGINT) AS mean_e6
        FROM agg
    )
    SELECT
        label,
        CAST(max(n) AS BIGINT) AS n_vectors,
        max(CASE WHEN dim = 0 THEN mean_e6 END) AS c0_e6,
        max(CASE WHEN dim = 1 THEN mean_e6 END) AS c1_e6,
        max(CASE WHEN dim = 2 THEN mean_e6 END) AS c2_e6,
        max(CASE WHEN dim = 3 THEN mean_e6 END) AS c3_e6
    FROM rounded
    GROUP BY label
    """,
    tags=("similarity", "X3", "centroid"),
)
def x03_pairwise_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3c: per-label centroids — the IVF coarse-quantizer build step.

    An IVF index at scale = k-means centroids + residual buckets; this
    computes the (label-supervised) centroid pass as a plain aggregate:
    element-wise vector mean via posexplode + groupBy, one shuffle keyed
    by (label, dim) then one by label.

    Exactness: components are quantized ONCE to e6 integers, summed
    exactly (DECIMAL(38,0) / HUGEINT — a plain BIGINT sum can wrap once
    |component| reaches ~1e10 over thousands of members), and the mean
    is an exact integer half-away division — no double appears after
    quantization. Two adversarial-sweep findings force that shape:
    (1) a float ``avg`` is partial-aggregation-order-dependent; (2) for
    quantized values past 2^53, Spark's double→DECIMAL cast goes
    through the SHORTEST decimal string (BigDecimal.valueOf) while
    DuckDB casts the exact binary value — so the Spark side quantizes
    via ``cast("bigint")`` (exact binary truncation of the already-
    integral rounded double; |vq| must stay < 2^63, i.e. components
    < ~9e12) and divides in integer space, where the engines cannot
    disagree.
    """
    emb = embedded(spark, sf_dir).select(
        "label", _vec_double("embedding").alias("e")
    )
    by_dim = (
        emb.select("label", F.posexplode(F.col("e")).alias("dim", "val"))
        .select(
            "label",
            "dim",
            # bigint first: (long)d is the EXACT binary value; a direct
            # double→decimal cast detours through the shortest decimal
            # string and drifts off DuckDB past 2^53.
            F.round(F.col("val") * 1000000.0)
            .cast("bigint")
            .cast("decimal(38,0)")
            .alias("vq"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("vq").alias("sq"), F.count("*").alias("n"))
        .select(
            "label",
            "dim",
            "n",
            # exact integer round-half-away(sq / n), mirrored verbatim
            # in the oracle's HUGEINT formulation
            F.expr(
                "CAST(CASE WHEN sq >= 0 THEN (2*sq + n) DIV (2*n) "
                "ELSE -((2*abs(sq) + n) DIV (2*n)) END AS BIGINT)"
            ).alias("mean_e6"),
        )
    )
    per_label = (
        by_dim.groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            F.map_from_entries(
                F.collect_list(F.struct("dim", "mean_e6"))
            ).alias("cmap"),
        )
    )
    return per_label.select(
        "label",
        "n_vectors",
        F.element_at("cmap", 0).alias("c0_e6"),
        F.element_at("cmap", 1).alias("c1_e6"),
        F.element_at("cmap", 2).alias("c2_e6"),
        F.element_at("cmap", 3).alias("c3_e6"),
    )


@register(
    "x03_sq8_topk",
    oracle=f"""
    WITH {_V_SQL},
    enc AS (
        SELECT vec_id,
               greatest(list_max(list_transform(e, x -> abs(x))), 1e-12)
                   AS s,
               list_transform(
                   e,
                   x -> CAST(floor(
                       x / greatest(list_max(list_transform(e, y -> abs(y))),
                                    1e-12) * 127.0 + 0.5) AS DOUBLE)
               ) AS code
        FROM v
    ),
    {_q_sql("enc", "s AS qs, code AS qc")},
    scored AS (
        SELECT
            q.query_id,
            c.vec_id AS neighbor_id,
            list_dot_product(q.qc, c.code) * q.qs * c.s / 16129.0 AS approx
        FROM q JOIN enc c ON c.vec_id <> q.query_id
    )
    {_top_k_sql("approx DESC", "query_id, neighbor_id, rank, "
                f"{dround_sql('approx', 6)} AS approx_dot")}
    """,
    tags=("similarity", "X3", "quantization"),
)
def x03_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3e: scalar-quantized (SQ8) top-k — the compressed-corpus scale path.

    Each vector is encoded once to int8 codes plus a per-vector scale
    (max-abs symmetric quantization, the FAISS ``SQ8`` layout): 64 bytes
    per vector instead of 256, which at 100 TB is the difference between
    a corpus that fits executor memory and one that doesn't. Search
    scores candidates by the integer code dot product rescaled by the
    two scales — the integer sum is EXACT arithmetic (every partial ≤
    127²·64 < 2^53), so Spark and the oracle agree bit-for-bit and
    ranking needs no float-order caveats.

    Quantization uses ``floor(x/s·127 + 0.5)`` rather than ``round`` so
    both engines apply one unambiguous rounding rule to identical IEEE
    inputs.

    Scale shape: identical to the brute-force baseline (X3a). The win
    is constant-factor: 4× less memory traffic and integer multiply-adds
    in codegen.
    """
    emb = embedded(spark, sf_dir).select(
        "vec_id", _vec_double("embedding").alias("e")
    )
    s = F.greatest(
        F.array_max(F.transform("e", lambda x: F.abs(x))), F.lit(1e-12)
    )
    enc = emb.select(
        "vec_id",
        s.alias("s"),
        F.transform(
            "e", lambda x: F.floor(x / s * 127.0 + 0.5).cast("long")
        ).alias("code"),
    )
    q = _query_set(enc, F.col("s").alias("qs"), F.col("code").alias("qc"))
    idot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("code"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        enc.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                idot.cast("double")
                * F.col("qs")
                * F.col("s")
                / F.lit(16129.0)
            ).alias("approx"),
        )
    )
    return _top_k(scored, F.col("approx").desc()).select(
        "query_id",
        "neighbor_id",
        "rank",
        dround(F.col("approx"), 6).alias("approx_dot"),
    )


#: DuckDB twin of :func:`_global_icode`: the leading CTEs ``g`` (the
#: one global scale) and ``enc(vec_id, icode)`` of both PQ oracles,
#: composed by f-string like ``dedup._OVERLAP_SQL``.
_ICODE_SQL = """g AS (
        SELECT greatest(
                   max(list_max(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> abs(x)))),
                   1e-12) AS g
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    enc AS (
        SELECT vec_id,
               list_transform(
                   CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x / g.g * 127.0 + 0.5)
                             AS BIGINT)) AS icode
        FROM embeddings CROSS JOIN g
        WHERE embedding IS NOT NULL
    )"""


def _subspace_l2_sql(vec: str) -> str:
    """DuckDB twin of one :func:`_subspace_dists` entry: the squared L2
    of ``vec``'s j-th 8-dim subvector to the same slice of ``ct``."""
    return (
        "CAST(list_sum(list_transform(generate_series((j - 1) * 8 + 1, j * 8), "
        f"i -> ({vec}[i] - ct[i]) * ({vec}[i] - ct[i]))) AS BIGINT)"
    )


def _pq_codes_sql(vec: str, cents: str) -> str:
    """DuckDB twin of :func:`_pq_codes` (``list_position`` of the
    minimum = first minimum = lowest centroid id)."""
    d = f"list_transform({cents}, ct -> {_subspace_l2_sql(vec)})"
    return (
        "list_transform(generate_series(1, 8), "
        f"j -> list_position({d}, list_min({d})))"
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance of two integer arrays, summed as a long."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _global_icode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, icode)``: every embedding quantized to integers on ONE
    global scale g = max |component| (``floor(x/g·127 + 0.5)``); all PQ
    math after it is exact integer arithmetic."""
    emb = embedded(spark, sf_dir).select(
        "vec_id", _vec_double("embedding").alias("e")
    )
    g_row = emb.agg(
        F.greatest(
            F.max(F.array_max(F.transform("e", lambda x: F.abs(x)))),
            F.lit(1e-12),
        ).alias("g")
    )
    return emb.crossJoin(F.broadcast(g_row)).select(
        "vec_id",
        F.transform(
            "e", lambda x: F.floor(x / F.col("g") * 127.0 + 0.5).cast("long")
        ).alias("icode"),
    )


def _first_codebook(df: DataFrame, vec: str, n: int, name: str) -> DataFrame:
    """1-row codebook ``name``: the ``vec`` arrays of the rows with
    ``vec_id < n``, in vec_id order (a seeded codebook; k-means
    refinement would change its contents, not the plan)."""
    return df.filter(F.col("vec_id") < n).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("vec_id", vec))),
            lambda s: s[vec],
        ).alias(name)
    )


def _subspace_dists(vec: Column, cents: str) -> Column:
    """8 x |cents| nested array: for each 8-dim subspace j of ``vec``
    (1-based), the squared L2 to the same slice of every codebook entry
    in column ``cents``."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(8)),
        lambda j: F.transform(
            F.col(cents),
            lambda ct: _l2sq(
                F.slice(vec, (j - F.lit(1)) * 8 + 1, F.lit(8)),
                F.slice(ct, (j - F.lit(1)) * 8 + 1, F.lit(8)),
            ),
        ),
    )


def _pq_codes(vec: Column, cents: str) -> Column:
    """The 8 PQ codes of ``vec``: per subspace the 1-based position of
    the nearest entry of ``cents`` (first minimum = lowest id)."""
    # Two chained transforms so each 16-centroid distance array is
    # computed ONCE per subspace (argmin = position of min over the
    # same materialized array) — a single transform that passed the
    # dists expression to both array_position and array_min would
    # evaluate the 16x8 L2 work twice per subspace per row.
    return F.transform(
        _subspace_dists(vec, cents),
        lambda d: F.array_position(d, F.array_min(d)),
    )


def _adc_dist() -> Column:
    """ADC distance of a (query, coded vector) row: 8 lookups into the
    query's table ``dt`` (stride ``n_cents``) at the row's ``codes``."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(8)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.element_at(
            F.col("dt"),
            (
                (j - F.lit(1)) * F.col("n_cents")
                + F.element_at(F.col("codes"), j.cast("int"))
            ).cast("int"),
        ),
    ).alias("adc_dist")


@register(
    "x03_pq_topk",
    oracle=f"""
    WITH {_ICODE_SQL},
    cb AS (
        SELECT list(icode ORDER BY vec_id) AS cents
        FROM enc WHERE vec_id < 16
    ),
    coded AS (
        SELECT
            e.vec_id,
            e.icode,
            {_pq_codes_sql("e.icode", "cb.cents")} AS codes
        FROM enc e CROSS JOIN cb
    ),
    recon AS (
        SELECT
            c.vec_id,
            flatten(list_transform(
                generate_series(1, 8),
                j -> (cb.cents[c.codes[j]])[((j - 1) * 8 + 1):(j * 8)]
            )) AS rvec
        FROM coded c CROSS JOIN cb
    ),
    {_q_sql("enc", "icode AS qcode")},
    scored AS (
        SELECT
            q.query_id,
            r.vec_id AS neighbor_id,
            CAST(list_sum(list_transform(
                generate_series(1, 64),
                i -> (q.qcode[i] - r.rvec[i]) * (q.qcode[i] - r.rvec[i])))
                AS BIGINT) AS adc_dist
        FROM q JOIN recon r ON r.vec_id <> q.query_id
    )
    {_top_k_sql("adc_dist ASC", "query_id, neighbor_id, rank, adc_dist")}
    """,
    tags=("similarity", "X3", "quantization"),
)
def x03_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3f: product-quantized (PQ) top-k — the billion-scale ANN layout.

    PQ splits each 64-d vector into 8 subvectors of 8 dims; each
    subspace has a 16-entry codebook, so a vector compresses to 8
    4-bit codes (4 bytes + codebook) vs SQ8's 64 bytes — the layout
    FAISS IVF-PQ uses when even SQ8 doesn't fit executor memory at
    100 TB. Search is asymmetric distance computation (ADC): the exact
    query against each neighbor's codebook reconstruction.

    Everything after the one global-scale quantization is EXACT integer
    math, the X3e discipline extended: codebook entries (the first 16
    vectors by id — a seeded coarse codebook; k-means refinement would
    only change the table's contents, not the plan), assignment argmin
    (first-minimum tie break = lowest centroid id on both engines), the
    reconstruction, and the ADC distance (≤ 254²·64 < 2³¹ per pair) are
    all integers, so ranking is bit-identical cross-engine with no
    float-order caveats.

    Scale shape: encoding is one broadcast of the codebook row into a
    codegen ``transform`` over the corpus scan — no shuffle; search
    broadcasts the queries along the corpus exactly like X3a/X3e.
    Scoring uses ADC distance
    tables: each query precomputes its 8×16 subspace-to-centroid grid
    once, so a (query, db) pair costs 8 lookups + adds instead of a
    64-dim L2 — measured 4.5× on a 10× corpus (11.5 s → 2.6 s,
    SCALE.md §7).
    """
    enc = _global_icode(spark, sf_dir)
    cb = _first_codebook(enc, "icode", 16, "cents")
    coded = enc.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "icode",
        _pq_codes(F.col("icode"), "cents").alias("codes"),
        F.col("cents"),
    )
    # ADC distance tables: per query, precompute the 8x16 grid of
    # subspace-to-centroid distances ONCE (flat array, index
    # (j-1)*16 + c), so scoring a (query, db) pair is 8 table lookups
    # + adds (:func:`_adc_dist`) instead of a 64-dim L2
    # recomputation — the classic IVF-PQ search layout, an ~8x scoring
    # win at |queries|x|corpus| fan-out. Equality with the
    # reconstruction formulation is exact: L2 over the concatenated
    # reconstruction = sum of per-subspace L2s to the chosen centroids
    # (all integer math).
    q = _query_set(
        enc.crossJoin(F.broadcast(cb)),
        # table stride = |codebook| (16 on a full corpus, smaller on
        # tiny ones — the codebook is "first ≤16 vectors")
        F.size(F.col("cents")).alias("n_cents"),
        F.flatten(_subspace_dists(F.col("icode"), "cents")).alias("dt"),
    )
    scored = coded.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), _adc_dist())
    return _top_k(scored, F.col("adc_dist").asc()).select(
        "query_id", "neighbor_id", "rank", "adc_dist"
    )


#: k-means step (x03_kmeans_step): the k seed centroids are the corpus
#: vectors with the k lowest ids — deterministic, engine-independent.
_KMEANS_K = 8


@register(
    "x03_kmeans_step",
    oracle=f"""
    WITH {_V_SQL},
    c AS (
        SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {_KMEANS_K}
    ),
    scored AS (
        SELECT
            v.vec_id,
            v.e,
            c.cid,
            list_dot_product(v.e, v.e)
                - 2.0 * list_dot_product(v.e, c.ce)
                + list_dot_product(c.ce, c.ce) AS dist2
        FROM v CROSS JOIN c
    ),
    assigned AS (
        SELECT vec_id, e, cid
        FROM (
            SELECT vec_id, e, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY dist2, cid
                   ) AS rk
            FROM scored
        )
        WHERE rk = 1
    ),
    comps AS (
        SELECT
            a.cid,
            gs.dim,
            CAST(round(a.e[gs.dim + 1] * 1000000.0) AS BIGINT) AS q
        FROM assigned a
        CROSS JOIN (SELECT unnest(range(64)) AS dim) gs
    )
    SELECT
        cid AS cluster_id,
        CAST(dim AS INT) AS dim,
        CAST(count(*) AS BIGINT) AS n_members,
        CAST(round(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS mean_e6
    FROM comps
    GROUP BY cid, dim
    """,
    tags=("similarity", "X3", "kmeans"),
)
def x03_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3g: one Lloyd iteration of k-means — assign + recompute centroids.

    The iterative-clustering building block (IVF coarse quantizers,
    semantic dedup, topic bucketing all train this way): every vector is
    assigned to its nearest of k fixed centroids (squared L2), then each
    cluster's centroid is re-estimated as the component-wise mean. One
    registered step makes the whole algorithm gradeable — a training
    loop is this operator applied until movement < ε, with each
    iteration reading the previous assignment (the same
    materialize-per-round shape as the PageRank fixpoint).

    Cross-engine exactness: distances use the expanded form
    ``v·v − 2 v·c + c·c`` over the SAME sequential float64 dot product
    the cosine battery already pins; arg-min ties break to the lowest
    centroid id through an explicit (dist2, cid) rank; the mean runs on
    e6-quantized BIGINT components (exact integer sums) with one final
    IEEE division both engines share.

    Scale shape: centroids are k rows → broadcast; scoring rides the
    corpus scan (k-fanout projection, no shuffle). The per-vector
    arg-min window partitions by vec_id — embarrassingly parallel — and
    the recompute is one hash aggregate over (cluster, dim) with
    map-side combine. At 100 TB: corpus scanned once per iteration,
    only (cluster, dim, partial-sum) state shuffles.
    """
    emb = embedded(spark, sf_dir).select(
        "vec_id", _vec_double("embedding").alias("e")
    )
    cents = emb.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    dist2 = (
        _dot(F.col("e"), F.col("e"))
        - 2.0 * _dot(F.col("e"), F.col("ce"))
        + _dot(F.col("ce"), F.col("ce"))
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "e", "cid", dist2.alias("dist2")
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "cid")
    assigned = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "e", "cid")
    )
    comps = assigned.select(
        "cid",
        F.posexplode(
            F.transform(
                F.col("e"), lambda x: F.round(x * 1000000.0).cast("bigint")
            )
        ).alias("dim", "q"),
    )
    return comps.groupBy(
        F.col("cid").alias("cluster_id"), F.col("dim").cast("int").alias("dim")
    ).agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.round(F.sum("q").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("mean_e6"),
    )


@register(
    "x03_knn_classify",
    oracle=f"""
    WITH {_V_SQL},
    {_q_sql("v", "e AS qe, label AS true_label")},
    scored AS (
        SELECT
            q.query_id,
            q.true_label,
            v.vec_id AS neighbor_id,
            v.label,
            {_cos_sql("q.qe", "v.e")} AS cos
        FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    topk AS ({_top_k_sql("cos DESC", "query_id, true_label, label")}),
    votes AS (
        SELECT query_id, true_label, label, count(*) AS n_votes
        FROM topk GROUP BY 1, 2, 3
    )
    SELECT query_id,
           CAST(label AS INT) AS predicted_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           CAST(true_label AS INT) AS true_label
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY n_votes DESC, label ASC
        ) AS rk
        FROM votes
    )
    WHERE rk = 1
    """,
    tags=("similarity", "X3", "knn"),
)
def x03_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3h: k-NN majority-vote classification over the embedding corpus.

    The serving-side use of similarity search: predict a query vector's
    label from the labels of its ``_TOP_K`` (10) nearest neighbors —
    weak-label propagation, eval-set auto-labeling, and
    embedding-quality probes all run exactly this. Built directly on the
    brute-force top-k plan (X3a), then a votes-per-label aggregate and a
    deterministic argmax (votes desc, label asc). Emits the true label
    beside the prediction so an accuracy roll-up is one aggregate away.

    Scale shape: identical corpus-side cost to X3a; the vote and argmax
    stages run on |queries|·k rows — nothing. The ANN variants
    (LSH/IVF/PQ) slot in as the top-k stage unchanged when |queries|
    grows past broadcast size.
    """
    emb = embedded(spark, sf_dir).select(
        "vec_id", _vec_double("embedding").alias("e"), "label"
    )
    q = _query_set(
        emb, F.col("e").alias("qe"), F.col("label").alias("true_label")
    )
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "true_label",
        F.col("vec_id").alias("neighbor_id"),
        "label",
        cosine(F.col("qe"), F.col("e")).alias("cos"),
    )
    votes = (
        _top_k(scored, F.col("cos").desc())
        .groupBy("query_id", "true_label", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rk", F.row_number().over(w_vote))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            F.col("label").cast("int").alias("predicted_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
            F.col("true_label").cast("int").alias("true_label"),
        )
    )


@register(
    "x03_ann_recall_report",
    oracle=_recall_sql(_LSH_SQL),
    tags=("similarity", "X3", "evaluation"),
)
def x03_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3i: ANN quality audit — recall@k of the LSH index vs exact top-k.

    The measurement that decides whether an approximate index is
    deployable: for each query, what fraction of the TRUE top-k
    (brute-force cosine) does the LSH-bucketed search return? Expressed
    as an operator so the eval runs in-engine, on the same corpus, with
    the same seeded planes — not as an offline notebook that drifts
    from production parameters. Both inputs are this module's
    registered operators, and the oracle composes their oracle texts,
    so the audit cannot diverge from what it audits.

    Reading it: recall_e6 = 1e6 means the bucketed search found the
    full true top-k for that query; sustained low recall is the trigger
    to widen multi-probe or add bands (the knobs documented on the LSH
    operator).

    Scale shape: both sides are |queries|·k rows at any corpus size —
    the join and the rollup are free; total cost is the two searches.
    """
    return _recall_at_k(spark, sf_dir, x03_ann_lsh_bucketed(spark, sf_dir))


#: IVF-PQ geometry: 8 seeded coarse lists (``_NPROBE`` probed per
#: query); the PQ residual codebook reuses x03_pq_topk's 16-entry /
#: 8-subspace shape.
_IVFPQ_COARSE_K = 8


@register(
    "x03_ivfpq_topk",
    oracle=f"""
    WITH {_ICODE_SQL},
    cc AS (
        SELECT list(icode ORDER BY vec_id) AS ccents
        FROM enc WHERE vec_id < {_IVFPQ_COARSE_K}
    ),
    assigned AS (
        SELECT
            e.vec_id,
            e.icode,
            list_position(
                list_transform(cc.ccents, ct -> CAST(list_sum(
                    list_transform(generate_series(1, 64),
                        i -> (e.icode[i] - ct[i]) * (e.icode[i] - ct[i])))
                    AS BIGINT)),
                list_min(
                    list_transform(cc.ccents, ct -> CAST(list_sum(
                        list_transform(generate_series(1, 64),
                            i -> (e.icode[i] - ct[i]) * (e.icode[i] - ct[i])))
                        AS BIGINT)))
            ) AS cid
        FROM enc e CROSS JOIN cc
    ),
    res AS (
        SELECT
            a.vec_id,
            a.cid,
            list_transform(generate_series(1, 64),
                i -> a.icode[i] - (cc.ccents[a.cid])[i]) AS rvec
        FROM assigned a CROSS JOIN cc
    ),
    rcb AS (
        SELECT list(rvec ORDER BY vec_id) AS rcents
        FROM res WHERE vec_id < 16
    ),
    coded AS (
        SELECT
            r.vec_id,
            r.cid,
            {_pq_codes_sql("r.rvec", "rcb.rcents")} AS codes
        FROM res r CROSS JOIN rcb
    ),
    {_q_sql("enc", "icode")},
    probes AS (
        SELECT query_id, cid FROM (
            SELECT
                q.query_id,
                gs.i AS cid,
                row_number() OVER (
                    PARTITION BY q.query_id
                    ORDER BY CAST(list_sum(list_transform(
                                 generate_series(1, 64),
                                 k -> (q.icode[k] - (cc.ccents[gs.i])[k])
                                      * (q.icode[k] - (cc.ccents[gs.i])[k])))
                             AS BIGINT) ASC, gs.i ASC
                ) AS rn
            FROM q CROSS JOIN cc
            CROSS JOIN LATERAL (
                SELECT unnest(generate_series(1, len(cc.ccents))) AS i
            ) gs
        ) WHERE rn <= {_NPROBE}
    ),
    qres AS (
        SELECT
            p.query_id,
            p.cid,
            list_transform(generate_series(1, 64),
                i -> e.icode[i] - (cc.ccents[p.cid])[i]) AS qrvec
        FROM probes p
        JOIN enc e ON e.vec_id = p.query_id
        CROSS JOIN cc
    ),
    qdt AS (
        SELECT
            q.query_id,
            q.cid,
            len(rcb.rcents) AS n_cents,
            flatten(list_transform(
                generate_series(1, 8),
                j -> list_transform(
                    rcb.rcents, ct -> {_subspace_l2_sql("q.qrvec")})
            )) AS dt
        FROM qres q CROSS JOIN rcb
    ),
    scored AS (
        SELECT
            q.query_id,
            c.vec_id AS neighbor_id,
            CAST(list_sum(list_transform(
                generate_series(1, 8),
                j -> q.dt[CAST((j - 1) * q.n_cents + c.codes[j] AS BIGINT)]))
                AS BIGINT) AS adc_dist
        FROM coded c JOIN qdt q ON c.cid = q.cid
        WHERE c.vec_id <> q.query_id
    )
    {_top_k_sql("adc_dist ASC", "query_id, neighbor_id, rank, adc_dist")}
    """,
    tags=("similarity", "X3", "ivf", "quantization"),
)
def x03_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3j: IVF-PQ probed search — the composed billion-scale ANN layout.

    The combination FAISS actually deploys at 100 TB: an inverted file
    (X3d) bounds WHICH vectors each query scores, and product
    quantization of the RESIDUAL vector (X3f, relative to the coarse
    centroid — residuals are smaller and quantize tighter than raw
    vectors) bounds what each scored vector COSTS (4-bit codes + one
    shared codebook). Search probes the ``_NPROBE`` (2) nearest coarse
    lists and runs ADC with per-(query, probe) distance tables over
    residual codes.

    Exactness discipline (X3e/X3f extended): after the one global
    scale quantization, EVERYTHING is integer — coarse centroids are
    the first 8 icodes (``_IVFPQ_COARSE_K``; seeded, like the PQ codebook),
    assignment/probe argmins tie-break on lowest centroid id, residuals
    are integer subtractions, the shared residual codebook is the first
    16 residual vectors, and ADC sums stay < 2^31 (|qres - rcent| <=
    508, 64 dims) — so ranking is bit-identical cross-engine.

    Scale shape: the corpus is scanned once for encode+assign (coarse
    and residual codebooks ride in as two broadcast 1-row tables, all
    argmins in codegen) and NEVER shuffles for scoring; the probe
    tables (|queries| x nProbe rows, each carrying one 8x16 integer
    grid) broadcast into an equi-join on the list id, so each query
    pays |corpus| x nProbe / K lookups-and-adds instead of |corpus|
    full distances.
    """
    enc = _global_icode(spark, sf_dir)
    # Persist the 1-row coarse codebook (r17 opt): the corpus
    # assignment AND the query probing both crossJoin against it, and
    # without the cache its encode + collect aggregate executes twice.
    # Same cache lifecycle as the dedup family's intermediates.
    cc = _first_codebook(enc, "icode", _IVFPQ_COARSE_K, "ccents").persist()
    # Coarse assignment: argmin over the broadcast centroid list, the
    # materialize-once two-transform trick from X3f.
    cdists = F.transform(
        F.col("ccents"), lambda ct: _l2sq(F.col("icode"), ct)
    )
    assigned = enc.crossJoin(F.broadcast(cc)).select(
        "vec_id",
        "icode",
        F.array_position(cdists, F.array_min(cdists)).alias("cid"),
        F.col("ccents"),
    )
    # Persist the residual table (r17 opt): the residual-codebook
    # aggregate AND the coding pass both read it, and each evaluation
    # re-runs the interpreted 16-centroid coarse assignment per row
    # (the most expensive per-row arithmetic in this entry). One cache
    # = one assignment pass; production stores exactly this residual
    # layout. Same cache lifecycle as the dedup family's intermediates.
    res = assigned.select(
        "vec_id",
        "cid",
        F.zip_with(
            "icode",
            F.element_at(F.col("ccents"), F.col("cid").cast("int")),
            lambda x, y: x - y,
        ).alias("rvec"),
    ).persist()
    rcb = _first_codebook(res, "rvec", 16, "rcents")
    coded = res.crossJoin(F.broadcast(rcb)).select(
        "vec_id", "cid", _pq_codes(F.col("rvec"), "rcents").alias("codes")
    )
    # Probes: per query, the nProbe nearest coarse lists by the same
    # integer distance + lowest-cid tie break (array_sort of (d, cid)
    # structs sorts lexicographically — exactly ORDER BY d, cid).
    probes = (
        _query_set(
            enc.crossJoin(F.broadcast(cc)),
            "icode",
            "ccents",
            F.slice(
                F.array_sort(
                    F.zip_with(
                        cdists,
                        F.sequence(F.lit(1), F.size("ccents")),
                        lambda d, i: F.struct(
                            d.alias("d"), i.cast("long").alias("cid")
                        ),
                    )
                ),
                1,
                _NPROBE,
            ).alias("top_probes"),
        )
        .select(
            "query_id",
            "icode",
            "ccents",
            F.explode("top_probes").alias("pr"),
        )
        .select(
            "query_id",
            F.col("pr.cid").alias("cid"),
            F.zip_with(
                "icode",
                F.element_at(F.col("ccents"), F.col("pr.cid").cast("int")),
                lambda x, y: x - y,
            ).alias("qrvec"),
        )
    )
    qdt = probes.crossJoin(F.broadcast(rcb)).select(
        "query_id",
        "cid",
        F.size("rcents").alias("n_cents"),
        F.flatten(_subspace_dists(F.col("qrvec"), "rcents")).alias("dt"),
    )
    scored = coded.join(F.broadcast(qdt), "cid").filter(
        F.col("vec_id") != F.col("query_id")
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), _adc_dist())
    return _top_k(scored, F.col("adc_dist").asc()).select(
        "query_id", "neighbor_id", "rank", "adc_dist"
    )


#: Semantic-dedup geometry: seeded k-means clusters bound the candidate
#: pairs; the verification threshold matches X2d's planted-copy corpus.
#: K = 64 keeps clusters ~sqrt-of-corpus-sized at the test SFs (K = 8
#: measured 32 s at sf0.1: ~500-vector clusters make the pair join
#: quadratic AND leave only 8 join keys' worth of parallelism; 64
#: brings it to 2.9 s). At 100 TB, K scales with the corpus
#: (K ~ corpus/10k) for exactly this reason.
_SEMDEDUP_K = 64
_SEMDEDUP_COS = 0.999


@register(
    "x02_semantic_dedup",
    oracle=f"""
    WITH {_V_SQL},
    corpus AS (
        SELECT vec_id, e FROM v
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               list_transform(e, x -> x * 1.01) AS e
        FROM v
    ),
    c AS (
        SELECT list(e ORDER BY vec_id) AS cents FROM v
        WHERE vec_id < {_SEMDEDUP_K}
    ),
    dists AS (
        SELECT a.vec_id, a.e,
               list_transform(
                   c.cents,
                   ct -> list_dot_product(ct, ct)
                         - 2.0 * list_dot_product(a.e, ct)) AS ds
        FROM corpus a CROSS JOIN c
    ),
    assigned AS (
        SELECT vec_id, e,
               list_position(ds, list_min(ds)) AS cid
        FROM dists
    ),
    pairs AS (
        SELECT l.cid AS cluster_id, l.vec_id AS keep_cand,
               r.vec_id AS removed
        FROM assigned l JOIN assigned r
          ON l.cid = r.cid AND l.vec_id < r.vec_id
        WHERE {_cos_sql("l.e", "r.e")} >= {_SEMDEDUP_COS}
    )
    SELECT
        removed AS removed_vec_id,
        CAST(min(keep_cand) AS BIGINT) AS kept_vec_id,
        CAST(min(cluster_id) AS BIGINT) AS cluster_id
    FROM pairs
    GROUP BY removed
    """,
    tags=("dedup", "X2", "embedding", "semantic"),
)
def x02_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2j: SemDeDup-style semantic dedup — clusters bound the pairs.

    The embedding-space rung ABOVE SimHash buckets (X2d): cluster the
    corpus with a (seeded) k-means coarse model, generate candidate
    pairs only WITHIN a cluster, verify by exact cosine, and pick the
    min-id survivor per duplicate — the SemDeDup recipe (cluster, then
    prune semantically identical neighbors) that web-scale curation
    uses where bucket hashes are too coarse and all-pairs is
    impossible. Same planted-copy corpus as X2d (x1.01 re-encodes:
    cosine-identical, so verification is deterministic and organic
    cosine 0.51 admits no false positives).

    Output: one row per REMOVED vector with its kept survivor and the
    cluster that scoped the comparison.

    Scale shape: the corpus scans ONCE against the broadcast 1-row
    centroid ARRAY for assignment — argmin is position-of-min over the
    materialized distance array in codegen (the X3j discipline; a
    per-vector window formulation measured 3x slower by shuffling
    every vector through a vec_id exchange just to rank K rows). The
    candidate join is equi on cluster id, so pair work is
    sum-of-cluster-sizes-squared, the knob K controls — K = 8 left
    ~500-vector clusters and 8 join keys at sf0.1 (32 s, quadratic
    and parallelism-starved); K = 64 brings it to ~2 s flat (at
    100 TB: K ~ corpus/10k and a trained-centroid table replaces the
    seeded one — plan shape unchanged). Survivor selection is one
    groupBy on the removed id riding the pair stream's partitioning.
    """
    return semantic_dedup_over(
        embedded(spark, sf_dir)
    )


def semantic_dedup_over(
    emb: DataFrame,
    k: int = _SEMDEDUP_K,
    cos_threshold: float = _SEMDEDUP_COS,
    copy_key_offset: int = 100_000,
    centroid_pred: Column | None = None,
) -> DataFrame:
    """The ``x02_semantic_dedup`` body over an arbitrary embeddings
    frame — factored out (r12 verdict item 5) so ``tools/
    scale_curve.py`` can measure the registered plan at synthesized 10x
    corpus size AND under the ``K ~ corpus`` scaling rule the docstring
    prescribes. The registered entry calls this with its pinned
    defaults, so its plan and output are unchanged.

    ``centroid_pred`` overrides the default seed-selection predicate
    (``vec_id < k``) for replicated-corpus measurements where seed ids
    must be drawn from every replica's id range, not just the first
    (r13 ADVICE finding); the caller is responsible for the predicate
    selecting exactly ``k`` base vectors."""
    base = emb.select("vec_id", _vec_double("embedding").alias("e"))
    copies = base.select(
        (F.col("vec_id") + copy_key_offset).alias("vec_id"),
        F.transform(F.col("e"), lambda x: x * 1.01).alias("e"),
    )
    corpus = base.unionByName(copies)
    if centroid_pred is None:
        centroid_pred = F.col("vec_id") < k
    cents = base.filter(centroid_pred).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("vec_id", "e"))),
            lambda st: st.e,
        ).alias("cents")
    )
    # Hoist the per-centroid self-dot into the 1-row broadcast relation
    # (r17 opt): ``dot(ct, ct)`` is centroid-only, yet the previous
    # per-row expression recomputed it for every (vector, centroid)
    # pair — K·dim interpreted multiplies per corpus row for values
    # that never change (HOF lambdas evaluate interpreted, the r16
    # finding, so this is real per-row CPU). Computing it once here and
    # zip_with-ing it in halves the assignment's per-row arithmetic;
    # the distance VALUES are bit-identical (same fold over the same
    # doubles, just evaluated once).
    cents = cents.select(
        "cents",
        F.transform(F.col("cents"), lambda ct: _dot(ct, ct)).alias(
            "cents_sd"
        ),
    )
    # Assignment rides the corpus scan against the broadcast 1-row
    # centroid array (argmin = position of min over the materialized
    # distance array; first-minimum = lowest centroid position on both
    # engines) — no per-vector window, so the corpus never shuffles to
    # be assigned. cid is the 1-based position in the id-ordered
    # centroid list (= centroid vec_id + 1), mirrored exactly in the
    # oracle.
    dists = F.zip_with(
        F.col("cents"),
        F.col("cents_sd"),
        lambda ct, sd: sd - 2.0 * _dot(F.col("e"), ct),
    )
    # Persist the assignment (r17 opt): BOTH sides of the within-cluster
    # pair join read it, and without the cache the planner broadcasts
    # one side — executing the interpreted K·dim-per-row assignment
    # arithmetic twice, sequentially (the simhash-buckets pathology).
    # The assigned table is also exactly the artifact a production
    # SemDeDup run checkpoints. Same cache lifecycle as the dedup
    # family's intermediates.
    assigned = corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "e",
        F.array_position(dists, F.array_min(dists)).alias("cid"),
    ).persist()
    lhs = assigned.alias("l")
    rhs = assigned.alias("r")
    pairs = (
        lhs.join(
            rhs,
            (F.col("l.cid") == F.col("r.cid"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .filter(
            cosine(F.col("l.e"), F.col("r.e")) >= F.lit(cos_threshold)
        )
        .select(
            F.col("l.cid").alias("cluster_id"),
            F.col("l.vec_id").alias("keep_cand"),
            F.col("r.vec_id").alias("removed"),
        )
    )
    return pairs.groupBy(F.col("removed").alias("removed_vec_id")).agg(
        F.min("keep_cand").cast("bigint").alias("kept_vec_id"),
        F.min("cluster_id").cast("bigint").alias("cluster_id"),
    )


def _pack_sign_bits(vec: Column, lo_dim: int) -> Column:
    """Pack 32 sign bits (dims ``lo_dim``..``lo_dim+31``, 1-indexed,
    bit set iff the component is > 0) into one BIGINT word, in codegen.

    Horner fold (``acc*2 + bit``) reading dims high→low, so dim d lands
    on bit (d - lo_dim) — ``shiftleft`` needs a literal shift count, a
    fold does not."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(31)),
        F.lit(0).cast("long"),
        lambda acc, i: acc * 2
        + F.when(
            F.element_at(vec, F.lit(lo_dim + 31) - i) > 0.0, F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )


def _pack_sql(lo_dim: int) -> str:
    """DuckDB spelling of :func:`_pack_sign_bits` over a column ``e``."""
    return (
        "CAST(list_sum(list_transform(generate_series(1, 32), i -> "
        f"CASE WHEN e[CAST(i AS INT) + {lo_dim - 1}] > 0 "
        "THEN (CAST(1 AS BIGINT) << (CAST(i AS INT) - 1)) "
        "ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )


def _hamming_sql(k: int) -> str:
    """DuckDB twin of :func:`_hamming_candidates` (packed-sign-bit
    Hamming top-``k``): the x03_hamming_topk oracle at k = top-k and the
    rerank audit's candidate stage at k = R."""
    return f"""
    WITH {_V_SQL},
    packed AS (
        SELECT vec_id,
               {_pack_sql(1)} AS w0,
               {_pack_sql(33)} AS w1
        FROM v
    ),
    {_q_sql("packed", "w0 AS q0, w1 AS q1")},
    scored AS (
        SELECT
            q.query_id,
            c.vec_id AS neighbor_id,
            CAST(bit_count(xor(q.q0, c.w0))
                 + bit_count(xor(q.q1, c.w1)) AS BIGINT) AS hamming
        FROM q JOIN packed c ON c.vec_id <> q.query_id
    )
    {_top_k_sql("hamming ASC", "query_id, neighbor_id, rank, hamming", k)}
    """


@register(
    "x03_hamming_topk",
    oracle=_hamming_sql(_TOP_K),
    tags=("similarity", "X3", "binary"),
)
def x03_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3k: 1-bit binarized embeddings + Hamming top-k — the cheapest
    rung of the ANN ladder (below SQ8's 8-bit and PQ's 4-bit codes).

    Sign binarization packs each 64-dim float vector into TWO BIGINT
    words (bit i = component > 0) — a 16-byte representation, 16× under
    SQ8 and 64× under the raw floats. Scoring a pair is 2 XOR + 2
    POPCOUNT integer instructions; Hamming distance on sign bits is a
    proven proxy for cosine order (the SimHash bound: P[bit differs] =
    angle/π), which is why binary-first → exact-rerank is the standard
    billion-scale retrieval layout. The emitted distance is an exact
    integer — no float anywhere after the sign test, so the hash pins
    the full output with no rounding discipline needed.

    Scale shape: packing rides the corpus scan in codegen (``aggregate``
    over a 32-int spine per word — no explode); queries broadcast and
    the corpus is scanned once, never shuffled for scoring (as X3a). At
    10⁹ vectors the packed corpus is 16 GB — memory-resident per
    executor fleet, where the float corpus is 256 GB of scan per query
    batch. Deployment reranks the Hamming top-R with exact cosine:
    x03_hamming_rerank (X3l).
    """
    return _hamming_candidates(spark, sf_dir, _TOP_K)


def _hamming_candidates(
    spark: SparkSession, sf_dir: str, k: int
) -> DataFrame:
    """Packed-sign-bit Hamming top-``k`` per query (shared by the
    registered top-k entry and the rerank audit's candidate stage)."""
    emb = embedded(spark, sf_dir).select(
        "vec_id", _vec_double("embedding").alias("e")
    )
    packed = emb.select(
        "vec_id",
        _pack_sign_bits(F.col("e"), 1).alias("w0"),
        _pack_sign_bits(F.col("e"), 33).alias("w1"),
    )
    q = _query_set(packed, F.col("w0").alias("q0"), F.col("w1").alias("q1"))
    scored = packed.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.col("q0").bitwiseXOR(F.col("w0")))
            + F.bit_count(F.col("q1").bitwiseXOR(F.col("w1")))
        )
        .cast("long")
        .alias("hamming"),
    )
    return _top_k(scored, F.col("hamming").asc(), k).select(
        "query_id", "neighbor_id", "rank", "hamming"
    )


#: Binary-first rerank depth: Hamming top-R candidates per query get
#: the exact-cosine second pass.
_HAM_RERANK_R = 50


@register(
    "x03_hamming_rerank",
    oracle=_recall_sql(f"""
    WITH {_V_SQL},
    cand AS ({_hamming_sql(_HAM_RERANK_R)}),
    scored AS (
        SELECT c.query_id, c.neighbor_id, {_cos_sql("qv.e", "nv.e")} AS cos
        FROM cand c
        JOIN v qv ON qv.vec_id = c.query_id
        JOIN v nv ON nv.vec_id = c.neighbor_id
    )
    {_top_k_sql("cos DESC", "query_id, neighbor_id")}
    """),
    tags=("similarity", "X3", "binary", "evaluation"),
)
def x03_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3l: the complete binary-first retrieval layout, audited —
    Hamming top-50 (``_HAM_RERANK_R``) candidate pass (16-byte
    signatures, integer XOR+POPCOUNT) → exact-cosine rerank to top-k →
    recall@k against the brute-force truth, per query.

    This is the deployment composition x03_hamming_topk's docstring
    names: at 10⁹ vectors the packed first pass touches 16 GB, and the
    float corpus is only consulted for R candidates per query. The
    entry emits the AUDIT (the X3i pattern): sustained recall below
    target is the trigger to raise R — the one knob. The candidate
    stage is the top-k entry's own code at R on both engines
    (:func:`_hamming_candidates`, :func:`_hamming_sql`).

    Scale shape: the candidate set is |queries|·R rows at ANY corpus
    size — it broadcasts (with the query vectors) into ONE pass over
    the float corpus for rerank scoring; the corpus never shuffles in
    either stage; the recall join is |queries|·k vs |queries|·k.
    """
    cand = _hamming_candidates(spark, sf_dir, _HAM_RERANK_R).select(
        "query_id", "neighbor_id"
    )
    emb = embedded(spark, sf_dir).select(
        "vec_id", _vec_double("embedding").alias("e")
    )
    c2 = cand.join(_query_set(emb, F.col("e").alias("qe")), "query_id")
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne")
    )
    scored = nv.join(F.broadcast(c2), "neighbor_id").select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qe"), F.col("ne")).alias("cos"),
    )
    rerank = _top_k(scored, F.col("cos").desc())
    return _recall_at_k(spark, sf_dir, F.broadcast(rerank))


#: Range-search radius: e6-quantized cosine threshold (≈ the 99th
#: percentile of the synthetic corpus' pair cosines, so ~1% qualify).
_RANGE_T_E6 = 300_000


@register(
    "x03_range_search",
    oracle=f"""
    WITH {_V_SQL},
    {_q_sql("v", "e AS qe")},
    scored AS (
        SELECT
            q.query_id,
            v.vec_id AS neighbor_id,
            CAST(round({_cos_sql("q.qe", "v.e")} * 1000000.0) AS BIGINT)
                AS cos_e6
        FROM q JOIN v ON v.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id,
           cos_e6 / 1000000.0 + 0.0 AS cosine_sim
    FROM scored
    WHERE cos_e6 >= {_RANGE_T_E6}
    """,
    tags=("similarity", "X3", "range-search"),
)
def x03_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3m: cosine RANGE search — all neighbors within a similarity
    radius, the set-semantics dual of top-k (what dedup thresholds,
    recall-guaranteed retrieval, and density estimation actually want:
    "everything ≥ 0.30", not "the best 10 whatever they are").

    The threshold compares the e6-QUANTIZED cosine on both engines
    (multiply-then-round to BIGINT, then ``>=``): a float-path ulp
    wobble near the radius boundary would otherwise flip membership of
    a borderline pair between engines — the same discipline as the
    sketch ops, applied to a predicate instead of an output.

    Scale shape: unlike top-k (which needs a per-query rank → one hash
    exchange), range search is a PURE MAP-SIDE scan — queries
    broadcast, the dot product + threshold run inside the corpus
    scan's WholeStageCodegen, and the plan has ZERO shuffles
    (plan-pinned). At 100 TB it reads the corpus once and writes only
    qualifying pairs; output size scales with true neighbor density,
    not corpus size.
    """
    emb = embedded(spark, sf_dir).select(
        "vec_id", _vec_double("embedding").alias("e")
    )
    q = _query_set(emb, F.col("e").alias("qe"))
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("qe"), F.col("e")) * 1_000_000.0)
        .cast("bigint")
        .alias("cos_e6"),
    )
    return scored.filter(F.col("cos_e6") >= _RANGE_T_E6).select(
        "query_id",
        "neighbor_id",
        (F.col("cos_e6") / 1_000_000.0).alias("cosine_sim"),
    )
