"""RAG retrieval pipeline as ONE relational plan: chunk the corpus,
embed chunks AND queries with deterministic feature hashing, rank
chunks per query by exact cosine, return the top-k — the
retrieval-augmented-generation indexing/serving shape (chunk → embed →
ANN → rerank) expressed entirely in DataFrame ops with an exact DuckDB
oracle.

The "embedding" is a 16-dim feature-hash bag (dim = a pure integer
function of the token; weight = occurrence count) rather than a model
call — deliberately: it keeps every score an exact integer dot product
over IEEE-identical norms, so the whole pipeline is hash-verifiable.
Swapping in a real encoder changes ONE projection (the mapInPandas
batch-embed of multimodal.py / llm_gemm.py), none of the plan shape.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import rnd
from terasort_spark.registry import register

CHUNK_TOKENS = 32
DIMS = 16
TOP_K = 5
# chunk_id = doc_id * CHUNK_ID_STRIDE + chunk_index. The stride bounds
# tokens-per-document at CHUNK_ID_STRIDE * CHUNK_TOKENS (32M tokens) —
# beyond any single document; the old 1000 stride silently collided at
# >= 32k tokens/doc (r6 ADVICE). doc_id * 1e6 stays far under int64.
CHUNK_ID_STRIDE = 1_000_000

# The fixed query set (a serving workload is a stream of these; three
# literals keep the declared query deterministic).
RAG_QUERIES = (
    (0, "spark sort merge join shuffle"),
    (1, "stream window batch late data"),
    (2, "customer order line part price"),
)


def dim_sql(tok: str) -> str:
    """Feature-hash dimension: pure integer function of the token,
    identical text in Spark SQL and DuckDB."""
    return f"((ascii(substr({tok}, 1, 1)) * 31 + length({tok})) % {DIMS})"


def _queries_sql() -> str:
    rows = ", ".join(f"({qid}, '{text}')" for qid, text in RAG_QUERIES)
    return f"(VALUES {rows}) AS q(query_id, qtext)"


@register(
    "pipeline_rag_retrieval",
    oracle=f"""
WITH doc_toks AS (
    SELECT doc_id, toks[i.i] AS tok, i.i AS ord
    FROM (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                           x -> length(x) > 0) AS toks
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), unnest(generate_series(1, len(toks))) AS i(i)
),
chunk_vec AS (
    SELECT doc_id * {CHUNK_ID_STRIDE}
               + CAST((ord - 1) // {CHUNK_TOKENS} AS BIGINT) AS chunk_id,
           {dim_sql("tok")} AS dim, count(*) AS w
    FROM doc_toks GROUP BY 1, 2
),
chunk_norm AS (
    SELECT chunk_id, sum(w * w) AS cc FROM chunk_vec GROUP BY chunk_id
),
q_toks AS (
    SELECT query_id, u.tok
    FROM {_queries_sql()}, unnest(string_split(qtext, ' ')) AS u(tok)
),
q_vec AS (
    SELECT query_id, {dim_sql("tok")} AS dim, count(*) AS w
    FROM q_toks GROUP BY 1, 2
),
q_norm AS (
    SELECT query_id, sum(w * w) AS qq FROM q_vec GROUP BY query_id
),
dots AS (
    SELECT q.query_id, c.chunk_id, sum(q.w * c.w) AS dot
    FROM q_vec q JOIN chunk_vec c USING (dim)
    GROUP BY q.query_id, c.chunk_id
),
scored AS (
    SELECT d.query_id, d.chunk_id,
           CAST(d.dot AS DOUBLE) / (sqrt(qn.qq) * sqrt(cn.cc)) AS cos
    FROM dots d
    JOIN q_norm qn USING (query_id)
    JOIN chunk_norm cn USING (chunk_id)
),
ranked AS (
    SELECT query_id, chunk_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, chunk_id) AS rank
    FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, chunk_id,
       CAST(rank AS BIGINT) AS rank,
       floor(cos * 10000 + 0.5) / 10000 AS cosine
FROM ranked WHERE rank <= {TOP_K}
""",
)
def pipeline_rag_retrieval(spark, sf_dir):
    """Chunk → feature-hash embed → exact cosine top-k per query.

    Scale: chunking + hashing is scan-stage codegen over one
    posexplode; chunk vectors are one groupBy keyed by (chunk_id, dim);
    the query side is a |queries|x{DIMS} broadcast, so the dot-product
    "join" is a broadcast equi-join on dim followed by one groupBy
    keyed by (query_id, chunk_id). The constant rank <= {TOP_K} filter
    activates WindowGroupLimit, so per-query state is k-bounded
    map-side even though query_id is low-cardinality — the same bound
    an ANN serving tier guarantees. Brute-force scoring is the declared
    baseline; the bucketed scale path is sim_cosine_ivf/pq/mrl."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: F.length(t) > 0)
    exploded = d.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    dim = F.expr(dim_sql("tok"))
    chunk_vec = (
        exploded.select(
            (
                F.col("doc_id") * CHUNK_ID_STRIDE
                + (F.col("pos") / CHUNK_TOKENS).cast("bigint")
            ).alias("chunk_id"),
            dim.alias("dim"),
        )
        .groupBy("chunk_id", "dim")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    chunk_norm = chunk_vec.groupBy("chunk_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("cc")
    )
    q = spark.createDataFrame(list(RAG_QUERIES), "query_id bigint, qtext string")
    q_vec = (
        q.select("query_id", F.explode(F.split("qtext", " ")).alias("tok"))
        .select("query_id", dim.alias("dim"))
        .groupBy("query_id", "dim")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    q_norm = q_vec.groupBy("query_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("qq")
    )
    dots = (
        chunk_vec.join(
            F.broadcast(q_vec.select("query_id", "dim", F.col("w").alias("qw"))),
            "dim",
        )
        .groupBy("query_id", "chunk_id")
        .agg(F.sum(F.col("qw") * F.col("w")).alias("dot"))
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("qq")) * F.sqrt(F.col("cc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "chunk_id")
    return (
        dots.join(F.broadcast(q_norm), "query_id")
        .join(chunk_norm, "chunk_id")
        .select("query_id", "chunk_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "chunk_id",
            F.col("rank").cast("bigint").alias("rank"),
            rnd(F.col("cos"), "cosine"),
        )
    )


@register(
    "win_gaps_islands",
    oracle="""
WITH days AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
),
grp AS (
    SELECT user_id, day,
           day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                      AS INTEGER) AS island
    FROM days
),
islands AS (
    SELECT user_id, island, count(*) AS len
    FROM grp GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(sum(len) AS BIGINT) AS active_days
FROM islands GROUP BY user_id
""",
)
def win_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: per user, collapse distinct activity days into
    runs of consecutive days (day minus its per-user rank is constant
    within a run — the classic SQL islands trick), reporting streak
    count, longest streak and total active days — the engagement-streak
    metric every activity dashboard computes.

    Scale: distinct days is one (user_id, day)-keyed aggregation; the
    rank window and both rollups are partitioned by user_id —
    high-cardinality, bounded per-user state. No self-join over the
    event log (the naive day-to-next-day join would be quadratic in
    active days)."""
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("island"),
    )
    islands = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.max("len").cast("bigint").alias("longest_streak"),
        F.sum("len").cast("bigint").alias("active_days"),
    )
