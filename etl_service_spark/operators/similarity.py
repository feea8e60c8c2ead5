"""Similarity search over an embedding column (array<float>).

Two paths, as a 100 TB pipeline needs both:

- ``cosine_topk_staged`` — brute-force exact top-k: broadcast the
  (small) query set against the full corpus; one map-side pass + a
  per-query top-k. Baseline and ground truth.
- ``lsh_ann_staged``     — random-hyperplane (sign) LSH: 12
  deterministic hyperplanes → 12-bit bucket; exact cosine only WITHIN
  buckets. Cost drops from O(Q·N) to O(collisions); on a cluster the
  bucket id is the shuffle key, so each bucket is processed co-located.

Each Spark path is checked against the DuckDB oracle its ``*_sql``
builder renders. Determinism: the oracle's dot product is an EXPLICIT
64-term left-associated expression chain, and the Arrow kernels replay
the identical IEEE-754 operation sequence, so cosine values are
bit-identical and no tolerance is needed. That sequence has exactly
two definitions: ``np_norms`` (per-row norms) and ``np_dots`` (all-pairs
dot products); every kernel here calls them rather than writing the
chain out. The hyperplane coefficients come from an integer LCG, exact
in both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions import portable as P

DIM = 64


def np_norms(m):
    """Per-row vector norms via the LEFT-ASSOCIATED accumulation chain
    — replays the SQL `_norm` op order exactly (each step correctly
    rounded per IEEE 754, same sequence), so kernel cosines are
    bit-identical to the oracle. Single definition, with
    :func:`np_dots` as its other half: the kernels in this file all
    call these two (a diverging copy would silently break oracle
    parity)."""
    import numpy as np

    acc = m[:, 0] * m[:, 0]
    for i in range(1, DIM):
        acc = acc + m[:, i] * m[:, i]
    return np.sqrt(acc)


def np_dots(a, b):
    """The ``len(a) x len(b)`` dot products via the same left-associated
    chain as the SQL `_dot`: one outer-product accumulation per term is
    one correctly-rounded multiply + add per pair (multiplication is
    commutative, so operand order per term is irrelevant), without
    gathering O(pairs x DIM) intermediates."""
    import numpy as np

    acc = np.multiply.outer(a[:, 0], b[:, 0])
    for i in range(1, DIM):
        acc += np.multiply.outer(a[:, i], b[:, i])
    return acc


def _id_matrix(pdf):
    """A batch's (int64 vec_id, float64 ``len x DIM`` embedding
    matrix); the f32 → f64 widening is exact."""
    import numpy as np

    m = np.array(list(pdf["embedding"]), dtype=np.float64).reshape(len(pdf), DIM)
    return pdf["vec_id"].to_numpy(dtype=np.int64), m


def _query_vectors(emb: DataFrame, n: int):
    """The query (or centroid) set the broadcast kernels score against:
    the vectors with ``vec_id < n`` — the SQL twins' ``WHERE vec_id <
    n`` — collected to the driver in vec_id order as (int64 ids,
    float64 ``n x DIM`` matrix)."""
    import numpy as np

    rows = sorted(emb.filter(f"vec_id < {n}").collect(), key=lambda r: r.vec_id)
    m = np.array([r.embedding for r in rows], dtype=np.float64).reshape(len(rows), DIM)
    return np.array([r.vec_id for r in rows], dtype=np.int64), m


def _partition_topk(batches, ids_q, k: int, score, col: str):
    """One partition's top-k candidates per query under the oracle's
    total order (score DESC, n_id ASC), merged batch by batch:
    ``score(pdf)`` returns a batch's (n_ids, ``len(ids_q) x n``
    scores), and a query never lists itself (``n_id <> q_id``, like
    the SQL joins). Any global top-k row is in its partition's local
    top-k, so the final window ranks k·Q·partitions rows, never Q·N.
    Spark and DuckDB rank NaN as GREATEST under DESC (a zero-norm
    embedding yields a NaN cosine), but lexsort on -score would sort
    it last — so NaN maps to -inf in the key while the candidates keep
    the NaN itself."""
    import numpy as np
    import pandas as pd

    cand_ids = [np.empty(0, dtype=np.int64) for _ in ids_q]
    cand_s = [np.empty(0, dtype=np.float64) for _ in ids_q]
    for pdf in batches:
        if not len(pdf):
            continue
        ids, s = score(pdf)
        for qi, q_id in enumerate(ids_q):
            keep = ids != q_id
            all_ids = np.concatenate([cand_ids[qi], ids[keep]])
            all_s = np.concatenate([cand_s[qi], s[qi][keep]])
            key = -all_s
            key[np.isnan(key)] = -np.inf
            order = np.lexsort((all_ids, key))[:k]  # last key is primary
            cand_ids[qi], cand_s[qi] = all_ids[order], all_s[order]
    return pd.DataFrame(
        {
            "q_id": np.repeat(ids_q, [len(c) for c in cand_ids]),
            "n_id": np.concatenate([np.empty(0, dtype=np.int64), *cand_ids]),
            col: np.concatenate([np.empty(0, dtype=np.float64), *cand_s]),
        }
    )


def _dot(a: str, b: str, *, one_based: bool) -> str:
    """Explicit left-associated dot-product chain. Spark arrays are
    0-based, DuckDB lists 1-based."""
    off = 1 if one_based else 0
    return " + ".join(
        f"CAST({a}[{i + off}] AS DOUBLE) * CAST({b}[{i + off}] AS DOUBLE)"
        for i in range(DIM)
    )


def _norm(a: str, *, one_based: bool) -> str:
    return f"sqrt({_dot(a, a, one_based=one_based)})"


def _hyperplane(j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from an integer LCG —
    reproducible as an exact literal list in any engine."""
    out = []
    for d in range(DIM):
        x = (1103515245 * (j * DIM + d + 1) + 12345) % 2147483648
        out.append(x / 2147483648.0 - 0.5)
    return out


def _plane_dot(vec: str, j: int, *, one_based: bool) -> str:
    off = 1 if one_based else 0
    plane = _hyperplane(j)
    return " + ".join(
        f"CAST({vec}[{i + off}] AS DOUBLE) * {plane[i]!r}" for i in range(DIM)
    )


# ------------------------------------------------------ brute-force top-k
TOPK_TEMPLATE = """
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qv FROM {view} WHERE vec_id < {n_queries}
),
scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         ({dot}) / (({qnorm}) * ({enorm})) AS cosine
  FROM q JOIN {view} e ON e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, n_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
  FROM scored
)
SELECT q_id, n_id, rnk, cosine FROM ranked WHERE rnk <= {k}
"""


def cosine_topk_sql(k: int = 10, n_queries: int = 5, view: str = "embeddings") -> str:
    return P.duck_sql(
        TOPK_TEMPLATE,
        dot=_dot("qv", "e.embedding", one_based=True),
        qnorm=_norm("qv", one_based=True),
        enorm=_norm("e.embedding", one_based=True),
        view=view,
        k=str(k),
        n_queries=str(n_queries),
    )


def cosine_topk_staged(
    spark: SparkSession, k: int = 10, n_queries: int = 5, view: str = "embeddings"
) -> DataFrame:
    """Spark path for cosine_topk: the tiny query-vector set broadcasts
    into an Arrow kernel that replays the oracle's exact FP chain
    (f32→f64 widening, left-associated 64-term accumulation,
    dot/(qn·en)) against each corpus partition and emits only that
    partition's top-k per query under the oracle's total order
    (cosine DESC, n_id ASC) — any global top-k row is necessarily in
    its partition's local top-k, so the final window ranks
    k·Q·partitions candidate rows instead of shuffling all Q·N scores.
    The SQL twin evaluates the 64-term chain as an interpreted
    projection over Q·N rows (~3x slower at sf0.1, worse with corpus
    growth); values are bit-identical, so ties break identically."""
    import numpy as np

    emb = spark.table(view).select("vec_id", "embedding")
    q_ids, q_m = _query_vectors(emb, n_queries)
    bc = spark.sparkContext.broadcast((q_ids, q_m, np_norms(q_m)))

    def kernel(batches):
        ids_q, m_q, nrm_q = bc.value

        def score(pdf):
            ids, m = _id_matrix(pdf)
            return ids, np_dots(m_q, m) / np.multiply.outer(nrm_q, np_norms(m))

        yield _partition_topk(batches, ids_q, k, score, "cosine")

    scored = P.fan_out(emb, light=True).mapInPandas(
        kernel, schema="q_id bigint, n_id bigint, cosine double"
    )
    # pandas->Arrow serialization maps the kernel's NaN cosines to SQL
    # NULL (pandas uses NaN as its NA sentinel); the kernel never emits
    # a legitimate NULL, so restore NULL -> NaN here and rank on the
    # restored value — NaN is GREATEST under DESC in both Spark and
    # DuckDB, so zero-norm candidates rank first, like the oracle.
    return spark.sql(
        f"""
SELECT q_id, n_id, rnk, cosine FROM (
  SELECT q_id, n_id, coalesce(cosine, CAST('NaN' AS DOUBLE)) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q_id
           ORDER BY coalesce(cosine, CAST('NaN' AS DOUBLE)) DESC, n_id) AS rnk
  FROM {{scored}}
) WHERE rnk <= {k}
""",
        scored=scored,
    )


# ---------------------------------------------------- embedding near-dup
NEARDUP_TEMPLATE = """
WITH n AS (
  SELECT vec_id, embedding, ({norm}) AS nrm FROM {view}
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ({dot}) / (a.nrm * b.nrm) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE ({dot}) / (a.nrm * b.nrm) >= {tau}
"""


def embedding_neardup_sql(tau: float = 0.4, view: str = "embeddings") -> str:
    """Exact all-pairs cosine near-dup (the correctness baseline; the
    LSH path below is the scale path for the same question)."""
    return P.duck_sql(
        NEARDUP_TEMPLATE,
        dot=_dot("a.embedding", "b.embedding", one_based=True),
        norm=_norm("embedding", one_based=True),
        view=view,
        tau=str(tau),
    )


def _neardup_blocks(n: int, rows_per_block: int) -> int:
    """Block count for the block-pair kernels: purely size-driven,
    ceil(n / rows_per_block). Round 12 REMOVES the round-11
    parallelism floor (B ≈ 2√P so B(B+1)/2 block pairs ≥ 2P): it was
    tuned on a steal-contaminated box and the driver bench refuted it
    — emb_cosine_neardup 1.07 → 2.57 s at 32 cores while reading
    1.26 s at 8 (anti-scaling). At n = 2,000 the extra blocks only buy
    ~(B+1)-way row replication, more Arrow worker round trips and 66
    tiny applyInPandas groups. A size gate ("floor only when
    n > 4·P·rows_per_block") was considered and is provably dead code:
    past that gate size_blocks > 4P ≥ 2√P already exceeds the floor —
    so the honest form is no floor at all. Whenever more parallelism
    is genuinely wanted at a given mass, lower rows_per_block (the
    work-per-block knob), which scales both B and the kernel batch
    together. Blocking never changes values: every unordered pair
    lands in exactly one group and the per-pair FP chain is
    block-independent."""
    return max(1, -(-n // max(1, rows_per_block)))


def _block_fan(
    spark: SparkSession, emb: DataFrame, view: str, rows_per_block: int,
    n_blocks: int | None,
):
    """The block-pair decomposition shared by the near-dup kernels:
    (n_blocks, ``emb`` with its block id ``blk``, the fan-out relation
    (blk, ba, bb, role)). Block ``blk`` joins pair (ba, bb) as role 0
    (first block) or role 1 (second); a diagonal pair (ba == bb)
    carries its block under BOTH roles and :func:`_block_pair_hits`
    dedups the doubled orientation. ``n_blocks`` defaults to the
    size-driven count over a scalar ``count()`` — no embedding rows
    leave the executors — memoized per (session, view, files) like the
    staging views."""
    if n_blocks is None:
        n = P.memo(spark, "neardup_count", (view,), emb, lambda _key: emb.count())
        n_blocks = _neardup_blocks(n, rows_per_block)
    rel = [
        (blk, a, b, 0 if blk == a else 1)
        for a in range(n_blocks)
        for b in range(a, n_blocks)
        for blk in {a, b}
    ]
    rel += [(a, a, a, 1) for a in range(n_blocks)]
    fan = spark.createDataFrame(rel, "blk int, ba int, bb int, role int")
    blk = emb.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int"))
    return n_blocks, blk, fan


def _block_pair_hits(pdf, tau: float, diagonal: bool):
    """One block-pair group's near-dup pairs as (vec_a, vec_b, cosine)
    arrays: every role-0 row against every role-1 row, kept when
    ``cos >= tau``. Zero-norm vectors give NaN, and ``NaN >= tau`` is
    False, so the pair is DROPPED — exactly what the DuckDB oracle does
    (0/0 -> NULL there, and NULL fails the predicate); the Spark-SQL
    chain would raise DIVIDE_BY_ZERO under ANSI mode instead (pinned by
    test_neardup_kernel_drops_zero_norm_like_oracle). A diagonal group
    holds each unordered pair in both orientations, so only a < b is
    kept; off-diagonal groups hold it once (blocks are disjoint). Ids
    come out as (min, max), the oracle's a.vec_id < b.vec_id."""
    import numpy as np

    ids_a, m_a = _id_matrix(pdf[pdf["role"] == 0])
    ids_b, m_b = _id_matrix(pdf[pdf["role"] == 1])
    cos = np_dots(m_a, m_b) / np.multiply.outer(np_norms(m_a), np_norms(m_b))
    mask = cos >= tau
    if diagonal:
        mask &= ids_a[:, None] < ids_b[None, :]
    ia, ib = np.nonzero(mask)
    va, vb = ids_a[ia], ids_b[ib]
    return np.minimum(va, vb), np.maximum(va, vb), cos[ia, ib]


def embedding_neardup_pandas(
    spark: SparkSession,
    tau: float = 0.4,
    view: str = "embeddings",
    rows_per_block: int = 700,
    n_blocks: int | None = None,
) -> DataFrame:
    """All-pairs cosine near-dup, Arrow-batched numpy execution over a
    block-pair decomposition — no driver materialization anywhere.

    Same values as :func:`embedding_neardup_sql` to the last bit: numpy
    replays the oracle's EXACT IEEE-754 operation sequence — float32
    inputs widened to float64 (exact), the left-associated 64-term
    multiply-add chain of :func:`np_dots`, then dot/(nrm_a*nrm_b)
    (:func:`_block_pair_hits`). The giant explicit SQL chain
    defeats whole-stage codegen (Spark falls back to interpreted
    projection over N² rows, ~60x slower); this path keeps the N² loop
    in BLAS-grade vector code.

    Scale shape: rows hash into B = ceil(N / rows_per_block) blocks by
    vec_id (N from a scalar count — the only driver-side value; pass
    ``n_blocks`` explicitly to skip even that job); the
    (blk, ba, bb, role) fan-out relation — B·(B+2) int rows, never
    embeddings — is the broadcast side of ONE join over ONE scan, so
    each row is replicated to the block pairs its block participates in
    (~B+1 copies; shuffle volume N·(B+1) rows = N²/rows_per_block — the
    pair-space replication every exact all-pairs algorithm pays, here
    spread across executors with bounded ~2·rows_per_block group sizes
    instead of collected to the driver); groupBy(block-pair)
    .applyInPandas runs the dense kernel per pair of blocks. Compute is
    inherently quadratic: this stays the EXACT baseline, ``lsh_ann`` /
    ``ann_ivf`` are the linear scale paths for the same question.
    """
    import pandas as pd

    emb = spark.table(view).select("vec_id", "embedding")
    _n, blk, fan = _block_fan(spark, emb, view, rows_per_block, n_blocks)
    both = blk.join(F.broadcast(fan), "blk").select(
        "ba", "bb", "role", "vec_id", "embedding"
    )

    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def compute(pdf: "pd.DataFrame") -> "pd.DataFrame":
        diagonal = pdf["ba"].iat[0] == pdf["bb"].iat[0]
        va, vb, cos = _block_pair_hits(pdf, tau, diagonal)
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cosine": cos})

    return both.groupBy("ba", "bb").applyInPandas(compute, schema=out_schema)


# --------------------------------------------------------------- IVF ANN
IVF_TEMPLATE = """
WITH nv AS (
  SELECT vec_id, embedding, ({norm}) AS nrm FROM {view}
),
c AS (
  SELECT vec_id AS c_id, embedding AS cv, nrm AS cnrm FROM nv WHERE vec_id < {n_cells}
),
assign AS (
  SELECT v.vec_id, c.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ({adot}) / (v.nrm * c.cnrm) DESC, c.c_id
         ) AS rn
  FROM nv v JOIN c ON 1 = 1
),
cells AS (
  SELECT vec_id, c_id FROM assign WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS q_id, c_id FROM assign WHERE vec_id < {n_queries} AND rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT q.q_id, m.vec_id AS n_id
  FROM qprobe q JOIN cells m ON m.c_id = q.c_id AND m.vec_id <> q.q_id
),
ranked AS (
  SELECT cand.q_id, cand.n_id,
         ({sdot}) / (qv.nrm * nv2.nrm) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY cand.q_id
           ORDER BY ({sdot}) / (qv.nrm * nv2.nrm) DESC, cand.n_id
         ) AS rnk
  FROM cand
  JOIN nv qv ON qv.vec_id = cand.q_id
  JOIN nv nv2 ON nv2.vec_id = cand.n_id
)
SELECT q_id, n_id, rnk, cosine FROM ranked WHERE rnk <= {k}
"""


def ivf_ann_sql(
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 10,
    n_queries: int = 5,
    view: str = "embeddings",
) -> str:
    """IVF-style ANN: coarse quantizer = the first ``n_cells`` vectors
    (deterministic, no RNG → exactly reproducible in the oracle), each
    vector assigned to its nearest centroid's inverted list, queries
    probe their ``nprobe`` nearest cells, exact cosine re-ranks within
    the probed lists only.

    Scale shape: the centroid table is tiny → broadcast; assignment is
    one map-side pass; the probe join shuffles on c_id so each inverted
    list is processed co-located — candidate cost is O(probed lists),
    never O(N) per query. Recall is tunable via nprobe."""
    return P.duck_sql(
        IVF_TEMPLATE,
        norm=_norm("embedding", one_based=True),
        adot=_dot("v.embedding", "c.cv", one_based=True),
        sdot=_dot("qv.embedding", "nv2.embedding", one_based=True),
        view=view,
        n_cells=str(n_cells),
        nprobe=str(nprobe),
        k=str(k),
        n_queries=str(n_queries),
    )


def ivf_assignment_rel(
    spark: SparkSession, n_cells: int = 16, view: str = "embeddings"
) -> str:
    """Stage (or fetch) the IVF centroid-assignment relation
    (vec_id, c_id, rn, embedding, nrm): the Arrow-kernel centroid
    ranking with the centroid matrix broadcast, replaying the oracle's
    exact left-associated FP chains; norms and embeddings are carried
    into the stage so downstream joins never re-evaluate the 64-term
    chains. SHARED by ann_ivf_topk and ann_ivf_nprobe_sweep — the
    single owner of the "ivf_assign" stage key."""
    def build_assignment():
        # centroid collect + broadcast only run on a cache miss: on a
        # hit the staged assignment relation already has everything.
        import numpy as np
        import pandas as pd

        emb = spark.table(view).select("vec_id", "embedding")
        c_ids, c_m = _query_vectors(emb, n_cells)
        bc = spark.sparkContext.broadcast((c_ids, c_m, np_norms(c_m)))

        def kernel(batches):
            ids_c, m_c, nrm_c = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                vid, m = _id_matrix(pdf)
                nrm = np_norms(m)
                cos = np_dots(m, m_c) / np.multiply.outer(nrm, nrm_c)
                # rank centroids per vector: cos DESC, then c_id ASC.
                # ids_c is sorted ascending, so a stable argsort on -cos
                # reproduces the SQL tie-break exactly.
                order = np.argsort(-cos, axis=1, kind="stable")
                ranks = np.empty_like(order)
                rows = np.arange(cos.shape[0])[:, None]
                ranks[rows, order] = np.arange(cos.shape[1])[None, :] + 1
                n = cos.shape[1]
                # embedding rides along ONLY on the rn=1 row (one per
                # vector) so the stage carries each vector once, not
                # once per centroid
                emb_list = list(pdf["embedding"])
                flat_rn = ranks.ravel()
                emb_col = [
                    emb_list[idx // n] if flat_rn[idx] == 1 else None
                    for idx in range(len(flat_rn))
                ]
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(vid, n),
                        "c_id": np.tile(ids_c, len(vid)),
                        "rn": flat_rn,
                        "embedding": emb_col,
                        "nrm": np.repeat(nrm, n),
                    }
                )

        return P.fan_out(emb, light=True).mapInPandas(
            kernel,
            schema="vec_id bigint, c_id bigint, rn int, embedding array<float>, nrm double",
        )

    return P.stage_view(spark, build_assignment, "ivf_assign", view, (n_cells,))


def ivf_ann_staged(
    spark: SparkSession,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 10,
    n_queries: int = 5,
    view: str = "embeddings",
) -> DataFrame:
    """Spark path for ivf_ann: probe join + exact re-rank as
    declarative SQL over the staged assignment relation
    (ivf_assignment_rel). Tie-breaks (cos DESC, c_id) are identical to
    the oracle because the doubles are identical."""
    name = ivf_assignment_rel(spark, n_cells, view)
    sdot = _dot("qv.embedding", "nv2.embedding", one_based=False)
    return spark.sql(
        f"""
WITH nv AS (
  SELECT vec_id, embedding, nrm FROM {name} WHERE rn = 1
),
cells AS (
  SELECT vec_id, c_id FROM {name} WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS q_id, c_id FROM {name} WHERE vec_id < {n_queries} AND rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT q.q_id, m.vec_id AS n_id
  FROM qprobe q JOIN cells m ON m.c_id = q.c_id AND m.vec_id <> q.q_id
),
ranked AS (
  SELECT cand.q_id, cand.n_id,
         ({sdot}) / (qv.nrm * nv2.nrm) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY cand.q_id
           ORDER BY ({sdot}) / (qv.nrm * nv2.nrm) DESC, cand.n_id
         ) AS rnk
  FROM cand
  JOIN nv qv ON qv.vec_id = cand.q_id
  JOIN nv nv2 ON nv2.vec_id = cand.n_id
)
SELECT q_id, n_id, rnk, cosine FROM ranked WHERE rnk <= {k}
"""
    )


# ------------------------------------------- incremental IVF maintenance
# Round-4 VERDICT #5: the dedup plane had an incremental path (persisted
# fingerprints/band keys); the ANN plane rebuilt IVF from scratch every
# time. Here the coarse quantizer (Lloyd-refined centroids, kept as the
# UN-divided exact (j, dim, s, n) relation) is a SNAPSHOT TABLE; each
# arriving batch assigns ONLY its own vectors against the persisted
# centroids and MERGEs into the assignment table; the drift gauge
# compares the accumulated incremental assignments against a full
# rebuild — the number that tells an operator when re-training pays.

_IVF_INC_BASE = "vec_id % 8 < 6"  # the simulated pre-existing corpus


def _ivf_e_cte(elem: str, src: str, where: str = "") -> str:
    """Quantized (vec_id, dim, v) explode — the kmeans grid (FLOOR of
    double*1e4, exact in both engines)."""
    return f"""
  SELECT vec_id, i AS dim,
         CAST(FLOOR(CAST({elem} AS DOUBLE) * 10000) AS BIGINT) AS v
  FROM {src} CROSS JOIN dims{where}"""


def _ivf_dist_sql(crel: str, big: str, where: str = "", hint: str = "") -> str:
    return f"""
  SELECT {hint}e.vec_id, c.j,
         SUM(CAST((c.n * e.v - c.s) AS {big}) * (c.n * e.v - c.s)) AS dist_num,
         MAX(c.n) AS n
  FROM e JOIN {crel} c ON e.dim = c.dim{where}
  GROUP BY e.vec_id, c.j"""


def _ivf_assign_sql(drel: str) -> str:
    return f"""
  SELECT vec_id, j FROM (
    SELECT vec_id, j,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id
             ORDER BY CAST(dist_num AS DOUBLE) / CAST(n * n AS DOUBLE), j
           ) AS rk
    FROM {drel}
  ) r WHERE rk = 1"""


def _ivf_refine_sql(arel: str, where: str = "") -> str:
    return f"""
  SELECT a.j, e.dim, CAST(SUM(e.v) AS BIGINT) AS s, COUNT(*) AS n
  FROM {arel} a JOIN e ON e.vec_id = a.vec_id{where}
  GROUP BY a.j, e.dim"""


def ivf_incremental_drift_sql(k: int = 4, view: str = "embeddings") -> str:
    """Single-statement DuckDB oracle of the incremental-vs-rebuild
    drift gauge, for the PERSISTED Spark path in
    :func:`ivf_incremental_staged` (stateless unroll vs real state,
    same values). Base corpus = ``vec_id % 8 < 6``; persisted index =
    one Lloyd refinement over the base; rebuild = the same refinement
    over the full corpus. Per stale cell: member counts (base /
    incrementally-added), vectors whose rebuilt cell differs, and
    churn_permille — the re-train trigger metric.

    The CTEs are MATERIALIZED (e feeds four distance
    aggregates; default inlining would replay the explode per
    reference — the kcore-oracle failure class)."""
    big = _KM_DUCK_BIG
    base_w = f" WHERE e.{_IVF_INC_BASE}"
    cte = [
        f"dims AS ({_KM_DUCK_DIMS})",
        f"e AS MATERIALIZED ({_ivf_e_cte(_KM_DUCK_ELEM, view)})",
        f"c0 AS (SELECT vec_id AS j, dim, v AS s, CAST(1 AS BIGINT) AS n"
        f" FROM e WHERE vec_id < {k})",
        # persisted index: refine over the base corpus only
        f"db AS MATERIALIZED ({_ivf_dist_sql('c0', big, base_w)})",
        f"ab AS ({_ivf_assign_sql('db')})",
        f"cb AS MATERIALIZED ({_ivf_refine_sql('ab', base_w)})",
        # full rebuild: the same refinement over everything
        f"df_ AS MATERIALIZED ({_ivf_dist_sql('c0', big)})",
        f"af AS ({_ivf_assign_sql('df_')})",
        f"cf AS MATERIALIZED ({_ivf_refine_sql('af')})",
        # assignments of the whole corpus against each quantizer
        f"dinc AS MATERIALIZED ({_ivf_dist_sql('cb', big)})",
        f"ainc AS ({_ivf_assign_sql('dinc')})",
        f"dreb AS MATERIALIZED ({_ivf_dist_sql('cf', big)})",
        f"areb AS ({_ivf_assign_sql('dreb')})",
    ]
    return (
        "WITH " + ",\n".join(cte)
        + """
SELECT i.j AS cell,
       CAST(SUM(CASE WHEN i.vec_id % 8 < 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(SUM(CASE WHEN i.vec_id % 8 >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN i.j <> r.j THEN 1 ELSE 0 END) AS BIGINT) AS n_churn,
       CAST(SUM(CASE WHEN i.j <> r.j THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT)
         AS churn_permille
FROM ainc i JOIN areb r ON i.vec_id = r.vec_id
GROUP BY i.j"""
    )


def ivf_index_build(
    spark: SparkSession,
    index_dir: str,
    k: int = 4,
    view: str = "embeddings",
    base_filter: str | None = None,
    big_t: str | None = None,
) -> int:
    """Train the coarse quantizer (one Lloyd refinement, integer-exact
    (j, dim, s, n) form) over ``view`` (optionally filtered) and COMMIT
    it as a snapshot table — k*64 rows, the index metadata an
    incremental pipeline keeps across batches. Returns the version."""
    from ..sources import snapshots

    big = big_t or _KM_SPARK_BIG
    where = f" WHERE {base_filter}" if base_filter else ""
    base_w = f" WHERE e.{base_filter}" if base_filter else ""
    sql = (
        "WITH "
        + ",\n".join(
            [
                f"dims AS ({_KM_SPARK_DIMS})",
                f"e AS ({_ivf_e_cte(_KM_SPARK_ELEM, view, where)})",
                f"c0 AS (SELECT vec_id AS j, dim, v AS s, CAST(1 AS BIGINT) AS n"
                f" FROM e WHERE vec_id < {k})",
                f"d1 AS ({_ivf_dist_sql('c0', big)})",
                f"a1 AS ({_ivf_assign_sql('d1')})",
                f"c1 AS ({_ivf_refine_sql('a1')})",
            ]
        )
        + "\nSELECT j, dim, s, n FROM c1"
    )
    # k*64 rows — one file, not one per shuffle partition
    return snapshots.commit_overwrite(spark.sql(sql).coalesce(1), index_dir)


def ivf_index_assign(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    big_t: str | None = None,
) -> DataFrame:
    """Assign ONLY ``batch``'s vectors against the PERSISTED centroids:
    the k*64-row snapshot is broadcast, the distance argmin is the same
    integer-exact kernel as training. Per-batch cost tracks the batch,
    never the corpus — the incremental half of the maintenance loop.
    Both relations are formatter arguments, so no temp view outlives
    the call; the CTE text must therefore carry no literal braces."""
    from ..sources import snapshots

    big = big_t or _KM_SPARK_BIG
    return spark.sql(
        "WITH "
        + ",\n".join(
            [
                f"dims AS ({_KM_SPARK_DIMS})",
                f"e AS ({_ivf_e_cte(_KM_SPARK_ELEM, '{bv}')})",
                f"d AS ({_ivf_dist_sql('{cv}', big, hint='/*+ BROADCAST(c) */ ')})",
            ]
        )
        + f"\nSELECT vec_id, j FROM ({_ivf_assign_sql('d')}) z",
        bv=batch.select("vec_id", "embedding"),
        cv=snapshots.read_snapshot(spark, index_dir),
    )


def ivf_index_append_batch(
    spark: SparkSession,
    index_dir: str,
    assign_dir: str,
    batch: DataFrame,
    big_t: str | None = None,
) -> int:
    """One maintenance tick: assign the batch against the persisted
    index and fold it into the assignment snapshot table. MERGE keyed
    on vec_id makes replays convergent (assignment is deterministic, so
    a replayed batch merges value-identical rows) — the same
    at-least-once contract as streaming/merge_stream."""
    from ..sources import snapshots

    # One sorted file per tick: the assignment relation is (vec_id, j)
    # — batch-sized, two int64 columns — and MERGE prunes by per-file
    # vec_id footer ranges, so few tight-range files beat 32 shuffle-
    # partition shards (footer reads and rewrite fan-out both track the
    # file count). A real deployment sizes this to a target file size,
    # not literally 1.
    assigned = ivf_index_assign(spark, index_dir, batch, big_t).sort("vec_id").coalesce(1)
    if not snapshots.list_versions(assign_dir):
        return snapshots.commit_append(assigned, assign_dir)
    return snapshots.merge_upsert(spark, assign_dir, assigned, key="vec_id")


def _ivf_state_dir(spark, prefix: str) -> str:
    """Snapshot-state directory with a LIFECYCLE (round-5 advisor
    finding: bare mkdtemp per (session, corpus) key accumulated
    orphaned /tmp dirs across sessions). Rooted under the session
    staging dir when one is configured (its owner already cleans it
    up); otherwise a mkdtemp registered for atexit removal."""
    import atexit
    import shutil as _shutil
    import tempfile
    import uuid as _uuid

    base = P.staging_dir(spark)
    if base:
        d = os.path.join(base, f"{prefix}{_uuid.uuid4().hex[:10]}")
        os.makedirs(d, exist_ok=True)
        return d
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(_shutil.rmtree, d, ignore_errors=True)
    return d


def ivf_incremental_staged(
    spark: SparkSession, k: int = 4, view: str = "embeddings",
    big_t: str | None = None,
) -> DataFrame:
    """The REAL persisted-state execution path behind the
    ``ann_ivf_incremental`` registry entry: build the index snapshot on
    the base corpus, feed the remaining vectors through TWO incremental
    ``ivf_index_append_batch`` ticks, full-rebuild a second index over
    everything, and emit the per-cell churn report — value-identical to
    :func:`ivf_incremental_drift_sql`'s stateless DuckDB unroll, which
    is exactly the point: the stateful path is oracle-checked."""
    from ..sources import snapshots

    def build(_key):
        index_dir = _ivf_state_dir(spark, "etl_ivf_idx_")
        assign_dir = _ivf_state_dir(spark, "etl_ivf_asg_")
        rebuild_dir = _ivf_state_dir(spark, "etl_ivf_reb_")
        ivf_index_build(
            spark, index_dir, k=k, view=view, base_filter=_IVF_INC_BASE, big_t=big_t
        )
        base = spark.table(view).filter(_IVF_INC_BASE)
        ivf_index_append_batch(spark, index_dir, assign_dir, base, big_t)
        for m in (6, 7):  # two later arrivals
            ivf_index_append_batch(
                spark, index_dir, assign_dir,
                spark.table(view).filter(f"vec_id % 8 = {m}"), big_t,
            )
        ivf_index_build(spark, rebuild_dir, k=k, view=view, big_t=big_t)
        return index_dir, assign_dir, rebuild_dir

    _index_dir, assign_dir, rebuild_dir = P.memo(
        spark, "ivf_inc", (view, k), spark.table(view), build
    )

    return spark.sql(
        """
SELECT i.j AS cell,
       CAST(SUM(CASE WHEN i.vec_id % 8 < 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(SUM(CASE WHEN i.vec_id % 8 >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN i.j <> r.j THEN 1 ELSE 0 END) AS BIGINT) AS n_churn,
       CAST(SUM(CASE WHEN i.j <> r.j THEN 1 ELSE 0 END) * 1000 DIV COUNT(*) AS BIGINT)
         AS churn_permille
FROM {iv} i JOIN {rv} r ON i.vec_id = r.vec_id
GROUP BY i.j""",
        iv=snapshots.read_snapshot(spark, assign_dir),
        rv=ivf_index_assign(spark, rebuild_dir, spark.table(view), big_t),
    )


# --------------------------------------------------------------- LSH ANN
def _bucket_expr(vec: str, planes: int, *, one_based: bool) -> str:
    bits = [
        f"(CASE WHEN ({_plane_dot(vec, j, one_based=one_based)}) >= 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(planes)
    ]
    return " + ".join(bits)


LSH_TEMPLATE = """
WITH b AS (
  SELECT vec_id, embedding, ({bucket}) AS bucket, ({norm}) AS nrm FROM {view}
)
SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b, a.bucket,
       ({dot}) / (a.nrm * b2.nrm) AS cosine
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE ({dot}) / (a.nrm * b2.nrm) >= {tau}
"""


def lsh_ann_sql(planes: int = 12, tau: float = 0.2, view: str = "embeddings") -> str:
    return P.duck_sql(
        LSH_TEMPLATE,
        bucket=_bucket_expr("embedding", planes, one_based=True),
        norm=_norm("embedding", one_based=True),
        dot=_dot("a.embedding", "b2.embedding", one_based=True),
        view=view,
        tau=str(tau),
    )


def lsh_ann_staged(
    spark: SparkSession, planes: int = 12, tau: float = 0.2, view: str = "embeddings"
) -> DataFrame:
    """Spark execution path for lsh_ann: the bucket id + norm are
    computed ONCE per vector in an Arrow/numpy kernel that replays the
    oracle's exact FP sequence (left-associated plane dot per vector;
    the 12x64-term SQL chain is interpreted and, as a CTE referenced by
    both join sides, computed twice), then lineage-truncated so the
    equi-join on bucket only evaluates the cosine chain on collision
    pairs. Scale shape: one map-side pass + a shuffle keyed on bucket —
    each bucket's pair space is co-located."""
    import numpy as np
    import pandas as pd

    coef = np.array([_hyperplane(j) for j in range(planes)], dtype=np.float64)  # planes x DIM

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, m = _id_matrix(pdf)
            # bit j set iff the plane-j dot is >= 0; the bits are
            # distinct, so their sum is the bucket id
            above = (np_dots(m, coef) >= 0).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": pdf["embedding"],
                    "bucket": (above << np.arange(planes)).sum(axis=1),
                    "nrm": np_norms(m),
                }
            )

    name = P.stage_view(
        spark,
        lambda: P.fan_out(spark.table(view).select("vec_id", "embedding"), light=True).mapInPandas(
            kernel,
            schema="vec_id bigint, embedding array<float>, bucket bigint, nrm double",
        ),
        "lsh_buckets",
        view,
        (planes,),
    )
    dot = _dot("a.embedding", "b2.embedding", one_based=False)
    return spark.sql(
        f"""
SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b, a.bucket,
       ({dot}) / (a.nrm * b2.nrm) AS cosine
FROM {name} a JOIN {name} b2
  ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE ({dot}) / (a.nrm * b2.nrm) >= {tau}
"""
    )


# ------------------------------------------------- int8 quantization
def quantize_int8_sql(view: str = "embeddings") -> tuple[str, str]:
    """Per-vector symmetric int8 quantization — the standard 4x storage
    reduction for embedding tables (q_i = floor(v_i * 127/max|v|)).

    Cross-engine exactness: float32 components widen to float64 exactly;
    max|v| is a max over exact values; 127.0/mx and v*scale are single
    correctly-rounded IEEE-754 ops identical in both engines; FLOOR to
    BIGINT is exact. Output is the quantized vector's integer summary
    (sum/min/max checksum per vector) — a full value check without
    hashing 64-wide rows.

    Scale shape: one explode over dims (the dims relation is 64 rows,
    broadcast) + two hash aggregations keyed on vec_id — map-side
    combine, shuffle volume is rows x 3 integers, never the vectors.
    Zero vectors are excluded (scale undefined), mirrored in the oracle.
    """
    spark_dims = "SELECT CAST(id AS INT) AS i FROM range(64)"
    duck_dims = "SELECT range AS i FROM range(64)"
    spark_elem = "element_at(embedding, i + 1)"
    duck_elem = "embedding[i + 1]"

    def body(elem: str, dims: str) -> str:
        return f"""
WITH dims AS ({dims}),
e AS (
  SELECT vec_id, i, CAST({elem} AS DOUBLE) AS v
  FROM {view} CROSS JOIN dims
),
m AS (
  SELECT vec_id, MAX(ABS(v)) AS mx FROM e GROUP BY vec_id
),
qv AS (
  SELECT e.vec_id,
         CAST(FLOOR(e.v * (127.0 / m.mx)) AS BIGINT) AS q
  FROM e JOIN m ON m.vec_id = e.vec_id
  WHERE m.mx > 0
)
SELECT vec_id,
       CAST(SUM(q) AS BIGINT) AS q_sum,
       MIN(q) AS q_min,
       MAX(q) AS q_max,
       COUNT(*) AS n_dims
FROM qv
GROUP BY vec_id
"""

    return body(spark_elem, spark_dims), body(duck_elem, duck_dims)


# ------------------------------------------------------------- k-means
def kmeans_sql(k: int = 4, iters: int = 2, view: str = "embeddings") -> str:
    """Lloyd's k-means over the embedding column, ``iters`` iterations
    unrolled into ONE SQL statement (the oracle; Spark path:
    kmeans_staged) — a fixed iteration count needs no recursion, so the
    whole algorithm stays a single declarative plan and the oracle is a
    full value check (like PageRank in operators/graph.py).

    Cross-engine exactness: components are quantized once to integer
    1e-4 units (FLOOR(double*1e4) — floor and double multiply are both
    exact, avoiding decimal rounding-mode differences on float32
    expansions); centroids are kept UN-divided as (component sum s,
    member count n), so the distance argmin compares
    sum_d (n*v_d - s_d)^2 / n^2 — an exact BIGINT numerator with one
    correctly-rounded double division, bit-identical everywhere.
    Init is the first k vectors (deterministic). Ties break on
    centroid id.

    Scale shape per iteration: one (vec, centroid) distance aggregate
    over the dim-exploded relation — the centroid relation is k*64
    rows, always broadcast — then an argmin window per vector and a
    (centroid, dim) re-aggregation. The shuffles are all on vec_id or
    (j, dim); nothing ever materializes the O(N*k) pairs beyond the
    map-side partial aggregate. The squared-error sums accumulate in
    DECIMAL(38,0)/HUGEINT (the BIGINT summand overflows near ~3e4
    members per cluster)."""
    return _kmeans_body(_KM_DUCK_ELEM, _KM_DUCK_DIMS, _KM_DUCK_BIG, k, iters, view)


def _kmeans_body(elem: str, dims: str, big_t: str, k: int, iters: int, view: str) -> str:
    cte, cent, _assign = _kmeans_chain(elem, dims, k, iters, view, big_t)
    final = f"""
SELECT j, MAX(n) AS n_members,
       CAST(SUM(s) AS BIGINT) AS s_total,
       CAST(SUM(CAST(s AS {big_t}) * s) AS BIGINT) AS s_sq_total
FROM {cent}
GROUP BY j"""
    return "WITH " + ",\n".join(cte) + final


def kmeans_spark_sql(n_rows: int, k: int = 4, iters: int = 2, view: str = "embeddings") -> str:
    """Spark-side k-means SQL with the distance summand's integer type
    GATED on the table's row count (a metadata-only parquet read at the
    call site): cluster membership n is bounded by n_rows, and while
    256 * V^2 * n^2 < 2^63 (V = 1.3e4 quantized-component bound, the
    worst case of sum_64 (n*v - s)^2) the BIGINT summand provably
    cannot overflow — so small/medium tables keep whole-stage-codegen
    long arithmetic and only genuinely large tables pay for
    DECIMAL(38,0). Same result either way; the oracle stays HUGEINT."""
    big_t = "BIGINT" if n_rows < KM_BIGINT_SAFE_ROWS else _KM_SPARK_BIG
    return _kmeans_body(_KM_SPARK_ELEM, _KM_SPARK_DIMS, big_t, k, iters, view)


_KM_SPARK_ELEM = "element_at(embedding, i + 1)"
_KM_DUCK_ELEM = "embedding[i + 1]"
_KM_SPARK_DIMS = "SELECT CAST(id AS INT) AS i FROM range(64)"
_KM_DUCK_DIMS = "SELECT range AS i FROM range(64)"
# wide integer type per engine for the distance numerator: the summand
# (n*v - s)^2 reaches (1.2e4*n)^2, which passes 2^63 near n ~ 3e4
# cluster members (64-dim sum) — far below real corpus sizes, so the
# square accumulates in DECIMAL(38,0)/HUGEINT (exact, order-free).
_KM_SPARK_BIG = "DECIMAL(38,0)"
_KM_DUCK_BIG = "HUGEINT"

# Largest table row count for which the BIGINT summand is PROVABLY
# overflow-free: |n*v - s| <= 2*n*V with V = 1.3e4 (|component| <= 1.3
# before 1e-4 quantization — embeddings are unit-normalized, observed
# max |v| is 1.2e4 units), so sum_64 (n*v-s)^2 <= 256*V^2*n^2, which
# stays under 2^63 while n < 1.46e4. Cluster membership n is bounded
# by the table's rows, so gating on row count is safe a fortiori.
KM_BIGINT_SAFE_ROWS = 14_000


def _kmeans_chain(
    elem: str, dims: str, k: int, iters: int, view: str, big_t: str
) -> tuple[list[str], str, str]:
    """The unrolled Lloyd's-iteration CTE chain shared by kmeans_sql and
    semantic_dedup_sql. Returns (cte_list, last_centroid_rel,
    last_assignment_rel) — the assignment relation is (vec_id, j)."""
    cte = [
        f"dims AS ({dims})",
        f"""e AS (
  SELECT vec_id, i AS dim,
         CAST(FLOOR(CAST({elem} AS DOUBLE) * 10000) AS BIGINT) AS v
  FROM {view} CROSS JOIN dims
)""",
        f"""c0 AS (
  SELECT vec_id AS j, dim, v AS s, CAST(1 AS BIGINT) AS n
  FROM e WHERE vec_id < {k}
)""",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        cte.append(f"""d{it} AS (
  SELECT e.vec_id, c.j,
         SUM(CAST((c.n * e.v - c.s) AS {big_t}) * (c.n * e.v - c.s)) AS dist_num,
         MAX(c.n) AS n
  FROM e JOIN {prev} c ON e.dim = c.dim
  GROUP BY e.vec_id, c.j
)""")
        cte.append(f"""a{it} AS (
  SELECT vec_id, j FROM (
    SELECT vec_id, j,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id
             ORDER BY CAST(dist_num AS DOUBLE) / CAST(n * n AS DOUBLE), j
           ) AS rk
    FROM d{it}
  ) r WHERE rk = 1
)""")
        cte.append(f"""c{it} AS (
  SELECT a.j, e.dim, CAST(SUM(e.v) AS BIGINT) AS s, COUNT(*) AS n
  FROM a{it} a JOIN e ON e.vec_id = a.vec_id
  GROUP BY a.j, e.dim
)""")
        prev = f"c{it}"
    return cte, prev, f"a{iters}"


def _km_assign_sql(e_rel: str, c_rel: str, big_t: str) -> str:
    """One Lloyd assignment step over the staged element/centroid
    relations — the exact per-iteration statement `_kmeans_staged_rels`
    materializes. A named function so the plan-shape suite can pin the
    join strategy of the statement the staging pass actually executes
    (the centroid side is k x 64 rows and must broadcast; post-staging
    consumer plans are join-free, so there is nothing to assert there).
    """
    return f"""
WITH d AS (
  SELECT e.vec_id, c.j,
         SUM(CAST((c.n * e.v - c.s) AS {big_t}) * (c.n * e.v - c.s)) AS dist_num,
         MAX(c.n) AS n
  FROM {e_rel} e JOIN {c_rel} c ON e.dim = c.dim
  GROUP BY e.vec_id, c.j
)
SELECT vec_id, j FROM (
  SELECT vec_id, j,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY CAST(dist_num AS DOUBLE) / CAST(n * n AS DOUBLE), j
         ) AS rk
  FROM d
) r WHERE rk = 1"""


def _kmeans_staged_rels(
    spark: SparkSession,
    k: int = 4,
    iters: int = 2,
    view: str = "embeddings",
    big_t: str = _KM_SPARK_BIG,
) -> tuple[str, list[str], list[str]]:
    """Staged Lloyd iteration: the dim-exploded quantized element
    relation ``e`` staged ONCE, then per iteration the assignment and
    centroid relations staged as they are computed. The single-
    statement chain re-executes every CTE once per reference and the
    references CASCADE (d2 -> c1 -> a1 -> d1 -> c0 -> e), so the
    emb_kmeans plan scanned and 64-way-exploded the corpus 5x per run
    (and emb_centroid_outliers 8x); staged, the corpus is read and
    exploded exactly once per session and each iteration is one join
    of staged-e against a k x 64-row centroid relation. Expressions
    are byte-identical to `_kmeans_chain`'s — only materialization
    boundaries move, so values (and the oracle hash) are unchanged.

    Returns (e_rel, cents, assigns): cents[i] is the relation after
    iteration i (cents[0] = init), assigns[i] (1-based, assigns[0] is
    None) the iteration-i assignment. The element relation's key is
    big_t-independent, so consumers with different overflow gates
    (emb_kmeans's row-count-gated BIGINT vs the DECIMAL default)
    still share the one corpus pass."""
    e_rel = P.stage_view(
        spark,
        lambda: spark.sql(
            f"WITH dims AS ({_KM_SPARK_DIMS}) "
            f"SELECT vec_id, i AS dim, "
            f"CAST(FLOOR(CAST({_KM_SPARK_ELEM} AS DOUBLE) * 10000) AS BIGINT) AS v "
            f"FROM {view} CROSS JOIN dims"
        ),
        "km_e",
        view,
        (),
    )
    cents = [
        P.stage_view(
            spark,
            lambda: spark.sql(
                f"SELECT vec_id AS j, dim, v AS s, CAST(1 AS BIGINT) AS n "
                f"FROM {e_rel} WHERE vec_id < {k}"
            ),
            "km_c0",
            view,
            (k,),
        )
    ]
    assigns: list[str | None] = [None]
    for it in range(1, iters + 1):
        a_body = _km_assign_sql(e_rel, cents[-1], big_t)
        assigns.append(
            P.stage_view(
                spark,
                lambda b=a_body: spark.sql(b),
                "km_a",
                view,
                (k, it, big_t),
            )
        )
        cents.append(
            P.stage_view(
                spark,
                lambda a=assigns[-1]: spark.sql(
                    f"SELECT a.j, e.dim, CAST(SUM(e.v) AS BIGINT) AS s, COUNT(*) AS n "
                    f"FROM {a} a JOIN {e_rel} e ON e.vec_id = a.vec_id "
                    f"GROUP BY a.j, e.dim"
                ),
                "km_c",
                view,
                (k, it, big_t),
            )
        )
    return e_rel, cents, assigns


def kmeans_staged(
    spark: SparkSession,
    n_rows: int,
    k: int = 4,
    iters: int = 2,
    view: str = "embeddings",
) -> DataFrame:
    """Execution path for :func:`kmeans_spark_sql`'s semantics over the
    staged Lloyd relations (same row-count overflow gate); the oracle
    stays the single-statement HUGEINT SQL."""
    big_t = "BIGINT" if n_rows < KM_BIGINT_SAFE_ROWS else _KM_SPARK_BIG
    _e, cents, _a = _kmeans_staged_rels(spark, k, iters, view, big_t)
    return spark.sql(
        f"""
SELECT j, MAX(n) AS n_members,
       CAST(SUM(s) AS BIGINT) AS s_total,
       CAST(SUM(CAST(s AS {big_t}) * s) AS BIGINT) AS s_sq_total
FROM {cents[iters]}
GROUP BY j"""
    )


def centroid_outliers_staged(
    spark: SparkSession,
    k: int = 4,
    iters: int = 2,
    topn: int = 10,
    view: str = "embeddings",
) -> DataFrame:
    """Execution path for :func:`centroid_outliers_sql` over the staged
    Lloyd relations: the last distance relation is derived ONCE from
    staged-e x staged-centroids (the single-statement form re-derived
    the whole cascade per reference), then the per-cluster top-n
    window. Oracle stays the single-statement SQL."""
    big_t = _KM_SPARK_BIG
    e_rel, cents, assigns = _kmeans_staged_rels(spark, k, iters, view, big_t)
    return spark.sql(
        f"""
WITH d AS (
  SELECT e.vec_id, c.j,
         SUM(CAST((c.n * e.v - c.s) AS {big_t}) * (c.n * e.v - c.s)) AS dist_num,
         MAX(c.n) AS n
  FROM {e_rel} e JOIN {cents[iters - 1]} c ON e.dim = c.dim
  GROUP BY e.vec_id, c.j
)
SELECT j, rk, vec_id, CAST(dist_num AS BIGINT) AS dist_num, n_members FROM (
  SELECT a.j, d.vec_id, d.dist_num, d.n AS n_members,
         ROW_NUMBER() OVER (
           PARTITION BY a.j ORDER BY d.dist_num DESC, d.vec_id ASC
         ) AS rk
  FROM {assigns[iters]} a JOIN d ON d.vec_id = a.vec_id AND d.j = a.j
) r WHERE rk <= {topn}"""
    )


def semantic_dedup_sql(
    k: int = 4, iters: int = 2, tau: float = 0.4, view: str = "embeddings"
) -> str:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540):
    cluster the embedding space, then prune near-duplicate pairs ONLY
    within each cluster — the cluster id bounds the pair join, so the
    quadratic all-pairs cost applies per-cluster, never corpus-wide.

    Composition: the deterministic integer-quantized k-means assignment
    (``_kmeans_chain``, same relation emb_kmeans value-checks) keys the
    self-join; the cosine predicate is the NEARDUP_TEMPLATE chain
    (left-to-right double sum — bit-identical in both engines). A vector
    is pruned when a same-cluster vector with a smaller vec_id sits
    within ``tau``; output is the prune table (cluster, pruned vec_id,
    the smallest keeper, neighbor count) — all integers, exact
    cross-engine.

    At 100 TB: k scales with N (SemDeDup uses ~100k clusters for
    LAION-scale) so per-cluster membership stays bounded; the pair join
    shuffles on the cluster id, centroids broadcast in the assignment
    stage, and nothing corpus-wide is ever quadratic. The fixed k here
    just keeps the sf-scale oracle exact."""
    cte, _cent, assign = _kmeans_chain(
        _KM_DUCK_ELEM, _KM_DUCK_DIMS, k, iters, view, _KM_DUCK_BIG
    )
    dot = _dot("a.embedding", "b.embedding", one_based=True)
    nrm = _norm("embedding", one_based=True)
    cte.append(f"""n AS (
  SELECT vec_id, embedding, ({nrm}) AS nrm FROM {view}
)""")
    cte.append(f"""pairs AS (
  SELECT aa.j AS cluster, aa.vec_id AS keep_id, ab.vec_id AS prune_id
  FROM {assign} aa JOIN {assign} ab ON ab.j = aa.j AND ab.vec_id > aa.vec_id
  JOIN n a ON a.vec_id = aa.vec_id
  JOIN n b ON b.vec_id = ab.vec_id
  WHERE ({dot}) / (a.nrm * b.nrm) >= {tau}
)""")
    final = """
SELECT cluster, prune_id AS vec_id, MIN(keep_id) AS kept_id,
       COUNT(*) AS n_neighbors
FROM pairs
GROUP BY cluster, prune_id"""
    return "WITH " + ",\n".join(cte) + final


def semantic_dedup_staged(
    spark: SparkSession,
    k: int = 4,
    iters: int = 2,
    tau: float = 0.4,
    view: str = "embeddings",
    rows_per_block: int = 700,
    n_blocks: int | None = None,
) -> DataFrame:
    """Execution path for :func:`semantic_dedup_sql`'s semantics: the
    k-means assignment stays declarative SQL (centroids broadcast, one
    argmin window — the emb_kmeans plan), but the within-cluster pair
    stage runs the SAME block-pair Arrow kernel as
    :func:`embedding_neardup_pandas` — the giant explicit SQL dot chain
    defeats whole-stage codegen and goes interpreted over millions of
    pair rows (~10x slower measured at sf0.1), while the kernel keeps
    the quadratic loop in vectorized numpy replaying the oracle's exact
    left-associated FP chain.

    Scale shape: groups are keyed (cluster, block_a, block_b), so group
    size is bounded by rows_per_block regardless of cluster size — a
    hot cluster fans out across block pairs instead of serializing into
    one task. Cross-cluster pairs never meet: each row carries its own
    cluster id into the group key."""
    import numpy as np
    import pandas as pd

    # the staged Lloyd relations (shared with emb_kmeans /
    # emb_centroid_outliers): the corpus is exploded once per session
    # and the iteration-2 assignment is already a staged (vec_id, j)
    # relation — no second staging pass needed here
    _e, _cents, assigns = _kmeans_staged_rels(spark, k, iters, view)
    assign_df = spark.table(assigns[iters])

    emb = spark.table(view).select("vec_id", "embedding")
    n_blocks, blk, fan = _block_fan(spark, emb, view, rows_per_block, n_blocks)
    both = (
        blk.join(assign_df, "vec_id")
        .join(F.broadcast(fan), "blk")
        .select("j", "ba", "bb", "role", "vec_id", "embedding")
    )

    pair_schema = StructType(
        [
            StructField("cluster", LongType()),
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
        ]
    )

    def compute(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        j, ba, bb = key
        va, vb, _cos = _block_pair_hits(pdf, tau, ba == bb)
        return pd.DataFrame({"cluster": np.full(len(va), j, dtype=np.int64), "vec_a": va, "vec_b": vb})

    def build() -> DataFrame:
        pairs = both.groupBy("j", "ba", "bb").applyInPandas(compute, schema=pair_schema)
        # prune table: larger id is pruned, kept_id = smallest near keeper
        return pairs.groupBy("cluster", F.col("vec_b").alias("vec_id")).agg(
            F.min("vec_a").alias("kept_id"), F.count("*").alias("n_neighbors")
        )

    # Round 11: the prune table is itself staged — the within-cluster
    # Arrow pair kernel re-ran for each consumer (the standalone query,
    # the strategy sweep, the cascade); memoized per (session, params,
    # corpus) it is the SemDeDup prune table written once per snapshot.
    return spark.table(
        P.stage_view(
            spark, build, "sem_prune", view,
            (k, iters, str(tau), rows_per_block, n_blocks),
        )
    )


# ------------------------------------------------------ cosine range search
RANGE_SEARCH_TEMPLATE = """
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qv FROM {view}
  WHERE vec_id < {n_queries} LIMIT {n_queries}
)
SELECT q.q_id, e.vec_id AS n_id,
       ({dot}) / (({qnorm}) * ({enorm})) AS cosine
FROM q JOIN {view} e ON e.vec_id <> q.q_id
WHERE ({dot}) / (({qnorm}) * ({enorm})) >= {tau}
"""


def int8_topk_sql(
    k: int = 10, n_queries: int = 5, view: str = "embeddings"
) -> str:
    """Top-k retrieval over the int8-QUANTIZED vectors — the search
    half of quantize_int8_sql's storage story (the recall against
    exact f64 cosine is what ann_int8_recall measures; PQ and
    matryoshka already have theirs, this completes the quantization
    family). Same per-vector symmetric rule (q_i = FLOOR(v_i·127/mx),
    every step correctly-rounded IEEE hence cross-engine exact); dot
    products and squared norms are then SMALL-INTEGER sums
    (|q_i| ≤ 127, 64 dims ⇒ |dot| ≤ 64·127² < 2^21 — BIGINT-exact),
    and the ranking key cos8 = dot/(√nq·√nn) is three correctly-
    rounded ops over exact integers — bit-identical in both engines.
    Ties break on n_id; zero-norm vectors are excluded (scale
    undefined), mirroring quantize_int8_sql.

    Scale shape (relational MIPS): the query subvectors are a
    Q×64-row relation — broadcast at any corpus size — so the dot
    join is map-side; the per-(query, neighbor) aggregate is
    map-side-combinable (Q·N rows out of Q·N·64 in); the final
    top-k is a per-query window over hash-partitioned q_id."""
    return f"""
WITH dims AS (SELECT range AS i FROM range(64)),
e AS (
  SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM {view} CROSS JOIN dims
),
m AS (SELECT vec_id, MAX(ABS(v)) AS mx FROM e GROUP BY vec_id),
qv AS (
  SELECT e.vec_id, e.i,
         CAST(FLOOR(e.v * (127.0 / m.mx)) AS BIGINT) AS q
  FROM e JOIN m ON m.vec_id = e.vec_id
  WHERE m.mx > 0
),
nrm AS (SELECT vec_id, SUM(q * q) AS n2 FROM qv GROUP BY vec_id),
qq AS (SELECT vec_id, i, q FROM qv WHERE vec_id < {n_queries}),
dot AS (
  SELECT qq.vec_id AS q_id, c.vec_id AS n_id,
         CAST(SUM(qq.q * c.q) AS BIGINT) AS d
  FROM qq JOIN qv c ON c.i = qq.i AND c.vec_id <> qq.vec_id
  GROUP BY qq.vec_id, c.vec_id
),
scored AS (
  SELECT d.q_id, d.n_id,
         CAST(d.d AS DOUBLE)
           / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))) AS cos8
  FROM dot d
  JOIN nrm a ON a.vec_id = d.q_id
  JOIN nrm b ON b.vec_id = d.n_id
),
ranked AS (
  SELECT q_id, n_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos8 DESC, n_id) AS rk
  FROM scored
)
SELECT q_id, n_id FROM ranked WHERE rk <= {k}
"""


def int8_topk_staged(
    spark: SparkSession, k: int = 10, n_queries: int = 5, view: str = "embeddings"
) -> DataFrame:
    """Spark path for int8-quantized top-k: the cosine_topk_staged
    broadcast+Arrow shape applied to the quantized ranking.

    Why not the SQL twin on the Spark side: its CTE chain references
    the exploded (vec_id, i, v) relation and the quantized relation
    qv from multiple consumers (m, nrm, qq, dot), and Spark's CTE
    inlining re-runs the 64-way explode + max-abs aggregate + join
    once per reference — the quantization pipeline executes ~4x per
    query run. This kernel quantizes each vector ONCE per scan
    partition and emits only that partition's top-k per query.

    Values are bit-identical to the SQL/oracle chain: f32→f64
    widening (exact), mx = max|v| (comparison only), the quantizer
    replays FLOOR(v * (127.0 / mx)) with each step correctly rounded
    per IEEE 754, dots and norms are exact BIGINT sums (|q_i| ≤ 127,
    64 dims ⇒ no overflow), and cos8 = d / (√n2_q · √n2_n) is the
    same three correctly-rounded double ops. Zero-scale vectors
    (mx ≤ 0) are excluded on both sides, as in the SQL; cos8 is never
    NaN (mx > 0 forces the max-|v| element to |q| ≥ 126, so n2 > 0).
    Any global top-k row is necessarily in its partition's local
    top-k under the total order (cos8 DESC, n_id ASC), so the final
    window ranks k·Q·partitions candidates, never Q·N scores."""
    import numpy as np

    def _quant(m):
        # replays the SQL chain: scale = 127.0 / mx (one correctly-
        # rounded divide), q_i = FLOOR(v_i * scale) — NOT v*127/mx,
        # which rounds differently
        mx = np.max(np.abs(m), axis=1)
        ok = mx > 0
        scale = np.zeros_like(mx)
        scale[ok] = 127.0 / mx[ok]
        q = np.floor(m * scale[:, None]).astype(np.int64)
        n2 = np.sum(q * q, axis=1)
        return q, n2, ok

    emb = spark.table(view).select("vec_id", "embedding")
    q_ids, q_m = _query_vectors(emb, n_queries)
    q_q, q_n2, q_ok = _quant(q_m)
    bc = spark.sparkContext.broadcast(
        (q_ids[q_ok], q_q[q_ok], np.sqrt(q_n2[q_ok].astype(np.float64)))
    )

    def kernel(batches):
        ids_q, m_q, sqn_q = bc.value

        def score(pdf):
            ids, m = _id_matrix(pdf)
            q, n2, ok = _quant(m)
            d = m_q @ q[ok].T  # exact: BIGINT dot, |d| ≤ 64·127² < 2^21
            sqn = np.sqrt(n2[ok].astype(np.float64))
            return ids[ok], d.astype(np.float64) / np.multiply.outer(sqn_q, sqn)

        yield _partition_topk(batches, ids_q, k, score, "cos8")

    scored = P.fan_out(emb, light=True).mapInPandas(
        kernel, schema="q_id bigint, n_id bigint, cos8 double"
    )
    return spark.sql(
        f"""
SELECT q_id, n_id FROM (
  SELECT q_id, n_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos8 DESC, n_id) AS rk
  FROM {{scored}}
) WHERE rk <= {k}
""",
        scored=scored,
    )


def range_search_staged(
    spark: SparkSession, tau: float = 0.4, n_queries: int = 5,
    view: str = "embeddings",
) -> DataFrame:
    """Spark path for range search: the same broadcast+Arrow kernel as
    cosine_topk_staged (f32→f64 widening, left-associated 64-term
    accumulation, dot/(qn·en) — bit-identical to the SQL chain), with
    a similarity-floor filter instead of per-partition top-k tracking.

    Why not the SQL twin on the Spark side: it inlines three 64-term
    chains TWICE (select + filter), which overflows Janino's 64 KB
    generated-method limit — the whole stage silently drops to
    interpreted mode ('ERROR CodeGenerator: failed to compile',
    round-10 bisect) and ran 2.2x the top-k sibling at sf0.1. The
    kernel also never shuffles: scan → mapInPandas, Q·N scores never
    leave their corpus partition. A zero-norm embedding gives a NaN
    cosine, and ``NaN >= tau`` is False, so its rows are dropped —
    exactly what the DuckDB oracle does (0/0 -> NULL there, and NULL
    fails the floor), as in :func:`_block_pair_hits`."""
    import numpy as np
    import pandas as pd

    emb = spark.table(view).select("vec_id", "embedding")
    q_ids, q_m = _query_vectors(emb, n_queries)
    bc = spark.sparkContext.broadcast((q_ids, q_m, np_norms(q_m)))

    def kernel(batches):
        ids_q, m_q, nrm_q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids, m = _id_matrix(pdf)
            cos = np_dots(m_q, m) / np.multiply.outer(nrm_q, np_norms(m))
            hit = (cos >= tau) & (ids[None, :] != ids_q[:, None])  # e.vec_id <> q_id
            qi, ni = np.nonzero(hit)
            yield pd.DataFrame(
                {"q_id": ids_q[qi], "n_id": ids[ni], "cosine": cos[qi, ni]}
            )

    return emb.mapInPandas(kernel, "q_id long, n_id long, cosine double")


def range_search_sql(
    tau: float = 0.4, n_queries: int = 5, view: str = "embeddings"
) -> str:
    """Radius (range) search: ALL neighbors above a similarity floor,
    the retrieval complement of top-k (recall-bounded instead of
    count-bounded — what dedup-against-index and contamination checks
    want). Exact O(Q·N) scan with the bit-exact dot chain; Q stays
    small, and the same LSH/IVF stages remain the linear-scale path
    when it grows. The oracle for range_search_staged."""
    return P.duck_sql(
        RANGE_SEARCH_TEMPLATE,
        dot=_dot("qv", "e.embedding", one_based=True),
        qnorm=_norm("qv", one_based=True),
        enorm=_norm("e.embedding", one_based=True),
        view=view,
        tau=str(tau),
        n_queries=str(n_queries),
    )


def pq_codes_sql(
    m: int = 4, ncent: int = 8, view: str = "embeddings"
) -> str:
    """Product quantization (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI'11) — the storage path that turns a
    64-float vector into m sub-codes (here 4×3 bits vs 64×32 bits, a
    ~21× compression): split dims into m subspaces, code each
    subvector as its nearest of ``ncent`` centroids.

    Determinism contract (same recipe as IVF/kmeans): centroids are
    the first ``ncent`` vectors' subvectors (no RNG), every value is
    quantized to the integer grid FLOOR(64·v) before any distance
    math, so sub-distances are exact small-integer sums — bit-identical
    across engines — and the argmin (ties → lower centroid id) is a
    deterministic ROW_NUMBER. ``sq_err`` (the summed quantization
    distortion, the number you watch when sizing m/ncent) is integer-
    exact and oracle-checked.

    Scale shape: the centroid relation is m×ncent subvectors —
    broadcast at any corpus size; assignment is a map-side cross join
    producing N×ncent×m candidate rows collapsed by one per-(vec,sub)
    window; no data-sized shuffle except the final per-vector pivot
    aggregate."""
    c_sel, d_sel = _pq_cd_selects(m, ncent, view, 1)
    codes = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN c_id END) AS code_{s}" for s in range(m)
    )
    return f"""
WITH c AS (
  {c_sel}
),
d AS (
  {d_sel}
),
ranked AS (
  SELECT vec_id, s, c_id, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s
                            ORDER BY dist, c_id) AS rk
  FROM d
)
SELECT vec_id, {codes}, CAST(SUM(dist) AS BIGINT) AS sq_err
FROM ranked WHERE rk = 1
GROUP BY vec_id
"""


def _pq_dist_case(m: int, off: int) -> str:
    """The per-subspace integer-grid squared-distance CASE over (v, c)
    — the one 64-term chain both PQ statements and the staged distance
    relation share (a single builder, so the staged path can never
    drift from the oracle text)."""
    dsub = DIM // m

    def terms(s: int) -> str:
        return " + ".join(
            f"(FLOOR(CAST(v.embedding[{s * dsub + i + off}] AS DOUBLE) * 64)"
            f" - FLOOR(CAST(c.cv[{s * dsub + i + off}] AS DOUBLE) * 64))"
            f" * (FLOOR(CAST(v.embedding[{s * dsub + i + off}] AS DOUBLE) * 64)"
            f" - FLOOR(CAST(c.cv[{s * dsub + i + off}] AS DOUBLE) * 64))"
            for i in range(dsub)
        )

    return " ".join(f"WHEN {s} THEN ({terms(s)})" for s in range(m))


def _pq_cd_selects(m: int, ncent: int, view: str, off: int) -> tuple[str, str]:
    """(centroid SELECT, distance SELECT) shared by pq_codes_sql,
    pq_adc_topk_sql and _pq_dist_staged. The distance SELECT references
    the centroid relation as CTE name ``c``."""
    subs = " UNION ALL ".join(f"SELECT {s} AS s" for s in range(m))
    c_sel = f"SELECT vec_id AS c_id, embedding AS cv FROM {view} WHERE vec_id < {ncent}"
    d_sel = f"""SELECT v.vec_id, sub.s, c.c_id,
         CAST(CASE sub.s {_pq_dist_case(m, off)} END AS BIGINT) AS dist
  FROM {view} v
  CROSS JOIN c
  CROSS JOIN ({subs}) sub"""
    return c_sel, d_sel


def pq_adc_topk_sql(
    m: int = 4,
    ncent: int = 8,
    k: int = 10,
    n_queries: int = 5,
    view: str = "embeddings",
) -> str:
    """PQ search by asymmetric distance computation (ADC): the query
    stays un-quantized; each database vector's distance is approximated
    as the sum over subspaces of the query→centroid[code] distance —
    one lookup-table build of n_queries×m×ncent entries, never a
    touch of the original database vectors. This is how a 100 TB
    vector store is actually scanned: codes (a few bits/vector) stream
    through a broadcast LUT join; the full floats never leave cold
    storage.

    Same integer-grid determinism as pq_codes_sql; ranking ties break
    on vec_id. The LUT is broadcast-sized by construction; the only
    data-sized operation is the per-(query, vector) partial-sum
    aggregate over N×m code rows."""
    c_sel, d_sel = _pq_cd_selects(m, ncent, view, 1)
    return f"""
WITH c AS (
  {c_sel}
),
d AS (
  {d_sel}
),
codes AS (
  SELECT vec_id, s, c_id FROM (
    SELECT vec_id, s, c_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, c_id) AS rk
    FROM d
  ) r WHERE rk = 1
),
lut AS (
  SELECT vec_id AS q_id, s, c_id, dist AS qd FROM d WHERE vec_id < {n_queries}
),
est AS (
  SELECT l.q_id, co.vec_id AS n_id, SUM(l.qd) AS adc_dist
  FROM codes co JOIN lut l ON l.s = co.s AND l.c_id = co.c_id
  WHERE co.vec_id <> l.q_id
  GROUP BY l.q_id, co.vec_id
)
SELECT q_id, n_id, CAST(adc_dist AS BIGINT) AS adc_dist, rnk FROM (
  SELECT q_id, n_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, n_id) AS rnk
  FROM est
) r WHERE rnk <= {k}
"""


def _ivfpq_res_arr(off: int, arr_open: str, arr_close: str, x: str, xc: str) -> str:
    """The 64-entry integer-grid residual F(x_i) − F(xc_i), F(t) =
    FLOOR(64·t), materialized ONCE per (vector, centroid) pair as an
    array — every downstream subspace distance then reads two array
    slots instead of re-evaluating four FLOOR chains per codebook
    entry (measured 8x expression-mass reduction: the codebook cross
    join would otherwise recompute the vector's residual ncent
    times)."""
    return arr_open + ", ".join(
        f"FLOOR(CAST({x}[{i + off}] AS DOUBLE) * 64)"
        f" - FLOOR(CAST({xc}[{i + off}] AS DOUBLE) * 64)"
        for i in range(DIM)
    ) + arr_close


def _ivfpq_res_dist_case(m: int, off: int, x: str, y: str) -> str:
    """Per-subspace squared distance between two PRE-BUILT residual
    arrays: Σ_i (x[i] − y[i])². One builder feeds both dialects, so
    the Spark and oracle texts cannot drift."""
    dsub = DIM // m

    def terms(s: int) -> str:
        return " + ".join(
            f"({x}[{s * dsub + i + off}] - {y}[{s * dsub + i + off}])"
            f" * ({x}[{s * dsub + i + off}] - {y}[{s * dsub + i + off}])"
            for i in range(dsub)
        )

    return " ".join(f"WHEN {s} THEN ({terms(s)})" for s in range(m))


def ivfpq_adc_topk_sql(
    n_cells: int = 16,
    ncent: int = 8,
    m: int = 4,
    nprobe: int = 4,
    k: int = 10,
    n_queries: int = 5,
    view: str = "embeddings",
) -> str:
    """IVF-PQ — the composed index every production-scale vector store
    actually deploys (faiss IndexIVFPQ; Jégou TPAMI'11 §V): an IVF
    coarse quantizer prunes the search to ``nprobe`` inverted lists,
    and within them distances come from PQ codes of the RESIDUAL
    (vector − its coarse centroid) via an ADC lookup table built per
    (query, probed cell). Residual coding is what makes the
    combination work: residuals concentrate near zero, so the same
    codebook budget quantizes them far more finely than raw vectors.

    Determinism contract (the IVF + PQ recipes composed): coarse
    centroids = first ``n_cells`` vectors (cosine assignment, ties →
    lower cell id), codebook = the residuals of the first ``ncent``
    vectors w.r.t. THEIR home cells, every residual taken on the
    integer grid FLOOR(64·t) so all distances are exact integer sums;
    argmins are ROW_NUMBER with id tie-breaks. Fully oracle-checkable
    — no RNG, no float accumulation ambiguity.

    Scale shape: codebook and coarse-centroid relations are constant-
    size (broadcast); code assignment is one map-side pass of
    N×ncent×m rows collapsed by a (vec_id, s)-PARTITIONED window; the
    ADC table is queries×nprobe×ncent×m rows (tiny, broadcast); the
    only data-sized work is the probed-list candidate join + one hash
    aggregate — candidate cost O(probed lists), never O(N) per query,
    and the stored representation scanned per candidate is m codes,
    not 64 floats."""
    return f"""
WITH nv AS (
  SELECT vec_id, embedding, ({_norm("embedding", one_based=True)}) AS nrm FROM {view}
),
c AS (
  SELECT vec_id AS c_id, embedding AS cv, nrm AS cnrm FROM nv WHERE vec_id < {n_cells}
),
assign AS (
  SELECT v.vec_id, c.c_id, v.embedding, c.cv,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ({_dot("v.embedding", "c.cv", one_based=True)}) / (v.nrm * c.cnrm) DESC, c.c_id
         ) AS rn
  FROM nv v JOIN c ON 1 = 1
),
""" + _ivfpq_tail(1, ncent, m, nprobe, k, n_queries)


def _ivfpq_tail(
    off: int,
    ncent: int,
    m: int,
    nprobe: int,
    k: int,
    n_queries: int,
    res_src: str | None = None,
) -> str:
    """Everything downstream of the coarse ``assign`` relation —
    shared verbatim by the full SQL (both dialects) and the staged
    Spark path, which substitutes the memoized Arrow-kernel
    assignment for the CTE. ``assign`` must provide (vec_id, c_id,
    rn) on every row; with ``res_src`` unset it must also carry the
    vector (embedding) and its ranked centroid (cv) so residuals need
    no further joins.

    ``res_src`` (staged Spark path only): name of a MATERIALIZED
    (vec_id, c_id, rn, rv) residual relation — see _ivfpq_res_rel.
    Without it, Catalyst's extract-value simplification rewrites every
    rv[i] read in the vdist/adc distance CASEs back into the inline
    FLOOR-chain element expression, and the resulting projections
    overflow Janino's 64 KB method limit — the stage silently drops to
    interpreted mode (round-10 ledger; same disease ann_range_search
    had). A materialized rv is a real array column, so the CASEs
    compile to array reads. The downstream text (vdist/codes/adc/cand/
    scored/ranking) is IDENTICAL either way — integer-grid math over
    the same residual values, so oracle parity is unaffected."""
    arr_open, arr_close = ("array(", ")") if off == 0 else ("[", "]")
    subs = " UNION ALL ".join(f"SELECT {s} AS s" for s in range(m))
    dcase = _ivfpq_res_dist_case(m, off, "l.rv", "r.rv")
    if res_src is None:
        res_arr = _ivfpq_res_arr(off, arr_open, arr_close, "a.embedding", "a.cv")
        res_def = f"""res AS (
  SELECT a.vec_id, a.c_id, {res_arr} AS rv
  FROM assign a WHERE a.rn = 1
),
qres AS (
  SELECT a.vec_id AS q_id, a.c_id, {res_arr} AS rv
  FROM assign a WHERE a.vec_id < {n_queries} AND a.rn <= {nprobe}
),"""
    else:
        res_def = f"""res AS (
  SELECT vec_id, c_id, rv FROM {res_src} WHERE rn = 1
),
qres AS (
  SELECT vec_id AS q_id, c_id, rv FROM {res_src}
  WHERE vec_id < {n_queries} AND rn <= {nprobe}
),"""
    return f"""home AS (
  SELECT vec_id, c_id FROM assign WHERE rn = 1
),
{res_def}
cbres AS (
  SELECT vec_id AS b_id, rv FROM res WHERE vec_id < {ncent}
),
sub AS ({subs}),
vdist AS (
  SELECT /*+ BROADCAST(r), BROADCAST(sub) */ l.vec_id, sub.s, r.b_id,
         CAST(CASE sub.s {dcase} END AS BIGINT) AS dist
  FROM res l
  CROSS JOIN cbres r
  CROSS JOIN sub
),
codes AS (
  SELECT vec_id, s, b_id FROM (
    SELECT vec_id, s, b_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, b_id) AS rk
    FROM vdist
  ) r WHERE rk = 1
),
adc AS (
  SELECT /*+ BROADCAST(r), BROADCAST(sub) */ l.q_id, l.c_id, sub.s, r.b_id,
         CAST(CASE sub.s {dcase} END AS BIGINT) AS d
  FROM qres l
  CROSS JOIN cbres r
  CROSS JOIN sub
),
cand AS (
  SELECT qp.q_id, h.vec_id AS n_id, qp.c_id
  FROM (SELECT q_id, c_id FROM qres) qp
  JOIN home h ON h.c_id = qp.c_id AND h.vec_id <> qp.q_id
),
scored AS (
  SELECT cand.q_id, cand.n_id, CAST(SUM(a.d) AS BIGINT) AS adc_dist
  FROM cand
  JOIN codes co ON co.vec_id = cand.n_id
  JOIN adc a ON a.q_id = cand.q_id AND a.c_id = cand.c_id
            AND a.s = co.s AND a.b_id = co.b_id
  GROUP BY cand.q_id, cand.n_id
)
SELECT q_id, n_id, adc_dist, rnk FROM (
  SELECT q_id, n_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, n_id) AS rnk
  FROM scored
) r WHERE rnk <= {k}
"""


def _ivfpq_res_rel(
    spark: SparkSession,
    n_cells: int = 16,
    nprobe: int = 4,
    n_queries: int = 5,
    view: str = "embeddings",
) -> str:
    """Stage the MATERIALIZED integer-grid residual relation
    (vec_id, c_id, rn, rv: array<bigint>) for every (vector, ranked
    centroid) pair the IVF-PQ tail reads: the rn = 1 home rows (codes
    + codebook) and the query rows' top-``nprobe`` probes (ADC LUT).
    The 64-entry FLOOR-chain residual is evaluated EXACTLY ONCE per
    pair here; downstream subspace distances then read two physical
    array slots. Without this materialization Catalyst folds the
    array constructor back into every rv[i] reference and the
    vdist/adc projections overflow Janino's 64 KB method limit (the
    stage silently ran interpreted, round-10 ledger)."""
    params = (n_cells, nprobe, n_queries)

    def build():
        arel = ivf_assignment_rel(spark, n_cells, view)
        res_arr = _ivfpq_res_arr(0, "array(", ")", "e.embedding", "cv.cv")
        # embedding rides the assignment stage only on rn = 1 rows;
        # centroid vectors come from the view (they are the first
        # n_cells vectors — a broadcast-sized relation)
        return spark.sql(
            f"""
SELECT a.vec_id, a.c_id, a.rn, {res_arr} AS rv
FROM {arel} a
JOIN (SELECT vec_id, embedding FROM {arel} WHERE rn = 1) e
  ON e.vec_id = a.vec_id
JOIN (SELECT vec_id AS c_id, embedding AS cv FROM {view}
      WHERE vec_id < {n_cells}) cv
  ON cv.c_id = a.c_id
WHERE a.rn = 1 OR (a.vec_id < {n_queries} AND a.rn <= {nprobe})
"""
        )

    return P.stage_view(spark, build, "ivfpq_res", view, params)


def ivfpq_topk_staged(
    spark: SparkSession,
    n_cells: int = 16,
    ncent: int = 8,
    m: int = 4,
    nprobe: int = 4,
    k: int = 10,
    n_queries: int = 5,
    view: str = "embeddings",
) -> DataFrame:
    """The IVF-PQ top-k relation behind a memoized stage, with the
    coarse assignment coming from ivf_assignment_rel — the SAME staged
    Arrow-kernel relation ann_ivf_topk / ann_ivf_nprobe_sweep already
    share, so the expensive N×n_cells centroid ranking runs once per
    session across the whole ANN family — and the residual arrays
    coming MATERIALIZED from _ivfpq_res_rel (the Janino-overflow fix;
    see its docstring). The PQ tail is the identical _ivfpq_tail text
    the oracle runs — only the res/qres CTE *sources* differ (staged
    residual column vs inline constructor of the same integer values);
    every distance expression downstream is shared verbatim."""
    params = (n_cells, ncent, m, nprobe, k, n_queries)

    def build():
        arel = ivf_assignment_rel(spark, n_cells, view)
        rres = _ivfpq_res_rel(spark, n_cells, nprobe, n_queries, view)
        sql = f"""
WITH assign AS (
  SELECT vec_id, c_id, rn FROM {arel}
),
""" + _ivfpq_tail(0, ncent, m, nprobe, k, n_queries, res_src=rres)
        return spark.sql(sql)

    rel = P.stage_view(spark, build, "ivfpq_topk", view, params)
    return spark.table(rel)


def _pq_dist_staged(
    spark: SparkSession, m: int = 4, ncent: int = 8, view: str = "embeddings"
) -> str:
    """Stage the (vec_id, s, c_id, dist) PQ distance relation once per
    (session, view, params): both the code assignment and the ADC
    lookup table consume it, and Spark's CTE inlining would otherwise
    evaluate the 64-term distance chain twice over N×ncent×m rows."""
    def build() -> DataFrame:
        # same builder as the SQL statements — no text scraping
        c_sel, d_sel = _pq_cd_selects(m, ncent, view, 0)
        return P.fan_out(spark.sql(f"WITH c AS ({c_sel}) {d_sel}"), light=True)

    return P.stage_view(spark, build, "pq_dist", view, (m, ncent))


def pq_adc_topk_staged(
    spark: SparkSession,
    m: int = 4,
    ncent: int = 8,
    k: int = 10,
    n_queries: int = 5,
    view: str = "embeddings",
) -> DataFrame:
    d_rel = _pq_dist_staged(spark, m, ncent, view)
    return spark.sql(
        f"""
WITH codes AS (
  SELECT vec_id, s, c_id FROM (
    SELECT vec_id, s, c_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, c_id) AS rk
    FROM {d_rel}
  ) r WHERE rk = 1
),
lut AS (
  SELECT vec_id AS q_id, s, c_id, dist AS qd FROM {d_rel} WHERE vec_id < {n_queries}
),
est AS (
  SELECT l.q_id, co.vec_id AS n_id, SUM(l.qd) AS adc_dist
  FROM codes co JOIN lut l ON l.s = co.s AND l.c_id = co.c_id
  WHERE co.vec_id <> l.q_id
  GROUP BY l.q_id, co.vec_id
)
SELECT q_id, n_id, CAST(adc_dist AS BIGINT) AS adc_dist, rnk FROM (
  SELECT q_id, n_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, n_id) AS rnk
  FROM est
) r WHERE rnk <= {k}
"""
    )


def pq_codes_staged(
    spark: SparkSession, m: int = 4, ncent: int = 8, view: str = "embeddings"
) -> DataFrame:
    """Code assignment over the shared staged distance relation."""
    d_rel = _pq_dist_staged(spark, m, ncent, view)
    codes = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN c_id END) AS code_{s}" for s in range(m)
    )
    return spark.sql(
        f"""
SELECT vec_id, {codes}, CAST(SUM(dist) AS BIGINT) AS sq_err
FROM (
  SELECT vec_id, s, c_id, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, c_id) AS rk
  FROM {d_rel}
) r WHERE rk = 1
GROUP BY vec_id
"""
    )


def _sign_word_sql(word: int, *, one_based: bool) -> str:
    """32-bit sign-bit word over dims [32*word, 32*word+32): bit i set
    iff embedding[dim] >= 0. Pure comparisons + integer adds — no FP
    arithmetic, so the signature is bit-identical across engines."""
    off = 1 if one_based else 0
    terms = [
        f"(CASE WHEN embedding[{32 * word + i + off}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    ]
    return "(" + " + ".join(terms) + ")"


def hamming_knn_graph_sql(
    k: int = 3, view: str = "embeddings", src_modulus: int = 1
) -> str:
    """k-NN graph over 64-bit sign-bit (SimHash-style) signatures with
    exact Hamming distance, blocked by label: each vector's k nearest
    neighbors WITHIN its label cell. The adjacency SemDeDup-style
    semantic dedup walks after clustering — formalized as a graph
    relation (src, dst, dist, rk).

    Charikar, "Similarity estimation techniques from rounding
    algorithms" (STOC'02): sign-random-projection Hamming distance is
    an unbiased angle estimator; here the projection basis is the
    identity (raw sign bits), which is exactly the first stage of the
    multi-index-hashing ANN family.

    Determinism: the signature is comparisons + integer adds (two
    32-bit words — never touches the sign bit of a BIGINT); Hamming is
    bit_count(xor) per word; ties rank (dist ASC, dst ASC).

    Scale shape: signature build is a map-side projection (64 bytes ->
    8); the pair space is label-blocked — the same bounded-cell
    quadratic as IVF probing, never a global all-pairs — with one
    shuffle on label and a per-src top-k window. At 100 TB the label
    blocking generalizes to IVF cell ids (emb_kmeans/ann_ivf_topk) and
    the per-word signature join to multi-index Hamming banding.

    ``src_modulus``: the sampled-exact protocol for sf >= 1. This
    relation is the exact ground truth the banded-ANN recall reports
    score against, and exact truth only ever needs to exist for the
    SOURCES being scored — so the bench/registry-facing call samples
    the src side (vec_id % m = 0; the dst side stays full, so every
    emitted row is still the vector's true global-within-label top-k),
    cutting the per-label pair mass by m while keeping exactness for
    the sampled sources. m=1 (default) is the full-exact form.
    """
    src_where = f" AND a.vec_id % {src_modulus} = 0" if src_modulus > 1 else ""
    return f"""
WITH s AS (
  SELECT vec_id, label, {_sign_word_sql(0, one_based=True)} AS lo, {_sign_word_sql(1, one_based=True)} AS hi FROM {view}
),
pairs AS (
  SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
         CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS dist
  FROM s a JOIN s b ON a.label = b.label AND a.vec_id <> b.vec_id{src_where}
),
ranked AS (
  SELECT label, src, dst, dist,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rk
  FROM pairs
)
SELECT label, src, dst, dist, rk FROM ranked WHERE rk <= {k}
"""


def centroid_outliers_sql(
    k: int = 4, iters: int = 2, topn: int = 10, view: str = "embeddings"
) -> str:
    """Embedding-QA outlier report: the ``topn`` vectors FURTHEST from
    their assigned k-means centroid, per cluster — mislabeled/corrupt
    embeddings, encoder drift, and wrong-modality rows all surface
    here first (distance-to-centroid is the standard cheap anomaly
    score over an embedding corpus). Reuses the exact unrolled Lloyd
    chain of emb_kmeans: the distance is the UN-divided integer
    numerator sum_d (n·v_d − s_d)² with the centroid's member count
    carried alongside, so ranking within a cluster (n constant) is
    exact-integer and the report hash-matches the oracle bit-for-bit.

    Scale shape: identical to emb_kmeans up to the final window (the
    centroid relation broadcasts, shuffles key on vec_id), plus one
    ROW_NUMBER partitioned by cluster over the assignment-filtered
    distance relation — WindowGroupLimit cuts each cluster's sort at
    ``topn``. Output is k·topn rows.
    """
    cte, _cent, assign = _kmeans_chain(
        _KM_DUCK_ELEM, _KM_DUCK_DIMS, k, iters, view, _KM_DUCK_BIG
    )
    final = f"""
SELECT j, rk, vec_id, CAST(dist_num AS BIGINT) AS dist_num, n_members FROM (
  SELECT a.j, d.vec_id, d.dist_num, d.n AS n_members,
         ROW_NUMBER() OVER (
           PARTITION BY a.j ORDER BY d.dist_num DESC, d.vec_id ASC
         ) AS rk
  FROM {assign} a JOIN d{iters} d ON d.vec_id = a.vec_id AND d.j = a.j
) r WHERE rk <= {topn}"""
    return "WITH " + ",\n".join(cte) + final


def _hamsig_labeled_rel(spark: SparkSession, view: str) -> str:
    """Staged (vec_id, label, lo, hi) sign-bit signature relation —
    independent of k and of the consumer (exact graph, guarded graph,
    guard report all share one stage per view); the ("label",) schema
    marker keeps it distinct from _hamsig_rel's label-less variant
    over the same lineage (the cache key is lineage-based, not
    view-name-based, so schema must be part of params)."""

    def build():
        return spark.sql(
            f"SELECT vec_id, label, "
            f"{_sign_word_sql(0, one_based=False)} AS lo, "
            f"{_sign_word_sql(1, one_based=False)} AS hi FROM {view}"
        )

    return P.stage_view(spark, build, "hamsig", view, ("label",))


def hamming_knn_graph_staged(
    spark: SparkSession, k: int = 3, view: str = "embeddings",
    src_modulus: int = 1,
) -> DataFrame:
    """Execution path for :func:`hamming_knn_graph_sql`'s semantics
    with the signature relation STAGED: the single-statement form lets
    Catalyst's CTE inlining + project collapsing push the 64-CASE
    sign-word chains INTO the pair-join output projection, evaluating
    them once per PAIR per side instead of once per row — measured
    6.2 s vs 0.3 s at sf0.1 (the same hazard class portable.py
    documents for shingle pipelines). Staging the 4-column
    (vec_id, label, lo, hi) relation pins signature cost at O(N) and
    the pair stage reads 8-byte words. Oracle stays the
    single-statement SQL."""
    rel = _hamsig_labeled_rel(spark, view)
    src_where = f" AND a.vec_id % {src_modulus} = 0" if src_modulus > 1 else ""
    return spark.sql(
        f"""
WITH pairs AS (
  SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
         CAST(bit_count(a.lo ^ b.lo) + bit_count(a.hi ^ b.hi) AS BIGINT) AS dist
  FROM {rel} a JOIN {rel} b ON a.label = b.label AND a.vec_id <> b.vec_id{src_where}
),
ranked AS (
  SELECT label, src, dst, dist,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rk
  FROM pairs
)
SELECT label, src, dst, dist, rk FROM ranked WHERE rk <= {k}
"""
    )


# ------------------------------------- hot-cell guard for blocked graphs
#
# The label-blocked exact graph above is quadratic WITHIN each label
# cell by design — fine while every cell is bounded, pathological the
# day one label holds half the corpus (src sampling divides the pair
# mass by m, it does not bound the cell). The guard below is the coded
# escape hatch (SCALE.md "known scale limits"): cells past ``cell_cap``
# are split into IVF-style sub-cells in SIGNATURE space — each vector
# is assigned to its Hamming-nearest seed among the cell's
# ceil(n/cap) lexicographically-first members — and the pair stage
# blocks on (label, sub_cell). Cold cells get exactly one seed, so the
# guarded graph is IDENTICAL to the exact one wherever the guard does
# not engage (proved by pytest frame-equality on planted-skew data and
# in-band by the report's recall_ppm = 1000000 rows). Hot cells trade
# cross-sub-cell edges for boundedness; the report SURFACES that trade
# (pair_mass_split_off, measured recall vs exact) instead of hiding it
# — the repo's no-silent-caps rule.
#
# Cost model (per hot cell of n vectors, s = ceil(n/cap) seeds):
# assignment is n·s pairs, pair stage is Σ c_i(c_i−1) ≤ n·max_cell —
# both a factor ~cap below n²; max_cell_n is emitted as the gauge for
# the residual imbalance risk (IVF sub-cells are data-sized, not
# hash-balanced). At deployment, pick cap ≈ √n_expected so the two
# terms balance at ~2·n^1.5, or recurse one more level.


def _knn_guard_chain(
    cell_cap: int, src_modulus: int, sfx: str = "", emit_base: bool = True
) -> str:
    """CTE chain from a ``sig`` relation (vec_id, label, lo, hi) to the
    guarded pair top-k ``granked{sfx}``; {{idiv}}/{{xor_*}} placeholders
    are rendered per engine by bi_sql. ``sfx`` suffixes every
    cap-dependent CTE name so several caps can coexist in one statement
    (the cap sweep); the cap-INDEPENDENT bases (cnt_g, seeds_g) are
    shared across caps — pass ``emit_base=False`` after the first."""
    if cell_cap < 2:
        raise ValueError(f"cell_cap must be >= 2: {cell_cap}")
    src_where = f" AND a.vec_id % {src_modulus} = 0" if src_modulus > 1 else ""
    base = ""
    if emit_base:
        base = """cnt_g AS (SELECT label, COUNT(*) AS n FROM sig GROUP BY label),
seeds_g AS (
  SELECT label, vec_id AS seed_id, lo AS s_lo, hi AS s_hi,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS seed_rk
  FROM sig
),
"""
    return f"""{base}nsub{sfx} AS (
  SELECT label, (n + {cell_cap - 1}) {{idiv}} {cell_cap} AS n_sub FROM cnt_g
),
useed{sfx} AS (
  SELECT se.label, se.seed_id, se.s_lo, se.s_hi
  FROM seeds_g se JOIN nsub{sfx} ns
    ON ns.label = se.label AND se.seed_rk <= ns.n_sub
),
assign{sfx} AS (
  SELECT label, vec_id, lo, hi, sub_cell FROM (
    SELECT v.label, v.vec_id, v.lo, v.hi, u.seed_id AS sub_cell,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY bit_count({{xor_va_lo}}) + bit_count({{xor_va_hi}}) ASC,
                      u.seed_id ASC
           ) AS rk
    FROM sig v JOIN useed{sfx} u ON u.label = v.label
  ) r WHERE rk = 1
),
gpairs{sfx} AS (
  SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
         CAST(bit_count({{xor_ab_lo}}) + bit_count({{xor_ab_hi}}) AS BIGINT) AS dist
  FROM assign{sfx} a JOIN assign{sfx} b
    ON a.label = b.label AND a.sub_cell = b.sub_cell
       AND a.vec_id <> b.vec_id{src_where}
),
granked{sfx} AS (
  SELECT label, src, dst, dist,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rk
  FROM gpairs{sfx}
)"""


_GUARD_FRAGS = dict(
    idiv=("DIV", "//"),
    xor_va_lo=("(v.lo ^ u.s_lo)", "xor(v.lo, u.s_lo)"),
    xor_va_hi=("(v.hi ^ u.s_hi)", "xor(v.hi, u.s_hi)"),
    xor_ab_lo=("(a.lo ^ b.lo)", "xor(a.lo, b.lo)"),
    xor_ab_hi=("(a.hi ^ b.hi)", "xor(a.hi, b.hi)"),
    xor_ae_lo=("(a.lo ^ b.lo)", "xor(a.lo, b.lo)"),
    xor_ae_hi=("(a.hi ^ b.hi)", "xor(a.hi, b.hi)"),
)

# Spark-side renderings of the shared fragments, for the staged paths
# that format a chain/tail template directly.
_GUARD_SPARK_FRAGS = {n: s for n, (s, _) in _GUARD_FRAGS.items()}


def _guard_assign_rel(
    spark: SparkSession, cell_cap: int, view: str = "embeddings"
) -> str:
    """Stage the guarded sub-cell ASSIGNMENT (label, vec_id, lo, hi,
    sub_cell) once per (session, cap, sig lineage). The report and the
    cap sweep reference the assignment from several consumers (cell
    stats, both sides of the guarded pair join) and Spark's CTE
    inlining re-executed the seed-election + Hamming-nearest-seed
    window once per reference — the cap-sweep before-plan carries 54
    Exchanges with zero reuse. The relation is O(N) rows of five
    fixed-width columns, cap-keyed (assignment is independent of the
    src sampling modulus and of k), so one staging serves every
    consumer of that cap in the session — including ACROSS the report
    and the sweep when their caps coincide."""
    rel = _hamsig_labeled_rel(spark, view)
    chain = _knn_guard_chain(cell_cap, 1)
    sql = (
        f"WITH sig AS (SELECT vec_id, label, lo, hi FROM {rel}),\n{chain}\n"
        "SELECT label, vec_id, lo, hi, sub_cell FROM assign"
    ).format(**_GUARD_SPARK_FRAGS)
    return P.stage_view(
        spark, lambda: spark.sql(sql), "guard_assign", view, (cell_cap,)
    )


def _guard_etopk_rel(
    spark: SparkSession, k: int, src_modulus: int, view: str = "embeddings"
) -> str:
    """Stage the sampled EXACT top-k truth relation (label, src, dst)
    once per (session, k, src_modulus, sig lineage): the quadratic
    exact pair join is the most expensive subtree in the guard
    reports, and the cap sweep referenced it once per cap (3x). Same
    values as the epairs/etopk CTE pair in the report tail: the window
    ranks by the identical integer Hamming distance with the dst
    tie-break."""
    rel = _hamsig_labeled_rel(spark, view)
    esrc_where = f" AND a.vec_id % {src_modulus} = 0" if src_modulus > 1 else ""
    sql = f"""
SELECT label, src, dst FROM (
  SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY bit_count(a.lo ^ b.lo) + bit_count(a.hi ^ b.hi) ASC,
                    b.vec_id ASC
         ) AS rk
  FROM {rel} a JOIN {rel} b
    ON a.label = b.label AND a.vec_id <> b.vec_id{esrc_where}
) r WHERE rk <= {k}"""
    return P.stage_view(
        spark, lambda: spark.sql(sql), "guard_etopk", view, (k, src_modulus)
    )


def _guard_pair_ctes(src_modulus: int, assign_rel: str, sfx: str = "") -> str:
    """gpairs/granked CTEs over a STAGED assignment relation — the
    guarded pair join + rank window, identical expressions to the
    `_knn_guard_chain` tail but reading the staged relation instead of
    re-deriving the assignment per reference."""
    src_where = f" AND a.vec_id % {src_modulus} = 0" if src_modulus > 1 else ""
    return f"""gpairs{sfx} AS (
  SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
         CAST(bit_count(a.lo ^ b.lo) + bit_count(a.hi ^ b.hi) AS BIGINT) AS dist
  FROM {assign_rel} a JOIN {assign_rel} b
    ON a.label = b.label AND a.sub_cell = b.sub_cell
       AND a.vec_id <> b.vec_id{src_where}
),
granked{sfx} AS (
  SELECT label, src, dst, dist,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rk
  FROM gpairs{sfx}
)"""


def hamming_knn_guarded_sql(
    k: int = 3,
    cell_cap: int = 40,
    view: str = "embeddings",
    src_modulus: int = 1,
) -> str:
    """Single-statement DuckDB oracle of the GUARDED
    label-blocked k-NN graph — same output relation (label, src, dst,
    dist, rk) as :func:`hamming_knn_graph_sql`, with per-cell pair
    mass bounded by the hot-cell split documented above. Identical to
    the exact graph on every label of size <= cell_cap."""
    chain = _knn_guard_chain(cell_cap, src_modulus)
    template = f"""
WITH sig AS (
  SELECT vec_id, label, {{sig_lo}} AS lo, {{sig_hi}} AS hi FROM {view}
),
{chain}
SELECT label, src, dst, dist, rk FROM granked WHERE rk <= {k}
"""
    return P.duck_sql(
        template,
        sig_lo=_sign_word_sql(0, one_based=True),
        sig_hi=_sign_word_sql(1, one_based=True),
        **_GUARD_FRAGS,
    )


def hamming_knn_guarded_staged(
    spark: SparkSession,
    k: int = 3,
    cell_cap: int = 40,
    view: str = "embeddings",
    src_modulus: int = 1,
) -> DataFrame:
    """Execution path for :func:`hamming_knn_guarded_sql` over the
    STAGED assignment relation (same staging rationale as
    hamming_knn_graph_staged; the exact graph, the guarded graph, the
    guard report and the cap sweep all read the SAME O(N) staged
    relations — the pair join references the assignment twice, so the
    unstaged chain re-derived the seed election + nearest-seed window
    per side)."""
    assign_rel = _guard_assign_rel(spark, cell_cap, view)
    pair = _guard_pair_ctes(src_modulus, assign_rel)
    return spark.sql(
        f"""
WITH {pair}
SELECT label, src, dst, dist, rk FROM granked WHERE rk <= {k}
"""
    )


def _knn_guard_report_tail(
    k: int,
    src_modulus: int,
    assign_rel: str = "assign",
    etopk_rel: str | None = None,
) -> str:
    """Gauge + recall tail appended after the guard chain: per-label
    cell statistics (the hot-cell GAUGE: sub-cell count, largest
    sub-cell, exact vs guarded pair mass, split-off mass) and measured
    edge recall of the guarded graph against the exact one on the same
    sampled sources. Engine-shared except {{idiv}}. The staged Spark
    path passes ``assign_rel`` / ``etopk_rel`` relation names so the
    assignment and the sampled exact truth are read from their staged
    relations instead of re-derived per CTE reference (the SQL twins
    keep the self-contained epairs/etopk form)."""
    esrc_where = f" AND a.vec_id % {src_modulus} = 0" if src_modulus > 1 else ""
    exact = (
        f"""epairs AS (
  SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
         CAST(bit_count({{xor_ae_lo}}) + bit_count({{xor_ae_hi}}) AS BIGINT) AS dist
  FROM sig a JOIN sig b
    ON a.label = b.label AND a.vec_id <> b.vec_id{esrc_where}
),
etopk AS (
  SELECT label, src, dst FROM (
    SELECT label, src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rk
    FROM epairs
  ) r WHERE rk <= {k}
),
"""
        if etopk_rel is None
        else ""
    )
    return f"""{exact}gtopk AS (SELECT src, dst FROM granked WHERE rk <= {k}),
cellstats AS (
  SELECT label, sub_cell, COUNT(*) AS c FROM {assign_rel} GROUP BY label, sub_cell
),
mass AS (
  SELECT label,
         CAST(SUM(c) AS BIGINT) AS n_vectors,
         CAST(COUNT(*) AS BIGINT) AS n_sub_cells,
         CAST(MAX(c) AS BIGINT) AS max_cell_n,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS guarded_pair_mass
  FROM cellstats GROUP BY label
),
recall AS (
  SELECT e.label, COUNT(*) AS n_true,
         SUM(CASE WHEN g.dst IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM {etopk_rel or 'etopk'} e LEFT JOIN gtopk g ON g.src = e.src AND g.dst = e.dst
  GROUP BY e.label
)
SELECT m.label, m.n_vectors, m.n_sub_cells, m.max_cell_n,
       CAST(m.n_vectors * (m.n_vectors - 1) AS BIGINT) AS exact_pair_mass,
       m.guarded_pair_mass,
       CAST(m.n_vectors * (m.n_vectors - 1) - m.guarded_pair_mass AS BIGINT)
         AS pair_mass_split_off,
       CAST(COALESCE(r.n_true, 0) AS BIGINT) AS n_true,
       CAST(COALESCE(r.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(CASE WHEN COALESCE(r.n_true, 0) = 0 THEN 1000000
            ELSE COALESCE(r.n_hit, 0) * 1000000 {{idiv}} r.n_true
       END AS BIGINT) AS recall_ppm
FROM mass m LEFT JOIN recall r ON r.label = m.label
ORDER BY m.label"""


def knn_cell_guard_report_sql(
    k: int = 3,
    cell_cap: int = 40,
    view: str = "embeddings",
    src_modulus: int = 8,
) -> str:
    """Single-statement DuckDB oracle of the hot-cell guard REPORT: one row
    per label with the cell gauge and the guarded-vs-exact recall.
    ``src_modulus`` applies the sampled-exact protocol to BOTH graphs
    symmetrically (the exact side is the quadratic one; the guarded
    side is sampled identically so the recall join is src-aligned).
    Cold labels (n <= cell_cap) must show recall_ppm = 1000000 — the
    in-band proof that the guard is the identity when not engaged."""
    chain = _knn_guard_chain(cell_cap, src_modulus)
    tail = _knn_guard_report_tail(k, src_modulus)
    template = f"""
WITH sig AS (
  SELECT vec_id, label, {{sig_lo}} AS lo, {{sig_hi}} AS hi FROM {view}
),
{chain},
{tail}
"""
    return P.duck_sql(
        template,
        sig_lo=_sign_word_sql(0, one_based=True),
        sig_hi=_sign_word_sql(1, one_based=True),
        **_GUARD_FRAGS,
    )


def knn_cell_guard_report_staged(
    spark: SparkSession,
    k: int = 3,
    cell_cap: int = 40,
    view: str = "embeddings",
    src_modulus: int = 8,
) -> DataFrame:
    """Execution path for :func:`knn_cell_guard_report_sql` over STAGED
    assignment and exact-truth relations (see _guard_assign_rel /
    _guard_etopk_rel — the single-statement form re-derived both once
    per CTE reference); only the guarded pair join + rank and the
    report aggregates remain in the statement."""
    assign_rel = _guard_assign_rel(spark, cell_cap, view)
    etopk_rel = _guard_etopk_rel(spark, k, src_modulus, view)
    pair = _guard_pair_ctes(src_modulus, assign_rel)
    tail = _knn_guard_report_tail(
        k, src_modulus, assign_rel=assign_rel, etopk_rel=etopk_rel
    )
    template = f"""
WITH {pair},
{tail}
"""
    return spark.sql(template.format(**_GUARD_SPARK_FRAGS))


def _knn_guard_cap_sweep_body(
    caps: tuple[int, ...],
    k: int,
    src_modulus: int,
    assign_of: dict[int, str] | None = None,
    etopk_rel: str | None = None,
) -> str:
    """Sweep body after the ``sig`` CTE: one guard chain per cap (the
    cap-independent cnt_g/seeds_g bases shared), ONE sampled exact
    truth, and a one-row-per-cap corpus summary — the recall-vs-mass
    tuning curve for choosing cell_cap, exactly the
    dedup_lsh_band_tuning discipline applied to the guard. All the
    per-cap aggregates are single rows, so the final joins are
    broadcast 1-row combines."""
    if len(set(caps)) != len(caps) or len(caps) < 2:
        raise ValueError(f"caps must be >= 2 distinct values: {caps}")
    esrc_where = f" AND a.vec_id % {src_modulus} = 0" if src_modulus > 1 else ""
    if assign_of is None:
        parts = [
            _knn_guard_chain(cap, src_modulus, sfx=f"_c{cap}", emit_base=(i == 0))
            for i, cap in enumerate(caps)
        ]
    else:
        # staged path: the assignment chain per cap is read from its
        # staged relation; only the guarded pair join + rank stay CTEs
        parts = [
            _guard_pair_ctes(src_modulus, assign_of[cap], sfx=f"_c{cap}")
            for cap in caps
        ]
    if etopk_rel is None:
        parts.append(f"""epairs AS (
  SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
         CAST(bit_count({{xor_ae_lo}}) + bit_count({{xor_ae_hi}}) AS BIGINT) AS dist
  FROM sig a JOIN sig b
    ON a.label = b.label AND a.vec_id <> b.vec_id{esrc_where}
),
etopk AS (
  SELECT label, src, dst FROM (
    SELECT label, src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rk
    FROM epairs
  ) r WHERE rk <= {k}
)""")
    selects = []
    for cap in caps:
        s = f"_c{cap}"
        a_rel = f"assign{s}" if assign_of is None else assign_of[cap]
        parts.append(f"""cell{s} AS (
  SELECT label, sub_cell, COUNT(*) AS c FROM {a_rel} GROUP BY label, sub_cell
),
mass{s} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sub_cells,
         CAST(MAX(c) AS BIGINT) AS max_cell_n,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS guarded_pair_mass
  FROM cell{s}
),
rec{s} AS (
  SELECT COUNT(*) AS n_true,
         SUM(CASE WHEN g.dst IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM {etopk_rel or 'etopk'} e LEFT JOIN (
    SELECT src, dst FROM granked{s} WHERE rk <= {k}
  ) g ON g.src = e.src AND g.dst = e.dst
)""")
        selects.append(f"""SELECT {cap} AS cell_cap, m.n_sub_cells, m.max_cell_n,
       m.guarded_pair_mass,
       CAST(r.n_true AS BIGINT) AS n_true, CAST(r.n_hit AS BIGINT) AS n_hit,
       CAST(CASE WHEN r.n_true = 0 THEN 1000000
            ELSE r.n_hit * 1000000 {{idiv}} r.n_true END AS BIGINT) AS recall_ppm
FROM mass{s} m CROSS JOIN rec{s} r""")
    return (
        ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY cell_cap"
    )


def knn_guard_cap_sweep_sql(
    caps: tuple[int, ...] = (20, 40, 80),
    k: int = 3,
    view: str = "embeddings",
    src_modulus: int = 8,
) -> str:
    """Single-statement DuckDB oracle of the cap tuning curve: one row per
    candidate cell_cap with total guarded pair mass, largest sub-cell,
    and measured recall vs the sampled exact graph — pick the smallest
    cap whose recall clears the corpus's bar ("measure, don't
    guess")."""
    body = _knn_guard_cap_sweep_body(caps, k, src_modulus)
    template = f"""
WITH sig AS (
  SELECT vec_id, label, {{sig_lo}} AS lo, {{sig_hi}} AS hi FROM {view}
),
{body}
"""
    return P.duck_sql(
        template,
        sig_lo=_sign_word_sql(0, one_based=True),
        sig_hi=_sign_word_sql(1, one_based=True),
        **_GUARD_FRAGS,
    )


def knn_guard_cap_sweep_staged(
    spark: SparkSession,
    caps: tuple[int, ...] = (20, 40, 80),
    k: int = 3,
    view: str = "embeddings",
    src_modulus: int = 8,
) -> DataFrame:
    """Execution path for :func:`knn_guard_cap_sweep_sql` over STAGED
    per-cap assignment relations and ONE staged sampled-exact truth
    (the single-statement form re-derived the assignment chain ~3x
    per cap and the quadratic exact truth once per cap — 54 Exchanges,
    zero reuse, in the before-plan). The staged relations are
    content-addressed by (cap) / (k, src_modulus), so the cap-40
    assignment and the truth relation are THE SAME staged rows
    emb_knn_cell_guard_report reads."""
    assign_of = {cap: _guard_assign_rel(spark, cap, view) for cap in caps}
    etopk_rel = _guard_etopk_rel(spark, k, src_modulus, view)
    body = _knn_guard_cap_sweep_body(
        caps, k, src_modulus, assign_of=assign_of, etopk_rel=etopk_rel
    )
    return spark.sql(("WITH " + body).format(**_GUARD_SPARK_FRAGS))


# ------------------------------------------- Matryoshka truncation report
def matryoshka_recall_sql(
    dims: tuple[int, ...] = (16, 32),
    k: int = 10,
    n_queries: int = 5,
    view: str = "embeddings",
) -> str:
    """Prefix-dimension ("Matryoshka", Kusupati et al. NeurIPS'22)
    retrieval tradeoff report: top-k by cosine over only the FIRST
    ``d`` dimensions, scored against the full-dimension exact top-k —
    one row per ``d`` with hits and recall.

    Why it matters at 100 TB: prefix-truncated search reads d/D of the
    vector bytes and does d/D of the FLOPs — with embeddings stored
    dimension-sliced (a prefix column + a tail column), a d=16 pass
    over a 64-dim corpus is a 4x I/O cut BEFORE any index, composable
    with IVF/PQ. This report is the "measure, don't guess" gate for
    choosing d (same discipline as ann_recall_report for nprobe and
    dedup_lsh_cost_audit for banding).

    Determinism: each truncated cosine is an explicit left-associated
    d-term chain (identical IEEE-754 op sequence in both engines);
    ties break on n_id. Scale shape: the scored relations are Q x N
    with bounded Q (broadcast query set), the rank windows partition
    by q_id, and the final join/aggregate is k·Q-sized.
    """
    if not all(0 < d <= DIM for d in dims):
        raise ValueError(f"dims must be in (0, {DIM}]: {dims}")
    # dedupe (and drop an explicit DIM — the truth set is always built)
    dims = tuple(dict.fromkeys(d for d in dims if d != DIM))
    if not dims:
        raise ValueError(
            f"dims must contain at least one PREFIX dimension < {DIM}: "
            "comparing the full dimension against itself is vacuous"
        )

    def dot(a: str, b: str, d: int) -> str:
        return " + ".join(
            f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
            for i in range(d)
        )

    # LIMIT is semantically a no-op (vec_id < n_queries admits
    # exactly n_queries rows) but makes the broadcast build side
    # STRUCTURALLY bounded — the plan audit can prove the nested
    # loop is a bounded expand without knowing filter selectivity.
    parts = [
        f"q AS (SELECT vec_id AS q_id, embedding AS qv "
        f"FROM {view} WHERE vec_id < {n_queries} LIMIT {n_queries})"
    ]
    for d in (*dims, DIM):
        parts.append(
            f"""s{d} AS (
  SELECT q.q_id, e.vec_id AS n_id,
         ({dot('qv', 'e.embedding', d)})
           / (sqrt({dot('qv', 'qv', d)}) * sqrt({dot('e.embedding', 'e.embedding', d)})) AS c
  FROM q JOIN {view} e ON e.vec_id <> q.q_id
)"""
        )
        parts.append(
            f"""t{d} AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rk
    FROM s{d}
  ) r WHERE rk <= {k}
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"""SELECT {d} AS dims, COUNT(*) AS n_true,
       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS recall_ppm
FROM t{DIM} e LEFT JOIN t{d} a ON a.q_id = e.q_id AND a.n_id = e.n_id"""
        for d in dims
    )
    return "WITH " + ",\n".join(parts) + "\n" + unions


def matryoshka_recall_staged(
    spark: SparkSession,
    dims: tuple[int, ...] = (16, 32),
    k: int = 10,
    n_queries: int = 5,
    view: str = "embeddings",
) -> DataFrame:
    """Execution path for :func:`matryoshka_recall_sql` with each
    prefix-dimension top-k STAGED: the single-statement form
    re-executes the full-dimension scored relation (a Q x N corpus
    pass) once per union branch — t{DIM} is the truth side of every
    recall row — and each t_d's rank window per reference. Staged,
    each Q x N scored pass runs exactly once (the staged relation is
    k·Q rows) and the report is |dims| joins of 50-row relations.
    Expressions are the SQL twin's own (built by the same dot-chain
    generator), so values are bit-identical; oracle unchanged."""
    if not all(0 < d <= DIM for d in dims):
        raise ValueError(f"dims must be in (0, {DIM}]: {dims}")
    dims = tuple(dict.fromkeys(d for d in dims if d != DIM))
    if not dims:
        raise ValueError(
            f"dims must contain at least one PREFIX dimension < {DIM}: "
            "comparing the full dimension against itself is vacuous"
        )

    def dot(a: str, b: str, d: int) -> str:
        # Spark-side rendering: 0-based [] element access, the same
        # chain matryoshka_recall_sql emits with one_based=False
        return " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
            for i in range(d)
        )

    def topk_rel(d: int) -> str:
        body = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv
           FROM {view} WHERE vec_id < {n_queries} LIMIT {n_queries}),
s AS (
  SELECT q.q_id, e.vec_id AS n_id,
         ({dot('qv', 'e.embedding', d)})
           / (sqrt({dot('qv', 'qv', d)}) * sqrt({dot('e.embedding', 'e.embedding', d)})) AS c
  FROM q JOIN {view} e ON e.vec_id <> q.q_id
)
SELECT q_id, n_id FROM (
  SELECT q_id, n_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rk
  FROM s
) r WHERE rk <= {k}"""
        return P.stage_view(
            spark, lambda: spark.sql(body), "mat_topk", view, (d, k, n_queries)
        )

    rels = {d: topk_rel(d) for d in (*dims, DIM)}
    unions = "\nUNION ALL\n".join(
        f"""SELECT {d} AS dims, COUNT(*) AS n_true,
       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            DIV COUNT(*) AS BIGINT) AS recall_ppm
FROM {rels[DIM]} e LEFT JOIN {rels[d]} a ON a.q_id = e.q_id AND a.n_id = e.n_id"""
        for d in dims
    )
    return spark.sql(unions)


# ------------------------------------------------- IVF nprobe sweep
def _nprobe_tail(
    probes: tuple[int, ...],
    nv_rel: str,
    assign_rel: str,
    exact_rel: str,
    k: int,
    n_queries: int,
    *,
    one_based: bool,
    idiv: str,
) -> str:
    """CTE tail from an IVF assignment relation (vec_id, c_id, rn —
    plus embedding/nrm on the nv relation) + exact top-k relation to
    the per-nprobe recall/cost table."""
    sdot = _dot("qv.embedding", "nv2.embedding", one_based=one_based)
    parts = []
    rows = []
    for p in probes:
        parts.append(
            f"""cand_{p} AS (
  SELECT DISTINCT a.vec_id AS q_id, m.vec_id AS n_id
  FROM {assign_rel} a
  JOIN (SELECT vec_id, c_id FROM {assign_rel} WHERE rn = 1) m
    ON m.c_id = a.c_id AND m.vec_id <> a.vec_id
  WHERE a.vec_id < {n_queries} AND a.rn <= {p}
)"""
        )
        parts.append(
            f"""top_{p} AS (
  SELECT q_id, n_id FROM (
    SELECT c.q_id, c.n_id,
           ROW_NUMBER() OVER (
             PARTITION BY c.q_id
             ORDER BY ({sdot}) / (qv.nrm * nv2.nrm) DESC, c.n_id
           ) AS rnk
    FROM cand_{p} c
    JOIN {nv_rel} qv ON qv.vec_id = c.q_id
    JOIN {nv_rel} nv2 ON nv2.vec_id = c.n_id
  ) r WHERE rnk <= {k}
)"""
        )
        parts.append(
            f"cnt_{p} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand_{p})"
        )
        parts.append(
            f"""hit_{p} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN t.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM {exact_rel} e LEFT JOIN top_{p} t
    ON t.q_id = e.q_id AND t.n_id = e.n_id
)"""
        )
        rows.append(
            f"""SELECT {p} AS nprobe, n_candidates, n_true, n_hits,
       CAST(n_hits * 1000000 {idiv} NULLIF(n_true, 0) AS BIGINT) AS recall_ppm
FROM cnt_{p} CROSS JOIN hit_{p}"""
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


def ivf_nprobe_sweep_sql(
    probes: tuple[int, ...] = (1, 2, 4),
    n_cells: int = 16,
    k: int = 10,
    n_queries: int = 5,
    view: str = "embeddings",
) -> str:
    """nprobe sweep for the IVF path: for each probe count, the
    candidate mass the probed inverted lists admit and the measured
    recall of the re-ranked top-k against the exact top-k — the
    recall-vs-scan-cost curve that picks nprobe from the corpus's own
    numbers instead of a rule of thumb. Completes the measured-tuning
    set: LSH banding (dedup_lsh_band_tuning), PQ (ann_pq_recall_report),
    prefix dims (ann_matryoshka_recall), and now the IVF probe budget.

    Scale shape: ONE shared centroid-assignment relation (the same
    staged relation ann_ivf_topk consumes — n_cells-bounded broadcast
    ranking); per probe count one inverted-list equi-join on c_id
    (candidate cost O(probed lists), never O(N) per query) and
    k·Q-sized rank/compare tails; global-aggregate 1-row relations
    cross-join for the report row. Output is |probes| rows.
    """
    norm = _norm("embedding", one_based=True)
    adot = _dot("v.embedding", "c.cv", one_based=True)
    sdot = _dot("qv.embedding", "nv2.embedding", one_based=True)
    # MATERIALIZED, or DuckDB's inliner re-derives nv's 64-element
    # norm per reference and assign's N x n_cells dot ranking once per
    # probe config — the kcore re-derivation class (DETERMINISM.md),
    # observed as a 4GB-budget OOM at the sf1.0 twin in round 7.
    head = f"""nv AS MATERIALIZED (
  SELECT vec_id, embedding, ({norm}) AS nrm FROM {view}
),
c AS MATERIALIZED (
  SELECT vec_id AS c_id, embedding AS cv, nrm AS cnrm FROM nv WHERE vec_id < {n_cells}
),
assign AS MATERIALIZED (
  SELECT v.vec_id, v.c_id, v.rn FROM (
    SELECT v.vec_id, c.c_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ({adot}) / (v.nrm * c.cnrm) DESC, c.c_id
           ) AS rn
    FROM nv v JOIN c ON 1 = 1
  ) v
),
exscored AS (
  SELECT qv.vec_id AS q_id, nv2.vec_id AS n_id,
         ({sdot}) / (qv.nrm * nv2.nrm) AS cosine
  FROM nv qv JOIN nv nv2 ON nv2.vec_id <> qv.vec_id
  WHERE qv.vec_id < {n_queries}
),
exact AS MATERIALIZED (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
    FROM exscored
  ) r WHERE rk <= {k}
)"""
    tail = _nprobe_tail(
        probes, "nv", "assign", "exact", k, n_queries,
        one_based=True, idiv="//",
    )
    return "WITH " + head + ",\n" + tail


def ivf_nprobe_sweep_staged(
    spark: SparkSession,
    probes: tuple[int, ...] = (1, 2, 4),
    n_cells: int = 16,
    k: int = 10,
    n_queries: int = 5,
    view: str = "embeddings",
) -> DataFrame:
    """Spark path: reuses the SAME staged IVF assignment relation as
    ann_ivf_topk (Arrow-kernel centroid ranking, norms carried) and the
    staged exact top-k (cosine_topk_staged); the sweep itself is three
    inverted-list joins + compare tails over the staged views."""
    assign_rel = ivf_assignment_rel(spark, n_cells, view)
    # exact top-k is STAGED (cosine_topk_staged is a lazy kernel scan;
    # referencing it from one view per probe config would re-run the
    # Q x N kernel once per config) under a content-addressed name —
    # params in the key, so concurrent sweeps with different k or
    # n_queries never clobber each other.
    exact_name = P.stage_view(
        spark,
        lambda: cosine_topk_staged(spark, k, n_queries, view).select("q_id", "n_id"),
        "nprobe_exact",
        view,
        (k, n_queries),
    )
    # Probe sets NEST: the lists nprobe=p admits are exactly the pairs
    # whose smallest admitting probe rank is <= p. So candidates are
    # generated ONCE at max(probes) grain carrying first_probe =
    # MIN(a.rn), scored ONCE (the cosine expression is unchanged, so
    # every per-probe cosine is the identical FP value), and the
    # relation is STAGED — the unstaged tail re-ran the candidate join
    # + score join once per probe config and once more for the count
    # (the before-plan shows 21 Exchanges, 0 reused). Per probe, what
    # remains is genuinely per-config work: a rank window over the
    # first_probe <= p subset and the recall/count aggregates. At 100
    # TB the candidate generation and the Q x cand scoring pass run
    # once instead of |probes| + 1 times.
    nv_rel = f"(SELECT vec_id, embedding, nrm FROM {assign_rel} WHERE rn = 1)"
    max_p = max(probes)
    sdot = _dot("qv.embedding", "nv2.embedding", one_based=False)
    scored_name = P.stage_view(
        spark,
        lambda: spark.sql(
            f"""
SELECT c.q_id, c.n_id, c.first_probe,
       ({sdot}) / (qv.nrm * nv2.nrm) AS cosine
FROM (
  SELECT a.vec_id AS q_id, m.vec_id AS n_id, MIN(a.rn) AS first_probe
  FROM {assign_rel} a
  JOIN (SELECT vec_id, c_id FROM {assign_rel} WHERE rn = 1) m
    ON m.c_id = a.c_id AND m.vec_id <> a.vec_id
  WHERE a.vec_id < {n_queries} AND a.rn <= {max_p}
  GROUP BY a.vec_id, m.vec_id
) c
JOIN {nv_rel} qv ON qv.vec_id = c.q_id
JOIN {nv_rel} nv2 ON nv2.vec_id = c.n_id"""
        ),
        "nprobe_scored",
        view,
        (tuple(probes), n_cells, k, n_queries),
    )
    parts, rows = [], []
    for p in probes:
        parts.append(
            f"""top_{p} AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           ROW_NUMBER() OVER (
             PARTITION BY q_id ORDER BY cosine DESC, n_id
           ) AS rnk
    FROM {scored_name} WHERE first_probe <= {p}
  ) r WHERE rnk <= {k}
)"""
        )
        parts.append(
            f"""cnt_{p} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
  FROM {scored_name} WHERE first_probe <= {p}
)"""
        )
        parts.append(
            f"""hit_{p} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN t.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM {exact_name} e LEFT JOIN top_{p} t
    ON t.q_id = e.q_id AND t.n_id = e.n_id
)"""
        )
        rows.append(
            f"""SELECT {p} AS nprobe, n_candidates, n_true, n_hits,
       CAST(n_hits * 1000000 DIV NULLIF(n_true, 0) AS BIGINT) AS recall_ppm
FROM cnt_{p} CROSS JOIN hit_{p}"""
        )
    return spark.sql(
        "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(rows)
    )


# ------------------------------------------------- whitening statistics
def whitening_stats_sql(view: str = "embeddings") -> tuple[str, str]:
    """Per-dimension moment report for embedding WHITENING / PCA prep —
    the first diagnostic an embedding pipeline runs before choosing a
    transform (Su et al., "Whitening Sentence Representations"): a
    dimension with outsized variance dominates cosine similarity, and
    a (near-)zero-variance dimension is dead weight a truncation can
    drop (the matryoshka report measures the recall side of the same
    decision). Components quantize once to integer 1e-4 units
    (FLOOR(double*1e4) — the same exact grid emb_kmeans uses), so the
    per-dimension count/sum/sum-of-squares are integer-exact and
    order-free; the centered variance numerator n·Σv² − (Σv)² is
    non-negative and accumulates in DECIMAL(38,0)/HUGEINT (the BIGINT
    bound n·Σv² ≤ 1.7e8·n² crosses 2^63 near n ≈ 2.3e5 rows), surfaced
    as its correctly-rounded DOUBLE alongside a deterministic variance
    rank.

    Scale shape: one map-side dimension explode (64 rows per vector,
    all narrow integers), ONE hash agg keyed on dim (64 groups —
    partial aggregation collapses everything map-side; the shuffle
    carries 64 rows per task), and a 64-row window. Linear scan cost,
    constant-size shuffle, at any corpus size."""

    def body(elem: str, dims: str, big_t: str) -> str:
        return f"""
WITH dims AS ({dims}),
q AS (
  SELECT i, CAST(FLOOR(CAST({elem} AS DOUBLE) * 10000) AS BIGINT) AS v
  FROM {view} CROSS JOIN dims
),
m AS (
  SELECT i, COUNT(*) AS n, SUM(v) AS sum_q, SUM(v * v) AS sumsq_q,
         CAST(COUNT(*) AS {big_t}) * SUM(v * v)
           - CAST(SUM(v) AS {big_t}) * SUM(v) AS var_num
  FROM q GROUP BY i
)
SELECT CAST(i AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
       CAST(sum_q AS BIGINT) AS sum_q, CAST(sumsq_q AS BIGINT) AS sumsq_q,
       CAST(var_num AS DOUBLE) AS var_num,
       ROW_NUMBER() OVER (ORDER BY var_num DESC, i ASC) AS var_rank
FROM m
"""

    return (
        body(_KM_SPARK_ELEM, _KM_SPARK_DIMS, _KM_SPARK_BIG),
        body(_KM_DUCK_ELEM, _KM_DUCK_DIMS, _KM_DUCK_BIG),
    )


# ------------------------------------------- multi-index banded Hamming
_HAM_BAND_TAIL = """w AS (
  SELECT vec_id, 0 AS wi, lo {idiv} 65536 AS wv FROM {s}
  UNION ALL SELECT vec_id, 1, lo % 65536 FROM {s}
  UNION ALL SELECT vec_id, 2, hi {idiv} 65536 FROM {s}
  UNION ALL SELECT vec_id, 3, hi % 65536 FROM {s}
),
cand AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM w a JOIN w b ON a.wi = b.wi AND a.wv = b.wv AND a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
p AS (
  SELECT c.src, c.dst,
         CAST(bit_count({xor_lo}) + bit_count({xor_hi}) AS BIGINT) AS dist
  FROM cand c
  JOIN {s} sa ON sa.vec_id = c.src
  JOIN {s} sb ON sb.vec_id = c.dst
),
ranked AS (
  SELECT src, dst, dist,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rk
  FROM p
)
SELECT src, dst, dist, rk FROM ranked WHERE rk <= {k}"""


def hamming_banded_sql(k: int = 3, view: str = "embeddings") -> str:
    """Multi-index Hamming KNN (Norouzi, Punjani, Fleet, "Fast Search
    in Hamming Space with Multi-Index Hashing", CVPR'12) — the SCALE
    PATH the exact label-blocked reference (emb_hamming_knn_graph)
    documents: split the 64-bit sign signature into four 16-bit words;
    by pigeonhole any pair within Hamming distance 3 agrees EXACTLY on
    at least one word, so a 4-way bucket join generates every
    candidate in that radius and exact bit_count ranking runs only on
    candidates. Within radius 3 the top-k is exact; farther neighbors
    are admitted only if they happen to share a word — the measured
    recall trade every banding scheme makes (the exact query remains
    the reference it is scored against).

    Scale shape: the signature relation is O(N) and staged; the 4-way
    word explode is a map-side UNION; candidate generation is a bucket
    join whose expected random-collision mass is C(N,2)/2^16 per band
    (structured near-dups dominate in practice) — never the per-block
    all-pairs of the exact reference, and the band width is the tuning
    knob when buckets run hot at corpus scale. One pair GROUP BY
    dedupes the ≤4 band hits, one per-src window ranks. Measured at
    the sf1.0 twin: exact reference 18.9 s, banded ~1 s at the same k.
    """
    return "WITH " + _ham_sig_cte(view) + _HAM_BAND_TAIL.format(
        s="s", k=k, xor_lo="xor(sa.lo, sb.lo)", xor_hi="xor(sa.hi, sb.hi)", idiv="//"
    )


def _ham_sig_cte(view: str) -> str:
    """The oracle's sign-word signature CTE `s`, shared by the banded
    path and its recall report."""
    return (
        f"s AS MATERIALIZED (SELECT vec_id, "
        f"{_sign_word_sql(0, one_based=True)} AS lo, "
        f"{_sign_word_sql(1, one_based=True)} AS hi FROM {view}),\n"
    )


def _hamsig_rel(spark: SparkSession, view: str) -> str:
    """The staged sign-word signature relation, shared across the
    exact reference, the banded path, and the recall report (identical
    stage key — one signature build serves all three). `label` rides
    along only when the source has it (the default embeddings table
    does; synthetic test views need not) — the cache key is the table
    LINEAGE plus a schema marker in params, so a label-ful and a
    label-less signature over the same lineage never collide, and the
    label-ful variant is shared with hamming_knn_graph_staged's."""
    cols = spark.table(view).columns
    has_label = "label" in cols

    def build():
        label = "label, " if has_label else ""
        return spark.sql(
            f"SELECT vec_id, {label}"
            f"{_sign_word_sql(0, one_based=False)} AS lo, "
            f"{_sign_word_sql(1, one_based=False)} AS hi FROM {view}"
        )

    return P.stage_view(spark, build, "hamsig", view, ("label",) if has_label else ())


def hamming_banded_staged(
    spark: SparkSession, k: int = 3, view: str = "embeddings"
) -> DataFrame:
    """Execution path over the SAME staged (vec_id[, label], lo, hi)
    signature relation hamming_knn_graph_staged pins, for the same
    Catalyst CTE-inlining hazard: unstaged, the 64-CASE sign chains
    re-evaluate once per band row and once per candidate side. Oracle
    stays the single-statement SQL."""
    rel = _hamsig_rel(spark, view)
    return spark.sql(
        "WITH " + _HAM_BAND_TAIL.format(
            s=rel, k=k, xor_lo="(sa.lo ^ sb.lo)", xor_hi="(sa.hi ^ sb.hi)",
            idiv="DIV",
        )
    )


_HAM_RECALL_TAIL = """q AS (
  SELECT vec_id, lo, hi FROM {s} WHERE vec_id < {nq}
),
ex AS (
  SELECT src, dst, dist FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           CAST(bit_count({xor_ab_lo}) + bit_count({xor_ab_hi}) AS BIGINT)
             AS dist,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY bit_count({xor_ab_lo}) + bit_count({xor_ab_hi}) ASC,
                      b.vec_id ASC
           ) AS rk
    FROM q a JOIN {s} b ON a.vec_id <> b.vec_id
  ) r WHERE rk <= {k}
),
qw AS (
  SELECT vec_id, 0 AS wi, lo {idiv} 65536 AS wv FROM q
  UNION ALL SELECT vec_id, 1, lo % 65536 FROM q
  UNION ALL SELECT vec_id, 2, hi {idiv} 65536 FROM q
  UNION ALL SELECT vec_id, 3, hi % 65536 FROM q
),
w AS (
  SELECT vec_id, 0 AS wi, lo {idiv} 65536 AS wv FROM {s}
  UNION ALL SELECT vec_id, 1, lo % 65536 FROM {s}
  UNION ALL SELECT vec_id, 2, hi {idiv} 65536 FROM {s}
  UNION ALL SELECT vec_id, 3, hi % 65536 FROM {s}
),
cand AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM qw a JOIN w b ON a.wi = b.wi AND a.wv = b.wv AND a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
bd AS (
  SELECT src, dst FROM (
    SELECT c.src, c.dst,
           ROW_NUMBER() OVER (
             PARTITION BY c.src
             ORDER BY bit_count({xor_sab_lo}) + bit_count({xor_sab_hi}) ASC,
                      c.dst ASC
           ) AS rk
    FROM cand c
    JOIN {s} sa ON sa.vec_id = c.src
    JOIN {s} sb ON sb.vec_id = c.dst
  ) r WHERE rk <= {k}
)
SELECT CASE WHEN ex.dist <= 3 THEN 'within_radius3' ELSE 'beyond' END AS band,
       COUNT(*) AS exact_rows,
       CAST(SUM(CASE WHEN bd.dst IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS found_rows,
       CAST(SUM(CASE WHEN bd.dst IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            {idiv} COUNT(*) AS BIGINT) AS recall_ppm
FROM ex LEFT JOIN bd ON bd.src = ex.src AND bd.dst = ex.dst
GROUP BY CASE WHEN ex.dist <= 3 THEN 'within_radius3' ELSE 'beyond' END"""


def hamming_banded_recall_sql(
    k: int = 3, n_queries: int = 64, view: str = "embeddings"
) -> str:
    """Recall of the banded Hamming path against the EXACT global
    top-k, sampled-query protocol (same as ann_recall_report /
    ann_pq_recall_report — recall is MEASURED, not assumed): for the
    first ``n_queries`` vectors, exact top-k over the whole corpus vs
    banded top-k, split by the pigeonhole boundary. The
    'within_radius3' row is a checkable INVARIANT, not an observation:
    an exact neighbor at Hamming distance <= 3 shares a 16-bit word
    with its query, is therefore a candidate, and the candidate subset
    preserves the total (dist, dst) order — its banded rank can only
    be better, so recall_ppm MUST be 1000000 whenever the row exists.
    The 'beyond' row is the honest trade the banding makes.

    Scale shape: the exact arm is n_queries x N pair rows (the sampled
    -recall standard — bounded by the sample, not the corpus); the
    banded arm reuses the banded join restricted to sampled sources.
    One LEFT JOIN on (src, dst), one 2-row aggregate."""
    return "WITH " + _ham_sig_cte(view) + _HAM_RECALL_TAIL.format(
        s="s", k=k, nq=n_queries,
        idiv="//",
        xor_ab_lo="xor(a.lo, b.lo)", xor_ab_hi="xor(a.hi, b.hi)",
        xor_sab_lo="xor(sa.lo, sb.lo)", xor_sab_hi="xor(sa.hi, sb.hi)",
    )


def hamming_banded_recall_staged(
    spark: SparkSession, k: int = 3, n_queries: int = 64,
    view: str = "embeddings",
) -> DataFrame:
    """Execution path over the shared staged signature relation (same
    stage key as the exact reference and the banded path — one
    signature build serves all three). Oracle stays the
    single-statement SQL."""
    rel = _hamsig_rel(spark, view)
    return spark.sql(
        "WITH " + _HAM_RECALL_TAIL.format(
            s=rel, k=k, nq=n_queries,
            idiv="DIV",
            xor_ab_lo="(a.lo ^ b.lo)", xor_ab_hi="(a.hi ^ b.hi)",
            xor_sab_lo="(sa.lo ^ sb.lo)", xor_sab_hi="(sa.hi ^ sb.hi)",
        )
    )
