"""Cross-engine deterministic expression builders.

Every operator in this engine is validated against a DuckDB oracle by
value hash, so any computed value must be BIT-IDENTICAL across Spark
and DuckDB. These helpers emit matched (Spark SQL, DuckDB SQL)
expression pairs for the places where naive code would diverge:

1. ``poly_hash``   — polynomial string hash over unicode code points,
   exact 64-bit integer arithmetic in both engines (Spark's murmur3 /
   xxhash64 and DuckDB's hash() are engine-specific, so we roll our
   own). h = fold(h*31 + codepoint) mod 1_000_000_007, seed 7.
   Intermediates stay < 3.1e10 << 2^63: no overflow anywhere.
2. ``tokens``      — lowercase alnum tokenization via the same regex
   class (safe subset of Java regex ∩ RE2).
3. decimal money aggregation — float sums are order-dependent, so
   money math casts to DECIMAL first (exact, associative), rounds,
   then casts to DOUBLE for a stable comparison dtype.

Spark-side expressions are plain SQL strings usable with F.expr()
— they stay inside whole-stage codegen (no Python UDFs).
"""

from __future__ import annotations

import re
import threading

HASH_MOD = 1_000_000_007
HASH_SEED = 7
HASH_MULT = 31


# ---------------------------------------------------------------- hashing
def spark_poly_hash(col: str) -> str:
    """Spark SQL expr: polynomial hash of a string column."""
    return (
        f"aggregate(filter(split({col}, ''), x -> x != ''), "
        f"CAST({HASH_SEED} AS BIGINT), "
        f"(acc, x) -> (acc * {HASH_MULT} + ascii(x)) % {HASH_MOD})"
    )


def duck_poly_hash(col: str) -> str:
    """DuckDB SQL: the same polynomial hash."""
    return (
        f"list_reduce(list_prepend(CAST({HASH_SEED} AS BIGINT), "
        f"list_transform(list_filter(regexp_split_to_array({col}, ''), x -> x != ''), "
        f"x -> CAST(unicode(x) AS BIGINT))), "
        f"(acc, x) -> (acc * {HASH_MULT} + x) % {HASH_MOD})"
    )


def pd_poly_hash_series(s):
    """Vectorized poly_hash over a pandas Series of strings — the SAME
    function as spark_poly_hash/duck_poly_hash, computed in exact
    integer arithmetic (no floats anywhere), so values are identical by
    construction. Used from Arrow-batched pandas UDFs where the SQL
    fold (an interpreted per-character lambda in Spark) is the
    bottleneck.

    Closed form of the fold h = (h*31 + c_i) mod p, h_0 = 7:
        h = (7·31^n + Σ c_i · 31^(n-1-i)) mod p
    Terms are reduced mod p (< 1e9) before a cumulative-sum segment
    reduction, so the int64 accumulator cannot overflow below ~1.8e10
    characters per batch."""
    import numpy as np
    import pandas as pd

    strings = s.fillna("").astype(str).tolist()
    lens = np.array([len(x) for x in strings], dtype=np.int64)
    if len(strings) == 0:
        return pd.Series([], dtype="int64")
    joined = "".join(strings)
    codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    maxn = int(lens.max())
    pw = np.empty(maxn + 1, dtype=np.int64)
    pw[0] = 1
    for i in range(1, maxn + 1):
        pw[i] = (pw[i - 1] * HASH_MULT) % HASH_MOD
    ends = np.cumsum(lens)
    starts = ends - lens
    idx = np.repeat(np.arange(len(lens)), lens)
    pos = np.arange(len(codes)) - starts[idx]
    terms = (codes % HASH_MOD) * pw[lens[idx] - 1 - pos] % HASH_MOD
    csum = np.concatenate([[0], np.cumsum(terms)])
    sums = csum[ends] - csum[starts]
    out = (HASH_SEED * pw[lens] + sums) % HASH_MOD
    res = pd.Series(out, dtype="Int64")
    if s.isna().any():  # SQL semantics: hash(NULL) is NULL
        res[s.isna().to_numpy()] = pd.NA
    return res


def pd_shingle_hash_sets(texts, n: int = 3):
    """Pandas series of document texts → series of SORTED DISTINCT
    shingle-hash lists (int64). Exactly the composition
    list_sort(list_distinct(list_transform(shingles(tokens(text)),
    poly_hash))) from the SQL/duck side: same tokenizer regex, same
    n-gram join, same integer hash — values match the oracle by
    construction (pure integer math, no floats).

    One Arrow batch in, one out. Exists because every SQL formulation
    of this pipeline drags Spark into interpreted higher-order-function
    evaluation — and Catalyst's project-collapsing/pushdown keeps
    re-inlining the tokenizer into shingle lambdas (observed 20x
    slowdowns); a single vectorized UDF sidesteps the whole hazard
    class."""
    import numpy as np
    import pandas as pd

    all_shingles: list[str] = []
    offsets = [0]
    for txt in texts:
        all_shingles.extend(py_ngrams(py_tokens(txt), n))
        offsets.append(len(all_shingles))
    hashes = pd_poly_hash_series(pd.Series(all_shingles, dtype=object)).to_numpy(dtype=np.int64) if all_shingles else np.array([], dtype=np.int64)
    return pd.Series(
        [np.unique(hashes[offsets[i] : offsets[i + 1]]) for i in range(len(texts))]
    )


# ---- pandas-UDF singletons: a freshly-created pandas_udf instance
# pays a large, variable first-execution cost (observed 3-13s —
# command re-pickling/registration per new instance); reusing one
# warmed instance is ~0.5s. Operators must use these, never re-wrap.
_UDF_CACHE: dict[str, object] = {}


def pd_poly_hash_udf():
    if "poly_hash" not in _UDF_CACHE:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _ph(s):  # pragma: no cover - executed on workers
            return pd_poly_hash_series(s)

        _UDF_CACHE["poly_hash"] = _ph
    return _UDF_CACHE["poly_hash"]


def pd_shingle_hash_sets_udf():
    if "shingle_sets" not in _UDF_CACHE:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<bigint>")
        def _hs(texts):  # pragma: no cover - executed on workers
            return pd_shingle_hash_sets(texts)

        _UDF_CACHE["shingle_sets"] = _hs
    return _UDF_CACHE["shingle_sets"]


# Partition sizing for ``fan_out(light=True)`` kernels: one task per
# this many bytes of the optimizer's size estimate. 256 KiB keeps a
# kilobyte-scale relation on 1-4 workers (each Python task is a worker
# round trip with Arrow (de)serialization — measured ~2x wall on the
# sf0.1 embedding kernels when a 0.7 MB relation fans to 32 tasks)
# while any relation past ~8 MB/core is back at full width, so the
# knob is scale-adaptive, not a local-mode constant.
LIGHT_BYTES_PER_TASK = 256 * 1024


def fan_out(df, light: bool = False):
    """Round-robin repartition before an expensive Arrow kernel when the
    scan has fewer partitions than cores. A single small parquet file is
    one Spark partition, which would serialize the kernel on one worker
    (measured 3.5x on the shingle UDF at sf0.1); on a real cluster the
    input arrives pre-split and this is a no-op. Row-wise kernels are
    partition-invariant, so results are unchanged.

    ``light=True`` marks a VECTORIZED closed-form kernel (numpy/Arrow
    batch math — poly-hash, embedding algebra) whose per-byte CPU cost
    is small: the fan-out width is then derived from the optimizer's
    size estimate instead of pinned at the core count, so tiny
    relations stop paying per-task Python round trips (an explicit
    repartition(N) is exempt from AQE coalescing, so this is the only
    place the width can adapt). Per-character/token Python-loop
    kernels (shingles, tokenization, sentence splits) stay full-width:
    their CPU mass per stats-byte is orders of magnitude higher. A
    missing/absurd estimate degrades to full width unchanged."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if light:
        try:
            size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:  # stats unavailable -> keep full width
            size = None
        if size is not None and size > 0:
            target = max(1, min(target, -(-size // LIGHT_BYTES_PER_TASK)))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# Session conf selecting the staging backend for memoized relations
# (token/fingerprint/posting/bucket staging tables). Unset (default):
# localCheckpoint — executor-local shuffle files, fastest on a healthy
# cluster but pinned to live executors and lost on executor death. Set
# to a directory: each staged relation is written to parquet under
# <dir>/<name> and read back — durable, spillable, survives executor
# loss, and visible to other sessions/steps, which is the staging-table
# shape a 100 TB pipeline wants (SCALE.md "known limits").
STAGING_DIR_CONF = "spark.etl_service.stagingDir"


def staging_dir(spark) -> str:
    return spark.conf.get(STAGING_DIR_CONF, "") or ""


NO_FILES = "<no-files>"


def lineage_key(df) -> tuple:
    """Cache-key component identifying a DataFrame's INPUT DATA for the
    staged-relation memos. For file-backed relations this is the sorted
    file list — stable and content-addressing (a different sf_dir is a
    different key). For a relation with NO input files (a temp view
    over an in-memory DataFrame) there is no usable identity: returning
    () would make the memo serve stale staged data after the view is
    re-registered with different contents, so return a UNIQUE token —
    such inputs are staged fresh on every call, never cached."""
    import uuid as _uuid

    files = tuple(sorted(df.inputFiles()))
    return files if files else (NO_FILES, _uuid.uuid4().hex)


def stage_name(prefix: str, key: tuple) -> str:
    """Deterministic content-addressed name for a staged relation: a
    digest of the staging inputs (params + input files), NOT a
    per-process counter. Counters collide across processes sharing a
    staging dir — two sessions would both write <dir>/__tokens_0 and
    silently serve each other's rows; with content addressing, sessions
    share a path exactly when they stage identical content (the shared
    staging-table shape the conf advertises), and different content
    always gets a different path. Pass the ``memo`` key (it carries no
    session component)."""
    import hashlib

    digest = hashlib.sha1(repr(key).encode()).hexdigest()[:12]
    return f"__{prefix}_{digest}"


def stage_df(df, name: str):
    """Materialize a staging relation with truncated lineage — via
    parquet under ``STAGING_DIR_CONF`` when configured, else
    localCheckpoint. ``memo`` keys include ``staging_dir(spark)``, so
    flipping the conf re-stages instead of returning the old backend's
    relation."""
    import os

    spark = df.sparkSession
    d = staging_dir(spark)
    if d:
        path = os.path.join(d, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    return df.localCheckpoint(eager=True)


# The staging memo: the ONLY cache of staged relations and other
# per-corpus build products. Staging exists because Catalyst inlines
# CTEs (a relation referenced twice is computed twice) and the cache
# manager cannot match plans containing lambdas, so persist() alone
# does not stop the re-derivation; a materialized relation does.
#
# One dict per SparkSession, pinned on the session object (not keyed
# by id(spark): CPython recycles addresses), so entries die with the
# session:
#     (kind, params) -> ((lineage, staging dir), value, release)
# i.e. the cache key is (kind, params, lineage_key(src), staging dir),
# with ONE entry kept per (kind, params). That is the eviction rule:
# storing a new lineage (or backend) releases the old entry's value
# (drops its temp view, unpersists its frames) — a session re-pointed
# at new data never asks for the old relation again.
#
# _MEMO_LOCK guards dict access only. Builds run outside it, under a
# per-(kind, params) gate: concurrent orchestrator steps building
# different relations never wait on each other, and two callers of one
# relation build it once (the parquet backend overwrites <dir>/<name>,
# so a duplicate build could delete files the first caller is still
# reading).
_MEMO_LOCK = threading.Lock()


def _session_memo(spark) -> tuple[dict, dict]:
    with _MEMO_LOCK:
        state = getattr(spark, "_etl_stage_memo", None)
        if state is None:
            state = spark._etl_stage_memo = ({}, {})
        return state


def memo_table(spark) -> dict:
    """Snapshot of the session's staging memo (see above)."""
    table = _session_memo(spark)[0]
    with _MEMO_LOCK:
        return dict(table)


def memo(spark, kind: str, params: tuple, src, build, release=None):
    """Memoized ``build(key)`` per key = (kind, params,
    lineage_key(src), staging dir); builders use ``key`` for
    content-addressed names.

    ``src`` is the relation whose INPUT FILES identify the corpus. A
    source without input files has no identity: its value is built
    on every call and never stored (so never evicted while the caller
    still uses it). Never pass a staged (localCheckpoint) relation for
    that reason — key a dependent stage on its base view plus params.
    ``release(value)`` runs when a newer lineage or backend evicts
    the entry."""
    params = tuple(params)
    group = (kind, params)
    ident = (lineage_key(src), staging_dir(spark))
    if ident[0][0] == NO_FILES:
        return build(group + ident)
    table, gates = _session_memo(spark)
    with _MEMO_LOCK:
        gate = gates.setdefault(group, threading.Lock())
    with gate:
        with _MEMO_LOCK:
            old = table.get(group)
        if old is not None and old[0] == ident:
            return old[1]
        value = build(group + ident)
        with _MEMO_LOCK:
            table[group] = (ident, value, release)
    if old is not None and old[2] is not None:
        old[2](old[1])
    return value


def unpersist_frames(value) -> None:
    """``memo`` release for a tuple holding persisted DataFrames."""
    for item in value:
        if hasattr(item, "unpersist"):
            item.unpersist()


def stage_view(spark, df_fn, kind: str, view: str, params: tuple = ()) -> str:
    """Memoized staged relation over the registered input ``view``:
    ``df_fn()`` materialized once per (kind, view + params, input
    lineage, staging backend) and registered under a content-addressed
    temp-view name, which is returned."""
    def build(key):
        name = stage_name(f"{kind}_{view}", key)
        stage_df(df_fn(), name).createOrReplaceTempView(name)
        return name

    return memo(
        spark, kind, (view,) + tuple(params), spark.table(view), build,
        release=spark.catalog.dropTempView,
    )


def warm_udfs(spark) -> None:
    """Execute each singleton once on a tiny relation: spawns python
    workers, imports numpy/pandas there, and pays the per-instance
    first-execution cost outside any measured query."""
    from pyspark.sql import functions as F

    # kilobyte-scale strings: the large-varlen Arrow serialization path
    # JITs separately from the small-string one (measured ~1.3s extra
    # on the first real-document batch when warmed with tiny strings)
    tiny = spark.range(512, numPartitions=2).select(
        F.concat(F.col("id").cast("string"), F.expr("repeat(' word', 200)")).alias("s")
    )
    # run the full shape real queries use (exchange -> Arrow eval ->
    # shuffle agg -> noop sink): the first execution of that pipeline
    # JITs seconds of JVM paths that a bare .collect() warm-up does not
    # touch. The repartition matters: fan_out puts an exchange *before*
    # the Arrow eval, and that exchange->ArrowEval shape JITs
    # separately (measured ~6s on first execution if unwarmed).
    # lower() is in the pipeline because Spark 4's first case-mapping
    # call initializes ICU collation data (~3.5s, measured) — that cost
    # belongs to session init, not the first query that lowercases.
    (
        tiny.repartition(32)
        .select(F.lower(F.col("s")).alias("s"))
        .select(pd_poly_hash_udf()("s").alias("h"), pd_shingle_hash_sets_udf()("s").alias("hs"))
        .groupBy("h")
        .agg(F.count("*").alias("n"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k minhash permutations
    h_i(x) = (a_i*x + b_i) mod HASH_MOD."""
    return [(2 * i + 3, 97 * i + 13) for i in range(k)]


# ------------------------------------------------------------- tokenizing
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def spark_tokens(col: str) -> str:
    """Spark SQL expr: array of lowercase alnum tokens (empties removed,
    multiplicity preserved)."""
    return f"filter(split(lower({col}), '{TOKEN_SPLIT_RE}'), x -> x != '')"


def duck_tokens(col: str) -> str:
    return f"list_filter(regexp_split_to_array(lower({col}), '{TOKEN_SPLIT_RE}'), x -> x != '')"


_TOKEN_SPLITTER = re.compile(TOKEN_SPLIT_RE)


def py_tokens(text: str | None) -> list[str]:
    """Python twin of spark_tokens/duck_tokens for the Arrow kernels:
    None reads as "", then lower, split on TOKEN_SPLIT_RE, drop empty
    tokens (multiplicity preserved)."""
    return [t for t in _TOKEN_SPLITTER.split(("" if text is None else text).lower()) if t]


def py_ngrams(tokens: list[str], n: int) -> list[str]:
    """Space-joined token windows of length ``n`` in order; [] when
    there are fewer than ``n`` tokens."""
    return [" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]


def spark_shingles(tokens_expr: str, n: int = 3) -> str:
    """Spark SQL expr: distinct word n-gram shingles from a token array.
    Uses 1-based element_at to mirror DuckDB list indexing. Guarded with
    if(): Spark's sequence(1, 0) yields a DESCENDING [1,0], not []."""
    grams = ", ".join(f"element_at({tokens_expr}, i + {j})" for j in range(n))
    return (
        f"if(size({tokens_expr}) < {n}, array(), "
        f"array_distinct(transform(sequence(1, size({tokens_expr}) - {n - 1}), "
        f"i -> concat_ws(' ', {grams}))))"
    )


def duck_shingles(tokens_expr: str, n: int = 3) -> str:
    joined = ", ".join(f"t[i + {j}]" for j in range(n))
    return (
        f"list_distinct(list_transform(range(1, greatest(len({tokens_expr}) - {n - 2}, 1)), "
        f"i -> concat_ws(' ', {', '.join(f'{tokens_expr}[i + {j}]' for j in range(n))})))"
    )


def spark_ngrams(tokens_expr: str, n: int = 2) -> str:
    """Spark SQL expr: word n-grams WITH multiplicity (unlike
    spark_shingles, which deduplicates for set-similarity use). The
    multiplicity-preserving form is what frequency models (bigram LM
    scoring) need: repeating a rare bigram must weigh each occurrence."""
    grams = ", ".join(f"element_at({tokens_expr}, i + {j})" for j in range(n))
    return (
        f"if(size({tokens_expr}) < {n}, array(), "
        f"transform(sequence(1, size({tokens_expr}) - {n - 1}), "
        f"i -> concat_ws(' ', {grams})))"
    )


def duck_ngrams(tokens_expr: str, n: int = 2) -> str:
    grams = ", ".join(f"{tokens_expr}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({tokens_expr}) < {n} THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(range(1, len({tokens_expr}) - {n - 2}), "
        f"i -> concat_ws(' ', {grams})) END"
    )


def spark_chunks(tokens_expr: str, w: int = 8) -> str:
    """Spark SQL expr: NON-overlapping w-token chunks of a token array
    (last chunk may be shorter). The unit of exact-substring
    deduplication: a chunk string repeated across documents marks
    copied spans at w-token granularity."""
    return (
        f"if(size({tokens_expr}) = 0, array(), "
        f"transform(sequence(0, (size({tokens_expr}) - 1) DIV {w}), "
        f"j -> concat_ws(' ', slice({tokens_expr}, j * {w} + 1, {w}))))"
    )


def duck_chunks(tokens_expr: str, w: int = 8) -> str:
    # operands are non-negative, so DuckDB floor-div == Spark trunc-div
    return (
        f"CASE WHEN len({tokens_expr}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(range(0, (len({tokens_expr}) - 1) // {w} + 1), "
        f"j -> array_to_string(list_slice({tokens_expr}, j * {w} + 1, j * {w} + {w}), ' ')) END"
    )


# ------------------------------------------------------ decimal money agg
# Determinism policy: NEVER round doubles (engines may tie-break
# differently). Aggregate money in DECIMAL (exact + associative →
# shuffle-order independent), then CAST the exact sum to DOUBLE
# (correctly-rounded conversion, identical in both engines). Scalar
# double expressions over identical operands are bit-identical by IEEE
# 754 and need no treatment; where truncation is wanted, FLOOR(x * 1e6)
# / 1e6 is tie-free (unlike ROUND) in any engine.


def money_sum(expr: str, alias: str) -> str:
    """Engine-shared aggregate: exact decimal sum surfaced as DOUBLE.
    ``expr`` must already be decimal (use dec()).

    Portability bound: the direct DECIMAL→DOUBLE cast is identical
    across engines only while |sum|·10^scale < 2^53. Above that,
    DuckDB's conversion (int128→double, then scale division — two
    roundings) can differ from Spark's single correctly-rounded cast
    by 1 ulp — found by the sf1.0 sweep on tpch_q1's scale-6
    sum_charge. Use money_out() when the scaled sum can cross 2^53."""
    return f"CAST(SUM({expr}) AS DOUBLE) AS {alias}"


def money_out(sum_expr: str, s: int, alias: str | None = None) -> str:
    """Exact decimal aggregate surfaced as DOUBLE deterministically at
    ANY magnitude the scaled integer fits in BIGINT (|sum|·10^s <
    2^63): scale the exact sum to integer units (exact decimal
    multiply), cast to BIGINT (integer-valued → exact), then
    BIGINT→DOUBLE (ONE correctly-rounded conversion, IEEE-identical in
    both engines) and divide by the 10^s literal (one more identical
    correctly-rounded op). This pins the rounding SEQUENCE, which a
    bare DECIMAL→DOUBLE cast does not (engines factor it differently
    above 2^53 — see money_sum).

    CALL-SITE DUTY (round-5 advisor): the BIGINT cast is exact only
    while |sum|·10^s < 2^63 ≈ 9.2e18 — above it the query ERRORS under
    ANSI/DuckDB (loud, never silently wrong, but still an outage).
    Each call must pick s with documented headroom. The tightest
    current call is tpch_q1's s=6 sum_charge: ≈5.7e10 per GROUP per sf
    unit ⇒ scaled-integer form crosses 2^63 near sf≈160 (~160 GB).
    Past that, use money_out_wide() below — same pinned rounding
    sequence through a DECIMAL(38,0) integer instead of BIGINT, exact
    to |sum|·10^s < 10^38 (any realistic corpus)."""
    out = f"CAST(CAST(({sum_expr}) * {10 ** s} AS BIGINT) AS DOUBLE) / {float(10 ** s)}"
    return f"{out} AS {alias}" if alias else out


def money_out_wide(sum_expr: str, s: int, alias: str | None = None) -> str:
    """money_out for sums past the BIGINT-scaled bound: the integer
    intermediate is DECIMAL(38,0) instead of BIGINT — exact while
    |sum|·10^s < 10^38, i.e. any physically realistic money sum. The
    rounding sequence stays pinned: exact decimal multiply (integer-
    valued), one DECIMAL(38,0)→DOUBLE conversion (correctly rounded in
    BOTH engines — Java BigDecimal.doubleValue vs DuckDB int128→double;
    verified bit-identical across the 2^63..10^38 range in
    tests/test_properties.py::test_money_out_wide_cross_engine), one
    identical double divide. Trade-off vs money_out: the DECIMAL
    intermediate keeps Spark's aggregate out of the fastest codegen
    path, so prefer money_out while the s-scaled sum provably fits
    BIGINT (see its headroom note) and switch here above that."""
    out = (
        f"CAST(CAST(({sum_expr}) * {10 ** s} AS DECIMAL(38,0)) AS DOUBLE)"
        f" / {float(10 ** s)}"
    )
    return f"{out} AS {alias}" if alias else out


def dec(col: str, p: int = 18, s: int = 4) -> str:
    return f"CAST({col} AS DECIMAL({p},{s}))"


def ratio(num: str, den: str) -> str:
    """Engine-shared: int/int division as double (identical operands →
    identical IEEE result; no rounding)."""
    return f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)"


# ----------------------------------------------------- bi-engine templates
def bi_sql(template: str, **frags: tuple[str, str] | str) -> tuple[str, str]:
    """Render one SQL template for both engines. Each fragment is either
    a (spark_text, duck_text) pair or a single shared string. Returns
    (spark_sql, duckdb_sql). Keeping ONE template per query is what
    guarantees the Spark plan and the oracle stay structurally in sync.
    For live twins only — queries whose Spark text some path runs; an
    oracle-only builder renders with :func:`duck_sql`.
    """
    s = {k: (v if isinstance(v, str) else v[0]) for k, v in frags.items()}
    return template.format(**s), duck_sql(template, **frags)


def duck_sql(template: str, **frags: tuple[str, str] | str) -> str:
    """The DuckDB half of :func:`bi_sql` alone: the oracle text of a
    query whose Spark path is DataFrame code, not this template. Pair
    fragments contribute their DuckDB text."""
    d = {k: (v if isinstance(v, str) else v[1]) for k, v in frags.items()}
    return template.format(**d)


def bit_probe(hash_expr: str, j: int) -> str:
    """Engine-shared bit extraction via pure integer arithmetic (no
    engine-specific shift/div operators): 1 if bit j of hash set else 0.
    Valid for non-negative hashes."""
    return f"(CASE WHEN ({hash_expr}) % {2 ** (j + 1)} >= {2 ** j} THEN 1 ELSE 0 END)"
