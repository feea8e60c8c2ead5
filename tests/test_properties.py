"""Property-based tests (hypothesis): the invariants the oracle gate
relies on, attacked with generated inputs instead of fixtures.

The reference ships no property tests (SURVEY §5); these pin the
engine's determinism contracts:
- the vectorized Arrow poly-hash == the SQL fold == the DuckDB fold
  for arbitrary strings;
- shingle-hash sets from the Python kernel == the SQL pipeline;
- CSV serialization round-trips through Spark's reader for arbitrary
  cell content under the default option set;
- schedule calculus: the next calendar run is always strictly in the
  future, on an allowed weekday/month, within bounds.
"""

from __future__ import annotations

from datetime import datetime

import duckdb
import pandas as pd
from hypothesis import given, settings, strategies as st

from etl_service_spark.functions import portable as P

# ASCII-ish printable text plus some unicode letters; newlines excluded
# (CSV row framing is line-based by definition)
CELL = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\r\n", categories=("L", "N", "P", "Zs")),
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(CELL, min_size=1, max_size=30))
def test_poly_hash_matches_duckdb_fold(strings):
    """pd_poly_hash_series == DuckDB's list_reduce fold, any input."""
    got = P.pd_poly_hash_series(pd.Series(strings, dtype=object)).tolist()
    con = duckdb.connect()
    expr = P.duck_poly_hash("s")
    want = [
        con.execute(f"SELECT {expr} FROM (SELECT ? AS s)", [x]).fetchone()[0]
        for x in strings
    ]
    assert got == want


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abc 01\t.", max_size=120))
def test_shingle_sets_match_duckdb_pipeline(text):
    """pd_shingle_hash_sets == the duck list_sort(list_distinct(
    list_transform(shingles(tokens(text))))) composition."""
    got = [int(v) for v in P.pd_shingle_hash_sets(pd.Series([text], dtype=object))[0]]
    con = duckdb.connect()
    toks = P.duck_tokens("t")
    sh = P.duck_shingles(toks)
    expr = f"list_sort(list_distinct(list_transform({sh}, q -> {P.duck_poly_hash('q')})))"
    want = con.execute(f"SELECT {expr} FROM (SELECT ? AS t)", [text]).fetchone()[0]
    assert got == [int(v) for v in (want or [])]


@settings(max_examples=60, deadline=None)
@given(
    start=st.datetimes(min_value=datetime(2024, 1, 1), max_value=datetime(2027, 12, 31)),
    now=st.datetimes(min_value=datetime(2024, 1, 1), max_value=datetime(2029, 12, 31)),
    weekdays=st.lists(st.booleans(), min_size=7, max_size=7).filter(any),
    months=st.lists(st.booleans(), min_size=12, max_size=12).filter(any),
)
def test_calendar_next_run_invariants(start, now, weekdays, months):
    from etl_service_spark.plans.schedule import SchedulePlan, next_calendar_run

    plan = SchedulePlan(
        interval="Manuell",
        anfangsdatum=start,
        weekdays=tuple(weekdays),
        months=tuple(months),
        an_jedem_tag=False,
        in_jedem_monat=False,
    )
    run = next_calendar_run(plan, now)
    if run is None:
        return  # nothing allowed within the horizon
    assert run > now
    assert weekdays[run.weekday()]
    assert months[run.month - 1]
    assert run >= start.replace(hour=0, minute=0, second=0, microsecond=0)


# ---------------------------------------------------------------- graphs
def _uf_components(edges):
    """Independent reference: textbook union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Iterative min-label propagation == union-find, any random graph
    (chains, cycles, stars, disjoint blobs)."""
    from etl_service_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {(r.doc_id, r.cluster_id) for r in connected_components(df).collect()}
    want = set(_uf_components(edges).items())
    assert got == want


# ---------------------------------------------------------------- as-of
@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),            # user_id
            st.integers(0, 50),           # ts_us
            st.sampled_from(["click", "purchase", "view"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_asof_join_matches_bruteforce(spark, rows):
    """Union+carry-forward as-of == brute-force nearest-preceding scan,
    including equal-timestamp ties and no-match NULLs."""
    from etl_service_spark.operators.asof import asof_join_sql

    data = [
        (i, ts * 1000, u, et, float(i))  # event_id, ts(ns? -> see below), user, type, value
        for i, (u, ts, et) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, ["event_id", "ts_us", "user_id", "event_type", "value"]
    )
    df.createOrReplaceTempView("asof_prop_events")
    sql = asof_join_sql(view="asof_prop_events")[0]
    got = {
        (r.l_event_id, r.r_event_id)
        for r in spark.sql(sql).collect()
    }

    # brute force: per purchase, the click with max ts <= p.ts; ties on
    # ts -> max event_id (the dedup rule); no click -> None
    clicks = [(e, ts, u) for (e, ts, u, et, _v) in [tuple(d) for d in data] if et == "click"]
    want = set()
    for e, ts, u, et, _v in [tuple(d) for d in data]:
        if et != "purchase":
            continue
        cand = [(cts, ce) for (ce, cts, cu) in clicks if cu == u and cts <= ts]
        want.add((e, max(cand)[1] if cand else None))
    assert got == want


@given(st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=50))
@settings(max_examples=25, deadline=None)
def test_hll_rank_matches_python_reference(user_ids):
    """The HLL register math (operators/sketch.py hll_distinct_sql)
    hinges on rank = 27 - length(bin(suffix)) being the position of the
    first set bit of the 26-bit suffix. DuckDB evaluates the exact SQL
    fragment; the reference is Python int.bit_length."""
    import duckdb

    con = duckdb.connect()
    for uid in user_ids:
        hv = (uid * 2654435761) % 4294967296
        suffix = hv // 64
        expected = 27 - suffix.bit_length() if suffix > 0 else 27
        got = con.execute(
            f"SELECT CASE WHEN ({hv} // 64) = 0 THEN 27"
            f" ELSE 27 - length(bin({hv} // 64)) END"
        ).fetchone()[0]
        assert got == expected
    con.close()


# ------------------------------------------------- blocked all-pairs cosine
@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(-4, 4, allow_nan=False, width=32), min_size=64, max_size=64
        ),
        min_size=2,
        max_size=24,
    ),
    st.integers(1, 5),
)
def test_blocked_neardup_equals_reference_all_pairs(spark, vecs, n_blocks):
    """The block-pair decomposition must emit EXACTLY the pairs (and
    bit-identical cosines) of a single-process numpy reference, for any
    random vector set and any block count — including blocks that are
    empty, single-row, or hold both roles of a diagonal group."""
    import math

    import numpy as np

    from etl_service_spark.operators.similarity import embedding_neardup_pandas

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").createOrReplaceTempView(
        "__prop_emb"
    )
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_neardup_pandas(
            spark, tau=0.4, view="__prop_emb", n_blocks=n_blocks
        ).collect()
    }

    m = np.array([v for _, v in rows], dtype=np.float32).astype(np.float64)
    acc = m[:, 0][:, None] * m[:, 0][None, :]
    for i in range(1, 64):
        acc += m[:, i][:, None] * m[:, i][None, :]
    nrm = np.sqrt(np.diag(acc).copy())
    want = {}
    n = len(rows)
    for a in range(n):
        for b in range(a + 1, n):
            c = acc[a, b] / (nrm[a] * nrm[b])
            if c >= 0.4:
                want[(a, b)] = c
    assert set(got) == set(want)
    for k, v in want.items():
        assert math.isclose(got[k], v, rel_tol=0, abs_tol=0) or (
            math.isnan(got[k]) and math.isnan(v)
        )


def test_ngram_and_chunk_builders_match_duckdb(spark):
    """spark_ngrams/spark_chunks == duck_ngrams/duck_chunks on edge
    cases: empty, single token, punctuation-only, exact multiples of
    the chunk width, unicode separators. One Spark batch for all."""
    texts = [
        "", " ", "a", "a b", "one two three four five six seven eight",
        "one two three four five six seven eight nine",
        "x " * 16, "..!?", "Tabs\tand\nnewlines here", "ÄÖÜ umlauts señor",
        "a b c d e f g h", "0 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16",
        "dup dup dup dup dup dup dup dup dup",
    ]
    pdf = pd.DataFrame({"i": range(len(texts)), "s": texts})
    spark.createDataFrame(pdf).createOrReplaceTempView("ngram_probe")
    con = duckdb.connect()
    con.register("ngram_probe", pdf)
    for s_expr, d_expr in [
        (P.spark_ngrams(P.spark_tokens("s"), 2), P.duck_ngrams(P.duck_tokens("s"), 2)),
        (P.spark_ngrams(P.spark_tokens("s"), 3), P.duck_ngrams(P.duck_tokens("s"), 3)),
        (P.spark_chunks(P.spark_tokens("s"), 4), P.duck_chunks(P.duck_tokens("s"), 4)),
        (P.spark_chunks(P.spark_tokens("s"), 8), P.duck_chunks(P.duck_tokens("s"), 8)),
    ]:
        got = [
            list(r["v"])
            for r in spark.sql(
                f"SELECT {s_expr} AS v FROM ngram_probe ORDER BY i"
            ).collect()
        ]
        want = [
            list(r[0])
            for r in con.execute(
                f"SELECT {d_expr} FROM ngram_probe ORDER BY i"
            ).fetchall()
        ]
        assert got == want


def test_pq_assignment_matches_numpy_reference(spark):
    """PQ code assignment == a numpy brute-force reference on random
    vectors: same integer grid (floor(64·v) on float32-widened
    doubles), same argmin with lower-centroid tiebreak, exact summed
    distortion."""
    import numpy as np

    from etl_service_spark.operators.similarity import DIM, pq_codes_staged

    rng = np.random.RandomState(7)
    n, m, ncent = 40, 4, 8
    dsub = DIM // m
    vecs = rng.uniform(-1, 1, size=(n, DIM)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(n)],
        "vec_id bigint, embedding array<float>, label int",
    )
    df.createOrReplaceTempView("pq_probe")

    got = {
        r["vec_id"]: ([r[f"code_{s}"] for s in range(m)], r["sq_err"])
        for r in pq_codes_staged(spark, m, ncent, view="pq_probe").collect()
    }

    q = np.floor(vecs.astype(np.float64) * 64).astype(np.int64)
    cents = q[:ncent]
    for i in range(n):
        codes, err = [], 0
        for s in range(m):
            sl = slice(s * dsub, (s + 1) * dsub)
            dists = [int(((q[i, sl] - cents[c, sl]) ** 2).sum()) for c in range(ncent)]
            best = min(range(ncent), key=lambda c: (dists[c], c))
            codes.append(best)
            err += dists[best]
        assert got[i] == (codes, err), f"vec {i}: {got[i]} != {(codes, err)}"


def test_funnel_windowed_matches_bruteforce(spark):
    """Windowed funnel == a per-user python brute force on a seeded
    event set engineered to hit the edges: conversion exactly at the
    gap boundary (inclusive), just past it (excluded), and unbounded-
    funnel conversions that the window must reject."""
    import random

    from etl_service_spark.operators.asof import funnel_windowed_sql

    GAP = 3_600_000_000
    rng = random.Random(11)
    rows = []
    eid = 0
    for u in range(30):
        t0 = rng.randrange(0, 10**9)
        rows.append((eid, t0, u, "signup", 1.0)); eid += 1
        shape = u % 5
        if shape == 0:      # converts exactly at the boundary (kept)
            rows.append((eid, t0 + GAP, u, "click", 1.0)); eid += 1
            rows.append((eid, t0 + 2 * GAP, u, "purchase", 1.0)); eid += 1
        elif shape == 1:    # click just past the window (rejected)
            rows.append((eid, t0 + GAP + 1, u, "click", 1.0)); eid += 1
        elif shape == 2:    # fast click, slow purchase (stage-2 only)
            rows.append((eid, t0 + 5, u, "click", 1.0)); eid += 1
            rows.append((eid, t0 + 5 + GAP + 1, u, "purchase", 1.0)); eid += 1
        elif shape == 3:    # full fast funnel
            rows.append((eid, t0 + 10, u, "click", 1.0)); eid += 1
            rows.append((eid, t0 + 20, u, "purchase", 1.0)); eid += 1
        # shape 4: signup only
    df = spark.createDataFrame(
        [(e, t, u, ty, v) for (e, t, u, ty, v) in rows],
        "event_id bigint, ts_us bigint, user_id bigint, event_type string, value double",
    )
    df.createOrReplaceTempView("funnel_probe")

    got = spark.sql(
        funnel_windowed_sql(view="funnel_probe")[0]
    ).collect()[0]

    # brute force
    by_user: dict = {}
    for _, t, u, ty, _v in rows:
        by_user.setdefault(u, []).append((t, ty))
    n1 = n2 = n3 = 0
    for evs in by_user.values():
        s1 = min((t for t, ty in evs if ty == "signup"), default=None)
        if s1 is None:
            continue
        n1 += 1
        s2 = min((t for t, ty in evs if ty == "click" and s1 < t <= s1 + GAP), default=None)
        if s2 is None:
            continue
        n2 += 1
        s3 = min((t for t, ty in evs if ty == "purchase" and s2 < t <= s2 + GAP), default=None)
        if s3 is not None:
            n3 += 1
    assert (got["n_signup"], got["n_click_within"], got["n_purchase_within"]) == (n1, n2, n3)


@settings(max_examples=80, deadline=None)
@given(st.text(alphabet="ab c0.\t-", max_size=100))
def test_chunk_and_ngram_invariants(text):
    """Structural invariants on random text (DuckDB evaluation): chunks
    PARTITION the token sequence losslessly (their join re-concatenates
    to the token stream), and bigram count is exactly
    max(0, n_tokens - 1)."""
    con = duckdb.connect()
    toks, chunks, grams = con.execute(
        f"SELECT {P.duck_tokens('t')}, "
        f"{P.duck_chunks(P.duck_tokens('t'), 4)}, "
        f"{P.duck_ngrams(P.duck_tokens('t'), 2)} "
        "FROM (SELECT ? AS t)",
        [text],
    ).fetchone()
    assert " ".join(chunks) == " ".join(toks)
    assert len(grams) == max(0, len(toks) - 1)
    if toks:
        assert all(1 <= len(c.split(" ")) <= 4 for c in chunks)


# ------------------------------------------------------- triangle census
def _brute_triangle_stats(edges):
    """Reference census: canonical undirected edge set, per-node degrees,
    wedges = sum C(d,2), triangles by set-probe enumeration."""
    e = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = {n for pair in e for n in pair}
    deg = {n: 0 for n in nodes}
    for u, v in e:
        deg[u] += 1
        deg[v] += 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    tris = sum(
        1
        for (u, v) in e
        for w in nodes
        if v < w and (u, w) in e and (v, w) in e
    )
    return len(nodes), len(e), wedges, tris


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=80,
    )
)
def test_triangle_stats_matches_bruteforce(spark, edges):
    """Degree-oriented distributed census == brute force on any random
    multigraph (self-loops, duplicate and reversed edges included —
    canonicalization must absorb them all)."""
    from etl_service_spark.operators.graph import triangle_stats

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    row = triangle_stats(df).collect()[0]
    n_nodes, n_edges, wedges, tris = _brute_triangle_stats(edges)
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        n_nodes,
        n_edges,
        wedges,
        tris,
    )
    assert row.transitivity_permille == 3000 * tris // max(wedges, 1)


# ------------------------------------------------- distributed prefix scan
@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=60),
    st.integers(1, 5),
)
def test_global_ranked_cumsum_matches_single_window(spark, values, n_parts):
    """Two-phase range-partitioned scan == the single-window definition
    under the same total order, for ANY partition count (boundary
    placement must never leak into rank or running sum). Values carry
    duplicates; the tiebreak id is unique."""
    from etl_service_spark.operators.scan import global_ranked_cumsum

    rows = [(v, i) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, ["val", "tid"])
    got = {
        (r.tid, r.rk, r.cum)
        for r in global_ranked_cumsum(df, "val", "tid", n_parts=n_parts).collect()
    }
    ordered = sorted(rows, key=lambda r: (-r[0], r[1]))
    cum = 0
    want = set()
    for rk, (v, tid) in enumerate(ordered, start=1):
        cum += v
        want.add((tid, rk, cum))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 80), min_size=1, max_size=60, unique=True),
    st.integers(1, 6),
)
def test_islands_matches_textbook_form(spark, ids, n_parts):
    """scan.islands (per-range difference trick + seam merge) returns
    exactly the islands of the global id - ROW_NUMBER form, for ANY
    partition count — chains that cross several range seams (including
    the everything-contiguous single island) must reassemble."""
    from etl_service_spark.operators.scan import islands

    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    got = {
        (r.island_start, r.island_end, r.island_len)
        for r in islands(df, "id", n_parts=n_parts).collect()
    }
    want = set()
    run: list[int] = []
    for i in sorted(ids):
        if run and i != run[-1] + 1:
            want.add((run[0], run[-1], len(run)))
            run = []
        run.append(i)
    want.add((run[0], run[-1], len(run)))
    assert got == want


def test_chained_global_ranks_are_permutations(spark):
    """Regression for the round-9 sf0.1 finding: the two-phase scan's
    offsets and local-rank branches each re-planned the range exchange,
    and AQE let the sampler pick different boundaries per instance —
    ranks stopped being a permutation (14,746 distinct over 14,999
    rows). scan.py now pins the partitioned relation with
    localCheckpoint; this chains three ranks over low-cardinality sort
    keys (the trigger shape: many ties, boundary placement decided by
    the tiebreak) and asserts every rank column is exactly 1..n."""
    from pyspark.sql import functions as F

    from etl_service_spark.operators.scan import global_rank

    n = 5000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 13).alias("b"),
        ((F.col("id") * 31) % 11).alias("c"),
    )
    ranked = df
    for metric, out in (("a", "ra"), ("b", "rb"), ("c", "rc")):
        ranked = global_rank(ranked, [(metric, True), ("k", True)], out=out)
    row = ranked.agg(
        *[F.countDistinct(c).alias(f"d_{c}") for c in ("ra", "rb", "rc")],
        *[F.max(c).alias(f"m_{c}") for c in ("ra", "rb", "rc")],
    ).collect()[0]
    assert (row.d_ra, row.d_rb, row.d_rc) == (n, n, n)
    assert (row.m_ra, row.m_rb, row.m_rc) == (n, n, n)


@settings(max_examples=6, deadline=None)
@given(st.integers(1, 150), st.sampled_from([1, 2, 5, 10, 32, 64]))
def test_ntile_case_sql_matches_builtin_ntile(spark, n, buckets):
    """scan.ntile_case_sql (closed-form remainder rule over a global
    rank) assigns every rank 1..n the same bucket as Spark's own NTILE
    — including n < buckets, where the ELSE branch would divide by
    zero if it were ever reached."""
    from etl_service_spark.operators.scan import ntile_case_sql

    df = spark.range(1, n + 1).selectExpr(
        "id AS rk", f"CAST({n} AS BIGINT) AS n"
    )
    got = {
        (r.rk, r.b)
        for r in df.selectExpr(
            "rk", f"({ntile_case_sql('rk', 'n', buckets)}) AS b"
        ).collect()
    }
    want = {
        (r.id, r.nt)
        for r in spark.range(1, n + 1)
        .selectExpr("id", f"NTILE({buckets}) OVER (ORDER BY id) AS nt")
        .collect()
    }
    assert got == want


@settings(max_examples=200, deadline=None)
@given(st.integers(-10**12, 10**12), st.integers(0, 10**12), st.integers(0, 10**12))
def test_zorder_quantized_domains(lo, span, off):
    """The bound tools/plan_audit.py's BOUNDED_WINDOW_KEYS cites for
    zval/qd: the 8-bit quantization (v - lo) * 256 DIV (hi - lo + 1)
    lands in [0, 256) for every v in [lo, hi], so the Morton
    interleave of two such codes lands in [0, 65536). Pure arithmetic
    — no Spark session needed."""
    hi = lo + span
    v = lo + (off % (span + 1))
    q = (v - lo) * 256 // (hi - lo + 1)
    assert 0 <= q < 256


def test_islands_chain_through_empty_and_seamed_partitions(spark):
    """Deterministic seam stress: one long contiguous block spanning
    every range partition plus isolated singletons — the merged chain
    must come back as ONE island with the exact length."""
    from etl_service_spark.operators.scan import islands

    ids = list(range(100, 400)) + [7, 9, 500]
    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    got = {
        (r.island_start, r.island_end, r.island_len)
        for r in islands(df, "id", n_parts=8).collect()
    }
    assert got == {(7, 7, 1), (9, 9, 1), (100, 399, 300), (500, 500, 1)}


# ------------------------------------------------------ bloom prefilter
@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(0, 200), min_size=0, max_size=60),
    st.lists(st.integers(0, 200), min_size=1, max_size=60),
    st.sampled_from([64, 256, 65536]),
)
def test_bloom_prefilter_equals_plain_semi_join(spark, keys, fact, m):
    """bloom_prefilter_semi_join is result-identical to the plain semi
    join for any keys/fact multiset — including tiny m (dense bitset,
    many false positives: the exact join must absorb them) and empty
    key sets (filter passes nothing)."""
    from etl_service_spark.operators.skew import bloom_prefilter_semi_join

    keys_df = spark.createDataFrame(
        [(k,) for k in keys] or [(None,)], "c_key bigint"
    ).filter("c_key IS NOT NULL")
    fact_df = spark.createDataFrame([(f, f % 7) for f in fact], "f_key bigint, grp bigint")
    got = sorted(
        (r.f_key, r.grp)
        for r in bloom_prefilter_semi_join(
            fact_df, keys_df, "f_key", "c_key", m=m
        ).collect()
    )
    want = sorted((f, f % 7) for f in fact if f in set(keys))
    assert got == want


# --- BPE merge application: ONE replace() over the pipe-wrapped
# symbol encoding == greedy left-to-right non-overlapping pair merge
# (DETERMINISM.md §23). Python str.replace shares the scan semantics
# of Spark/DuckDB replace(), so the equivalence is tested engine-free.
# (The space-padded double-replace this replaced mis-segments odd
# runs of a self-pair: 'a a a a a' -> [aa, a, aa], greedy is
# [aa, aa, a] — found by this very test.)
def _greedy_merge(symbols: list[str], a: str, b: str) -> list[str]:
    out, i = [], 0
    while i < len(symbols):
        if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


@given(
    st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=0, max_size=12),
    st.sampled_from([("a", "b"), ("a", "a"), ("ab", "c"), ("c", "c")]),
)
@settings(max_examples=300, deadline=None)
def test_bpe_wrapped_replace_equals_greedy_merge(symbols, pair):
    a, b = pair
    seq = " ".join(f"|{s}|" for s in symbols)
    merged = seq.replace(f"|{a}| |{b}|", f"|{a}{b}|")
    out = [t.strip("|") for t in merged.split()] if merged else []
    assert out == _greedy_merge(symbols, a, b)


# --- Winnowing guarantee (Schleimer et al. SIGMOD'03): two documents
# sharing a run of >= w+k-1 consecutive tokens share at least one
# selected fingerprint. Engine-free replica of the SQL selection
# (k-gram poly-hash, w-window MIN, distinct; same constants).
def _poly(s: str) -> int:
    h = P.HASH_SEED
    for c in s:
        h = (h * P.HASH_MULT + ord(c)) % P.HASH_MOD
    return h


def _winnow_fps(tokens: list[str], k: int = 4, w: int = 5) -> set[int]:
    grams = [" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)]
    hs = [_poly(g) for g in grams]
    return {
        min(hs[p - w + 1 : p + 1])
        for p in range(w - 1, len(hs))
    }


@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=8, max_size=8),
    st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=6),
    st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=6),
)
@settings(max_examples=200, deadline=None)
def test_winnowing_shared_run_shares_fingerprint(shared, pre, post):
    # shared run of 8 tokens = w+k-1 (k=4, w=5) embedded in different contexts
    doc_a = pre + shared + post
    doc_b = list(reversed(pre)) + shared + list(reversed(post))
    fa, fb = _winnow_fps(doc_a), _winnow_fps(doc_b)
    assert fa & fb, (doc_a, doc_b)


@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=20),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=40, deadline=None)
def test_winnowing_sql_matches_replica(docs):
    """The SQL fingerprint selection must equal the engine-free replica
    (per-window minimum, Schleimer et al. SIGMOD'03). Regression for
    the round-3 defect where `gh = win_min` selected only grams that
    were the min of the window ENDING at their own position — a strict
    subset that broke the shared-run guarantee. Spark parity with this
    SQL is covered by the registry oracle tests; checking the DuckDB
    side against the replica closes the loop."""
    from etl_service_spark.operators.textops import winnowing_sql

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": range(len(docs)), "text": [" ".join(d) for d in docs]}
        ),
    )
    got = {
        r[0]: (r[2], r[3], r[4])  # n_fingerprints, fp_checksum, fp_min
        for r in con.execute(winnowing_sql()).fetchall()
    }
    for doc_id, toks in enumerate(docs):
        fps = _winnow_fps(toks)
        if fps:
            assert got[doc_id] == (len(fps), sum(fps) % 1000000007, min(fps))
        else:
            assert doc_id not in got


def test_money_out_wide_cross_engine(spark):
    """money_out_wide's DECIMAL(38,0)->DOUBLE conversion must be the
    same single correctly-rounded operation in Spark and DuckDB across
    the whole 2^63..10^38 range money_out cannot reach (round-5
    advisor: sum_charge crosses BIGINT-scaled bounds near sf~160). A
    deterministic sweep of awkward values: powers of two +/- small
    deltas (rounding-boundary neighborhoods), repunits, and seeded
    pseudo-random 20-38 digit integers — compared bit-exactly after the
    full money_out_wide expression (multiply, cast, divide)."""
    import random
    import struct

    rng = random.Random(20260815)
    vals: list[int] = []
    # sums up to ~10^31 (DECIMAL(38,6) ceiling); the s=6-scaled integer
    # the conversion sees then sweeps 2^63..~10^37
    for p in range(60, 103, 4):
        for d in (-3, -1, 0, 1, 3):
            vals.append(2**p + d)
    vals += [int("1" * n) for n in range(19, 32)]  # repunits
    vals += [rng.randrange(10**19, 10**31) for _ in range(40)]
    # the money sum arrives as DECIMAL(38,6); fabricate it EXACTLY in
    # both engines from a decimal-point literal (decimal division would
    # itself round, differently per engine — not what's under test)
    def lit(v: int) -> str:
        s = str(v).rjust(7, "0")
        return f"CAST('{s[:-6]}.{s[-6:]}' AS DECIMAL(38,6))"

    expr = P.money_out_wide("v", 6, "d")
    rows = " UNION ALL ".join(f"SELECT {lit(v)} AS v" for v in vals)
    q = f"SELECT {expr} FROM ({rows}) t ORDER BY d"
    got_spark = [r["d"] for r in spark.sql(q).collect()]
    got_duck = [r[0] for r in duckdb.sql(q).fetchall()]
    assert len(got_spark) == len(got_duck) == len(vals)
    for a, b in zip(got_spark, got_duck):
        assert struct.pack("<d", a) == struct.pack("<d", b), (a.hex(), b.hex())
