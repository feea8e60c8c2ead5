#!/usr/bin/env python
"""Deterministic full sf1.0-scale twin for scale validation.

TESTDATA.md stops at sf0.1; round-4 VERDICT #2 asks for full-registry
parity + bench at sf1.0 ("this is where any remaining ANSI-overflow or
posting-list-growth surprises will appear"). This generates a COMPLETE
10x twin of /root/testdata/sf0.1 under /tmp/etl_sf1.0:

- TPC-H-ish tables + events: 10 key-remapped copies of the sf0.1 rows
  (every join key shifted by copy * 1e6, consistently across tables:
  o_custkey tracks c_custkey, l_orderkey tracks o_orderkey, events
  user_id tracks c_custkey, ...). Key remapping keeps join/self-join
  cardinality LINEAR in the copy count — a naive row duplication would
  quadratically inflate every keyed self-join and measure nothing.
  Dimension tables region/nation are copied unscaled.
- documents/embeddings: generated, distribution-matched to sf0.1 (same
  vocabulary, length distribution, dup/near-dup structure, ~unit-norm
  gaussian embeddings) at 50k docs / 20k vectors.

Parity at this scale is engine-vs-engine over the same files, so the
sweep is exactly as strict as at sf0.1 — just 10x the data.

Run: python tools/gen_sf1.py   (then tools/parity_sweep.py /tmp/etl_sf1.0)
Bench the twin with bench.py; the directory name carries the sf:
  SPARK_GRAFT_SF_DIR=/tmp/etl_sf1.0 SPARK_GRAFT_BENCH_OUT=BENCH_SF1.json \
    python bench.py
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
# Defaults build the sf1.0 twin; `--copies N --out DIR` builds any
# decade from the same sf0.1 base (e.g. --copies 100 --out
# /tmp/etl_sf10 for the 100x twin).
OUT = "/tmp/etl_sf1.0"
COPIES = 10
OFF = 1_000_000  # > every sf0.1 key space; one offset for all key kinds

# key columns to shift per table (all other columns are copied verbatim)
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
UNSCALED = ["region", "nation"]


# the sf0.1 documents vocabulary is UNIFORM over these 30 tokens
# (measured: each ~9k occurrences at sf0.1, plus a rare 'dup' marker)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # en-heavy like testdata
# sf0.1-sized BASE counts; twins are N * mult (mult=10 -> the sf1.0
# twin, 50k docs / 20k vecs; mult=100 -> the sf10 twin, 500k / 200k)
N_DOCS, N_VECS, DIM, N_LABELS = 5_000, 2_000, 64, 10


def _gen_documents(path: str, mult: int = 1) -> None:
    rng = np.random.RandomState(1_000_003 + mult)
    n_docs = N_DOCS * mult
    texts: list[str] = []
    langs, sources, n_chars = [], [], []
    for doc_id in range(n_docs):
        r = rng.rand()
        if doc_id > 100 and r < 0.002:  # exact dup of an earlier doc
            t = texts[int(rng.randint(0, doc_id))]
        elif doc_id > 100 and r < 0.03:  # near-dup: ~10% token churn
            base = texts[int(rng.randint(0, doc_id))].split()
            t = " ".join(
                w if rng.rand() > 0.1 else VOCAB[int(rng.randint(0, len(VOCAB)))]
                for w in base
            )
        else:
            n = max(4, int(rng.normal(42, 14)))
            t = " ".join(VOCAB[int(i)] for i in rng.randint(0, len(VOCAB), n))
        texts.append(t)
        langs.append(LANGS[int(rng.randint(0, len(LANGS)))])
        sources.append(f"src{int(rng.randint(0, 20))}")
        n_chars.append(len(t))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(sources, pa.string()),
                "n_chars": pa.array(n_chars, pa.int64()),
            }
        ),
        path,
    )


def _gen_embeddings(path: str, mult: int = 1) -> None:
    # sf0.1 embeddings are ~unit-normalized gaussians with NEGLIGIBLE
    # label structure (measured: centroid norm 0.06 vs residual 1.0) —
    # mirror that, or the neardup/ANN candidate masses are incomparable.
    rng = np.random.RandomState(2_000_003 + mult)
    n_vecs = N_VECS * mult
    labels = rng.randint(0, N_LABELS, n_vecs)
    vecs = rng.randn(n_vecs, DIM).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32), pa.int32()),
            }
        ),
        path,
    )


# Key-DERIVED string columns must track their shifted key, or they stop
# being keys in the twin: c_name is 'Customer#%09d' of c_custkey, and
# dedup_fuzzy_names BLOCKS on a c_name prefix — leaving the string
# unshifted stacks all 10 copies into each block (100x the pair mass;
# measured 28.9 s vs the ~3 s a linear twin costs at sf1.0), which is a
# twin artifact, not a plan property.
DERIVED = {
    "customer": [("c_name", "Customer#{:09d}", "c_custkey")],
    "supplier": [("s_name", "Supplier#{:09d}", "s_suppkey")],
}


def _scale_table(name: str, out: str = OUT, copies: int = COPIES) -> None:
    src = pq.read_table(os.path.join(SF01, f"{name}.parquet"))
    cols = {c: src.column(c) for c in src.column_names}
    # stream copy-by-copy: at --copies 100 the concat-then-write shape
    # holds ~100x lineitem in memory at once
    with pq.ParquetWriter(os.path.join(out, f"{name}.parquet"), src.schema) as w:
        for c in range(copies):
            shifted = dict(cols)
            for k in KEYED[name]:
                arr = cols[k].to_numpy(zero_copy_only=False)
                shifted[k] = pa.array(arr + c * OFF, type=src.schema.field(k).type)
            for col, fmt, key in DERIVED.get(name, []):
                keys = shifted[key].to_numpy(zero_copy_only=False)
                shifted[col] = pa.array(
                    [fmt.format(k) for k in keys],
                    type=src.schema.field(col).type,
                )
            w.write_table(pa.table(shifted, schema=src.schema))


def build_twin(out: str = OUT, copies: int = COPIES) -> str:
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for t in UNSCALED:
        shutil.copy(os.path.join(SF01, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
    for t in KEYED:
        _scale_table(t, out, copies)
    # COPIES x the sf0.1-sized base (5k docs / 2k vecs). Round 8
    # re-based the generators from 10x-baked-in constants to
    # (base, mult) WITHOUT updating these calls — the default mult=1
    # silently shrank the twin's documents/embeddings back to sf0.1
    # size, so every BENCH_SF1 record from round 8 through round 10
    # measured the documents/embeddings families on UNSCALED data
    # (caught round 11: sentence_split read 2.1x where the true 10x
    # twin had measured 8x; ngram_jaccard read 0.9x).
    _gen_documents(os.path.join(out, "documents.parquet"), copies)
    _gen_embeddings(os.path.join(out, "embeddings.parquet"), copies)
    # fail loudly if any scaled table is not COPIES x its sf0.1 row
    # count — the check that would have caught the round-8 shrink
    for t in list(KEYED) + ["documents", "embeddings"]:
        n_src = pq.ParquetFile(os.path.join(SF01, f"{t}.parquet")).metadata.num_rows
        n_out = pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
        if n_out != copies * n_src:
            raise SystemExit(
                f"{t}: twin has {n_out} rows, expected {copies} x {n_src}"
            )
        print(f"{t}: {n_out} rows ({copies}x)", flush=True)
    print(f"{copies}x twin ready at {out}")
    return out


def main() -> int:
    args = sys.argv[1:]
    copies = int(args[args.index("--copies") + 1]) if "--copies" in args else COPIES
    out = args[args.index("--out") + 1] if "--out" in args else OUT
    build_twin(out, copies)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
