"""End-to-end corpus build: the materializing runner for the
training-data pipeline the registry exposes query-by-query.

``build_corpus`` chains the same operators the oracle-checked registry
entries use — nothing here is new logic, which is the point: the
runner's per-stage counts are cross-checkable against the registry
queries (corpus_training_pipeline, dedup_*, corpus_contamination,
text_quality_score), and a user of the query plane gets the "actually
write my curated corpus" loop with the same semantics.

Stages, in pretraining-pipeline order:

1. exact dedup        — poly-hash groupBy, keep min doc_id per text;
2. near-dup collapse  — PPJoin jaccard pairs → connected components,
                        keep each cluster's min (reproducibility-first
                        keeper; swap in best-quality election via
                        operators/corpus.best_keeper if curation wants
                        it);
3. benchmark holdout  — the doc_id < bench_max_id stand-in eval set
                        never enters the corpus, and any training doc
                        sharing >= k shingles with it is
                        decontaminated away;
4. quality gate       — the Arrow quality kernel, threshold q_min;
5. split assignment   — pure-function-of-doc_id train/val/test;
6. atomic publish     — ONE snapshot commit (sources/snapshots): a
                        crashed build leaves the previous version
                        fully readable, a rebuild is commit_overwrite
                        (old versions stay time-travelable until
                        expire), and "what exactly did we train on" is
                        answerable per version forever.

The report (returned AND written as report.json next to the table) is
the per-stage row ledger — every removal accounted, which is the audit
artifact a data-governance review asks for.

At 100 TB: stages 1-2 are the dedup plane's bucketed/staged shapes,
3-5 are map-side, 6 is one metadata write. The runner's own .count()
actions are per-stage scalar aggregates (no driver data movement).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import graph, textops
from ..operators.corpus import SPLIT_EXPR
from ..sources import snapshots


def _write_report_json(table_dir: str, version: int, report: dict) -> None:
    """Derived convenience copy of the committed ledger (the manifest's
    ``extra`` is authoritative). Separate function so the crash-window
    test can fail it independently of the atomic commit."""
    with open(os.path.join(table_dir, f"report_v{version:06d}.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)


class _BuildContext:
    """Mutable state threaded through the stages: the surviving doc-id
    relation (lineage-truncated per stage — the ledger count AND the
    next stage read materialized results, never the re-executed
    upstream chain) plus the row ledger."""

    def __init__(self, spark: SparkSession, sf_dir: str, table_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.table_dir = table_dir
        self.docs: DataFrame | None = None
        self.kept: DataFrame | None = None
        self.report: dict = {}


def _stages(
    ctx: _BuildContext,
    q_min: float,
    bench_max_id: int,
    k_shared: int,
    tau: float,
) -> list[tuple[str, callable]]:
    """The ordered build stages as (name, thunk) — ONE definition
    shared by the sequential runner and the orchestrator workflow, so
    the two execution modes cannot drift."""
    from ..operators.dedup import contamination_staged, exact_dedup_staged
    from ..plans.queries import views

    spark = ctx.spark

    def s_ingest() -> None:
        views(spark, ctx.sf_dir)
        ctx.docs = spark.table("documents")
        ctx.report.update(sf_dir=ctx.sf_dir, n_input=ctx.docs.count())

    def s_exact() -> None:
        ctx.kept = (
            exact_dedup_staged(spark)
            .select(F.col("keeper_id").alias("doc_id"))
            .localCheckpoint(eager=True)
        )
        ctx.report["n_after_exact"] = ctx.kept.count()

    def s_neardup() -> None:
        clusters = graph.dup_clusters(spark, tau=tau)
        pruned = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
            "doc_id"
        )
        ctx.kept = ctx.kept.join(pruned, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        ctx.report["n_after_neardup"] = ctx.kept.count()

    def s_decontaminate() -> None:
        contaminated = (
            contamination_staged(spark, k_shared=k_shared, bench_max_id=bench_max_id)
            .select(F.col("train_id").alias("doc_id"))
            .distinct()
        )
        ctx.kept = (
            ctx.kept.filter(F.col("doc_id") >= bench_max_id)
            .join(contaminated, "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        ctx.report["n_after_decontamination"] = ctx.kept.count()

    def s_quality() -> None:
        scored = textops.quality_scores_df(ctx.docs.join(ctx.kept, "doc_id")).select(
            "doc_id", "quality"
        )
        ctx.kept = (
            scored.filter(F.col("quality") >= q_min)
            .select("doc_id", "quality")
            .localCheckpoint(eager=True)
        )
        ctx.report["n_after_quality"] = ctx.kept.count()

    def s_publish() -> None:
        curated = (
            ctx.docs.join(ctx.kept, "doc_id")
            .withColumn("split", F.expr(SPLIT_EXPR))
            .select("doc_id", "split", "quality", "lang", "source", "n_chars", "text")
            .localCheckpoint(eager=True)
        )
        # ledger is complete BEFORE the commit and rides INSIDE the
        # manifest (snapshots extra): corpus version + its ledger appear
        # in ONE atomic rename — a crash can no longer leave a published
        # version without its audit trail (the report_v*.json beside the
        # table is a DERIVED convenience copy, rebuildable from the
        # manifest via snapshots.read_manifest_extra).
        ctx.report["n_per_split"] = {
            r["split"]: r["n"]
            for r in curated.groupBy("split").agg(F.count("*").alias("n")).collect()
        }
        version = snapshots.commit_overwrite(
            curated, ctx.table_dir, extra={"ledger": ctx.report}
        )
        ctx.report["version"] = version
        _write_report_json(ctx.table_dir, version, ctx.report)

    return [
        ("ingest", s_ingest),
        ("exact_dedup", s_exact),
        ("neardup_collapse", s_neardup),
        ("decontaminate", s_decontaminate),
        ("quality_gate", s_quality),
        ("publish", s_publish),
    ]


def build_corpus(
    spark: SparkSession,
    sf_dir: str,
    table_dir: str,
    q_min: float = 0.45,
    bench_max_id: int = 50,
    k_shared: int = 5,
    tau: float = 0.8,
) -> dict:
    """Run the full build sequentially; returns the per-stage report
    dict and commits the curated corpus as the next snapshot version of
    ``table_dir``."""
    ctx = _BuildContext(spark, sf_dir, table_dir)
    for _name, stage in _stages(ctx, q_min, bench_max_id, k_shared, tau):
        stage()
    return ctx.report


def corpus_build_workflow(
    spark: SparkSession,
    sf_dir: str,
    table_dir: str,
    q_min: float = 0.45,
    bench_max_id: int = 50,
    k_shared: int = 5,
    tau: float = 0.8,
):
    """The same build as an ORCHESTRATOR workflow (plans/orchestrator:
    the reference's package/realization/step machine): one package per
    stage, chained by depends_on, publish marked exclusive with its
    target table declared — so the corpus build runs under the same
    admission control, table locks and run accounting as every ETL
    workflow, and the reference-style run artifacts (runlog close-out,
    HTML report, run graph) apply to the LLM pipeline unchanged.

    Returns (Workflow, ctx) — run with Orchestrator().run(wf); the
    ledger lands in ctx.report exactly as build_corpus produces it
    (same stage closures, by construction)."""
    from .orchestrator import Package, Realization, Step, Workflow

    ctx = _BuildContext(spark, sf_dir, table_dir)
    stages = _stages(ctx, q_min, bench_max_id, k_shared, tau)
    packages: dict[str, Package] = {}
    prev: str | None = None
    for name, thunk in stages:
        packages[name] = Package(
            name=name,
            realizations=(
                Realization(
                    name=f"{name}_r",
                    steps=(
                        Step(
                            name=f"{name}_step",
                            action=thunk,
                            exclusive=(name == "publish"),
                            target_tables=("corpus",) if name == "publish" else (),
                        ),
                    ),
                ),
            ),
            depends_on=(prev,) if prev else (),
        )
        prev = name
    wf = Workflow(name="corpus_build", packages=packages, master="publish")
    return wf, ctx
