"""The benchmark workloads.

Each workload is one function ``run(ctx, iteration)`` that executes one
workload iteration against the generated inputs in ``ctx.data`` and
returns an ``Iteration``: its wall time, the latency of each op (step), and the
small results the output checks need (checks run after the timed region,
see ``checks.py``). Every call into an engine layer goes through
``ctx.tracer`` (``spans.py``) so the traced run can put it in a span of that layer.

- ``anon_release``: one batch release: a t-closeness release of the orders
  table written out, audited for k-anonymity and re-identification risk,
  and DP aggregates under one budget; an op is one release step (the
  t-closeness release, its audit, the DP release).
- ``corpus_curation``: training-corpus curation: the private export
  funnel, embedding near-duplicate pairs and a suppressed composition
  rollup; an op is one step.

Two layers cost many seconds per call whatever the input size: the
reference's KMeans clustering anonymization (``clustering_pass``, ~7 s)
and the streaming export replayed from files, one micro-batch per file
(``stream_replay``, ~4 s per micro-batch of state-store and checkpoint
work). Each runs once per traced run of its workload, after the timed
iterations (``EXTRA_PASSES``), and feeds only its layer's metrics.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from dbms_data_anonymity_differential_privacy_spark import pipelines
from dbms_data_anonymity_differential_privacy_spark import queries_registry as qr
from dbms_data_anonymity_differential_privacy_spark.functions.binning import bin_equal_width
from dbms_data_anonymity_differential_privacy_spark.operators import dedup, kanonymity, quality
from dbms_data_anonymity_differential_privacy_spark.operators.dp import (
    PrivacyBudget,
    dp_count,
    dp_histogram,
    dp_sum,
)
from dbms_data_anonymity_differential_privacy_spark.operators.metrics import reid_risk
from dbms_data_anonymity_differential_privacy_spark.operators.rollup import rollup_release
from dbms_data_anonymity_differential_privacy_spark.operators.similarity import cosine_pairs_topm
from dbms_data_anonymity_differential_privacy_spark.operators.tcloseness import t_closeness_filter
from dbms_data_anonymity_differential_privacy_spark.sources.readers import load_table
from dbms_data_anonymity_differential_privacy_spark.sources.writers import write_release
from dbms_data_anonymity_differential_privacy_spark.streaming.corpus import DOCUMENTS_SCHEMA
from dbms_data_anonymity_differential_privacy_spark.streaming.export import private_export_stream

from gen import STREAM_DIR

ANON_EPSILON_PLAN = {"dp_count": 1.0, "dp_sum": 0.5, "dp_histogram": 0.5}
DP_SUM_BOUNDS = (0.0, 110_000.0)
ROLLUP_K = 5
CLUSTER_QI = ["c_nationkey", "c_mktsegment", "c_acctbal"]
CLUSTER_K = 5
N_CLUSTERS = 10


@dataclass
class Ctx:
    spark: object
    data: str  # generated inputs
    work: str  # where the iteration writes its releases
    tracer: object


@dataclass
class Iteration:
    wall_s: float
    steps: list[tuple[str, float]]  # (op name, seconds)
    outputs: dict = field(default_factory=dict)


class _Clock:
    """Times the steps of one iteration."""

    def __init__(self):
        self.steps: list[tuple[str, float]] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def timed(self, name: str):
        t = time.perf_counter()
        yield
        self.steps.append((name, time.perf_counter() - t))

    def done(self, outputs: dict) -> Iteration:
        return Iteration(time.perf_counter() - self.t0, self.steps, outputs)


# -- anon_release ----------------------------------------------------------


def anon_release(ctx: Ctx, iteration: int) -> Iteration:
    spark, d, tr = ctx.spark, ctx.data, ctx.tracer
    out_dir = os.path.join(ctx.work, f"release-{iteration}")
    clock = _Clock()
    outputs: dict = {"release_dir": out_dir}

    orders = tr.call("sources.read", load_table, spark, d, "orders")
    lineitem = tr.call("sources.read", load_table, spark, d, "lineitem")

    # t-closeness release (the registry's c04_t_closeness_strict): equal-width
    # price bins -> k-anonymity by suppression -> EMD <= t filter, written out
    with clock.timed("tclose"):
        binned = tr.call("functions.binning", bin_equal_width, orders, "o_totalprice", 10, "price_bin")
        release = tr.call("operators.tcloseness", t_closeness_filter, binned, qr.ORD_QI,
                          "o_orderstatus", k=5, t=qr.T_THRESHOLD, mode="strict")
        with tr.span("sources.write"):
            write_release(release, os.path.join(out_dir, "tclose"), mode="overwrite")

    # audit the release before publishing it: classes of >= k rows, re-identification risk
    with clock.timed("release_audit"):
        audit = tr.call("operators.kanonymity", kanonymity.k_anonymity_audit, release, qr.ORD_QI, 5)
        with tr.span("operators.kanonymity"):
            outputs["release_audit"] = audit.collect()
        risk = tr.call("operators.metrics", reid_risk, release, qr.ORD_QI)
        with tr.span("operators.metrics"):
            outputs["reid_risk"] = risk.collect()

    # DP aggregates under one sequential-composition budget
    budget = PrivacyBudget(total_epsilon=sum(ANON_EPSILON_PLAN.values()))
    eps = ANON_EPSILON_PLAN
    releases = {
        "dp_count": lambda: dp_count(orders, ["o_orderpriority"], eps["dp_count"], budget=budget),
        "dp_sum": lambda: dp_sum(lineitem, ["l_returnflag"], "l_extendedprice", eps["dp_sum"],
                                 *DP_SUM_BOUNDS, budget=budget),
        "dp_histogram": lambda: dp_histogram(lineitem, "l_quantity", 10, eps["dp_histogram"],
                                             0.0, 50.0, budget=budget),
    }
    with clock.timed("dp_release"):
        for name, make in releases.items():
            df = tr.call("operators.dp", make)
            with tr.span("operators.dp"):
                outputs[name] = df.collect()
    outputs["epsilon_spent"] = budget.spent

    return clock.done(outputs)


# -- corpus_curation -------------------------------------------------------


def _traced_gate(tr):
    """``gopher_quality`` for the traced export: its input, the fused
    clean -> redact projection, is forced first in a span of its own."""
    gate = quality.gopher_quality

    def traced(df, *args, **kwargs):
        tr.call("operators.pii", lambda: df)
        return tr.call("operators.quality", gate, df, *args, **kwargs)

    return traced


def corpus_curation(ctx: Ctx, iteration: int) -> Iteration:
    spark, d, tr = ctx.spark, ctx.data, ctx.tracer
    clock = _Clock()
    outputs: dict = {}
    docs = tr.call("sources.read", load_table, spark, d, "documents")
    emb = tr.call("sources.read", load_table, spark, d, "embeddings")

    # clean -> redact_pii -> gopher gate -> fingerprint dedup -> shard rollup
    with clock.timed("export"), tr.patched(quality, "gopher_quality", wrapper=_traced_gate(tr)), \
            tr.patched(dedup, "dedup_by_fingerprint", "operators.dedup"):
        export = tr.call("pipelines", pipelines.private_export_plan, docs, n_shards=8,
                         gopher_thresholds=qr._GOPHER_TUNING)
        with tr.span("pipelines"):
            outputs["export"] = export.collect()

    # embedding near-duplicates: per-label top-5 cosine neighbours
    with clock.timed("cosine"):
        topm = tr.call("operators.similarity", cosine_pairs_topm, emb, m=5, block_col="label")
        with tr.span("operators.similarity"):
            outputs["cosine_topm"] = topm.collect()

    # corpus composition (language -> source) released with small-cell suppression
    with clock.timed("rollup"):
        roll = tr.call("operators.rollup", rollup_release, docs, ["lang", "source"], ROLLUP_K)
        with tr.span("operators.rollup"):
            outputs["rollup"] = roll.collect()

    return clock.done(outputs)


# -- passes run once per traced run ----------------------------------------


def clustering_pass(ctx: Ctx) -> dict:
    """The reference's clustering anonymization of the customer table:
    KMeans clusters as classes, with its metrics row."""
    customer = load_table(ctx.spark, ctx.data, "customer")
    with ctx.tracer.span("operators.clustering"):
        out = pipelines.clustering_pipeline(customer, CLUSTER_QI, n_clusters=N_CLUSTERS,
                                            k=CLUSTER_K, seed=42)
        return {
            "cluster_metrics": out["metrics"].collect(),
            "cluster_sizes": out["anonymized"].groupBy("cluster").count().collect(),
        }


def stream_replay(ctx: Ctx) -> dict:
    """Run ``private_export_stream`` over the split documents with an
    availableNow trigger and a checkpoint on disk; return the final
    complete-mode result and the query's progress reports."""
    spark, tr = ctx.spark, ctx.tracer
    name = "perfbench_stream"
    source = (spark.readStream.schema(DOCUMENTS_SCHEMA).option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(ctx.data, STREAM_DIR)))
    with tr.span("streaming"):
        query = (
            private_export_stream(source, thresholds=qr._GOPHER_TUNING)
            .writeStream.format("memory").queryName(name).outputMode("complete")
            .option("checkpointLocation", os.path.join(ctx.work, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        finally:
            query.stop()
        tr.adopt_group(str(query.runId))
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    spark.catalog.dropTempView(name)
    return {"stream": rows, "stream_progress": [dict(p) for p in query.recentProgress]}


WORKLOADS = {"anon_release": anon_release, "corpus_curation": corpus_curation}
EXTRA_PASSES = {"anon_release": clustering_pass, "corpus_curation": stream_replay}
