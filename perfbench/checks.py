"""Output checks, run after the timed region.

Where a workload step matches a registry query, its output is compared
with that query's ``ORACLE_SQL`` run by DuckDB over the same generated
parquet files. Everything else is checked against DuckDB SQL written here
for the step's parameters, or against invariants: released classes
have size >= k, epsilon spent equals epsilon planned, a DP answer stays
within a 50-scale Laplace tail of its exact value, the clustering metrics
agree with the cluster sizes, the stream's final result equals its batch
twin. Every failed check is
returned by name.

Each ``check_*`` function takes the outputs of every timed iteration and
returns, per iteration, ``(results, stats)``: every check run, by name,
with whether it passed, and, when ``with_stats`` is set (the traced run),
workload statistics the traced run reports as layer metrics (kept / pass /
suppressed fractions and the like). The reference answers are computed
once per run.
"""

from __future__ import annotations

import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd

from dbms_data_anonymity_differential_privacy_spark import queries_registry as qr
from workloads import ANON_EPSILON_PLAN, CLUSTER_K, DP_SUM_BOUNDS, N_CLUSTERS, ROLLUP_K

# exp(-50): chance that one Laplace draw exceeds 50 scales
NOISE_SCALES = 50.0


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _frame(rows) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in rows])


def same(got: pd.DataFrame, want: pd.DataFrame, atol: float = 1e-12) -> bool:
    """Order-insensitive equality; floats equal within 1e-9 relative or
    ``atol``."""
    if len(got) != len(want):
        return False
    if len(got) == 0:
        return True
    if sorted(got.columns) != sorted(want.columns):
        return False
    # sort on the exact columns first, so float noise cannot reorder rows
    cols = sorted(got.columns, key=lambda c: (want[c].dtype.kind == "f", c))
    g = got[cols].sort_values(cols, ignore_index=True)
    w = want[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
            if not np.allclose(gv.astype(float), wv.astype(float), rtol=1e-9, atol=atol,
                               equal_nan=True):
                return False
        elif not ((gv == wv) | (pd.isna(gv) & pd.isna(wv))).all():
            return False
    return True


def _oracle(con, name: str) -> pd.DataFrame:
    return con.execute(qr.ORACLE_SQL[name]).fetchdf()


def _release(con, path: str) -> pd.DataFrame:
    return con.execute(f"SELECT * FROM read_parquet('{path}/**/*.parquet')").fetchdf()


def _noise_ok(rows, exact: str, noisy: str, scale: float) -> bool:
    return all(abs(r[noisy] - r[exact]) <= NOISE_SCALES * scale for r in rows)


# -- anon_release ----------------------------------------------------------


def check_anon_release(data_dir: str, runs: list[dict], with_stats: bool) -> list[tuple[dict, dict]]:
    con = connect(data_dir)
    oracle = _oracle(con, "c04_t_closeness_strict")
    n_orders = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    k_kept = len(_oracle(con, "c04_t_closeness_reference")) if with_stats else 0
    exact_count = con.execute(
        "SELECT o_orderpriority, COUNT(*) AS count_exact FROM orders GROUP BY 1"
    ).fetchdf()
    lo, hi = DP_SUM_BOUNDS
    exact_sum = con.execute(
        f"SELECT l_returnflag, SUM(LEAST(GREATEST(l_extendedprice, {lo}), {hi})) AS sum_exact "
        "FROM lineitem GROUP BY 1"
    ).fetchdf()
    results = [
        _check_release(con, outputs, oracle, exact_count, exact_sum, n_orders, k_kept)
        for outputs in runs
    ]
    con.close()
    return results


def _check_release(con, outputs, oracle, exact_count, exact_sum, n_orders, k_kept):
    ok: dict[str, bool] = {}
    release = _release(con, os.path.join(outputs["release_dir"], "tclose"))
    ok["tclose_release_vs_oracle"] = same(release, oracle)
    sizes = release.groupby(qr.ORD_QI).size() if len(release) else pd.Series(dtype=int)
    audit = outputs["release_audit"][0]
    ok["release_audit"] = not len(release) or (
        sizes.min() >= 5 and audit["min_class_size"] == sizes.min() and audit["k_satisfied"])
    risk = outputs["reid_risk"][0]["reid_risk"]
    ok["reid_risk"] = not len(release) or math.isclose(
        risk, round(len(sizes) / len(release), 9), abs_tol=1e-9)

    got = _frame(outputs["dp_count"])
    ok["dp_count"] = same(got[["o_orderpriority", "count_exact"]], exact_count) and _noise_ok(
        outputs["dp_count"], "count_exact", "count_dp", 1.0 / ANON_EPSILON_PLAN["dp_count"])
    got = _frame(outputs["dp_sum"])
    ok["dp_sum"] = same(got[["l_returnflag", "sum_exact"]], exact_sum) and _noise_ok(
        outputs["dp_sum"], "sum_exact", "sum_dp",
        max(map(abs, DP_SUM_BOUNDS)) / ANON_EPSILON_PLAN["dp_sum"])
    ok["dp_histogram"] = _histogram_ok(con, outputs["dp_histogram"], "lineitem", "l_quantity", 10,
                                       0.0, 50.0, ANON_EPSILON_PLAN["dp_histogram"])
    ok["epsilon_spent_vs_planned"] = outputs["epsilon_spent"] == sum(ANON_EPSILON_PLAN.values())

    stats = {
        "operators.kanonymity.kept_frac": k_kept / max(n_orders, 1),
        "operators.tcloseness.pass_frac": len(release) / max(k_kept, 1),
        "operators.dp.epsilon_spent": outputs["epsilon_spent"],
    }
    return ok, stats


def check_clustering(data_dir: str, outputs: dict) -> tuple[dict, dict]:
    """The clustering pipeline's metrics row against the cluster sizes:
    every row kept, k satisfied iff the smallest cluster has >= k rows,
    risk = clusters / rows, singleton and below-k shares."""
    con = connect(data_dir)
    n_rows = con.execute("SELECT COUNT(*) FROM customer").fetchone()[0]
    con.close()
    metrics = outputs["cluster_metrics"][0]
    sizes = [r["count"] for r in outputs["cluster_sizes"]]
    want = {
        "k_satisfied": min(sizes) >= CLUSTER_K,
        "uniqueness_rate": round(sum(s == 1 for s in sizes) / N_CLUSTERS, 9),
        "reid_risk": round(len(sizes) / n_rows, 9),
        "suppression_rate": round(sum(s for s in sizes if s < CLUSTER_K) / n_rows, 9),
    }
    ok = (
        sum(sizes) == n_rows
        and len(sizes) <= N_CLUSTERS
        and metrics["k_satisfied"] == want["k_satisfied"]
        and all(math.isclose(metrics[k], want[k], abs_tol=1e-9) for k in list(want)[1:])
        and 0.0 <= metrics["ncp"] <= 1.0
    )
    return {"clustering_metrics_vs_sizes": ok}, {}


def _histogram_ok(con, rows, table, col, n_bins, lower, upper, epsilon) -> bool:
    exact = con.execute(
        f"SELECT CAST(LEAST(FLOOR((LEAST(GREATEST({col}, {lower}), {upper}) - {lower}) * {n_bins} "
        f"/ ({upper} - {lower})), {n_bins - 1}) AS INT) AS bin, COUNT(*) AS n FROM {table} GROUP BY 1"
    ).fetchall()
    want = dict.fromkeys(range(n_bins), 0)
    want.update(dict(exact))
    got = {r["bin"]: r["count_exact"] for r in rows}
    return got == want and _noise_ok(rows, "count_exact", "count_dp", 1.0 / epsilon)


# -- corpus_curation -------------------------------------------------------


def check_corpus_curation(data_dir: str, runs: list[dict], with_stats: bool) -> list[tuple[dict, dict]]:
    con = connect(data_dir)
    export = _oracle(con, "pipe_private_export")
    topm = _oracle(con, "x04_cosine_pairs_topm")
    cells = ("SELECT lang, source, CAST(GROUPING(lang) * 2 + GROUPING(source) AS INT) AS level, "
             "COUNT(*) AS n_rows FROM documents GROUP BY ROLLUP(lang, source)")
    released = con.execute(f"{cells} HAVING COUNT(*) >= {ROLLUP_K}").fetchdf()
    stats = _funnel_stats(con, cells, len(released)) if with_stats else {}
    con.close()
    results = []
    for outputs in runs:
        ok = {
            "export_vs_oracle": same(_frame(outputs["export"]), export),
            # the BLAS scoring rounds cos to 6 dp like the oracle, from a
            # differently ordered float sum: the last digit may differ
            "cosine_topm_vs_oracle": same(_frame(outputs["cosine_topm"]), topm, atol=1.5e-6),
            "rollup_vs_duckdb": same(_frame(outputs["rollup"]), released),
        }
        results.append((ok, stats))
    return results


def _funnel_stats(con, cells: str, n_released: int) -> dict:
    """Funnel counts from the export oracle's own stages."""
    oracle_sql = qr.ORACLE_SQL["pipe_private_export"]
    docs, redacted, kept, deduped = con.execute(
        oracle_sql[: oracle_sql.rindex("SELECT shard, lang,")]
        + "SELECT (SELECT COUNT(*) FROM documents), (SELECT SUM(__redacted) FROM redacted), "
        "(SELECT COUNT(*) FROM kept), (SELECT COUNT(*) FROM d)"
    ).fetchone()
    all_cells = con.execute(f"SELECT COUNT(*) FROM ({cells})").fetchone()[0]
    return {
        "operators.pii.redacted_frac": redacted / max(docs, 1),
        "operators.quality.pass_frac": kept / max(docs, 1),
        "operators.dedup.survivor_frac": deduped / max(kept, 1),
        "operators.rollup.suppressed_frac": 1.0 - n_released / max(all_cells, 1),
    }


def check_stream(data_dir: str, outputs: dict) -> tuple[dict, dict]:
    """The stream replay's final result against its batch twin's oracle,
    and the replay's progress statistics."""
    con = connect(data_dir)
    twin = _oracle(con, "pipe_private_export_stream")
    con.close()
    progress = outputs["stream_progress"]
    batches = [p for p in progress if p["numInputRows"] > 0]
    last = batches[-1]["stateOperators"]
    return {"stream_vs_batch_twin": same(_frame(outputs["stream"]), twin)}, {
        "streaming.batches": len(batches),
        "streaming.rows_per_batch": float(np.mean([p["numInputRows"] for p in batches])),
        "streaming.add_batch_ms_p50": float(np.median([p["durationMs"]["addBatch"] for p in batches])),
        "streaming.wal_commit_ms_p50": float(np.median([p["durationMs"]["walCommit"]
                                                         for p in batches])),
        "streaming.state_rows": sum(op["numRowsTotal"] for op in last),
        "streaming.state_mb": sum(op["memoryUsedBytes"] for op in last) / 1e6,
    }


CHECKS = {
    "anon_release": check_anon_release,
    "corpus_curation": check_corpus_curation,
}
# checks of the passes run once per traced run (workloads.EXTRA_PASSES)
EXTRA_CHECKS = {"anon_release": check_clustering, "corpus_curation": check_stream}
