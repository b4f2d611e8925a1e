"""The traced run: replay one fit layer by layer, with a span per call.

The replay walks the same dataflow as ``ReliefFSelector.fit`` (dense:
``ml.estimator`` prepare then ``operators.relief.fit_relief``; sparse:
the estimator's long-form prepare then
``operators.relief_sparse._fit_relief_sparse_batched``), calling each
layer's own functions with the arguments the fit passes. It caches and
counts each layer's output inside the layer's span, so a span's self
time is that layer's work and not a later consumer's. Its std and
redundancy selections, its normalized relevance and (sparse) its kNN
route must equal the public fit's model; that is this run's
correctness gate.

``fit.*`` metrics come from the public fit itself, untraced except for
its Spark job group: its jobs, tasks, executor run time, shuffle write,
and the driver gap (fit wall time not covered by any job).
``trace.overhead_s`` is the replay's wall time minus the public fit's.
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import stats
from perfbench.trace import Tracer, spark_counters
from spark_relieffc_fselection_spark.operators import relief
from spark_relieffc_fselection_spark.operators import relief_sparse as rs
from spark_relieffc_fselection_spark.operators.knn import knn_join
from spark_relieffc_fselection_spark.operators.sampling import hash_uniform


def _cached(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.cache()
    return df, df.count()


def _priors(labels: DataFrame) -> tuple[dict[float, float], int]:
    rows = labels.groupBy("label").count().collect()
    n = sum(int(r["count"]) for r in rows)
    return {float(r["label"]): r["count"] / n for r in rows}, n


def _top(rel_b: dict[int, float], lower_feat: int) -> list[int]:
    return [f for f, _ in sorted(rel_b.items(), key=lambda kv: (-kv[1], kv[0]))[:lower_feat]]


def _redundancy(tr, joints, margs, total, joint_total, spark) -> dict:
    from functools import reduce

    red_coo: dict[tuple[int, int], float] = {}
    with tr.span("operators.relief.mi_redundancy"):
        if joints and total and joint_total > 0:
            joint_all = reduce(DataFrame.unionByName, joints).groupBy("f1", "f2").agg(
                F.sum("joint").alias("joint")
            )
            marg_sum: dict[int, float] = {}
            for marg_b in margs:
                for f, v in marg_b.items():
                    marg_sum[f] = marg_sum.get(f, 0.0) + v
            marg_all = spark.createDataFrame(
                [(int(f), float(v)) for f, v in sorted(marg_sum.items())],
                "feature_idx long, marginal double",
            )
            red_df = relief.mi_redundancy(joint_all, marg_all, float(total), joint_total)
            for r in red_df.collect():
                red_coo[(int(r["f1"]), int(r["f2"]))] = float(r["redundancy"])
    for j in joints:
        j.unpersist()
    return red_coo


def replay_dense(tr: Tracer, df: DataFrame, p: dict) -> dict:
    spark = df.sparkSession
    n_top = p.get("numTopFeatures", 10)
    ratio = p.get("estimationRatio", 0.25)
    batch_size = p.get("batchSize", 0.25)
    redundancy = p.get("redundancyRemoval", False)
    continuous = not p.get("discreteData", False)
    ldt = p.get("lowerDistanceThreshold", 0.8)
    if p.get("batching") != "hash" or (ratio < 1.0 and p.get("samplingMode") != "hash"):
        raise ValueError("the replay covers hash batching and hash sampling only")
    with tr.span("ml.estimator.prepare") as s:
        prepared, s["counts"]["prepare_rows"] = _cached(
            df.select(
                F.monotonically_increasing_id().alias("id"),
                vector_to_array(F.col("features")).cast("array<double>").alias("features"),
                F.col("label").cast("double").alias("label"),
            )
        )
        priors, n_elems = _priors(prepared)
        n_feat = len(prepared.first()["features"])
    k = p.get("numNeighbors", 10) * len(priors)
    lower_feat = max(n_top, round(p.get("lowerFeatureThreshold", 3.0) * n_top))
    sample, sampled = prepared, n_elems
    if ratio < 1.0:
        with tr.span("operators.sampling.sample") as s:
            sample, sampled = _cached(prepared.filter(hash_uniform(F.col("id")) < ratio))
            s["counts"]["sampled_rows"] = sampled
    max_allowed = (2**31 - 1) / 8.0 / (n_feat + 2) / max(sampled, 1)
    n_batches = max(1, int(1.0 / min(batch_size, max_allowed)))
    batch_rows = max(1, sampled // n_batches)
    sample_parts = sample.rdd.getNumPartitions()
    par = spark.sparkContext.defaultParallelism
    top_features: list[int] = []
    weights, margs, joints, total = [], [], [], 0
    for b in range(n_batches):
        batch = sample if n_batches == 1 else sample.filter(
            F.pmod(F.col("id"), F.lit(n_batches)) == b
        )
        batch = batch.cache()
        with tr.span("operators.knn.knn_join") as s:
            neigh, s["counts"]["neighbor_rows"] = _cached(
                knn_join(
                    batch, batch, k, id_col="id", features_col="features",
                    exclude_self=True, strategy=p.get("knnStrategy", "numpy"),
                    num_instances=batch_rows, num_queries=batch_rows,
                    scan_partitions=sample_parts,
                )
            )
            s["counts"]["calls"] = 1
        with tr.span("operators.relief.pair_table") as s:
            top_mult = min(lower_feat, n_feat) if redundancy else 0
            pair_vol = max(batch_rows, 1) * k * n_feat * (1 + top_mult)
            parts = max(1, min(par, -(-pair_vol // 262144)))
            pairs, n_pairs = _cached(
                relief.pair_table(batch, neigh).repartition(
                    parts, "query_id", "neighbor_id"
                )
            )
            s["counts"]["pair_rows"] = n_pairs
        total += n_pairs
        with tr.span("operators.relief.feature_bin_stats") as s:
            bins = relief.feature_bin_stats(
                relief.explode_pairs(pairs), continuous, ldt
            ).collect()
            s["counts"]["exploded_rows"] = sum(int(r["n_rows"]) for r in bins)
            # dense long tables hold every feature of every pair, so a
            # bin's row count is its pair count
            pc = {(r["n_label"], r["same_class"]): int(r["n_rows"]) for r in bins}
            rel_b, marg_b = relief._collapse_bins_local(
                (
                    (r["feature_idx"], r["n_label"], r["same_class"], r["bin_sum"], r["vote_sum"])
                    for r in bins
                ),
                pc,
                priors,
            )
        if redundancy:
            with tr.span("operators.relief.joint_counts") as s:
                j_b, s["counts"]["joint_rows"] = _cached(
                    relief.joint_counts_from_pairs(
                        pairs, top_features, continuous, ldt, n_feat
                    )
                )
            joints.append(j_b)
            margs.append(marg_b)
        weights.append(rel_b)
        top_features = _top(rel_b, lower_feat) or top_features
        for cached in (pairs, neigh, batch):
            cached.unpersist()
    prepared.unpersist()
    sample.unpersist()
    rel = np.zeros(n_feat)
    for rel_b in weights:
        for f, v in rel_b.items():
            rel[f] += v
    mn, mx = float(rel.min()), float(rel.max())
    rel = (rel - mn) / (mx - mn) if mx > mn else np.zeros(n_feat)
    std = relief.std_ranking(rel, n_top)
    out = {"std": std, "red": list(std), "relevance": rel}
    if redundancy:
        joint_total = total * (1.0 - ratio / n_batches)
        red_coo = _redundancy(tr, joints, margs, total, joint_total, spark)
        with tr.span("operators.relief.greedy_select"):
            out["red"] = relief.greedy_select(rel, red_coo, n_top)
    return out


def replay_sparse(tr: Tracer, df: DataFrame, p: dict, width: int) -> dict:
    spark = df.sparkSession
    n_top = p.get("numTopFeatures", 10)
    redundancy = p.get("redundancyRemoval", False)
    continuous = not p.get("discreteData", False)
    ldt = p.get("lowerDistanceThreshold", 0.8)
    ratio = p.get("estimationRatio", 0.25)
    if ratio < 1.0 or width <= relief.DENSE_RELEVANCE_MAX_FEATURES:
        raise ValueError(
            "the sparse replay covers estimationRatio=1 and widths past the "
            "dense relevance cap only"
        )
    with tr.span("ml.estimator.prepare") as s:
        u = F.unwrap_udt(F.col("features"))
        entries = F.zip_with(
            u.getField("indices"),
            u.getField("values"),
            lambda i, v: F.struct(i.cast("int").alias("f"), v.alias("v")),
        )
        base, s["counts"]["prepare_rows"] = _cached(
            df.select(
                F.monotonically_increasing_id().alias("id"),
                entries.alias("__entries"),
                F.col("label").cast("double").alias("label"),
            )
        )
        labels = base.select("id", "label")
        long_df, nnz = _cached(
            base.select("id", F.explode("__entries").alias("e"))
            .select("id", F.col("e.f").alias("feature_idx"), F.col("e.v").alias("value"))
            .filter(F.col("value") != 0.0)
        )
        priors, n_elems = _priors(labels)
    k = p.get("numNeighbors", 10) * len(priors)
    n_batches = max(1, int(1.0 / p.get("batchSize", 1.0)))
    if n_batches < 2:
        raise ValueError("the sparse replay covers the batched loop only")
    lower_feat = max(n_top, round(p.get("lowerFeatureThreshold", 3.0) * n_top))
    # the kNN route the estimator asks for (ml/estimator.py), resolved as
    # _fit_relief_sparse_batched resolves it
    knn_probe = {"auto": None, "probe": True, "grid": False}[
        p.get("sparseKnnProbe", "auto")
    ]
    if knn_probe is None:
        dense_ish = nnz > 0.25 * n_elems * max(width, 1)
        probe_arg = False if dense_ish else None
    else:
        dense_ish = not knn_probe
        probe_arg = knn_probe
    knn_res: dict = {}
    tf: list[int] = []
    weights, margs, joints, total = [], [], [], 0
    for b in range(n_batches):
        b_labels = labels.filter(F.pmod(F.col("id"), F.lit(n_batches)) == b).cache()
        b_long = long_df.filter(F.pmod(F.col("id"), F.lit(n_batches)) == b).cache()
        b_n = max(1, n_elems // n_batches) if dense_ish else b_labels.count()
        with tr.span("operators.relief_sparse.sparse_knn_join") as s:
            neigh, s["counts"]["neighbor_rows"] = _cached(
                rs._coalesce_for_cache(
                    rs.sparse_knn_join(
                        b_long, b_labels, b_labels.select("id"), k,
                        num_corpus=b_n, probe=probe_arg,
                        resolution_out=knn_res if b == 0 else None,
                    ),
                    b_n * k,
                )
            )
        with tr.span("operators.relief_sparse.sparse_pair_feature_table") as s:
            lp, s["counts"]["pair_feature_rows"] = _cached(
                rs._coalesce_for_cache(
                    rs.sparse_pair_feature_table(b_long, b_labels, neigh), b_n * k * 4
                )
            )
        with tr.span("operators.relief.feature_bin_stats") as s:
            bins = relief.feature_bin_stats(lp, continuous, ldt).collect()
            s["counts"]["exploded_rows"] = sum(int(r["n_rows"]) for r in bins)
            pc = {
                (r["n_label"], r["same_class"]): int(r["bin_cnt"])
                for r in rs._pair_bin_counts(neigh, b_labels).collect()
            }
            rel_b, marg_b = relief._collapse_bins_local(
                (
                    (r["feature_idx"], r["n_label"], r["same_class"], r["bin_sum"], r["vote_sum"])
                    for r in bins
                ),
                pc,
                priors,
            )
        total += sum(pc.values())
        if redundancy:
            with tr.span("operators.relief.joint_counts") as s:
                j_b, s["counts"]["joint_rows"] = _cached(
                    relief.joint_counts(
                        relief.collision_table(lp, continuous, ldt), tf, continuous
                    )
                )
            joints.append(j_b)
            margs.append(marg_b)
        weights.append(rel_b)
        tf = _top(rel_b, lower_feat) or tf
        for cached in (lp, neigh, b_long, b_labels):
            cached.unpersist()
    base.unpersist()
    long_df.unpersist()
    rel_sum: dict[int, float] = {}
    for rel_b in weights:
        for f, v in rel_b.items():
            rel_sum[f] = rel_sum.get(f, 0.0) + v
    with tr.span("operators.relief.normalize_relevance_coo"):
        rel_map, default = relief.normalize_relevance_coo(rel_sum, width)
        std = relief.std_ranking_coo(rel_map, default, width, n_top)
    out = {"std": std, "red": list(std), "relevance": (rel_map, default),
           "route": knn_res["route"]}
    if redundancy:
        red_coo = _redundancy(
            tr, joints, margs, total, total * (1.0 - ratio / n_batches), spark
        )
        with tr.span("operators.relief.greedy_select"):
            out["red"] = relief.greedy_select_coo(
                rel_map, default, width, red_coo, n_top
            )
    return out


#: every per-layer metric a traced run reports; layers a workload
#: bypasses report 0
LAYER_METRICS = (
    "session.get_spark_s",
    "ml.estimator.prepare_s", "ml.estimator.prepare_rows",
    "ml.estimator.transform_s", "ml.estimator.transform_rows",
    "operators.sampling.sample_s", "operators.sampling.sampled_rows",
    "operators.knn.knn_join_s", "operators.knn.calls", "operators.knn.neighbor_rows",
    "operators.relief.pair_table_s", "operators.relief.pair_rows",
    "operators.relief.feature_bin_stats_s", "operators.relief.exploded_rows",
    "operators.relief.joint_counts_s", "operators.relief.joint_rows",
    "operators.relief.mi_redundancy_s", "operators.relief.greedy_select_s",
    "operators.relief.normalize_relevance_coo_s",
    "operators.relief_sparse.sparse_knn_join_s", "operators.relief_sparse.neighbor_rows",
    "operators.relief_sparse.sparse_pair_feature_table_s",
    "operators.relief_sparse.pair_feature_rows",
    "fit.jobs", "fit.tasks", "fit.driver_gap_s", "fit.executor_run_s",
    "fit.shuffle_write_mb", "fit.spill_mb",
    "trace.overhead_s",
)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def replay_mismatches(got: dict, model) -> list[str]:
    """What the replay got differently from the public fit's model."""
    g = model.getOrDefault
    bad = []
    for key, param in (("std", model.stdSelection), ("red", model.redundancySelection)):
        if list(got[key]) != list(g(param)):
            bad.append(f"{key} selection {got[key]} != {g(param)}")
    rel = got["relevance"]
    if isinstance(rel, tuple):  # COO: (normalized dict, absent default)
        rel_map, default = rel
        active = sorted(rel_map)
        same = (
            active == list(g(model.relevanceActiveIndices))
            and [rel_map[f] for f in active] == list(g(model.relevanceActiveValues))
            and default == g(model.relevanceDefault)
        )
    else:
        same = np.array_equal(rel, np.asarray(g(model.relevanceWeights)))
    if not same:
        bad.append("normalized relevance differs")
    if "route" in got:
        fit_route = g(model.resolvedKnnStrategy).rsplit("/", 1)[-1]
        if got["route"] != fit_route:
            bad.append(f"kNN route {got['route']} != {fit_route}")
    return bad


def traced_run(bench) -> dict:
    """Set up, fit once to warm the session, replay the fit through the
    layers, fit once more under the ``fit`` job group, transform once.
    Writes the span file and returns the metrics as name -> (value,
    unit)."""
    w, args = bench.w, bench.args
    tr = Tracer(f"{w.name}-{args.seed}")
    bench.setup(tr)
    sc = bench.spark.sparkContext
    bench.op("warm-up fit", bench.fit)

    def replay():
        with tr.span("fit.replay"):
            if w.kind == "sparse":
                return replay_sparse(tr, bench.train, w.params, w.width)
            return replay_dense(tr, bench.train, w.params)

    got, _ = bench.op("replay", replay)
    # the public fit runs after the replay, so the replay never gains
    # from a warmer JVM: trace.overhead_s errs high, not low
    sc.setJobGroup("fit", "public fit")
    t0 = time.time()
    model, _ = bench.op("fit", bench.fit)
    t1 = time.time()
    sc.setJobGroup("untraced", "")
    if model is None or got is None:
        raise RuntimeError("the traced run needs a successful fit and replay")
    bad = replay_mismatches(got, model)
    if bad:
        bench.failed += 1
        print("FAILED replay vs public fit: " + "; ".join(bad), file=sys.stderr)
    fit_c = spark_counters(sc, "fit")
    replay_span = next(s for s in tr.spans if s["name"] == "fit.replay")

    def transform():
        with tr.span("ml.estimator.transform") as s:
            bench.sink(model)
            s["counts"]["transform_rows"] = bench.inputs.apply.rows
        bench.check_transform(model)

    bench.op("transform", transform)
    tr.attach_spark_counters()
    metrics = {name: 0.0 for name in LAYER_METRICS}
    metrics.update(
        {k: v for k, v in tr.layer_metrics().items() if k in metrics}
    )
    metrics.update(
        {
            "fit.jobs": fit_c["jobs"],
            "fit.tasks": fit_c["tasks"],
            "fit.driver_gap_s": stats.driver_gap(t0, t1, fit_c["job_intervals"]),
            "fit.executor_run_s": fit_c["executor_run_s"],
            "fit.shuffle_write_mb": fit_c["shuffle_write_mb"],
            "fit.spill_mb": fit_c["spill_mb"],
            "trace.overhead_s": (replay_span["end"] - replay_span["start"]) - (t1 - t0),
        }
    )
    spans_dir = bench.work / "spans"
    spans_dir.mkdir(parents=True, exist_ok=True)
    span_file = spans_dir / f"{w.name}-seed{args.seed}.json"
    span_file.write_text(json.dumps(tr.spans, indent=1))
    print(f"spans {span_file} ({len(tr.spans)} spans)")
    return {k: (v, _unit(k)) for k, v in metrics.items()}
