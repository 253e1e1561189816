"""Plan-shape regression tests: pin the physical plans that make these
queries survive a 100x scale-up (pushdown, pruning, broadcast, shuffle
count). A correctness-preserving refactor that regresses the plan
should fail HERE, not in a cluster bill.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from local_vectordb_spark import plans, queries
from local_vectordb_spark.queries_relational import (
    tpch_q6_forecast_revenue,
    tpch_q10_returned_items,
)
from local_vectordb_spark.queries import (
    knn_brute_force,
    tpch_q3_shipping_priority,
    tpch_q5_local_supplier_volume,
    window_top_orders_per_customer,
)


def test_q6_filters_push_to_scan(spark, sf_dir):
    df = tpch_q6_forecast_revenue(spark, sf_dir)
    pushed = " ".join(plans.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_q6_prunes_columns(spark, sf_dir):
    df = tpch_q6_forecast_revenue(spark, sf_dir)
    (scan,) = plans.read_schema_columns(df)
    assert set(scan) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    }, f"scan reads {scan}"


def test_star_joins_broadcast_not_sort_merge(spark, sf_dir):
    for q in (
        tpch_q3_shipping_priority,
        tpch_q5_local_supplier_volume,
        tpch_q10_returned_items,
    ):
        df = q(spark, sf_dir)
        assert plans.broadcast_join_count(df) >= 2, q.__name__
        assert plans.sort_merge_join_count(df) == 0, q.__name__


def test_q1_single_shuffle(spark, sf_dir):
    df = queries.tpch_q1_pricing_summary(spark, sf_dir)
    assert plans.count_shuffles(df) <= 1


def test_window_topk_single_shuffle(spark, sf_dir):
    df = window_top_orders_per_customer(spark, sf_dir)
    assert plans.count_shuffles(df) <= 1


def test_ivf_assignments_partition_pruning(spark, sf_dir, tmp_path):
    """The IVF scale path: assignments written partitioned by
    cluster_id mean an n_probe search scans only the probed clusters'
    directories — real partition pruning, visible in the plan."""
    from local_vectordb_spark.operators import ivf
    from local_vectordb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    _, _, assignments = ivf.ivf_build(emb, n_clusters=8)
    path = str(tmp_path / "assignments")
    assignments.write.partitionBy("cluster_id").parquet(path)
    probed = spark.read.parquet(path).filter("cluster_id IN (1, 3, 5)")
    plan = plans.plan_string(probed)
    assert "PartitionFilters" in plan
    assert "cluster_id" in plan.split("PartitionFilters", 1)[1][:200]
    # pruning is effective: only the probed partitions are read
    scanned = probed.select("cluster_id").distinct().collect()
    assert {r.cluster_id for r in scanned} <= {1, 3, 5}


def test_knn_no_shuffle(spark, sf_dir):
    """Brute-force top-k must be scan + per-partition heap + driver
    merge (TakeOrderedAndProject) — zero shuffles."""
    df = knn_brute_force(spark, sf_dir)
    assert plans.count_shuffles(df) == 0
    assert "TakeOrderedAndProject" in plans.plan_string(df)


def test_asof_join_no_nested_loop(spark, sf_dir):
    """The as-of join must compile to the union+window rewrite — one
    shuffle on the by-key, NO nested-loop/cartesian join (the naive
    range-condition formulation degenerates to BroadcastNestedLoopJoin,
    which is quadratic at scale)."""
    from local_vectordb_spark.queries_training import events_asof_last_view

    df = events_asof_last_view(spark, sf_dir)
    p = plans.plan_string(df)
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_band_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """The banded range join must run as a hash-partitioned equi-join
    on (key, tolerance-cell) — never a nested-loop range join."""
    from local_vectordb_spark.queries_training import (
        events_band_clicks_near_errors,
    )

    df = events_band_clicks_near_errors(spark, sf_dir)
    p = plans.plan_string(df)
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    # the equi-join on the exploded cells is a real join in the plan
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_ivf_search_pruned_physical_layout(spark, sf_dir):
    """The registered pruned query must (a) scan the hive-partitioned
    assignments with a cluster_id PartitionFilter — directory pruning,
    not just row-group pushdown — and (b) return exactly what the
    logical (unpartitioned-assignments) path returns on the same index."""
    from local_vectordb_spark import queries as q

    pruned = q.ivf_search_pruned(spark, sf_dir)
    plan = plans.plan_string(pruned)
    assert "PartitionFilters" in plan
    idx = plan.index("PartitionFilters")
    assert "cluster_id" in plan[idx : idx + 300]
    logical = q.SPARK_QUERIES["ivf_search"](spark, sf_dir)
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, logical.collect())
    )


def test_ivf_sign_pruned_reads_only_probed_buckets(spark, sf_dir):
    """The oracle-exact sign-bucket search prunes to the 5 probed
    partition directories (of 16) and its candidates all carry probed
    bucket ids."""
    from local_vectordb_spark import queries as q
    from local_vectordb_spark.operators import ivf

    df = q.SPARK_QUERIES["ivf_sign_pruned"](spark, sf_dir)
    plan = plans.plan_string(df)
    assert "PartitionFilters" in plan
    idx = plan.index("PartitionFilters")
    assert "bucket" in plan[idx : idx + 300]
    qv = q._query_vecs(sf_dir)[0][1]
    probed = set(ivf.sign_probe(qv, n_bits=4))
    assert len(probed) == 5
    # pruning is real: the partitioned table has more buckets than the
    # probe touches, and the pruned scan only ever surfaces probed ones
    import os

    from local_vectordb_spark.session import fixture_cache_dir

    path = os.path.join(fixture_cache_dir(sf_dir, "embeddings"), "emb_by_sign")
    table = spark.read.parquet(path)
    all_buckets = {r.bucket for r in table.select("bucket").distinct().collect()}
    assert len(all_buckets) > len(probed)
    seen = {
        r.bucket
        for r in table.filter(F.col("bucket").isin(list(probed)))
        .select("bucket")
        .distinct()
        .collect()
    }
    assert seen <= probed


def test_ivf_sign_two_level_prunes_to_three_routed_buckets(spark, sf_dir):
    """r12: the two-level-routed twin reads only 3 of 16 partition
    directories — the query's own bucket and the two Hamming-1
    neighbours INSIDE its supercell; the cross-supercell Hamming-1
    neighbours the flat probe reads (5/16) are discarded by the
    route, which is exactly the scan-vs-recall trade two-level
    routing makes. The probe set is a strict subset of the flat one."""
    from local_vectordb_spark import queries as q
    from local_vectordb_spark.operators import ivf

    df = q.SPARK_QUERIES["ivf_sign_two_level"](spark, sf_dir)
    plan = plans.plan_string(df)
    assert "PartitionFilters" in plan
    idx = plan.index("PartitionFilters")
    assert "bucket" in plan[idx : idx + 300]
    qv = q._query_vecs(sf_dir)[0][1]
    routed = set(ivf.sign_probe_two_level(qv, n_bits=4, super_bits=2,
                                          n_probe=3))
    flat = set(ivf.sign_probe(qv, n_bits=4))
    assert len(routed) == 3
    assert routed < flat  # own bucket + the 2 in-supercell H1 flips
    own = ivf.sign_probe(qv, n_bits=4, max_hamming=0)[0]
    assert routed == {own, own ^ 1, own ^ 2}
    assert {b >> 2 for b in routed} == {own >> 2}  # one supercell


def test_beam_search_final_plan_and_hop_shape(spark, sf_dir):
    """The driver-frontier beam search (r19 bounded-collect policy)
    returns the top-k as a LOCAL relation — the final plan must be a
    plain local scan with no join re-expansion of the traversal. The
    per-hop neighbour lookup an edges-DataFrame hop performs (edges x
    broadcast frontier) must still be a broadcast hash join, asserted
    on an unbarriered single hop."""
    from local_vectordb_spark import queries as q
    from local_vectordb_spark.operators import ann, knn
    from local_vectordb_spark.session import load_table

    df = q.SPARK_QUERIES["graph_beam_search"](spark, sf_dir)
    plan = plans.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # traversal state never re-expands
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan

    emb = load_table(spark, sf_dir, "embeddings")
    edges = ann.knn_graph(emb, k=5).localCheckpoint(eager=True)
    scored = knn.score_all(emb, q._query_vecs(sf_dir)[0][1])
    frontier = scored.orderBy(F.desc("score")).limit(8)
    hop = edges.join(
        F.broadcast(frontier.select(F.col("vec_id").alias("src"))), "src"
    )
    hop_plan = plans.plan_string(hop)
    assert "BroadcastHashJoin" in hop_plan
    assert "CartesianProduct" not in hop_plan


def _executed_nodes(df):
    """(node name, {metric: value}, names below it) for every operator
    of the EXECUTED plan (call after an action), descending through
    AQE query stages."""
    out = []

    def walk(n):
        while "QueryStage" in n.getClass().getName():
            n = n.plan()
        ms, it = n.metrics(), n.metrics().keys().iterator()
        vals = {}
        while it.hasNext():
            key = it.next()
            vals[key] = ms.get(key).get().value()
        kids = n.children()
        below = set()
        for i in range(kids.size()):
            below |= walk(kids.apply(i))
        out.append((n.nodeName(), vals, below))
        return below | {n.nodeName()}

    walk(df._jdf.queryExecution().executedPlan().executedPlan())
    return out


def test_batch_table_path_scores_blocks_without_a_cross_join(
    monkeypatch, spark, sf_dir
):
    """The exact top-k kernel pairs (query block, corpus block) groups,
    never rows: no CartesianProduct or BroadcastNestedLoopJoin, all
    scoring in ONE grouped-map Python stage, and the partial top-k that
    stage emits — which is all the merge exchange carries — is at most
    corpus blocks × k rows per query, never |Q|·|C| scored pairs."""
    from local_vectordb_spark.operators import knn
    from local_vectordb_spark.session import load_table

    monkeypatch.setattr(knn, "ROWS_PER_BLOCK", 200)  # 500 rows: 3 blocks
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.limit(4).select(
        emb.vec_id.alias("query_id"),
        emb.embedding.cast("array<double>").alias("qv"),
    )
    df = knn.knn_batch_table(emb, qdf, k=3)
    plan = plans.plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("FlatMapCoGroupsInPandas") == 2  # tree + details
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert len(df.collect()) == 4 * 3

    nodes = _executed_nodes(df)
    cap = 4 * 3 * 3  # queries × corpus blocks × k
    (scored,) = [
        m["pythonNumRowsReceived"]
        for name, m, _ in nodes if name == "FlatMapCoGroupsInPandas"
    ]
    assert 4 * 3 <= scored <= cap < 4 * 500
    (merge,) = [
        m["shuffleRecordsWritten"] for name, m, below in nodes
        if name == "Exchange" and "FlatMapCoGroupsInPandas" in below
    ]
    assert merge <= cap


def test_no_hint_forced_fact_broadcasts(spark, sf_dir):
    """The 100x OOM gate: with autoBroadcastJoinThreshold=-1 the only
    BroadcastExchanges left in a plan are hint-forced, so any fact
    table (orders/customer/lineitem/part/supplier — all SF-linear)
    scanned un-reduced under one is a hard-coded broadcast that would
    OOM the driver at 100 TB. Bounded sides (nation=25, region=5) and
    cardinality-reduced subtrees (1-row aggregates, top-k sets) are
    allowed."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    gated = [
        n
        for n in SPARK_QUERIES
        if n.startswith("tpch_")
        or n in ("window_top_orders_per_customer", "scalar_subquery_premium_parts")
    ]
    assert len(gated) >= 15
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bad = {}
        for name in gated:
            df = SPARK_QUERIES[name](spark, sf_dir)
            hits = plans.unreduced_fact_broadcasts(df)
            if hits:
                bad[name] = hits
        assert not bad, f"hint-forced fact broadcasts: {bad}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_broadcast_audit_detects_forced_fact_broadcast(spark, sf_dir):
    """The gate itself must fire: a deliberate F.broadcast(lineitem)
    join is reported, and a nation-side hint is not."""
    from local_vectordb_spark.session import load_table

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, sf_dir, "orders")
        l = load_table(spark, sf_dir, "lineitem")
        n = load_table(spark, sf_dir, "nation")
        bad = o.join(F.broadcast(l), o.o_orderkey == l.l_orderkey)
        assert plans.unreduced_fact_broadcasts(bad) == ["lineitem"]
        # a reduced (aggregated) fact subtree is allowed
        agg = l.groupBy("l_orderkey").count()
        ok = o.join(F.broadcast(agg), o.o_orderkey == agg.l_orderkey)
        assert plans.unreduced_fact_broadcasts(ok) == []
        # nation is not a fact table
        dim = o.join(F.broadcast(n), o.o_custkey == n.n_nationkey)
        assert plans.unreduced_fact_broadcasts(dim) == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_capped_jaccard_no_cartesian_single_pair_shuffle(spark, sf_dir):
    """The capped Jaccard plan must stay an equi-join/groupBy pipeline:
    no cartesian product, no broadcast of the (potentially huge)
    posting list — only the tiny hot-shingle list broadcasts for the
    anti-join."""
    from local_vectordb_spark.operators import dedup
    from local_vectordb_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    df = dedup.ngram_jaccard_dupes(docs, threshold=0.5, max_df=4)
    plan = plans.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_candidate_tier_is_shuffle_free(spark, sf_dir):
    """The PQ-ADC candidate scan must compile to TakeOrderedAndProject
    with ZERO exchanges — the whole point of the tier is a map-only
    pass over the (tiny) codes followed by an O(C) driver merge."""
    from local_vectordb_spark.operators import pq
    from local_vectordb_spark.queries import _query_vecs
    from local_vectordb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = pq.pq_adc_search(emb, _query_vecs(sf_dir)[0][1], k=10)
    plan = plans.plan_string(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_ivf_pq_composed_plan_prunes_and_stays_shuffle_free(spark, sf_dir):
    """The IVF-PQ composition must keep BOTH tiers' physical
    properties: the probe reaches the scan as PartitionFilters on the
    bucket column (planning-time directory pruning) and the ADC
    candidate tier still compiles to TakeOrderedAndProject with no
    exchange."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["ivf_pq_search"](spark, sf_dir)
    plan = plans.plan_string(df)
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:200]
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_training_manifest_two_shuffles(spark, sf_dir):
    """The curation funnel's docstring claims Catalyst collapses the
    quality filter and split assignment into the dedup shuffle's map
    side — i.e. exactly two shuffle exchanges end to end (fingerprint
    window + final group agg), with the quality/text filters evaluated
    before the first exchange."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    import re

    df = SPARK_QUERIES["docs_training_manifest"](spark, sf_dir)
    plan = plans.plan_string(df)
    n_shuffles = len(re.findall(r"Exchange \(\d+\)", plan))
    assert n_shuffles == 2, f"expected 2 shuffles, plan has {n_shuffles}"
    # the dedup window's rank<=1 must run as WindowGroupLimit twice —
    # a partial top-1 per fingerprint on the map side BELOW the
    # exchange, then the final pass — not as a full window sort
    import re as _re

    assert len(_re.findall(r"WindowGroupLimit \(\d+\)", plan)) == 2


def test_pq_stored_codes_scan_never_reads_embeddings(spark, sf_dir):
    """The stored-codes deployment shape: the ADC candidate tier's
    parquet scan must read ONLY (vec_id, codes) — the float embeddings
    may appear solely in the rescore join's scan."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["knn_pq_stored"](spark, sf_dir)
    schemas = plans.read_schema_columns(df)
    code_scans = [s for s in schemas if "codes" in s]
    assert code_scans, f"no codes scan found in {schemas}"
    for s in code_scans:
        assert "embedding" not in s, f"ADC scan reads embeddings: {s}"
    assert any("embedding" in s for s in schemas)  # the rescore join


def test_sign_multiprobe_prunes_eleven_directories(spark, sf_dir):
    """The Hamming<=2 recall tier still prunes at PLANNING time: 11 of
    16 partition directories, expressed as PartitionFilters on the
    bucket column — recall was bought with a wider probe, not by
    giving up pruning."""
    from local_vectordb_spark import queries as q
    from local_vectordb_spark.operators import ivf

    df = q.SPARK_QUERIES["ivf_sign_multiprobe"](spark, sf_dir)
    plan = plans.plan_string(df)
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:300]
    qv = q._query_vecs(sf_dir)[0][1]
    probed = ivf.sign_probe(qv, n_bits=4, max_hamming=2)
    assert len(set(probed)) == 11


def test_pq_deep_rescore_stays_shuffle_free(spark, sf_dir):
    """Deepening the rescore list (50 -> 300) must not change the plan
    class: still TakeOrderedAndProject over a map-only ADC scan, zero
    exchanges — depth is a driver-merge constant, not a shuffle."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["knn_pq_adc_deep"](spark, sf_dir)
    plan = plans.plan_string(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_graph_lsh_bounded_shuffles(spark, sf_dir):
    """The LSH graph build's shuffle count must stay at 3 regardless of
    corpus size: the ball-replication groupBy, the dedup, and the
    per-src merge window. The O(n^2) work happens inside bucket-local
    BLAS, never as a join the planner could degrade to a cartesian."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["knn_graph_lsh"](spark, sf_dir)
    plan = plans.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # candidate gen is grouping, not joining
    import re

    n_shuffles = len(re.findall(r"Exchange \(\d+\)", plan))
    assert n_shuffles <= 4, f"plan has {n_shuffles} shuffles"


def test_sign_batch_pruned_uses_dynamic_partition_pruning(spark, sf_dir):
    """The batch probe set comes from a query TABLE, so no static
    filter can prune the partitioned corpus — the plan must instead
    carry a dynamic-partition-pruning subquery on the bucket column,
    narrowing the scan to the union of probed directories at runtime."""
    from local_vectordb_spark import queries as q

    df = q.SPARK_QUERIES["knn_sign_batch_pruned"](spark, sf_dir)
    plan = plans.plan_string(df).lower()
    assert "dynamicpruning" in plan


def test_sign_batch_pruned_equals_logical_form(spark, sf_dir):
    """The dynamically-pruned physical form must return row-for-row
    what the logical bucket-join returns — layout changes nothing
    about results (the shared oracle proves both against DuckDB; this
    pins the Spark-side identity directly)."""
    from local_vectordb_spark import queries as q

    a = sorted(
        map(tuple, q.SPARK_QUERIES["knn_sign_batch"](spark, sf_dir).collect())
    )
    b = sorted(
        map(
            tuple,
            q.SPARK_QUERIES["knn_sign_batch_pruned"](spark, sf_dir).collect(),
        )
    )
    assert a == b


def test_no_unbounded_driver_materialization():
    """Source gate (r7 verdict #2): every pyarrow `.to_table(` call in
    the package must push a `filter=` into the scan — an unfiltered
    to_table materializes the whole table on the driver, which is an
    OOM at 100 TB regardless of how small the fixtures are."""
    import pathlib
    import re

    import local_vectordb_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in root.rglob("*.py"):
        src = py.read_text()
        for m in re.finditer(r"\.to_table\(", src):
            # the filter kwarg must appear inside THIS call's parens
            depth, j = 1, m.end()
            while j < len(src) and depth:
                depth += {"(": 1, ")": -1}.get(src[j], 0)
                j += 1
            if "filter=" not in src[m.end() : j]:
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{py.relative_to(root)}:{line}")
    assert not offenders, f"unfiltered driver to_table at: {offenders}"


def test_line_dedup_no_cartesian_and_prunes_columns(spark, sf_dir):
    """Line-level dedup must stay an explode/groupBy/anti-join
    pipeline — never a pairwise product — and the documents scan must
    read only the columns the staging needs (doc_id, lang, text), not
    the full table."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["dedup_lines_boilerplate"](spark, sf_dir)
    plan = plans.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for scan in plans.read_schema_columns(df):
        assert set(scan) <= {"doc_id", "lang", "text"}, f"scan reads {scan}"


def test_ivf_pq_residual_probe_broadcasts_and_takeordered(spark, sf_dir):
    """The residual IVF-PQ plan must ship the ≤n_probe centroid rows
    as a broadcast (the probe filter IS the join), keep the candidate
    tier a TakeOrderedAndProject, and never fall into a nested-loop
    join for the probe."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["ivf_pq_residual"](spark, sf_dir)
    plan = plans.plan_string(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_residual_stored_codes_scan_never_reads_embeddings(spark, sf_dir):
    """The stored residual-codes deployment shape (FAISS's persisted
    IVF-PQ layout): the ADC tier's parquet scan must read ONLY
    (vec_id, cluster_id, codes) — float embeddings may appear solely
    in the rescore join's scan."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["knn_pq_residual_batch_stored"](spark, sf_dir)
    schemas = plans.read_schema_columns(df)
    code_scans = [s for s in schemas if "codes" in s]
    assert code_scans, f"no codes scan found in {schemas}"
    for s in code_scans:
        assert "embedding" not in s, f"ADC scan reads embeddings: {s}"
    assert any("embedding" in s for s in schemas)  # the rescore join


def test_lsh_star_edges_linear_plan(spark, sf_dir):
    """The star-edge plan behind split_group_aware_lsh must stay
    corpus-linear: edges come from a WINDOW MIN over (band, bh) — one
    hash-partitioned exchange, no self-join of the banded relation
    (the bucket self-join is exactly the quadratic shape this form
    exists to avoid), no cartesian anywhere."""
    from pyspark.sql.window import Window

    from local_vectordb_spark.operators import dedup
    from local_vectordb_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    banded = dedup.minhash_banded_portable(docs)
    hub = F.min("doc_id").over(Window.partitionBy("band", "bh"))
    edges = (
        banded.select("doc_id", hub.alias("hub"))
        .filter(F.col("doc_id") != F.col("hub"))
        .distinct()
    )
    plan = plans.plan_string(edges)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # window + filter + distinct only — ANY join here would mean the
    # banded relation is being self-joined (the quadratic bucket-pair
    # shape this form exists to avoid)
    assert "Join" not in plan


def test_facade_stored_ivf_probe_is_partition_pruned(spark, tmp_path):
    """r11: the facade's PERSISTED IVF assignments are written
    partitioned by cluster_id, so the ivf strategy's probe filter
    prunes whole partition directories at the scan — the stored index
    behaves like an index at the plan level, not a filtered table."""
    import uuid

    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(str(uuid.uuid4()), {}, None, None, f"chunk text number {i}", None, doc)
         for i in range(64)],
        SCHEMAS["chunks"]))

    hits = d.search("chunk text number 7", index_type="ivf", k=5)
    plan = plans.plan_string(hits)
    assert "PartitionFilters" in plan
    assert "cluster_id" in plan.split("PartitionFilters", 1)[1][:200]
    # r18: the candidate EMBEDDINGS come pruned from the layout too —
    # the artifact carries the fat column in its cell partitions, and
    # the base table contributes only ids/content (before r18 every
    # search semi-joined the full base for candidate vectors: a
    # corpus-wide embedding scan per query)
    ivf_scans, base_scans = [], []
    for seg in plan.split("Scan parquet")[1:]:
        seg = seg[:1500]
        schema = (seg.split("ReadSchema:", 1)[1].splitlines()[0]
                  if "ReadSchema:" in seg else "")
        if "_ivf_v" in seg:
            ivf_scans.append(schema)
        elif "/chunks/v" in seg:
            base_scans.append(schema)
    assert any("embedding" in s for s in ivf_scans), plan
    assert base_scans and all(
        "embedding" not in s for s in base_scans), plan
    assert hits.collect()[0].content == "chunk text number 7"


def test_facade_sign_probe_is_partition_pruned(spark, tmp_path):
    """The facade's sign strategy (the `auto` default past the brute
    knee) serves from the persisted `_sign_v{N}` bucket-partitioned
    layout, so the Hamming-1 probe prunes whole partition directories.
    The layout covers the search: a METADATA-FILTERED search filters
    the probed layout rows by their own metadata and hydrates from
    them too, so neither plan scans the generation (`/chunks/v`) at
    all, and both keep the bucket PartitionFilters on the layout
    scan."""
    import uuid

    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i:03d}", {"par": str(i % 2)}, None, None,
          f"sign layout row {i}", None, doc) for i in range(48)],
        SCHEMAS["chunks"]))

    def layout_only(plan):
        assert "/chunks/v" not in plan, plan
        locations = [ln for ln in plan.splitlines() if "Location:" in ln]
        assert locations and all("_sign_v" in ln for ln in locations), plan
        assert "PartitionFilters" in plan
        assert "bucket" in plan.split("PartitionFilters", 1)[1][:200]

    hits = d.search("sign layout row 9", index_type="sign", k=5)
    layout_only(plans.plan_string(hits))
    assert hits.collect()[0].content == "sign layout row 9"

    # metadata filter -> the same single pruned layout scan, filter
    # respected
    filtered = d.search("sign layout row 9", index_type="sign", k=48,
                        metadata={"par": "1"})
    layout_only(plans.plan_string(filtered))
    got = filtered.collect()
    assert got and all(int(r.content.rsplit(" ", 1)[1]) % 2 == 1 for r in got)

    # the filtered result equals the expression-form ground truth:
    # probed buckets ∧ filter, scored exactly
    from local_vectordb_spark.operators import ivf as ivf_ops
    from local_vectordb_spark.operators import knn as knn_ops

    qv9 = [float(x) for x in
           d.table("chunks").filter("id = 'c009'").first().embedding]
    probes = ivf_ops.sign_probe(qv9, n_bits=4)
    base = d.table("chunks").filter(F.col("metadata")["par"] == "1").filter(
        ivf_ops.sign_bucket("embedding", n_bits=4).isin(probes))
    want = {(r.id, round(r.score, 6)) for r in knn_ops.knn_brute_force(
        base, qv9, k=48, id_col="id").collect()}
    got9 = d.search(query_vec=qv9, index_type="sign", k=48,
                    metadata={"par": "1"})
    assert {(r.id, round(r.score, 6)) for r in got9.collect()} == want

    # batch twin over the stored layout agrees with itself end to end,
    # filtered and unfiltered
    qv = [float(x) for x in
          d.table("chunks").filter("id = 'c007'").first().embedding]
    batch = d.search_batch(query_vecs=[(0, qv)], index_type="sign", k=5)
    assert batch.collect()[0].content == "sign layout row 7"
    fbatch = d.search_batch(query_vecs=[(0, qv9)], index_type="sign",
                            k=48, metadata={"par": "1"}).collect()
    assert {(r.id, round(r.score, 6)) for r in fbatch} == want


def test_layered_nsw_compose_is_broadcast_only(spark, tmp_path):
    """r14: the layered stored-graph artifact composes base ⊖
    tombstones ∪ adds at READ time — that composition must be two
    BROADCAST anti-joins folded into the edge scan the traversal does
    anyway, never a shuffle: the tombstone list is churn-sized (capped
    by the 20% drift budget) while the base edge set is corpus-sized,
    and a sort-merge anti-join would shuffle the corpus-sized side on
    every hop of every search."""
    import os
    import uuid

    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path), keep_versions=6)
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, f"layered plan row {i}", None, doc)
         for i in range(30)],
        SCHEMAS["chunks"]))
    d.search("layered plan row 0", index_type="nsw", k=3).collect()
    d.add("chunks", spark.createDataFrame(
        [("c100", {}, None, None, "layered plan row 100", None, doc)],
        SCHEMAS["chunks"]))
    d.delete("chunks", spark.createDataFrame([("c3",)], "id string"))
    d.search("layered plan row 100", index_type="nsw", k=3).collect()

    v = d._current_version("chunks")
    art = os.path.join(d._table_dir("chunks"), f"_nsw_v{v}")
    assert os.path.exists(os.path.join(art, "tombstones", "_SUCCESS"))
    composed = d._nsw_edges_df(art)
    plan = plans.plan_string(composed)
    assert plan.count("BroadcastHashJoin LeftAnti") >= 2, plan
    assert plans.sort_merge_join_count(composed) == 0, plan
    assert plans.count_shuffles(composed) == 0, plan


def test_table_changes_scans_only_the_delta_log(spark, tmp_path):
    """r14: the change feed's cost contract at the PLAN level — every
    parquet scan in a table_changes plan reads a ``v{N}/_delta`` path,
    never a corpus snapshot. A regression that sneaks a snapshot scan
    into the compose (say, to re-derive a column) silently turns the
    cost ∝ changes promise into cost ∝ corpus per poll."""
    import uuid

    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path), keep_versions=6)
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, f"feed row {i}", None, doc)
         for i in range(8)],
        SCHEMAS["chunks"]))
    v0 = d._current_version("chunks")
    d.add("chunks", spark.createDataFrame(
        [("c100", {}, None, None, "feed row 100", None, doc)],
        SCHEMAS["chunks"]))
    d.delete("chunks", spark.createDataFrame([("c2",)], "id string"))

    feed = d.table_changes("chunks", since_version=v0)
    plan = plans.plan_string(feed)
    locations = [
        line for line in plan.splitlines() if "Location" in line
    ]
    assert locations, plan  # the plan must show its file sources
    for line in locations:
        assert "_delta" in line, f"snapshot scan in the feed plan: {line}"
    got = {(r.change_type, r.id) for r in feed.collect()}
    assert got == {("upsert", "c100"), ("remove", "c2")}


def test_apply_changes_is_broadcast_anti_join_no_base_shuffle(spark):
    """r15: the CDF CONSUMER's cost contract at the plan level —
    ``apply_changes`` must apply a feed as one BROADCAST anti-join
    (feed side is churn-sized by the producer's contract) plus a
    union, with ZERO exchanges: the base snapshot streams through
    map-side, never shuffles. A regression to a sort-merge anti-join
    (or any repartition of the base) turns every consumer poll into a
    corpus-sized shuffle — the exact failure mode the operator exists
    to avoid at 100 TB."""
    from local_vectordb_spark.operators.incremental import apply_changes

    base = spark.range(0, 10_000).select(
        F.concat(F.lit("id"), F.col("id")).alias("id"),
        F.col("id").alias("val"),
    )
    feed = spark.createDataFrame(
        [("upsert", "id5", 999), ("remove", "id7", 7)],
        "change_type string, id string, val long",
    )
    mirror = apply_changes(base, feed)
    # formatted mode renders each node in the tree AND the detail
    # section: one physical BroadcastHashJoin counts twice
    assert plans.broadcast_join_count(mirror) == 2, plans.plan_string(mirror)
    assert plans.sort_merge_join_count(mirror) == 0
    assert plans.count_shuffles(mirror) == 0, plans.plan_string(mirror)
    got = {(r.id, r.val) for r in mirror.collect()}
    assert ("id5", 999) in got and not any(i == "id7" for i, _ in got)
    assert len(got) == 9_999


def test_sq8_probe_reads_codes_not_embedding(spark, tmp_path):
    """r18: the sq8 tier's scan-byte contract. Stage 1 (the probed
    layout read) must NEVER materialize the fp embedding column — the
    whole point of the tier is that the probed partitions are read as
    ~1-byte-per-dim codes; ReadSchema is the proof, column pruning the
    mechanism. Stage 2 (the exact rerank) must be a PARTITION-PRUNED
    point read of the bucketed base generation — candidate ids map to
    id-hash buckets, so the scan shows PartitionFilters on the data
    bucket and the id filter pushed, with the fp column read there and
    only there. The batch form is one lazy plan holding both stages —
    gated the same way."""
    import uuid as _uuid

    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path), data_buckets=8)
    lib, doc = str(_uuid.uuid4()), str(_uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i:03d}", {}, None, None, f"sq8 row {i}", None, doc)
         for i in range(60)], SCHEMAS["chunks"]))
    d.add("chunks", spark.createDataFrame(
        [("c999", {}, None, None, "sq8 row 999", None, doc)],
        SCHEMAS["chunks"]))  # delta commit -> bucketed generation
    v = d._current_version("chunks")
    qv = [float(x) for x in
          d.table("chunks").filter(F.col("id") == "c007")
          .select("embedding").first()[0]]

    def scans(plan):
        # formatted-mode scan blocks: "(N) Scan parquet" ... ReadSchema
        out = []
        for seg in plan.split("Scan parquet")[1:]:
            seg = seg[:1500]  # this scan's own block, not the next's
            head = seg.split("ReadSchema:", 1)
            schema = head[1].splitlines()[0] if len(head) > 1 else ""
            out.append((seg, schema))
        return out

    # stage 1: layout probe — codes in, embedding OUT, pruned on the
    # sign bucket
    approx = d._sq8_approx(qv, d.table("chunks"), None, v, 64)
    aplan = plans.plan_string(approx)
    layout_scans = [s for s, _ in scans(aplan) if "_sign_v" in s]
    assert layout_scans, aplan
    for seg, schema in scans(aplan):
        if "_sign_v" in seg:
            assert "codes" in schema, schema
            assert "embedding" not in schema, schema
            assert "PartitionFilters" in seg
            assert "bucket" in seg.split("PartitionFilters", 1)[1][:200]

    # stage 2: the facade result's plan is the rerank — a point read
    # pruned to the candidates' id-hash buckets with the id pushed
    hits = d.search(query_vec=qv, index_type="sq8", k=5)
    rplan = plans.plan_string(hits)
    base_scans = [
        (seg, schema) for seg, schema in scans(rplan)
        if f"chunks/v{v}" in seg
    ]
    assert base_scans, rplan
    pruned = [seg for seg, schema in base_scans
              if "embedding" in schema and "PartitionFilters" in seg
              and "bucket" in seg.split("PartitionFilters", 1)[1][:200]
              and "In(id" in seg]
    assert pruned, rplan
    # r18: hydration reuses the same point read — NO scan in the whole
    # sq8 result plan reads the base generation unpruned (the closing
    # content join must not sweep the corpus's (id, content) columns)
    unpruned = [seg for seg, _ in base_scans
                if "PartitionFilters" not in seg
                or "bucket" not in seg.split(
                    "PartitionFilters", 1)[1][:200]]
    assert not unpruned, rplan
    assert hits.collect()[0].id == "c007"

    # batch: ONE lazy plan, both gates at once
    batch = d.search_batch(query_vecs=[(0, qv)], index_type="sq8", k=5)
    bplan = plans.plan_string(batch)
    bscans = scans(bplan)
    lay_b = [(seg, sc) for seg, sc in bscans if "_sign_v" in seg]
    base_b = [(seg, sc) for seg, sc in bscans
              if f"chunks/v{v}" in seg and "embedding" in sc]
    assert lay_b and all("embedding" not in sc for _, sc in lay_b), bplan
    assert base_b, bplan
    got = {r.id for r in batch.collect() if r.query_id == 0}
    assert "c007" in got


def test_point_get_is_partition_pruned_on_bucketed_store(spark, tmp_path):
    """r18: C2 through the facade rides the r17 data layout — a
    get(kind, id) on a bucketed generation prunes to the id's hash
    bucket directory (PartitionFilters) with the id filter pushed,
    instead of sweeping every file's id column; a flat generation
    keeps the plain pushed-down filter; semantics identical on both
    (and on misses)."""
    import uuid as _uuid

    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path), data_buckets=8)
    lib, doc = str(_uuid.uuid4()), str(_uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"g{i:03d}", {}, None, None, f"get row {i}", None, doc)
         for i in range(30)], SCHEMAS["chunks"]))
    # flat generation first (bulk load): pushed filter, no pruning
    flat_plan = plans.plan_string(d.get("chunks", "g004"))
    assert "In(id" in flat_plan or "EqualTo(id" in flat_plan, flat_plan
    assert d.get("chunks", "g004").collect()[0].content == "get row 4"

    d.add("chunks", spark.createDataFrame(
        [("gX", {}, None, None, "get row X", None, doc)],
        SCHEMAS["chunks"]))  # delta commit -> bucketed generation
    hit = d.get("chunks", "g004")
    plan = plans.plan_string(hit)
    assert "PartitionFilters" in plan, plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:200], plan
    # one-element isin compiles to EqualTo; either form is the pushed id
    assert "In(id" in plan or "EqualTo(id,g004)" in plan, plan
    row = hit.collect()
    assert len(row) == 1 and row[0].content == "get row 4"
    assert "bucket" not in hit.columns
    assert d.get("chunks", "does-not-exist").count() == 0
    assert d.exists("chunks", "gX") and not d.exists("chunks", "nope")


def test_single_search_plans_rank_and_hydrate_without_range_exchange(
    spark, tmp_path
):
    """No single-query search plan of any strategy, filtered or not,
    orders its result with a range exchange (a sampling job plus a
    shuffle): a form whose ranked rows carry content takes ``content``
    through its own TakeOrderedAndProject, and any other form orders
    its <= k hydrated winners with a top-k. The forms whose ranked rows
    carry content join nothing and read ``content`` only in the
    ranking scan, which also reads the vectors: cosine and auto scan
    the generation, sign and pq the covering sign layout (and never
    the generation). None of them runs a Python UDF."""
    import uuid as _uuid

    from local_vectordb_spark.api import INDEX_TYPES, VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(_uuid.uuid4()), str(_uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"h{i:02d}", {"par": str(i % 2)}, None, None,
          f"plan hydration row {i}", None, doc) for i in range(24)],
        SCHEMAS["chunks"]))
    v = d._current_version("chunks")
    for index_type in INDEX_TYPES:
        for metadata in (None, {"par": "1"}):
            hits = d.search("plan hydration row 3", index_type=index_type,
                            k=5, metadata=metadata)
            plan = plans.plan_string(hits)
            where = (index_type, metadata)
            assert "rangepartitioning" not in plan, (where, plan)
            if index_type not in ("cosine", "auto", "sign", "pq"):
                continue
            assert plans.broadcast_join_count(hits) == 0, (where, plan)
            # no Python worker: pq reads the codes the layout stores
            assert "EvalPython" not in plan, (where, plan)
            src = f"chunks/v{v}"
            if index_type in ("sign", "pq"):
                assert src not in plan, (where, plan)
                src = f"_sign_v{v}"
            # formatted mode: one detail block per scan node
            schemas = [
                block.split("ReadSchema: ", 1)[1].splitlines()[0]
                for block in plan.split("\n\n")
                if re.match(r"\(\d+\) Scan parquet", block.strip())
                and src in block
            ]
            content_scans = [s for s in schemas if "content" in s]
            assert len(content_scans) == 1, (where, plan)
            assert "embedding" in content_scans[0], (where, plan)
    # the mmr re-rank hydrates its winners by a join, ordered by a top-k
    mmr = d.search("plan hydration row 3", k=3, diversify="mmr")
    assert "rangepartitioning" not in plans.plan_string(mmr)
