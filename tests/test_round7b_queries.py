"""Round-7 registered queries: association rules, referential
integrity, behavioral entropy, duplicate share, near-time dedup,
embedding dim stats / centroid cosine / Gram matrix, Z-order layout,
quality-budget curve, session paths, clustering coefficient, bucketed
join.

Each test checks a semantic invariant or a Python recomputation on the
sf0.001 corpus (the DuckDB hash oracle covers full-value equality;
these pin the semantics the oracle SHARES with the implementation, so
a bug mirrored into both would still be caught here), plus the plan
shapes that are the point of the scale-demonstration entries.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.round7 import (
    association_rules_lineitem,
    behavioral_entropy_users,
    bucketed_join_lineitem,
    clustering_coefficient_users,
    dedup_near_time_events,
    duplicate_share_by_source,
    embedding_dim_stats,
    embedding_gram_matrix,
    label_centroid_similarity,
    quality_budget_curve_documents,
    referential_integrity_audit,
    top_paths_sessions,
    zorder_layout_lineitem,
)


def test_association_rules_lift_recompute(spark, sf_dir):
    got = association_rules_lineitem(spark, sf_dir).collect()
    assert 0 < len(got) <= 50
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = {
        r["p_partkey"]: r["p_brand"]
        for r in _t(spark, sf_dir, "part").collect()
    }
    baskets = defaultdict(set)
    for r in li.collect():
        baskets[r["l_orderkey"]].add(p[r["l_partkey"]])
    n = len(baskets)
    singles: Counter = Counter()
    pairs: Counter = Counter()
    for bs in baskets.values():
        singles.update(bs)
        for a in bs:
            for b in bs:
                if a != b:
                    pairs[(a, b)] += 1
    for r in got:
        c_ab = pairs[(r["antecedent"], r["consequent"])]
        assert r["c_ab"] == c_ab and c_ab >= 10
        assert r["support_ppm"] == c_ab * 1_000_000 // n
        assert (
            r["confidence_ppm"]
            == c_ab * 1_000_000 // singles[r["antecedent"]]
        )
        assert r["lift_ppm"] == c_ab * n * 1_000_000 // (
            singles[r["antecedent"]] * singles[r["consequent"]]
        )
    lifts = [r["lift_ppm"] for r in got]
    assert lifts == sorted(lifts, reverse=True)


def test_association_rules_broadcasts_brand_dim(spark, sf_dir):
    plan = (
        association_rules_lineitem(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_referential_integrity_clean_star(spark, sf_dir):
    rows = {r["fk_edge"]: r for r in referential_integrity_audit(spark, sf_dir).collect()}
    assert len(rows) == 6
    # the generated TPC-H-ish corpus is referentially clean
    for r in rows.values():
        assert r["n_null_fk"] == 0 and r["n_orphans"] == 0
    li_rows = _t(spark, sf_dir, "lineitem").count()
    assert rows["lineitem.l_orderkey->orders"]["n_rows"] == li_rows


def test_referential_integrity_detects_orphans(spark, sf_dir, tmp_path):
    # copy the star but drop half of the suppliers: orphans must show
    import shutil
    for t in ("lineitem", "orders", "customer", "nation", "part"):
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    sup = _t(spark, sf_dir, "supplier")
    sup.where(F.col("s_suppkey") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "supplier.parquet"))
    rows = {
        r["fk_edge"]: r
        for r in referential_integrity_audit(spark, str(tmp_path)).collect()
    }
    li = _t(spark, sf_dir, "lineitem")
    expected = li.where(F.col("l_suppkey") % 2 == 1).count()
    assert rows["lineitem.l_suppkey->supplier"]["n_orphans"] == expected


def test_behavioral_entropy_recompute(spark, sf_dir):
    got = {r["user_id"]: r for r in behavioral_entropy_users(spark, sf_dir).collect()}
    assert got
    e = _t(spark, sf_dir, "events").select("user_id", "event_type").collect()
    per_user = defaultdict(Counter)
    for r in e:
        per_user[r["user_id"]][r["event_type"]] += 1
    for uid, row in got.items():
        cnt = per_user[uid]
        n = sum(cnt.values())
        ent = sum(
            int(round(1_000_000 * (c / n) * math.log(n / c)))
            for c in cnt.values()
        )
        assert row["n_events"] == n
        assert row["entropy_micronat"] == ent


def test_duplicate_share_totals(spark, sf_dir):
    rows = duplicate_share_by_source(spark, sf_dir).collect()
    d = _t(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == d.count()
    for r in rows:
        assert 0 <= r["n_removable"] <= r["n_dup_docs"] <= r["n_docs"]
        assert r["dup_share_ppm"] == r["n_dup_docs"] * 1_000_000 // r["n_docs"]


def test_near_time_dedup_recompute(spark, sf_dir):
    got = {r["event_type"]: r for r in dedup_near_time_events(spark, sf_dir).collect()}
    e = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("tus"))
        .collect()
    )
    per_key = defaultdict(list)
    for r in e:
        per_key[(r["user_id"], r["event_type"])].append((r["tus"], r["event_id"]))
    pairs = defaultdict(list)
    for (uid, et), rows in per_key.items():
        rows.sort()
        for i, (t0, id0) in enumerate(rows):
            for t1, id1 in rows[i + 1 :]:
                if t1 - t0 > 600_000_000:
                    break
                pairs[et].append((t1 - t0, id1))
    for et, ps in pairs.items():
        assert got[et]["n_pairs"] == len(ps)
        assert got[et]["n_suppressible"] == len({i for _, i in ps})
        assert got[et]["gap_sum_us"] == sum(g for g, _ in ps)
    assert set(got) == set(pairs)


def test_embedding_dim_stats_recompute(spark, sf_dir):
    got = {r["dim"]: r for r in embedding_dim_stats(spark, sf_dir).collect()}
    vecs = [
        np.asarray(r["embedding"], dtype=np.float64)
        for r in _t(spark, sf_dir, "embeddings").collect()
    ]
    mat = np.stack(vecs)
    q = np.sign(mat) * np.floor(np.abs(mat) * 1e6 + 0.5)
    q = q.astype(np.int64)
    n = q.shape[0]
    for d in range(q.shape[1]):
        col = q[:, d]
        s, ss = int(col.sum()), int((col.astype(object) ** 2).sum())
        row = got[d]
        assert row["n"] == n
        assert row["sum_micro"] == s
        # div truncates toward zero (Python // floors: adjust for s<0)
        mean = s // n if s >= 0 else -((-s) // n)
        assert row["mean_micro"] == mean
        assert row["var_micro2"] == (n * ss - s * s) // (n * n)
        assert row["min_micro"] == int(col.min())
        assert row["max_micro"] == int(col.max())


def test_label_centroid_cosine_recompute(spark, sf_dir):
    got = {
        (r["label_a"], r["label_b"]): r["cos_ppm"]
        for r in label_centroid_similarity(spark, sf_dir).collect()
    }
    rows = _t(spark, sf_dir, "embeddings").collect()
    sums = defaultdict(lambda: None)
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        q = (np.sign(v) * np.floor(np.abs(v) * 1e6 + 0.5)).astype(np.int64)
        if sums[r["label"]] is None:
            sums[r["label"]] = q.astype(object)
        else:
            sums[r["label"]] = sums[r["label"]] + q
    labels = sorted(sums)
    n_pairs = len(labels) * (len(labels) - 1) // 2
    assert len(got) == n_pairs
    for i, la in enumerate(labels):
        for lb in labels[i + 1 :]:
            a, b = sums[la], sums[lb]
            dot = int(sum(int(x) * int(y) for x, y in zip(a, b)))
            na = int(sum(int(x) * int(x) for x in a))
            nb = int(sum(int(x) * int(x) for x in b))
            exp = int(round(1e6 * float(dot) / math.sqrt(float(na) * float(nb))))
            assert got[(la, lb)] == exp


def test_embedding_gram_recompute(spark, sf_dir):
    got = {(r["i"], r["j"]): r["gram"] for r in embedding_gram_matrix(spark, sf_dir).collect()}
    vecs = [
        np.asarray(r["embedding"], dtype=np.float64)
        for r in _t(spark, sf_dir, "embeddings").collect()
    ]
    mat = np.stack(vecs)
    q = (np.sign(mat) * np.floor(np.abs(mat) * 1e6 + 0.5)).astype(np.int64)
    g = q.T @ q
    d = q.shape[1]
    assert len(got) == d * (d + 1) // 2
    for i in range(d):
        for j in range(i, d):
            assert got[(i, j)] == int(g[i, j])


def test_zorder_buckets_cover_all_rows(spark, sf_dir):
    rows = zorder_layout_lineitem(spark, sf_dir).collect()
    li = _t(spark, sf_dir, "lineitem")
    assert sum(r["n_rows"] for r in rows) == li.count()
    assert all(0 <= r["z"] <= 255 for r in rows)
    # interleave locality: within one z bucket both dims span <= 1/16
    # of their range (+1 slack for the integer bin edges)
    mp = li.agg(F.max("l_partkey")).first()[0]
    ms = li.agg(F.max("l_suppkey")).first()[0]
    for r in rows:
        assert r["max_part"] - r["min_part"] <= (mp + 1) // 16 + 1
        assert r["max_supp"] - r["min_supp"] <= (ms + 1) // 16 + 1


def test_quality_budget_curve_monotone(spark, sf_dir):
    rows = quality_budget_curve_documents(spark, sf_dir).collect()
    assert rows
    budgets = [r["budget_tokens"] for r in rows]
    assert budgets == sorted(budgets)
    for r in rows:
        assert r["tokens_admitted"] >= r["budget_tokens"]
        assert r["docs_admitted"] >= 1
    docs = [r["docs_admitted"] for r in rows]
    toks = [r["tokens_admitted"] for r in rows]
    floors = [r["score_floor_bucket"] for r in rows]
    assert docs == sorted(docs) and toks == sorted(toks)
    # a bigger budget can only LOWER the admitted-quality floor
    assert floors == sorted(floors, reverse=True)


def test_top_paths_recompute(spark, sf_dir):
    got = {r["path"]: r["n_sessions"] for r in top_paths_sessions(spark, sf_dir).collect()}
    assert got
    e = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("tus"))
        .collect()
    )
    per_user = defaultdict(list)
    for r in e:
        per_user[r["user_id"]].append((r["tus"], r["event_id"], r["event_type"]))
    paths: Counter = Counter()
    gap = 30 * 60 * 1_000_000
    for rows in per_user.values():
        rows.sort()
        sess: list[str] = []
        prev = None
        all_sessions = []
        for t, _, et in rows:
            if prev is not None and t - prev > gap:
                all_sessions.append(sess)
                sess = []
            sess.append(et)
            prev = t
        all_sessions.append(sess)
        for s in all_sessions:
            paths[">".join(s[:3])] += 1
    top = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert got == dict(top)


def test_clustering_coefficient_bounds_and_triangle_consistency(spark, sf_dir):
    rows = clustering_coefficient_users(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["cc_ppm"] <= 1_000_000
        assert r["degree"] >= 1
        # n_triangles <= C(degree, 2)
        assert r["n_triangles"] <= r["degree"] * (r["degree"] - 1) // 2
    degs = [r["degree"] for r in rows]
    assert degs == sorted(degs, reverse=True)


def test_bucketed_join_plan_has_no_exchange(spark, sf_dir):
    df = bucketed_join_lineitem(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the aggregate/orderBy above the join still exchange (tiny: 5
    # groups); the JOIN itself must not -- no exchange keyed on either
    # join key means both sides fed the join straight off the bucketed
    # scans' HashPartitioning
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "l_orderkey" not in line and "o_orderkey" not in line, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # and the answer matches the plain (shuffled) join
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    plain = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in plain.collect()]
