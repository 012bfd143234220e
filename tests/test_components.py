"""Connected components: known-graph golden test + convergence."""

from __future__ import annotations

from dataset_batch_processor_spark.operators import components


def _cc_reference(edges):
    """Union-find ground truth."""
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


def test_components_match_union_find(spark):
    # chain 1-2-3-4, triangle 10-11-12, pair 20-21, bridge 4-10
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12),
             (20, 21), (4, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.comp
        for r in components.connected_components(df).collect()
    }
    assert got == _cc_reference(edges)
    # chain+triangle merged via the bridge -> min id 1; pair -> 20
    assert got[12] == 1 and got[21] == 20


def test_components_single_edge_and_self_loop(spark):
    df = spark.createDataFrame([(5, 5), (7, 8)], "src long, dst long")
    got = {
        r.node: r.comp
        for r in components.connected_components(df).collect()
    }
    assert got == {5: 5, 7: 7, 8: 7}


def test_long_chain_converges_within_cap(spark):
    # path graph of 12 nodes: diameter 11, label propagation converges
    # in <= ceil(log-ish) * few rounds; the cap must suffice
    edges = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.comp
        for r in components.connected_components(df, max_iters=15).collect()
    }
    assert set(got.values()) == {0}


def test_kcore_matches_reference_peel(spark):
    """Spark k-core == plain-Python iterative peel on the same graph."""
    import itertools

    from pyspark.sql import Row

    # two 4-cliques joined by a chain of degree-2 nodes
    edges = []
    for base in (0, 10):
        edges += [
            (base + i, base + j)
            for i, j in itertools.combinations(range(4), 2)
        ]
    edges += [(3, 20), (20, 21), (21, 10)]

    def peel(es, k):
        es = set(es)
        while True:
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            nxt = {(a, b) for a, b in es if a in keep and b in keep}
            if nxt == es:
                return es
            es = nxt

    df = spark.createDataFrame([Row(doc_a=a, doc_b=b) for a, b in edges])
    for k in (2, 3):
        got = {
            (r.doc_a, r.doc_b)
            for r in components.kcore(df, k=k).collect()
        }
        assert got == peel(edges, k)
    # the 3-core is exactly the two cliques (chain peeled away)
    core3 = {(r.doc_a, r.doc_b) for r in components.kcore(df, k=3).collect()}
    nodes = {n for e in core3 for n in e}
    assert nodes == {0, 1, 2, 3, 10, 11, 12, 13}


def test_degree_orientation_preserves_triangle_counts(spark):
    """Star-with-cliques graph: degree-ordered orientation must yield
    the same per-node triangle participation a brute-force count
    gives, while capping the hub's oriented out-degree — under
    (degree, id) ordering the max-degree hub can never be a source,
    REGARDLESS of its id (id-ordering's wedge count depends on where
    the hub's id lands — zero at the extremes, (d/2)^2 mid-range —
    which is exactly the fragility; tools/round6_scale_study.py at
    git 0753e1d, since deleted, measured the mid-id blowup)."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from dataset_batch_processor_spark.operators.dedup import (
        orient_edges_by_degree,
    )

    edges = set()
    # hub 0 with spokes 1..40; degree-ordering must give the hub
    # out-degree 0 no matter its id
    for s in range(1, 41):
        edges.add((0, s))
    # two 4-cliques hanging off spokes (real triangles to count)
    for clique in ((1, 2, 3, 4), (5, 6, 7, 8)):
        for a, b in combinations(clique, 2):
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        sorted(edges), "doc_a long, doc_b long"
    )
    oriented = orient_edges_by_degree(pairs)
    rows = oriented.collect()
    assert len(rows) == len(edges)  # orientation is a bijection
    out_deg = {}
    for r in rows:
        out_deg[r["lo"]] = out_deg.get(r["lo"], 0) + 1
        assert (min(r["lo"], r["hi"]), max(r["lo"], r["hi"])) in edges
    # hub (degree 44, the max) can never be a 'lo' endpoint
    assert 0 not in out_deg
    assert max(out_deg.values()) <= 7  # bounded fan-out

    e1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = oriented.select(F.col("lo").alias("b2"), F.col("hi").alias("c"))
    e3 = oriented.select(F.col("lo").alias("a3"), F.col("hi").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
        .collect()
    )
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = {
        tuple(sorted(t))
        for t in (
            (x, y, z)
            for x in adj
            for y in adj[x]
            for z in adj[y]
            if z in adj[x] and x < y < z
        )
    }
    assert {tuple(sorted((r["a"], r["b"], r["c"]))) for r in tri} == brute
    assert len(tri) == len(brute)  # each triangle exactly once


def test_keep_best_same_clusters_as_keep_longest(spark, sf_dir):
    """The two canonical policies must agree on the CLUSTER structure
    (components + member counts) and differ only in who survives."""
    from dataset_batch_processor_spark.operators import components as comp

    best = {
        r.component: r
        for r in comp._q_dedup_keep_best(spark, sf_dir).collect()
    }
    longest = {
        r.component: r
        for r in comp._q_dedup_keep_longest(spark, sf_dir).collect()
    }
    assert set(best) == set(longest)
    for c in best:
        assert best[c].n_members == longest[c].n_members

    # rank-key correctness: a cluster's pick fails the gate ONLY when
    # no member passes at all — verified against the per-doc verdicts
    from pyspark.sql import functions as F

    from dataset_batch_processor_spark import catalog
    from dataset_batch_processor_spark.operators import webquality

    docs = catalog.load_table(spark, sf_dir, "documents")
    passing = {
        r.doc_id
        for r in webquality.gopher_quality(docs)
        .filter(F.col("passes_gopher"))
        .collect()
    }
    labels = comp.doc_dup_labels(spark, sf_dir).collect()
    members_of = {}
    for r in labels:
        members_of.setdefault(r.comp, set()).add(r.node)
    for c, row in best.items():
        if row.keep_passes == 0 and c in members_of:
            assert not (members_of[c] & passing), (
                f"cluster {c} picked a failing doc but has passing members"
            )


def test_cluster_capped_sample_laws(spark, sf_dir):
    """D4-style cap: per cluster exactly min(CAP, size) survivors,
    chosen as the CAP smallest by (seeded draw, node); singletons all
    kept; the cap report reconciles with the sample exactly."""
    import hashlib

    from dataset_batch_processor_spark.operators import components as comp

    labels = {
        r.node: r.comp for r in comp.doc_dup_labels(spark, sf_dir).collect()
    }
    by_comp: dict[int, list[int]] = {}
    for node, c in labels.items():
        by_comp.setdefault(c, []).append(node)

    sample = comp._q_cluster_capped_sample(spark, sf_dir).collect()
    ids = [r.doc_id for r in sample]
    assert len(ids) == len(set(ids))  # each doc at most once
    got_by_comp: dict[int, list] = {}
    for r in sample:
        got_by_comp.setdefault(r.component, []).append(r)

    def draw(node: int) -> int:
        return int(
            hashlib.md5(f"{node}:cap".encode()).hexdigest()[:7], 16
        )

    from dataset_batch_processor_spark import catalog

    n_docs = catalog.load_table(spark, sf_dir, "documents").count()
    for c, members in by_comp.items():
        want = sorted(members, key=lambda n: (draw(n), n))[
            : comp.CLUSTER_CAP
        ]
        got = sorted(got_by_comp[c], key=lambda r: r.keep_rank)
        assert [r.doc_id for r in got] == want
        for i, r in enumerate(got):
            assert r.keep_rank == i + 1
            assert r.cluster_size == len(members)
    # singletons: every unclustered doc kept with size 1, rank 1
    singles = [r for r in sample if r.doc_id not in labels]
    assert len(singles) == n_docs - len(labels)
    assert all(
        r.cluster_size == 1 and r.keep_rank == 1 and r.component == r.doc_id
        for r in singles
    )

    report = comp._q_cluster_cap_report(spark, sf_dir).collect()
    assert sum(r.n_docs_before for r in report) == len(labels)
    assert sum(r.n_docs_after for r in report) == len(sample) - len(singles)
    for r in report:
        assert r.n_docs_after <= r.n_docs_before
        # bucket semantics: every cluster in bucket b<8 has size b
        if r.size_bucket < 8:
            assert r.n_docs_before == r.size_bucket * r.n_clusters
