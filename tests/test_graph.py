"""Connected components (operators/graph.py): differential tests
against a driver-side union-find on seeded random graphs, the chain
worst case that defeats naive min-label propagation, and the
near-dup-cluster composition over the documents testdata."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
    connected_components,
    near_dup_clusters,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
    read_table,
)


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min of component
    roots: dict[int, int] = {}
    for x in parent:
        r = find(x)
        roots[r] = min(roots.get(r, r), x)
    return {x: roots[find(x)] for x in parent}


def _cc_labels(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }


def test_cc_matches_union_find_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(80 + 40 * trial)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        expect = _union_find_labels(edges)
        assert _cc_labels(spark, edges) == expect


def test_cc_chain_converges_in_log_rounds(spark):
    """A 200-link chain has diameter 200 — naive min-propagation needs
    200 shuffle rounds; alternating stars must finish within the
    max_rounds=32 cap (O(log² n)) and still label every node with the
    chain minimum."""
    edges = [(i, i + 1) for i in range(200)]
    labels = _cc_labels(spark, edges)
    assert labels == {i: 0 for i in range(201)}


def test_cc_empty_and_single_edge(spark):
    assert _cc_labels(spark, [(5, 9)]) == {5: 5, 9: 5}
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_near_dup_clusters_labels_whole_corpus(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.05)
    out = near_dup_clusters(docs, pairs).collect()
    n_docs = docs.count()
    assert len(out) == n_docs  # every document labeled exactly once
    by_id = {r["doc_id"]: r for r in out}
    # cluster ids are member minima; canonical = the min itself
    for r in out:
        assert r["cluster_id"] <= r["doc_id"]
        assert r["is_canonical"] == (r["cluster_id"] == r["doc_id"])
    # transitivity spot-check: both endpoints of every pair share a cluster
    for p in pairs.collect():
        assert by_id[p["id_a"]]["cluster_id"] == by_id[p["id_b"]]["cluster_id"]
    # the fixture corpus has true near-dups → at least one multi-doc cluster
    assert sum(1 for r in out if not r["is_canonical"]) > 0


def test_pagerank_quantized_matches_python(spark):
    """Fixed-point PageRank must be bit-identical to a plain-Python
    reference of the same integer recurrence (the property the SQL
    oracle relies on)."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        pagerank_quantized,
    )

    raw = [(1, 2), (2, 1), (2, 3), (3, 1), (3, 4), (4, 3), (4, 1), (1, 4)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {r["node"]: r["r_q"] for r in pagerank_quantized(edges, iters=6).collect()}

    q = 10**12
    out = {}
    for u, v in raw:
        out.setdefault(u, set()).add(v)
    nodes = sorted({u for e in raw for u in e})
    n = len(nodes)
    base = ((q // n) * 15) // 100
    r = {v: q // n for v in nodes}
    for _ in range(6):
        agg = {v: 0 for v in nodes}
        for u in nodes:
            c = r[u] // len(out[u])
            for v in out[u]:
                agg[v] += c
        r = {v: base + (85 * agg[v]) // 100 for v in nodes}
    assert got == r
    # rank mass stays within floor-loss of the full budget
    assert 0.95 * q < sum(got.values()) <= q


def test_hits_precache_gate_is_byte_equal(spark):
    """r19: hits_quantized picks its edge layout (dual pre-partitioned
    caches vs one checkpoint) from a free Catalyst size estimate. The
    gate changes the physical layout only — both branches must be
    byte-equal."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        hits_quantized,
    )

    raw = [(1, 10), (1, 11), (2, 10), (2, 12), (3, 11), (3, 12)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    pre = sorted(
        (r["node"], r["kind"], r["score_q"])
        for r in hits_quantized(edges, iters=2, precache_min_bytes=0).collect()
    )
    ckpt = sorted(
        (r["node"], r["kind"], r["score_q"])
        for r in hits_quantized(edges, iters=2, precache_min_bytes=1 << 60).collect()
    )
    assert pre == ckpt


class TestTriangleStats:
    def _brute(self, edges):
        from itertools import combinations

        adj = {}
        es = set()
        for u, v in edges:
            if u == v:
                continue
            a, b = min(u, v), max(u, v)
            es.add((a, b))
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        tri = sum(
            1
            for a, b, c in combinations(sorted(adj), 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )
        wedges = sum(len(n) * (len(n) - 1) // 2 for n in adj.values())
        return len(adj), len(es), wedges, tri

    def _run(self, spark, edges):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            triangle_stats,
        )

        df = spark.createDataFrame(
            [(int(u), int(v)) for u, v in edges], "id_a long, id_b long"
        )
        row = triangle_stats(df).first()
        n, e, w, t = self._brute(edges)
        assert (
            row["n_nodes"],
            row["n_edges"],
            row["n_wedges"],
            row["n_triangles"],
        ) == (n, e, w, t)
        if w:
            assert row["global_clustering"] == 3.0 * t / float(w)

    def test_known_small(self, spark):
        # K4 (4 triangles... K4 has C(4,3)=4 triangles) plus a pendant
        k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
        self._run(spark, k4)

    def test_random_graph(self, spark):
        import random

        rng = random.Random(7)
        edges = {
            (rng.randrange(30), rng.randrange(30)) for _ in range(150)
        }
        self._run(spark, [e for e in edges if e[0] != e[1]])

    def test_star_skew(self, spark):
        # celebrity hub: degree orientation must not blow up or miscount
        edges = [(0, i) for i in range(1, 40)] + [(1, 2), (2, 3), (3, 1)]
        self._run(spark, edges)


def test_keep_best_representative(spark):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        keep_best_representative,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (5, 99)],
        "doc_id long, q long",
    )
    # cluster {1,2,3} (chained), singleton 4, singleton 5
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    rows = {
        r["doc_id"]: r
        for r in keep_best_representative(
            docs, pairs, quality_col="q"
        ).collect()
    }
    # cluster of {1,2,3}: best quality 30 tie between 2 and 3 -> keep 2
    assert [rows[i]["cluster_id"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [rows[i]["keep"] for i in (1, 2, 3)] == [False, True, False]
    # singletons keep themselves
    assert rows[4]["keep"] and rows[5]["keep"]
    assert rows[4]["cluster_id"] == 4 and rows[5]["cluster_id"] == 5


class TestKCore:
    def _brute(self, edges, k):
        adj = {}
        for u, v in edges:
            if u == v:
                continue
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        changed = True
        while changed:
            changed = False
            for n in list(adj):
                if len(adj[n]) < k:
                    for m in adj[n]:
                        adj[m].discard(n)
                    del adj[n]
                    changed = True
        return {n: len(nb) for n, nb in adj.items() if nb}

    def _run(self, spark, edges, k):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            k_core,
        )

        df = spark.createDataFrame(
            [(int(u), int(v)) for u, v in edges], "id_a long, id_b long"
        )
        got = {r["id"]: r["core_degree"] for r in k_core(df, k).collect()}
        assert got == self._brute(edges, k)

    def test_triangle_with_pendant(self, spark):
        self._run(spark, [(1, 2), (2, 3), (3, 1), (3, 4)], 2)

    def test_cascading_peel(self, spark):
        # path 1-2-3-4-5 plus K4 {10,11,12,13}: 2-core = the K4 only,
        # reached after the path peels layer by layer (multi-round)
        path = [(1, 2), (2, 3), (3, 4), (4, 5)]
        k4 = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
        self._run(spark, path + k4, 2)

    def test_random_graph(self, spark):
        import random

        rng = random.Random(11)
        edges = {(rng.randrange(25), rng.randrange(25)) for _ in range(80)}
        edges = [e for e in edges if e[0] != e[1]]
        for k in (2, 3, 4):
            self._run(spark, edges, k)


def test_dedup_source_flow(spark):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        dedup_source_flow,
    )

    docs = spark.createDataFrame(
        [
            (1, "web", 10),
            (2, "books", 30),   # winner of {1,2,3}
            (3, "web", 20),
            (4, "web", 5),      # singleton, never appears in flow
            (5, "news", 50),    # winner of {5,6}
            (6, "web", 40),
        ],
        "doc_id long, source string, q long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    flow = {
        (r["loser_source"], r["winner_source"]): r
        for r in dedup_source_flow(docs, pairs, "q").collect()
    }
    assert set(flow) == {("web", "books"), ("web", "news")}
    assert flow[("web", "books")]["n_docs_lost"] == 2
    assert flow[("web", "books")]["quality_lost"] == 30  # 10 + 20
    assert flow[("web", "news")]["n_docs_lost"] == 1
    assert flow[("web", "news")]["quality_lost"] == 40


def test_cc_driver_and_distributed_paths_agree(spark):
    """The small-graph union-find fast path must produce the identical
    (id, component=min id) labeling as the alternating-star rounds."""
    import random

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(17)
    # a few hundred edges: chains, a star, random cross-links, dups
    edges = [(i, i + 1) for i in range(0, 40)]          # one long chain
    edges += [(100, 100 + i) for i in range(1, 20)]     # a star
    edges += [(rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(80)]
    edges += [(300, 301), (301, 300), (300, 301)]       # dups + reverse
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        (r["id"], r["component"])
        for r in connected_components(df).collect()
    }
    slow = {
        (r["id"], r["component"])
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert fast == slow and fast


def test_k_core_max_rounds_exhaustion_raises(spark):
    """VERDICT r9 item 5: a frontier still non-empty after max_rounds
    must RAISE, never quietly return an unconverged core. A path graph
    is the worst case — one peel layer per round."""
    import pytest

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        k_core,
    )

    # path 1-2-...-8: the 2-core is empty, reached by peeling one
    # endpoint layer per round (needs 4 rounds); cap at 2 -> must raise
    path = [(i, i + 1) for i in range(1, 8)]
    df = spark.createDataFrame(path, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(df, 2, max_rounds=2)
    # and with enough rounds the same graph converges (to the empty core)
    assert k_core(df, 2, max_rounds=16).count() == 0


class TestLabelPropagation:
    """Differential: deterministic synchronous LPA (min-label
    tie-break, fixed rounds) vs a brute-force Python replay."""

    @staticmethod
    def _brute(edges, rounds):
        from collections import Counter, defaultdict

        adj = defaultdict(set)
        for u, v in edges:
            if u != v:
                adj[u].add(v)
                adj[v].add(u)
        labels = {n: n for n in adj}
        for _ in range(rounds):
            new = {}
            for n in adj:
                c = Counter(labels[m] for m in adj[n])
                best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
                new[n] = best[0]
            labels = new
        return labels

    def _run(self, spark, edges, rounds):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            label_propagation,
        )

        df = spark.createDataFrame(
            [(int(u), int(v)) for u, v in edges], "id_a long, id_b long"
        )
        got = {
            r["id"]: r["community"]
            for r in label_propagation(df, rounds=rounds).collect()
        }
        assert got == self._brute(edges, rounds)

    def test_two_cliques_with_bridge(self, spark):
        k4a = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        k4b = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
        self._run(spark, k4a + k4b + [(4, 10)], 4)

    def test_star_and_path(self, spark):
        star = [(1, i) for i in range(2, 8)]
        path = [(20, 21), (21, 22), (22, 23)]
        self._run(spark, star + path, 3)

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        # duplicates/reversed forms must not double-count neighbors
        self._run(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1)], 4)


class TestBfsDistances:
    @staticmethod
    def _brute(edges, seeds, max_hops):
        from collections import defaultdict, deque

        adj = defaultdict(set)
        for u, v in edges:
            if u != v:
                adj[u].add(v)
                adj[v].add(u)
        dist = {s: 0 for s in seeds if s in adj}
        dq = deque(dist)
        while dq:
            n = dq.popleft()
            if dist[n] >= max_hops:
                continue
            for m in adj[n]:
                if m not in dist:
                    dist[m] = dist[n] + 1
                    dq.append(m)
        return dist

    def _run(self, spark, edges, seeds, max_hops, **kw):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            bfs_distances,
        )

        e = spark.createDataFrame(
            [(int(u), int(v)) for u, v in edges], "id_a long, id_b long"
        )
        s = spark.createDataFrame([(int(x),) for x in seeds], "id long")
        got = {
            r["id"]: r["dist"]
            for r in bfs_distances(e, s, max_hops=max_hops, **kw).collect()
        }
        assert got == self._brute(edges, seeds, max_hops)

    def test_path_with_cap(self, spark):
        # path 1-..-8, seed 1, cap 3: nodes 5.. unreachable in the output
        self._run(spark, [(i, i + 1) for i in range(1, 8)], [1], 3)

    def test_multi_source_min(self, spark):
        # two seeds on one path: distance is the min over sources
        self._run(spark, [(i, i + 1) for i in range(1, 10)], [1, 9], 4)

    def test_seed_not_in_graph_ignored(self, spark):
        self._run(spark, [(1, 2), (2, 3)], [1, 99], 5)

    def test_disconnected_component_absent(self, spark):
        self._run(spark, [(1, 2), (10, 11)], [1], 5)


class TestShortestPaths:
    """Differential: bounded-round Bellman-Ford vs a brute-force
    Python replay of the synchronous relaxation (plus a seeded random
    graph where the bound exceeds the diameter, so the result is the
    true Dijkstra SSSP)."""

    @staticmethod
    def _brute(edges, seeds, rounds):
        # synchronous relaxation, exactly the documented schedule
        adj = {}
        for u, v, w in edges:
            if u == v:
                continue
            a, b = (u, v) if u < v else (v, u)
            key = (a, b)
            adj[key] = min(adj.get(key, w), w)
        nodes = {x for k in adj for x in k}
        dist = {s: 0 for s in seeds if s in nodes}
        for _ in range(rounds):
            nd = dict(dist)
            for (a, b), w in adj.items():
                if a in dist and dist[a] + w < nd.get(b, float("inf")):
                    nd[b] = dist[a] + w
                if b in dist and dist[b] + w < nd.get(a, float("inf")):
                    nd[a] = dist[b] + w
            if nd == dist:
                break
            dist = nd
        return dist

    def _run(self, spark, edges, seeds, rounds, **kw):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            shortest_paths,
        )

        e = spark.createDataFrame(
            [(int(u), int(v), int(w)) for u, v, w in edges],
            "id_a long, id_b long, w long",
        )
        s = spark.createDataFrame([(int(x),) for x in seeds], "id long")
        got = {
            r["id"]: r["dist"]
            for r in shortest_paths(e, s, rounds=rounds, **kw).collect()
        }
        assert got == self._brute(edges, seeds, rounds)

    def test_weighted_beats_hop_count(self, spark):
        # direct edge 1-4 costs 10; the 3-hop detour costs 3: the
        # weighted answer must take the detour (hop-BFS would not)
        edges = [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1)]
        self._run(spark, edges, [1], 6)

    def test_round_bound_truncates(self, spark):
        # path of weight-1 edges, 2 rounds: nodes beyond 2 hops absent
        edges = [(i, i + 1, 1) for i in range(1, 8)]
        self._run(spark, edges, [1], 2)

    def test_multi_source_and_parallel_edges(self, spark):
        # parallel edges keep min weight; two seeds compete
        edges = [(1, 2, 5), (2, 1, 3), (2, 3, 4), (3, 4, 1), (4, 5, 9)]
        self._run(spark, edges, [1, 5], 6)

    def test_seed_not_in_graph_ignored(self, spark):
        self._run(spark, [(1, 2, 7)], [1, 42], 4)

    def test_random_graph_matches_dijkstra(self, spark):
        import heapq
        import random

        rng = random.Random(11)
        n = 30
        edges = [
            (rng.randrange(n), rng.randrange(n), rng.randrange(1, 20))
            for _ in range(80)
        ]
        edges = [(u, v, w) for u, v, w in edges if u != v]
        seeds = [0, 7]
        # rounds=n exceeds any shortest-path hop count -> true SSSP;
        # verify against Dijkstra, not the relaxation replay
        adj = {}
        for u, v, w in edges:
            adj.setdefault(u, []).append((v, w))
            adj.setdefault(v, []).append((u, w))
        dist = {s: 0 for s in seeds if s in adj}
        pq = [(0, s) for s in dist]
        heapq.heapify(pq)
        seen = set()
        while pq:
            d, x = heapq.heappop(pq)
            if x in seen:
                continue
            seen.add(x)
            for y, w in adj.get(x, []):
                if d + w < dist.get(y, float("inf")):
                    dist[y] = d + w
                    heapq.heappush(pq, (d + w, y))
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            shortest_paths,
        )

        e = spark.createDataFrame(edges, "id_a long, id_b long, w long")
        s = spark.createDataFrame([(x,) for x in seeds], "id long")
        got = {
            r["id"]: r["dist"]
            for r in shortest_paths(e, s, rounds=n).collect()
        }
        assert got == dist


class TestHits:
    def _python_hits_q(self, edges, iters=2, q=10**6):
        """Integer replica of hits_quantized."""
        srcs = sorted({s for s, _ in edges})
        hub = {s: q for s in srcs}
        auth = {}
        for _ in range(iters):
            auth = {}
            for s, d in edges:
                auth[d] = auth.get(d, 0) + hub.get(s, 0)
            m = max(auth.values())
            auth = {d: (v * q) // m for d, v in auth.items()}
            hub = {}
            for s, d in edges:
                hub[s] = hub.get(s, 0) + auth[d]
            m = max(hub.values())
            hub = {s: (v * q) // m for s, v in hub.items()}
        return hub, auth

    def test_integer_replica_differential(self, spark):
        import random

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            hits_quantized,
        )

        rng = random.Random(13)
        edges = sorted(
            {(rng.randrange(30), 100 + rng.randrange(40)) for _ in range(250)}
        )
        hub, auth = self._python_hits_q(edges)
        df = spark.createDataFrame(edges, "src long, dst long")
        rows = hits_quantized(df, iters=2).collect()
        got_h = {r["node"]: r["score_q"] for r in rows if r["kind"] == "hub"}
        got_a = {r["node"]: r["score_q"] for r in rows if r["kind"] == "authority"}
        assert got_h == hub
        assert got_a == auth
        # max-normalization pins the top node at exactly Q
        assert max(got_h.values()) == 10**6 == max(got_a.values())
        for r in rows:  # the double is the one pinned division
            assert r["score"] == r["score_q"] / 1e6

    def test_follows_the_float_direction(self, spark):
        """Quantized scores rank like textbook float HITS (L2-normed)."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            hits_quantized,
        )

        # a clear star: part 100 endorsed by every supplier, 101 by one
        edges = [(s, 100) for s in range(5)] + [(0, 101), (1, 102)]
        df = spark.createDataFrame(edges, "src long, dst long")
        rows = hits_quantized(df, iters=2).collect()
        auth = {r["node"]: r["score_q"] for r in rows if r["kind"] == "authority"}
        assert auth[100] == 10**6  # the hub-endorsed star center
        assert auth[100] > auth[101] > 0
        hubs = {r["node"]: r["score_q"] for r in rows if r["kind"] == "hub"}
        # supplier 0 endorses {100, 101}: strictly the best hub
        assert hubs[0] == 10**6
        assert all(hubs[0] >= v for v in hubs.values())


class TestPersonalizedPagerank:
    def test_integer_replica_and_seed_semantics(self, spark):
        from pyspark.sql import functions as F

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            pagerank_quantized,
        )

        fw = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long"
        )  # a path 1-2-3-4 plus a disconnected pair 5-6
        e = fw.union(
            fw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        seeds = spark.createDataFrame([(1,), (99,)], "node long")  # 99 absent
        got = {
            r["node"]: r["r_q"]
            for r in pagerank_quantized(e, iters=5, seed_nodes=seeds).collect()
        }
        # integer replica (the oracle arithmetic)
        q = 10**12
        deg = {1: 1, 2: 2, 3: 2, 4: 1, 5: 1, 6: 1}
        edges = [(1, 2), (2, 3), (3, 4), (5, 6),
                 (2, 1), (3, 2), (4, 3), (6, 5)]
        r = {v: (q if v == 1 else 0) for v in deg}
        base = {v: ((q * 15) // 100 if v == 1 else 0) for v in deg}
        for _ in range(5):
            inc = {v: 0 for v in deg}
            for s, d in edges:
                inc[d] += r[s] // deg[s]
            r = {v: base[v] + (85 * inc[v]) // 100 for v in deg}
        assert got == r
        # mass stays in the seed's component: the disconnected pair
        # drains to zero (no teleport there), the seed component holds
        # nearly all of Q
        assert got[5] == 0 and got[6] == 0
        assert sum(got.values()) > 0.9 * q

    def test_all_nodes_seeded_equals_uniform_pagerank(self, spark):
        from pyspark.sql import functions as F

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            pagerank_quantized,
        )

        fw = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
        e = fw.union(
            fw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        all_nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
        uniform = {
            r["node"]: r["r_q"]
            for r in pagerank_quantized(e, iters=4).collect()
        }
        seeded = {
            r["node"]: r["r_q"]
            for r in pagerank_quantized(
                e, iters=4, seed_nodes=all_nodes
            ).collect()
        }
        assert uniform == seeded
    def test_no_seed_in_graph_raises(self, spark):
        import pytest as _pytest

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            pagerank_quantized,
        )

        e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        seeds = spark.createDataFrame([(42,)], "node long")
        with _pytest.raises(ValueError, match="no seed node"):
            pagerank_quantized(e, iters=2, seed_nodes=seeds)


class TestSizedPartitions:
    def test_noop_below_session_default_and_engages_above(self, spark):
        """_sized_partitions_ckpt must return None when the data fits
        the session width (forcing hard repartitions at sf0.1 measured
        +4 s across the graph quartet — the r11 regression this pins)
        and a stats-derived width only when the data demands more."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            _sized_partitions_ckpt,
        )

        e = spark.range(0, 200_000).selectExpr(
            "id as u", "id % 1000 as v"
        ).localCheckpoint(eager=True)
        # small frame, width 32 session default -> keep the plan
        assert _sized_partitions_ckpt(e) is None
        # same frame against a tiny session default -> engages, scaled
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "1")
            got1 = _sized_partitions_ckpt(e, scale=1.0)
            got4 = _sized_partitions_ckpt(e, scale=4.0)
            assert got1 is not None and got1 >= 1
            assert got4 >= got1  # scale multiplies the demand
            assert got4 <= 2048  # cap holds
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


class TestStronglyConnectedComponents:
    @staticmethod
    def _brute(edges):
        """Mutual-reachability SCC with min-id labels (O(V·E) — test
        scale only), over nodes incident to a non-self-loop edge."""
        from collections import defaultdict

        g = defaultdict(set)
        rg = defaultdict(set)
        nodes = set()
        for u, v in edges:
            if u == v:
                continue
            g[u].add(v)
            rg[v].add(u)
            nodes.update((u, v))

        def reach(s, adj):
            seen = {s}
            st = [s]
            while st:
                n = st.pop()
                for w in adj[n]:
                    if w not in seen:
                        seen.add(w)
                        st.append(w)
            return seen

        comp = {}
        for n in sorted(nodes):
            if n in comp:
                continue
            for m in reach(n, g) & reach(n, rg):
                comp[m] = n  # ascending sweep => label = min member
        return comp

    def _check(self, spark, edges):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            strongly_connected_components,
        )

        df = spark.createDataFrame(edges, "src long, dst long")
        want = self._brute(edges)
        # driver fast path and distributed FW-BW-Trim must agree
        fast = {
            r["node"]: r["scc_id"]
            for r in strongly_connected_components(df).collect()
        }
        dist = {
            r["node"]: r["scc_id"]
            for r in strongly_connected_components(df, driver_threshold=0).collect()
        }
        assert fast == want
        assert dist == want

    def test_rings_chains_bridges(self, spark):
        self._check(
            spark,
            [
                (1, 2), (2, 3), (3, 1),          # 3-ring
                (3, 4), (4, 5),                  # chain off the ring
                (6, 7), (7, 6),                  # 2-ring
                (5, 6),                          # bridge
                (8, 8),                          # self-loop only
                (8, 9),                          # dangling
            ],
        )

    def test_two_rings_one_way_bridge_stay_separate(self, spark):
        """A one-directional bridge must NOT merge the rings."""
        self._check(
            spark,
            [(1, 2), (2, 1), (3, 4), (4, 3), (2, 3)],
        )

    def test_nested_condensation_depth(self, spark):
        """SCCs at several condensation levels: outer rounds > 1."""
        self._check(
            spark,
            [
                (10, 11), (11, 10),
                (20, 21), (21, 22), (22, 20),
                (30, 31), (31, 30),
                (11, 20), (22, 30),  # dag 10s -> 20s -> 30s
                (40, 10),            # source chain into the top
            ],
        )

    def test_random_differential(self, spark):
        import random

        rng = random.Random(12012)
        for _ in range(3):
            n = rng.randint(6, 30)
            m = rng.randint(8, 90)
            edges = [
                (rng.randint(1, n), rng.randint(1, n)) for _ in range(m)
            ]
            self._check(spark, edges)

    def test_empty_and_self_loops_only(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            strongly_connected_components,
        )

        empty = spark.createDataFrame([], "src long, dst long")
        assert strongly_connected_components(empty).count() == 0
        loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
        assert strongly_connected_components(loops).count() == 0

    @staticmethod
    def _chain_of_rings(bases):
        """3-rings at each base id, bridged base_i -> base_{i+1}: a
        condensation PATH of len(bases) SCCs — the deep-chain hazard."""
        edges, prev = [], None
        for base in bases:
            a, b, c = base, base + 1, base + 2
            edges += [(a, b), (b, c), (c, a)]
            if prev is not None:
                edges.append((prev, a))
            prev = a
        return edges

    def test_chain_of_rings_multi_pivot_rounds(self, spark):
        """VERDICT r12 item 5: 48 3-rings in a condensation path —
        deeper than max_outer=32, so the r12 one-certified-SCC-per-
        round assignment (f==b) could not converge; the multi-pivot
        coloring assignment must finish in ~1 outer round at BOTH id
        orientations (ascending ids put every ring's min at its own
        level for the forward labels; descending ids for the backward
        labels) and stay byte-equal to the driver Kosaraju path."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            strongly_connected_components,
        )

        for bases in (
            [10 * i for i in range(1, 49)],       # ids ascend along chain
            [10 * (49 - i) for i in range(1, 49)],  # ids descend
        ):
            edges = self._chain_of_rings(bases)
            df = spark.createDataFrame(edges, "src long, dst long")
            want = {
                r["node"]: r["scc_id"]
                for r in strongly_connected_components(df).collect()
            }
            assert want == self._brute(edges)
            stats: dict = {}
            got = {
                r["node"]: r["scc_id"]
                for r in strongly_connected_components(
                    df, driver_threshold=0, stats=stats
                ).collect()
            }
            assert got == want
            assert stats["outer_rounds"] <= 2, stats
            # the deep chain leaves f==b residual, so the coloring legs
            # must have actually run (the gate didn't break the fix)
            assert stats.get("coloring_rounds", 0) >= 1, stats

    def test_shallow_graph_skips_coloring(self, spark):
        """VERDICT r13 item 3 / ADVICE r13: on a graph where the cheap
        f==b pivot rule assigns every active node (single rings -> one
        basin each with the global minimum structure), the coloring
        legs' flag-propagation jobs must not run at all — that's the
        measured 33-40% scc_parts win."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            strongly_connected_components,
        )

        # one 3-ring; f(u)=b(u)=1 for all members, residual empty
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long"
        )
        stats: dict = {}
        got = {
            r["node"]: r["scc_id"]
            for r in strongly_connected_components(
                df, driver_threshold=0, stats=stats
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1}
        assert stats.get("coloring_rounds", 0) == 0, stats


class TestShortestPathsFrontierStrategy:
    def test_broadcast_and_hash_frontier_byte_equal(self, spark):
        """The relaxations' frontier join side (broadcast under the
        default threshold, hash under autoBroadcastJoinThreshold=-1)
        is a physical-plan choice only: shortest_paths and
        temporal_reachability must return identical rows either way."""
        import random

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            shortest_paths,
            temporal_reachability,
        )

        rng = random.Random(7)
        edges = [
            (rng.randint(1, 60), rng.randint(1, 60), rng.randint(1, 9))
            for _ in range(220)
        ]
        e = spark.createDataFrame(edges, "id_a long, id_b long, w long")
        te = e.select(
            F.col("id_a").alias("src"),
            F.col("id_b").alias("dst"),
            F.col("w").alias("t"),
        )
        seeds = spark.createDataFrame([(1,), (2,)], "id long")

        def run():
            return (
                sorted(shortest_paths(e, seeds, rounds=8).collect()),
                sorted(temporal_reachability(te, seeds, rounds=6).collect()),
            )

        default = run()
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            hashed = run()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert default == hashed
        sssp, temporal = default
        assert dict(sssp)[1] == 0 and dict(temporal)[1] == 0  # seeds at 0
        assert len(sssp) > 2 and len(temporal) > 2

    def test_auto_hash_joins_when_broadcast_disabled(self, spark):
        """With autoBroadcastJoinThreshold=-1, auto must resolve to the
        hash-join side (threshold parser returns 0) and still relax
        correctly."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            _broadcast_threshold_bytes,
            shortest_paths,
        )

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            assert _broadcast_threshold_bytes(spark) == 0
            e = spark.createDataFrame(
                [(1, 2, 5), (2, 3, 7)], "id_a long, id_b long, w long"
            )
            seeds = spark.createDataFrame([(1,)], "id long")
            got = {
                r["id"]: r["dist"]
                for r in shortest_paths(e, seeds, rounds=4).collect()
            }
            assert got == {1: 0, 2: 5, 3: 12}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_threshold_parser_units(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            _broadcast_threshold_bytes,
        )

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            for raw, want in (
                ("10485760", 10 * (1 << 20)),
                ("10MB", 10 * (1 << 20)),
                ("512kb", 512 * (1 << 10)),
                ("1g", 1 << 30),
                ("-1", 0),
            ):
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
                assert _broadcast_threshold_bytes(spark) == want, raw
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestTemporalReachability:
    @staticmethod
    def _brute(edges, seeds, rounds):
        """Synchronous earliest-arrival replica (exact semantics of
        the fixed relaxation, including the bounded round count)."""
        nodes = {u for u, v, t in edges if u != v} | {
            v for u, v, t in edges if u != v
        }
        arr = {s: 0 for s in seeds if s in nodes}
        for _ in range(rounds):
            nxt = dict(arr)
            for u, v, t in edges:
                if u == v or u not in arr:
                    continue
                if t >= arr[u] and (v not in nxt or t < nxt[v]):
                    nxt[v] = t
            if nxt == arr:
                break
            arr = nxt
        return arr

    def _check(self, spark, edges, seeds, rounds=6):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            temporal_reachability,
        )

        e = spark.createDataFrame(edges, "src long, dst long, t long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        got = {
            r["node"]: r["arrive_t"]
            for r in temporal_reachability(e, s, rounds=rounds).collect()
        }
        assert got == self._brute(edges, seeds, rounds)

    def test_time_gate_blocks_backward_paths(self, spark):
        """u→v at day 10 then v→w at day 5 is infeasible: w must be
        unreachable even though the static path exists."""
        self._check(spark, [(1, 2, 10), (2, 3, 5)], [1])
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            temporal_reachability,
        )

        e = spark.createDataFrame(
            [(1, 2, 10), (2, 3, 5)], "src long, dst long, t long"
        )
        s = spark.createDataFrame([(1,)], "node long")
        got = {
            r["node"]: r["arrive_t"]
            for r in temporal_reachability(e, s, rounds=4).collect()
        }
        assert got == {1: 0, 2: 10}  # 3 absent: time gate blocks it

    def test_waits_for_later_parallel_edge(self, spark):
        """A later repeat of the same hop re-opens a blocked path:
        v→w exists at day 5 (blocked) AND day 12 (feasible)."""
        self._check(spark, [(1, 2, 10), (2, 3, 5), (2, 3, 12)], [1])

    def test_earliest_arrival_prefers_slower_first_hop(self, spark):
        """Greedy earliest-first can be wrong per-hop but min-combine
        over all candidates is not: 1→2 at day 3 then 2→3 needs t≥3
        (day 8); the alternative 1→3 direct at day 6 wins."""
        self._check(
            spark, [(1, 2, 3), (2, 3, 8), (1, 3, 6)], [1]
        )

    def test_random_differential(self, spark):
        import random

        rng = random.Random(4242)
        for _ in range(3):
            n = rng.randint(5, 25)
            m = rng.randint(10, 80)
            edges = [
                (
                    rng.randint(1, n),
                    rng.randint(1, n),
                    rng.randint(1, 30),
                )
                for _ in range(m)
            ]
            seeds = [rng.randint(1, n) for _ in range(2)]
            self._check(spark, edges, seeds, rounds=5)

    def test_empty_and_seedless(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            temporal_reachability,
        )

        e = spark.createDataFrame([], "src long, dst long, t long")
        s = spark.createDataFrame([(1,)], "node long")
        assert temporal_reachability(e, s).count() == 0
        e2 = spark.createDataFrame([(1, 2, 5)], "src long, dst long, t long")
        s2 = spark.createDataFrame([(99,)], "node long")  # not in graph
        assert temporal_reachability(e2, s2).count() == 0


class TestKTruss:
    def test_brute_force_differential(self, spark):
        import itertools
        import random

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            k_truss,
        )

        random.seed(11)
        nodes = list(range(18))
        edges = sorted(
            {tuple(sorted(random.sample(nodes, 2))) for _ in range(70)}
        )

        def brute(es, k):
            es = set(es)
            while True:
                sup = {e: 0 for e in es}
                for x, y, z in itertools.combinations(nodes, 3):
                    if (x, y) in es and (x, z) in es and (y, z) in es:
                        sup[(x, y)] += 1
                        sup[(x, z)] += 1
                        sup[(y, z)] += 1
                nxt = {e for e in es if sup[e] >= k - 2}
                if nxt == es:
                    return {e: sup[e] for e in es}
                es = nxt

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for k in (3, 4, 6):
            got = {
                (r["u"], r["v"]): r["support"] for r in k_truss(df, k).collect()
            }
            assert got == brute(edges, k), f"k={k}"

    def test_bounded_rounds_match_convergence(self, spark):
        import random

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            k_truss,
        )

        random.seed(3)
        edges = sorted(
            {tuple(sorted(random.sample(range(14), 2))) for _ in range(50)}
        )
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        conv = sorted(tuple(r) for r in k_truss(df, 4).collect())
        bounded = sorted(tuple(r) for r in k_truss(df, 4, rounds=12).collect())
        assert conv == bounded

    def test_star_dissolves_clique_survives(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            k_truss,
        )

        # hub 0 with 8 spokes (high k-core-ish degree, zero triangles)
        # plus a separate 4-clique on {10,11,12,13}
        star = [(0, i) for i in range(1, 9)]
        clique = [
            (a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b
        ]
        df = spark.createDataFrame(star + clique, "id_a long, id_b long")
        out = k_truss(df, 4).collect()
        # 4-truss: every edge in >= 2 triangles -> exactly the 4-clique
        assert sorted((r["u"], r["v"]) for r in out) == clique
        assert all(r["support"] == 2 for r in out)

    def test_nonconvergence_raises(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
            k_truss,
        )

        # 4-clique + a pendant triangle off one clique edge: round 1
        # drops the pendant, round 2 is the no-op that proves the fixed
        # point — so max_rounds=1 ends unconverged on a NON-empty set
        # (peeling to empty is itself a fixed point and must NOT raise)
        clique = [
            (a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b
        ]
        edges = clique + [(10, 20), (11, 20)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="did not converge"):
            k_truss(df, 4, max_rounds=1)

        # everything-peels case: empty result, converged, no raise
        tri_chain = [(0, 1), (1, 2), (0, 2)]
        df2 = spark.createDataFrame(tri_chain, "id_a long, id_b long")
        assert k_truss(df2, 5, max_rounds=3).count() == 0


class TestGraphRiskProfile:
    def test_composition_consistent_with_legs(self, spark, sf_dir):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
            REGISTRY,
        )

        prof = {
            r["node"]: r
            for r in REGISTRY["graph_risk_profile_parts"]
            .builder(spark, sf_dir)
            .collect()
        }
        scc = {
            r["node"]: r["scc_size"]
            for r in REGISTRY["scc_parts"].builder(spark, sf_dir).collect()
        }
        core = {
            r["id"]: r["core_degree"]
            for r in REGISTRY["k_core_parts"].builder(spark, sf_dir).collect()
        }
        truss_nodes = set()
        for r in REGISTRY["k_truss_parts"].builder(spark, sf_dir).collect():
            truss_nodes.add(r["u"])
            truss_nodes.add(r["v"])
        for node, r in prof.items():
            assert r["ring_flag"] == (scc.get(node, 0) >= 2)
            assert r["dense_flag"] == (node in core)
            assert r["clique_flag"] == (node in truss_nodes)
            want = int(r["ring_flag"]) + int(r["dense_flag"]) + int(r["clique_flag"])
            assert r["graph_risk"] == want
            assert r["verdict"] == (
                "high" if want >= 2 else ("review" if want == 1 else "ok")
            )
        # the report covers every part that appears in lineitem
        assert len(prof) >= len(core)


def test_frontier_operators_are_partition_count_invariant(spark):
    """The five frontier-kit operators return byte-equal rows at two
    shuffle widths in one session: no output depends on how a round's
    exchange happened to split the state."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        betweenness_sampled,
        bfs_distances,
        harmonic_closeness_sampled,
        shortest_paths,
        temporal_reachability,
    )

    rng = random.Random(11)
    edges = [
        (rng.randint(1, 80), rng.randint(1, 80), rng.randint(1, 9))
        for _ in range(260)
    ]
    e = spark.createDataFrame(edges, "id_a long, id_b long, w long")
    te = e.select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        F.col("w").alias("t"),
    )
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "id long")

    def run():
        return [
            sorted(df.collect())
            for df in (
                bfs_distances(e, seeds, max_hops=4),
                betweenness_sampled(e, k_sources=6, max_hops=4),
                harmonic_closeness_sampled(e, k_sources=6, max_hops=4),
                shortest_paths(e, seeds, rounds=5),
                temporal_reachability(te, seeds, rounds=4),
            )
        ]

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        narrow = run()
        spark.conf.set("spark.sql.shuffle.partitions", "11")
        wide = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert all(len(rows) > 3 for rows in narrow)
    assert narrow == wide
