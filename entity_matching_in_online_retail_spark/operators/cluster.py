"""Transitive closure: large-star/small-star connected components.

Pure DataFrame implementation of the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC 2014): converges in O(log^2 n) rounds (O(log n) in practice), each round
two groupBy/join dataflows. High-degree nodes are handled by design —
large-star rewires big neighborhoods directly to the component minimum, so a
giant (skewed) component never funnels through one reducer chain.

Per-iteration `localCheckpoint()` truncates the lineage, otherwise the plan
doubles every round. Convergence is detected with a cheap aggregate
fingerprint (count + two independently-seeded hash sums + min/max
endpoints) — no exceptAll diff, no collect of edges; early-stop requires
every component to collide simultaneously.

C3 (test oracle): driver-side union-find in plain Python, used only in tests
as a differential oracle on small graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    m = min(N(u) ∪ {u}). Emit (v, m) for v in N(u), v > u."""
    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small; for each u connect all smaller neighbors
    (and u itself) to m = min(N(u) ∪ {u})."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        oriented.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        rewired.unionByName(self_edge)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _fingerprint_aggs() -> list:
    """Order-independent edge-set fingerprint aggregates (one pass).

    Early-stop requires FOUR independent components to collide at once:
    two sums over distinct hash-family members (xxhash64 seeded by a mixed-in
    literal, different moduli) plus exact min/max endpoints. Each hash
    collision is ~2^-60 per round; requiring their simultaneous collision
    (plus matching extrema) makes a wrong early-stop effectively impossible
    rather than merely improbable, at zero extra shuffle cost.
    """
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))), F.lit(0)
        ).alias("h1"),
        F.coalesce(
            F.sum(
                F.pmod(
                    F.xxhash64("v", "u", F.lit(0x9E3779B9)), F.lit(998_244_353)
                )
            ),
            F.lit(0),
        ).alias("h2"),
        F.coalesce(F.min("u"), F.lit(0)).alias("lo"),
        F.coalesce(F.max("v"), F.lit(0)).alias("hi"),
    ]


def _local_finish(edges: DataFrame) -> DataFrame:
    """Single-task finisher for a sub-task-sized edge frontier.

    Kiveris et al. (SoCC 2014, §"optimizations") note that once the
    surviving graph fits on one machine, the remaining O(log diameter)
    alternation rounds are pure scheduling/barrier overhead and the run
    should complete locally. ER match graphs hit this fast: cliques of
    duplicate offers collapse ~14x in the FIRST round (measured at the
    997k-record bench corpus: 12.31M -> 865k edges), after which five
    more ~3s rounds did nothing but grind the hot-component tail through
    driver barriers. This finisher replaces that tail with ONE narrow
    job: coalesce(1) -> Arrow-batched mapInPandas running a fully
    vectorized Shiloach-Vishkin (scatter-min hooking + pointer jumping,
    numpy only — no per-row Python), emitting the same converged
    star-forest shape (member -> component-min) the loop would reach.

    Scale honesty: at 10^12-doc scale the post-round-1 frontier is ~the
    non-root node count and never fits one task, so the threshold never
    triggers and the dataflow is the unmodified distributed alternation;
    the finisher only short-circuits frontiers below `local_finish_rows`
    (~16 B/edge -> default 4M edges ~= 64 MB in one task, the same
    ballpark as one shuffle partition's working set).
    """
    import numpy as np
    import pandas as pd

    def fin(batches):
        us, vs = [], []
        for b in batches:
            us.append(b["u"].to_numpy(dtype=np.int64))
            vs.append(b["v"].to_numpy(dtype=np.int64))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
        ui, vi = idx[: len(u)], idx[len(u):]
        parent = np.arange(len(nodes), dtype=np.int64)
        while True:
            pu, pv = parent[ui], parent[vi]
            hooked = pu != pv
            if not hooked.any():
                break
            # hook: scatter-min the smaller root into the larger root's slot
            np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
            # pointer-jump to a full root map (np.unique sorts, so local
            # index order == node-id order and the fixpoint root is the
            # component MIN — the cluster_id contract)
            while True:
                pp = parent[parent]
                if np.array_equal(pp, parent):
                    break
                parent = pp
        member = parent != np.arange(len(nodes), dtype=np.int64)
        yield pd.DataFrame(
            {"u": nodes[member], "v": nodes[parent[member]]}
        )

    return edges.coalesce(1).mapInPandas(fin, schema="u long, v long")


def connected_components(
    edges: DataFrame, max_iterations: int = 50,
    local_finish_rows: int = 4_000_000,
) -> DataFrame:
    """edges(id_l, id_r) -> (record_id, cluster_id = component min).

    Nodes appearing in no surviving edge are absent; callers keep singletons
    with `assign_clusters`.

    local_finish_rows: once the surviving frontier has <= this many edges
    (known for free from the observed fingerprint of the same checkpoint
    action), the remaining alternation tail completes in one single-task
    vectorized pass (`_local_finish`) instead of O(log diameter) more
    barrier rounds. 0 disables (pure distributed alternation — the path
    the LS/SS unit/property tests pin).
    """
    obs0 = Observation("cc_fp_init")
    e = (
        edges.select(F.col("id_l").alias("u"), F.col("id_r").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = int(obs0.get["n"])
    prev = None
    for i in range(max_iterations):
        if n_edges == 0:
            break
        if 0 < local_finish_rows and n_edges <= local_finish_rows:
            e = _local_finish(e).localCheckpoint(eager=True)
            break
        # one lineage truncation per LS+SS round (the LS intermediate is
        # consumed exactly once — checkpointing it would only add a barrier).
        # Round 5: the convergence fingerprint rides the SAME action via
        # observe() — metrics are collected as a side effect of the eager
        # checkpoint, so each iteration costs ONE job instead of two
        # (halves the per-iteration driver-barrier latency that dominated
        # the cc 2->8 scaling cell; verified to fire on localCheckpoint).
        # Spark 4.1 quirk: the first observe() initializes the session's
        # lazy ObservationManager (not serializable); MLlib TRAINING
        # SUMMARIES capture the SparkSession, so a summary-carrying model's
        # .transform() afterwards throws "Task not serializable" — use
        # model.copy() (drops the summary) if mixing the two. This engine's
        # scoring never serializes models (plan-literal folds), so only
        # external mllib .transform callers are affected.
        obs = Observation(f"cc_fp_{i}")
        e = (
            _small_star(_large_star(e))
            .observe(obs, *_fingerprint_aggs())
            .localCheckpoint(eager=True)
        )
        m = obs.get
        fp = (int(m["n"]), int(m["h1"]), int(m["h2"]), int(m["lo"]), int(m["hi"]))
        n_edges = fp[0]
        if fp == prev:
            break
        prev = fp
    # Converged state is a star forest oriented large->small: u -> root.
    members = e.select(F.col("u").alias("record_id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("record_id"), F.col("v").alias("cluster_id")).distinct()
    return members.unionByName(roots).dropDuplicates(["record_id"])


def assign_clusters(all_ids: DataFrame, components: DataFrame, id_col: str = "record_id") -> DataFrame:
    """J4: left join components; unmatched records become singleton clusters
    (cluster_id = record_id)."""
    out = all_ids.select(F.col(id_col).alias("record_id")).join(
        components, "record_id", "left"
    )
    return out.select(
        "record_id", F.coalesce("cluster_id", "record_id").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# C3: test-only oracle (plain Python union-find on collected edges).
# ---------------------------------------------------------------------------


def union_find_oracle(edge_list: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {x: find(x) for x in list(parent)}
