"""Graph analytics over the materialized KG (edge-table algorithms).

The converter's output is a plain edge DataFrame — entity-importance
signals (which entities dominate the corpus graph) are a standard
post-construction step for KG pipelines. Everything here is expressed as
joins + aggregations over the edge list; iterative algorithms commit,
checkpoint and resume their rounds through operators/rounds.py, like
operators/dedup.duplicate_clusters.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import rounds
from .rounds import persist


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    checkpoint_dir: str = None,
) -> DataFrame:
    """Fixed-iteration PageRank in INTEGER arithmetic: ranks are longs
    scaled by ``scale``; every operation is integer +, ×, floor-division
    on positives — bit-identical across engines, so the DuckDB oracle
    replays all ``iters`` iterations exactly (unrolled CTEs) and the
    result is value-hash verifiable, unlike float PageRank whose
    summation order perturbs the last ulp.

    Simplifications (documented, replayed identically by the oracle):
    dangling-node mass is dropped, not redistributed; truncation from
    floor division is not re-normalized. Both vanish at ranking
    granularity and keep the arithmetic exactly reproducible.

    Shape per iteration: one join of the (src, dst, deg) edge frame with
    the rank frame + one groupBy(dst) with map-side partial sums, then a
    UNION with the static no-incoming-edge node set — a node with no
    in-edges has the CONSTANT rank ``base`` every round, so that set is
    computed once before the loop and unioned in, instead of a per-round
    left join back to all nodes (r4: saves one broadcast build + one
    join per round). Spark sizes the rank join from the filled rank cache
    (16 bytes/node): under ``spark.sql.autoBroadcastJoinThreshold`` it
    broadcasts the rank frame, so the edge frame never shuffles and the
    only exchange per round is the partial-agg groupBy(dst); past it the
    join shuffles, and AQE's skew join splits hub keys.

    ``checkpoint_dir`` makes a long run resumable (operators/rounds.py):
    each round's rank table is written to ``<dir>/pr_round_<i>`` and a
    killed job restarts from the highest complete round below ``iters``.
    Disk writes replace the in-memory persist per round.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # ONE aggregation derives the node set, per-src out-degrees AND the
    # no-incoming-edge set (r6): the old shape paid three passes over the
    # edge frame (union-distinct for nodes, groupBy(src) for degrees, an
    # anti join for no_in) — outdeg = count of src-tagged rows per node,
    # and a node never tagged as dst (min tag = 1) has no in-edges
    stats = persist(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("v"), F.lit(1).alias("s")),
                    F.struct(F.col("dst").alias("v"), F.lit(0).alias("s")),
                )
            ).alias("_x")
        )
        .select("_x.v", "_x.s")
        .groupBy("v")
        .agg(F.sum("s").alias("_outdeg"), F.min("s").alias("_min_s"))
    )
    n = stats.count()
    nodes = stats.select("v")
    if n == 0:
        rounds.release(stats)
        return nodes.withColumn("pr", F.lit(0).cast("long"))
    deg = stats.where(F.col("_outdeg") > 0).select(
        F.col("v").alias("src"), F.col("_outdeg").alias("deg")
    )
    ed = persist(e.join(deg, "src"))
    base = (scale * (damping_den - damping_num)) // (damping_den * n)
    # each round materializes (persist + count) before the next round's
    # join references it — a fully-lazy recurrence would re-execute every
    # prior round inside each broadcast build (measured 36 s vs 14 s on the
    # bench graph): broadcast builds don't share work with the probe side,
    # and a filled cache gives Spark the rank frame's real size, so the
    # barrier per round is load-bearing
    done, pr = rounds.resume(
        edges.sparkSession, checkpoint_dir, "pr_round", iters
    ) or (-1, persist(
        nodes.withColumn("pr", F.lit(scale // n).cast("long"))
    ))
    # nodes with no incoming edge keep the constant rank `base` in every
    # round — that set falls out of the shared stats aggregate (a node
    # never tagged as dst), no extra anti join
    no_in = persist(
        stats.where(F.col("_min_s") == 1)
        .select("v", F.lit(base).cast("long").alias("pr"))
    )
    for i in range(done + 1, iters):
        contrib = (
            ed.join(pr.withColumnRenamed("v", "src"), "src")
            .withColumn("c", F.expr("pr div deg"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
        )
        new_pr = (
            contrib.select(
                F.col("dst").alias("v"),
                (
                    F.lit(base)
                    + F.expr(f"(inc * {damping_num}) div {damping_den}")
                ).cast("long").alias("pr"),
            )
            .unionByName(no_in)
        )
        new_pr, _ = rounds.materialize(new_pr, checkpoint_dir, "pr_round", i)
        rounds.release(pr)
        pr = new_pr
    rounds.release(ed, no_in, stats)
    return pr


def degree_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 10,
) -> DataFrame:
    """Hub diagnostic over the KG edge list: the ``top_k`` highest-degree
    nodes per direction — (direction, node, degree, rank). This is the
    pre-flight measurement that decides whether a MATCH join needs
    salting (A7) before running at scale, the graph-side twin of
    corpus.key_skew_report. Two groupBy shuffles (one per direction) over
    map-side partials; ties rank by node id ascending."""
    from pyspark.sql import Window

    def side(col: str, name: str) -> DataFrame:
        counts = edges.groupBy(F.col(col).alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        w = Window.orderBy(F.col("degree").desc(), F.col("node").asc())
        return (
            counts.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= top_k)
            .select(F.lit(name).alias("direction"), "node", "degree", "rank")
        )

    return side(src, "out").unionByName(side(dst, "in"))


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_size: int = None,
) -> DataFrame:
    """Entity co-occurrence graph: an undirected weighted edge (a, b,
    weight) for every pair of distinct items appearing in the same group
    (entities on the same page, parts in the same order), with weight =
    number of shared groups. The canonical mention-graph builder for a
    KG pipeline — downstream of the converter, upstream of
    triangle/community analytics.

    Pair emission is quadratic in group size by definition, so
    ``max_group_size`` caps each group to its ``max_group_size`` LOWEST
    items (sorted prefix, same contract as the incremental-dedup corpus
    cap in operators/dedup.py) — deterministic and SQL-replayable, and
    it bounds the blowup of degenerate hub groups (a page mentioning
    thousands of entities).

    Shape (r6): ONE groupBy(g) builds each group's distinct sorted
    (capped) item array — ``collect_set`` is the within-group distinct,
    so the old standalone ``.distinct()`` exchange and the row_number
    window (plus its self-join) collapse into the same aggregation —
    then pairs emit array-side (bounded by the cap, ≤ k²/2 structs per
    group row) into the final (a, b) weight groupBy with map-side
    partials. Two exchanges total instead of three plus a join.
    """
    from .dedup import _pairs_expr

    items = F.array_sort(F.collect_set(F.col(item_col)))
    if max_group_size is not None:
        items = F.slice(items, 1, int(max_group_size))
    grp = (
        df.select(F.col(group_col).alias("g"), F.col(item_col).alias(item_col))
        .groupBy("g")
        .agg(items.alias("_items"))
        .where(F.size("_items") >= 2)
    )
    return (
        grp.select(F.explode(_pairs_expr("_items")).alias("_p"))
        .select(F.col("_p.id_a").alias("a"), F.col("_p.id_b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle count over an undirected graph — (node, degree,
    triangles), the local clustering structure of the KG (triangles/
    (degree·(degree−1)/2) is the clustering coefficient; kept as exact
    integers so the result is value-hash verifiable).

    Degree-ordered wedge algorithm (the compact-forward scheme, public
    knowledge from the triangle-listing literature): canonicalize to
    a < b undirected edges, then orient every edge from its lower-
    (degree, id) endpoint to the higher one. Each node's oriented
    out-degree is O(√E), so the wedge self-join emits O(E^1.5) rows
    worst-case instead of Σ deg² — hub nodes get wedges formed at their
    LOW-degree neighbors, which is the entire skew story: a 10⁷-degree
    hub contributes no pivot wedges at all. Joins: one self-join on the
    pivot, one closing-edge equi join, one 3-way explode + groupBy for
    per-node counts.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient by (degree, id): lower endpoint -> higher endpoint
    da = deg.select(F.col("v").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("degree").alias("degb"))
    ranked = e.join(da, "a").join(db, "b")
    lower_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(lower_first, F.col("dega")).otherwise(F.col("degb")).alias("dlo"),
        F.when(lower_first, F.col("degb")).otherwise(F.col("dega")).alias("dhi"),
    )
    # wedges at the pivot: two out-edges (pivot->v, pivot->w) with v
    # before w in the (deg, id) order; the closing edge, if present, is
    # oriented v->w by construction
    x = oriented.select(
        F.col("lo").alias("pivot"), F.col("hi").alias("v"),
        F.col("dhi").alias("dv"),
    )
    y = oriented.select(
        F.col("lo").alias("pivot"), F.col("hi").alias("w"),
        F.col("dhi").alias("dw"),
    )
    wedges = x.join(y, "pivot").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("lo").alias("v"), F.col("hi").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select("pivot", "v", "w")
    per_node = (
        tri.select(
            F.explode(F.array(F.col("pivot"), F.col("v"), F.col("w"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = deg.select(F.col("v").alias("node"), "degree").join(
        per_node, "node", "left"
    ).select(
        "node", "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
    )
    return out


def khop_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = False,
    checkpoint_dir: str = None,
) -> DataFrame:
    """Bounded k-hop BFS from a seed set: ``(seed, node, min_hops)`` for
    every node reachable from each seed within ``k`` hops (the seed
    itself at hop 0). The neighborhood-expansion primitive of a KG —
    entity context windows, blast-radius queries, subgraph sampling for
    GNN training all reduce to it.

    Layered frontier expansion: hop ``i``'s frontier joins the edge
    frame once, new ``(seed, node)`` pairs are removed with a LEFT ANTI
    join against everything already reached (so ``min_hops`` is exact by
    construction — a node is recorded the first layer it appears), and
    the loop is k joins total, NOT k self-joins of a growing path table:
    no path enumeration, state is O(reached nodes) not O(paths).

    Scale shape: the edge frame is the big side. The frontier and the
    reached set are filled caches, so Spark knows their exact size and
    ships them to the edge frame's tasks while they fit its join-size
    threshold; the edge frame then never moves. Past the threshold the
    layer join is one hash exchange per side, keyed on the node id, and
    AQE's skew join splits hub fan-out. Each layer's materialization
    counts the new frontier, which is the convergence test: an empty
    frontier short-circuits the remaining hops. ``undirected=True`` unions the
    reversed edge frame lazily (no materialization).

    Engine-portable: integer hop arithmetic and set semantics only, so a
    SQL oracle replays it with a recursive CTE (UNION-dedup on
    (seed, node, hops), then min(hops)).

    ``checkpoint_dir`` makes a long BFS resumable (operators/rounds.py):
    after each hop the reached table is written to ``<dir>/khop_hop_<i>``
    and a killed job restarts from the highest complete hop ``<= k``.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if undirected:
        e = e.unionAll(
            edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
        )
    # the edge frame is probed once per layer — persist it so k layers
    # cost one source scan, not k (pagerank's `ed` contract)
    e = persist(e)
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct()

    # ``reached`` is a lazy union of persisted layers (hop 0 = the seeds):
    # each hop caches only its own new pairs, never a copy of the union
    done, reached = rounds.resume(
        edges.sparkSession, checkpoint_dir, "khop_hop", k + 1
    ) or (0, persist(seed_nodes.select(
        "seed", F.col("seed").alias("node"), F.lit(0).cast("int").alias("min_hops")
    )))
    frontier = reached.where(F.col("min_hops") == done).select("seed", "node")
    n = frontier.count()  # only the resume layer pays a standalone count
    for hop in range(done + 1, k + 1):
        if n == 0:
            break
        # the layer's one job: materialize + frontier size
        nxt, n = rounds.materialize(
            frontier.join(e, frontier["node"] == e["_s"])
            .select("seed", F.col("_d").alias("node"))
            .distinct()
            .join(reached, ["seed", "node"], "left_anti")
            .withColumn("min_hops", F.lit(hop).cast("int"))
        )
        reached = reached.unionAll(nxt)
        if checkpoint_dir is not None:
            reached, _ = rounds.materialize(
                reached, checkpoint_dir, "khop_hop", hop
            )
            # read back from disk, ``reached`` no longer reads the layer
            # caches: each one is spent once the next hop is written
            rounds.release(frontier)
        frontier = nxt.select("seed", "node")
    rounds.release(e)
    if checkpoint_dir is not None:
        rounds.release(frontier)
    return reached


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    checkpoint_dir: str = None,
) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan et al. 2007), made DETERMINISTIC: labels initialize to the
    node id, and each round every node adopts the most frequent label
    among its neighbors with ties broken by smallest label (classic LPA
    breaks ties randomly; the deterministic tiebreak makes the result a
    pure function of the graph, replayable as unrolled SQL rounds).
    Isolated-in-round nodes keep their label. Returns ``(node, label)``
    after ``iters`` rounds — unlike connected components (hash-to-min,
    dedup.duplicate_clusters), LPA splits dense regions of one component
    into separate communities.

    Shape per round: one join of the (node, nbr) adjacency with the
    label frame — Spark sizes it from the filled label cache and
    broadcasts the labels under ``spark.sql.autoBroadcastJoinThreshold``,
    so the adjacency never shuffles — then ONE per-node
    ``mode(label, deterministic=True)`` aggregate (most frequent label,
    smallest on ties), partial-agg friendly: one shuffle per round.
    A round reads the previous labels twice (vote join and carry-over
    join), so every round's labels are materialized with their lineage
    cut (operators/rounds.py).
    ``checkpoint_dir`` writes each round's label table to
    ``<dir>/lpa_round_<i>`` in place of the persist and resumes from the
    highest complete round below ``iters`` (operators/rounds.py)."""
    nb = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).unionAll(
        edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    )
    # probed every round — persist so rounds don't re-derive the
    # adjacency from the source plan (khop/pagerank edge contract)
    nb = persist(nb)
    nodes = nb.select("node").distinct()
    labels = persist(nodes.select("node", F.col("node").alias("label")))
    labels.count()  # filled, so Spark sizes round 0's label join exactly
    resumed = rounds.resume(edges.sparkSession, checkpoint_dir, "lpa_round", iters)
    done = -1
    if resumed:
        rounds.release(labels)
        done, labels = resumed
    for i in range(done + 1, iters):
        lbl = labels.select(F.col("node").alias("nbr"), F.col("label"))
        top = nb.join(lbl, "nbr").groupBy("node").agg(
            F.mode("label", deterministic=True).alias("_new")
        )
        prev = labels
        labels, _ = rounds.materialize(
            prev.join(top, "node", "left")
            .select("node", F.coalesce("_new", "label").alias("label")),
            checkpoint_dir, "lpa_round", i, cut=True,
        )
        rounds.release(prev)
    rounds.release(nb)
    return labels


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = False,
    scale: int = 60,
) -> DataFrame:
    """k-bounded harmonic centrality per seed:
    ``C(s) = Σ_{v reached, v≠s} 1/min_hops(s,v)`` — the standard
    big-graph centrality (closeness breaks on disconnected graphs;
    harmonic doesn't), truncated at ``k`` hops as at web scale
    (full-BFS centrality over 10^12 nodes is not a thing; k-bounded is
    the published practice for crawl graphs).

    Integer-exact: contributions are ``scale // hops`` with the default
    ``scale=60`` divisible by every hop count ≤ 6, so results are
    engine-portable longs (``harmonic_x{scale}``), not floats. One
    groupBy over :func:`khop_reachability`'s output — all scale
    characteristics inherited from the BFS."""
    reached = khop_reachability(
        edges, seeds, k, src=src, dst=dst, undirected=undirected
    )
    return (
        reached.where(F.col("min_hops") > 0)
        .groupBy("seed")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum(F.expr(f"{int(scale)}L div min_hops")).alias(
                f"harmonic_x{int(scale)}"
            ),
        )
    )


def negative_samples(
    triples: DataFrame,
    n_entities: int,
    k: int = 1,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    seed: int = 0,
    entity_base: int = 0,
    filter_true: bool = True,
) -> DataFrame:
    """Deterministic tail-corruption negative sampling for KG-embedding
    training (TransE-family): each positive ``(s, p, o)`` yields ``k``
    corrupted ``(s, p, o')`` with ``o' = entity_base + md5(seed‖s‖p‖o‖i)
    mod n_entities`` — JOIN-FREE corruption under the dense-id contract
    (entity ids occupy ``[entity_base, entity_base + n_entities)``; use
    core/registry.IDRegistry to densify arbitrary key spaces first, the
    same integer-id contract as text.pack_sequences).

    ``filter_true`` drops accidental positives (a corrupted tail that
    reproduces a true triple) with one LEFT ANTI join against the
    positive set — the standard filtered-negative protocol. Output:
    ``(subj, pred, obj_neg, neg_idx)``.

    Scale shape: corruption is a zero-shuffle ×k explode projection
    (hash arithmetic, order-free — identical samples at any cluster
    size); the optional anti-join is the only exchange, keyed on the
    triple. md5-derived, so a SQL oracle replays every sample.
    """
    from .dedup import md5_hash60

    if k < 1 or n_entities < 2:
        raise ValueError("k >= 1 and n_entities >= 2 required")
    idx = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("neg_idx")
    h = md5_hash60(
        F.concat_ws(
            "|",
            F.lit(str(seed)),
            F.col(subj).cast("string"),
            F.col(pred).cast("string"),
            F.col(obj).cast("string"),
            F.col("neg_idx").cast("string"),
        )
    )
    neg = (
        triples.select(subj, pred, obj, idx)
        .withColumn("obj_neg", F.lit(entity_base) + (h % F.lit(n_entities)))
        .select(subj, pred, F.col("obj_neg"), "neg_idx")
    )
    if filter_true:
        pos = triples.select(
            F.col(subj).alias(subj),
            F.col(pred).alias(pred),
            F.col(obj).alias("obj_neg"),
        ).distinct()
        neg = neg.join(pos, [subj, pred, "obj_neg"], "left_anti")
    return neg


def sample_neighbors(
    edges: DataFrame,
    seeds: DataFrame,
    fanouts,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = False,
    seed: int = 0,
) -> DataFrame:
    """GraphSAGE-style layered neighbor sampling for GNN minibatches:
    layer ``i`` keeps at most ``fanouts[i]`` neighbors PER (seed,
    frontier-node), chosen by md5-hash rank — deterministic at any
    cluster size (no per-partition rand()), revisits allowed (standard
    GNN sampling semantics; use :func:`khop_reachability` when you need
    min-hop sets). Returns the sampled edge list
    ``(seed, layer, node, nbr)``.

    Scale shape per layer: frontier joins the persisted edge frame
    (Spark ships the frontier to the edge frame's tasks while it fits
    its join-size threshold, so the edge frame never moves), then ONE
    (seed, node)-keyed top-k window over candidate rows already bounded
    by frontier×degree. The output is
    Σ_i Π_{j≤i} fanout_j rows per seed — minibatch-sized by
    construction, independent of graph size.
    """
    from .dedup import md5_hash60
    from pyspark.sql import Window

    if not fanouts:
        raise ValueError("fanouts must be non-empty")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if undirected:
        e = e.unionAll(
            edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
        )
    e = persist(e)
    frontier = (
        seeds.select(F.col(seeds.columns[0]).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"))
    )
    n = frontier.count()
    layers = []
    for layer, fanout in enumerate(fanouts, start=1):
        if n == 0:
            break
        cand = frontier.join(e, frontier["node"] == e["_s"]).select(
            "seed", "node", F.col("_d").alias("nbr")
        ).distinct()
        rank_key = md5_hash60(
            F.concat_ws(
                "|",
                F.lit(str(seed)),
                F.col("seed").cast("string"),
                F.col("node").cast("string"),
                F.col("nbr").cast("string"),
            )
        )
        w = Window.partitionBy("seed", "node").orderBy(rank_key, F.col("nbr"))
        sampled = persist(
            cand.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= int(fanout))
            .select(
                "seed",
                F.lit(layer).cast("int").alias("layer"),
                "node",
                "nbr",
            )
        )
        layers.append(sampled)
        frontier = sampled.select("seed", F.col("nbr").alias("node")).distinct()
        n = frontier.count()
    rounds.release(e)
    if not layers:
        return frontier.sparkSession.createDataFrame(
            [], "seed long, layer int, node long, nbr long"
        )
    out = layers[0]
    for l in layers[1:]:
        out = out.unionAll(l)
    return out


def _link_prediction_base(
    edges: DataFrame, src: str, dst: str, max_pivot_degree: int
) -> Tuple[DataFrame, DataFrame, DataFrame]:
    """Shared link-prediction prep → ``(canon, deg, capped)``, all
    derived from ONE distinct. ``canon`` holds each undirected edge once
    as ``(a, b)`` with ``a ≤ b`` and is also the existing-edge set the
    candidates anti-join against. The symmetric adjacency behind
    ``deg (v, deg)`` and ``capped (v, u)`` emits each canonical edge in
    both directions and a self-loop once, so it is distinct by
    construction. Edges with a NULL endpoint are ignored."""
    from pyspark.sql import Window

    canon = (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .distinct()
    )
    nb = canon.select(F.col("a").alias("v"), F.col("b").alias("u")).unionAll(
        canon.where(F.col("a") != F.col("b")).select(
            F.col("b").alias("v"), F.col("a").alias("u")
        )
    )
    deg = nb.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    w = Window.partitionBy("v").orderBy("u")
    capped = (
        nb.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= max_pivot_degree)
        .drop("_rk")
    )
    return canon, deg, capped


def link_prediction_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_pivot_degree: int = 64,
    top_k: int = 50,
    scale: int = 1_000_000,
) -> DataFrame:
    """Neighbor-Jaccard link prediction over the undirected graph:
    for node pairs sharing at least one neighbor and NOT already
    adjacent, ``jaccard_x{scale} = (c·scale) div (d_a + d_b − c)`` with
    ``c`` the common-neighbor count — the classic structural
    link-prediction baseline (Liben-Nowell & Kleinberg 2003), integer-
    quantized for cross-engine hashing. Returns the global ``top_k``
    pairs ``(a, b, common, deg_a, deg_b, jaccard_x…)`` ordered by
    (jaccard desc, a, b).

    Scale shape: the edge list is deduplicated ONCE into canonical
    ``(least, greatest)`` pairs (:func:`_link_prediction_base`; on
    :func:`cooccurrence_edges` output Spark folds it into that
    operator's own groupBy). Candidate pairs form at their SHARED
    neighbor (one self-join of the adjacency keyed on the pivot node) —
    never all-pairs; hub pivots are capped to their ``max_pivot_degree``
    LOWEST neighbors (sorted-prefix contract shared with
    cooccurrence_edges — documented recall loss on super-hubs, which
    at crawl scale are exactly the uninformative pivots: a neighbor
    shared by 10^6 nodes carries no signal). Then one (a,b) count
    groupBy with map-side partials, two broadcast-friendly degree
    joins, one LEFT ANTI against the canonical edge set, and a global
    top-k (TakeOrderedAndProject, no full sort).
    """
    canon, deg, capped = _link_prediction_base(edges, src, dst, max_pivot_degree)
    a = capped.select("v", F.col("u").alias("a"))
    b = capped.select("v", F.col("u").alias("b"))
    common = (
        a.join(b, "v")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = common.join(canon, ["a", "b"], "left_anti")
    out = (
        cand.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b")), "b")
        .withColumn(
            f"jaccard_x{int(scale)}",
            F.expr(f"(common * {int(scale)}L) div (deg_a + deg_b - common)"),
        )
    )
    return out.orderBy(
        F.desc(f"jaccard_x{int(scale)}"), "a", "b"
    ).limit(top_k).select(
        "a", "b", "common", "deg_a", "deg_b", f"jaccard_x{int(scale)}"
    )


def link_prediction_adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_pivot_degree: int = 64,
    top_k: int = 50,
    scale: int = 1_000_000,
) -> DataFrame:
    """Adamic–Adar link prediction, integer-quantized: each shared
    pivot ``v`` contributes ``scale div ilog2(deg_v)`` (ilog2 exact via
    ``length(bin(x)) − 1`` — the engine's float-free log idiom, see
    train_bigram_lm) with degree-1 pivots clamped to ilog2 = 1, so the
    score stays an engine-portable long. Rarer shared neighbors weigh
    more than in plain common-neighbor counting — the standard
    refinement over Jaccard for hub-heavy graphs. Same candidate
    machinery and caps as :func:`link_prediction_jaccard`; returns the
    top_k non-adjacent pairs ``(a, b, common, aa_x{scale})`` ordered by
    (score desc, a, b).
    """
    canon, deg, capped = _link_prediction_base(edges, src, dst, max_pivot_degree)
    # pivot weight: scale div max(1, ilog2(deg)) — exact integer
    pw = deg.select(
        "v",
        F.expr(
            f"{int(scale)}L div greatest(1L, length(bin(deg)) - 1)"
        ).alias("w"),
    )
    capped = capped.join(pw, "v")
    a = capped.select("v", "w", F.col("u").alias("a"))
    b = capped.select("v", F.col("u").alias("b"))
    scored = (
        a.join(b, "v")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum("w").alias(f"aa_x{int(scale)}"),
        )
    )
    return (
        scored.join(canon, ["a", "b"], "left_anti")
        .orderBy(F.desc(f"aa_x{int(scale)}"), "a", "b")
        .limit(top_k)
    )
