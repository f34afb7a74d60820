"""Graph/vector clustering: near-dup connected components, k-means assign.

Training-pipeline extension operators (SURVEY.md SS2.11 family).  Corpus
dedup needs more than near-dup PAIRS: transitive closure groups pairs into
clusters so exactly one canonical doc per cluster survives.  The closest
reference behavior is group merge (`etl_controller.py:2184-2219`), which
unions overlapping output sets one pair at a time on the GUI thread; here
the same closure runs as a distributed fixpoint.

Scale design:
  * connected components = iterative min-label propagation with pointer
    doubling (alternate edge-relax and label-of-label jump), the classic
    O(log diameter) round MapReduce CC (Kiveris et al. "Connected
    Components in MapReduce and Beyond" -- same family as GraphX CC).
    Each round is two shuffles (join + min-agg); labels only decrease, so
    sum(label) is a one-scalar convergence probe per round.
  * k-means assignment = broadcast the k centroids, score each vector
    locally, keep argmin -- zero shuffle of the candidate side, identical
    plan shape to knn_brute_force.

The driver's documents table has no real dup graph, so the edge set is
synthesized deterministically from md5 arithmetic (each doc links back
<=16 ids when its hash says so) -- same technique as dedup.py's dup
corpus; production input is minhash_near_dup_pairs' (doc_a, doc_b) edges.
Labels/ids are integer-exact end to end, so results hash-match the DuckDB
recursive-CTE oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.sources.tables import load_table

# Synthetic dup-graph knobs: ~1/3 of docs get one back-edge spanning <=16
# ids.  Percolation stays subcritical => many small multi-hop chains
# (sf0.01: 346 components, max size 8), the shape real near-dup graphs
# take after LSH thresholding.
EDGE_GATE_MOD = 3
EDGE_SPAN = 16
MAX_CC_ROUNDS = 15

N_CLUSTERS = 8  # k-means seeds: vec_id < 8
DIM = 64

_EDGES_SQL = f"""
      SELECT e.src, e.dst
      FROM (
        SELECT doc_id AS src,
               doc_id - (h % {EDGE_SPAN} + 1) AS dst
        FROM (
          SELECT doc_id,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':cc'),
                                    1, 8))::BIGINT AS h
          FROM documents
        ) fp
        WHERE h % {EDGE_GATE_MOD} = 0
      ) e
      JOIN documents d ON d.doc_id = e.dst
"""


def _edge_df(docs: DataFrame) -> DataFrame:
    """Deterministic (src, dst) near-dup edges; dst semi-checked to exist."""
    fp = docs.select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cc"))), 1, 8),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    edges = fp.filter(F.col("h") % EDGE_GATE_MOD == 0).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") - (F.col("h") % EDGE_SPAN + 1)).alias("dst"),
    )
    nodes = docs.select(F.col("doc_id").alias("dst"))
    # Callers pass docs as a localCheckpoint (stat-less), so pin the semi
    # join strategy: shuffle_hash, which is also the honest 100 TB plan
    # (the node set is corpus-sized -- never broadcastable, never sorted).
    return edges.join(nodes.hint("shuffle_hash"), "dst", "left_semi").select(
        "src", "dst"
    )


def _min_label_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Connected components of an undirected graph: (node, lbl) with lbl
    the min node id reachable from node.  ``edges`` (src, dst) holds both
    directions of every edge; ``nodes`` (node) lists every vertex.

    Min-label propagation with pointer doubling: every round relaxes
    labels across edges (join edges->labels, min-combine) THEN jumps each
    label to its label's label (join labels->labels).  Doubling squares
    effective path length per round, so rounds ~ log2(diameter) instead of
    diameter -- the difference between 5 rounds and 500 on a long chain.
    Rounds are lineage-truncated via localCheckpoint (an iterative plan
    otherwise grows unboundedly) and convergence is a single-scalar
    sum(label) probe: labels are monotone non-increasing, so an unchanged
    sum IS the fixpoint, no row-wise diff needed.  Checkpointed labels
    have no stats, so both joins pin shuffle_hash on the label side
    (Catalyst would otherwise sort-merge them); at 100 TB each round is
    two hash-partitioned shuffles on uniform integer keys and the
    min-agg is map-side combinable.
    """
    labels = nodes.select("node", F.col("node").alias("lbl")).localCheckpoint(
        eager=True
    )
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(MAX_CC_ROUNDS):
        # Edge relax: each node offers its label to every neighbor.
        msgs = edges.join(
            labels.select(F.col("node").alias("src"), "lbl")
            .hint("shuffle_hash"),
            "src",
        ).select(F.col("dst").alias("node"), "lbl")
        relaxed = (
            labels.unionByName(msgs).groupBy("node").agg(F.min("lbl").alias("lbl"))
        )
        # Pointer jump: follow lbl -> lbl(lbl) (labels are node ids, so the
        # lookup always hits; left join guards the self-rooted case).
        jl = relaxed.alias("l")
        jp = relaxed.alias("p").hint("shuffle_hash")
        labels = (
            jl.join(jp, F.col("l.lbl") == F.col("p.node"), "left")
            .select(
                F.col("l.node").alias("node"),
                F.least(
                    F.col("l.lbl"), F.coalesce(F.col("p.lbl"), F.col("l.lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


@declared(
    "near_dup_components",
    oracle=f"""
    WITH RECURSIVE
    edges AS ({_EDGES_SQL}),
    sym AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node
    ),
    comp AS (
      SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component_id
      FROM reach GROUP BY node
    )
    SELECT doc_id, component_id,
           CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
             AS n_members,
           CAST(doc_id = component_id AS BOOLEAN) AS is_canonical
    FROM comp
    """,
)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: each doc labeled with the min doc_id
    reachable through the dup graph; lowest id is the canonical keeper."""
    # doc_id is consumed three times (edge fingerprints, the existence
    # semi-join, the label init); checkpoint the narrow id column once so
    # the corpus is scanned once, not three times.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    edges = _edge_df(docs)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = _min_label_components(
        sym, docs.select(F.col("doc_id").alias("node"))
    )

    w = Window.partitionBy("component_id")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("component_id")
    ).select(
        "doc_id",
        "component_id",
        F.count(F.lit(1)).over(w).alias("n_members"),
        (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
    )


_SQDIST_SQL = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
)


@declared(
    "kmeans_assign_embeddings",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS ce
      FROM embeddings WHERE vec_id < {N_CLUSTERS}
    ),
    scored AS (
      SELECT e.vec_id, c.cid,
             {_SQDIST_SQL.format(a='e.embedding', b='c.ce')} AS dist2
      FROM embeddings e CROSS JOIN c
    ),
    ranked AS (
      SELECT vec_id, cid, dist2,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist2, cid) AS rnk
      FROM scored
    )
    SELECT vec_id, cid AS cluster_id, dist2
    FROM ranked WHERE rnk = 1
    """,
)
def kmeans_assign_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means assignment step: nearest of k=8 seed centroids (vec_id<8)
    by squared L2, ties to the lower centroid id.

    The E-step of Lloyd's algorithm as a Spark plan: centroids broadcast,
    every vector scored in place (sequential zip_with/aggregate fold in
    double precision -- bit-identical to the oracle's list_sum fold, same
    convention as knn_brute_force), argmin via a per-vector window.  Zero
    shuffle of the embedding side until the k-row-per-vector ranking; at
    100 TB the M-step (new centroids) would be one map-side-combinable
    avg per cluster, and iterations reuse this exact plan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.filter(F.col("vec_id") < N_CLUSTERS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    diff2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("ce"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = emb.crossJoin(F.broadcast(c)).select(
        "vec_id", "cid", diff2.alias("dist2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist2"), F.asc("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", F.col("cid").alias("cluster_id"), "dist2")
    )


@declared(
    "dedup_cluster_keeper",
    oracle=f"""
    WITH RECURSIVE
    edges AS ({_EDGES_SQL}),
    sym AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node
    ),
    comp AS (
      SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component_id
      FROM reach GROUP BY node
    ),
    ranked AS (
      SELECT c.component_id, c.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.component_id
                                ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY c.component_id) AS n_members,
             sum(d.n_chars) OVER (PARTITION BY c.component_id) AS total_chars
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT component_id,
           doc_id AS keeper_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(total_chars - n_chars AS BIGINT) AS chars_dropped
    FROM ranked WHERE rn = 1
    """,
)
def dedup_cluster_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster representative selection: within each connected
    component, keep the highest-quality member (longest text, doc_id
    tiebreak) and report how many chars of duplicates it displaces --
    the decision step that turns clustering into an actual dedup pass.

    Reuses near_dup_components' label-propagation result (one extra
    broadcast-joinable metadata lookup + one window on component_id);
    keeper choice and the dropped-chars accounting are pure integer
    logic.  At 100 TB the window partition is a dup cluster (typically
    tiny); a pathological mega-cluster would already have been capped
    upstream by the edge-similarity threshold.
    """
    comp = near_dup_components(spark, sf_dir).select("doc_id", "component_id")
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("component_id")
    ranked = (
        comp.join(meta, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.desc("n_chars"), F.asc("doc_id"))),
        )
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .withColumn("total_chars", F.sum("n_chars").over(w))
    )
    return ranked.filter(F.col("rn") == 1).select(
        "component_id",
        F.col("doc_id").alias("keeper_doc_id"),
        F.col("n_members").cast("bigint").alias("n_members"),
        (F.col("total_chars") - F.col("n_chars")).cast("bigint").alias(
            "chars_dropped"
        ),
    )


@declared(
    "dup_graph_degree_hist",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    sym AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges
    ),
    deg AS (
      SELECT d.doc_id, CAST(count(s.src) AS BIGINT) AS degree
      FROM documents d LEFT JOIN sym s ON s.src = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def dup_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph (isolated nodes included
    at degree 0) -- the shape check run before any clustering pass: a
    heavy tail here predicts hot keys in the component propagation.

    Per-node degree is a LEFT join from the node set onto the
    symmetrized edge list (count of non-null matches), then the
    histogram groups on |distinct degrees| keys.  Both shuffles are on
    uniform integer ids; the histogram output is tiny.
    """
    # One scan of documents total (was 5): the id column checkpoints once
    # and feeds the fingerprints, the semi-join node set, and the left
    # side; edges checkpoint once so symmetrization doesn't recompute
    # them.  Stat-less sides get explicit shuffle_hash pins (corpus-sized
    # at 100 TB -- neither broadcastable nor worth sorting).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    edges = _edge_df(docs).localCheckpoint(eager=True)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = (
        docs.join(sym.hint("shuffle_hash"), docs.doc_id == sym.src, "left")
        .groupBy("doc_id")
        .agg(F.count("src").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


_IQDIST_SQL = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


@declared(
    "kmeans_lloyd_two_step",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    seeds AS (SELECT vec_id AS cid, qv AS c FROM q WHERE vec_id < {N_CLUSTERS}),
    s1 AS (
      SELECT v.vec_id, s.cid,
             {_IQDIST_SQL.format(a='v.qv', b='s.c')} AS d
      FROM q v CROSS JOIN seeds s
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rnk
        FROM s1
      ) WHERE rnk = 1
    ),
    comps AS (
      SELECT a1.cid, i AS m, v.qv[i] AS x
      FROM a1 JOIN q v USING (vec_id), generate_series(1, 64) AS g(i)
    ),
    cstats AS (
      SELECT cid, m,
             CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS cm
      FROM comps GROUP BY cid, m
    ),
    cent2 AS (SELECT cid, list(cm ORDER BY m) AS c FROM cstats GROUP BY cid),
    s2 AS (
      SELECT v.vec_id, t.cid,
             CAST({_IQDIST_SQL.format(a='v.qv', b='t.c')} AS BIGINT) AS d
      FROM q v CROSS JOIN cent2 t
    ),
    a2 AS (
      SELECT vec_id, cid, d FROM (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rnk
        FROM s2
      ) WHERE rnk = 1
    )
    SELECT a2.cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(a2.d) AS BIGINT) AS inertia,
           CAST(sum(CASE WHEN a2.cid <> a1.cid THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved
    FROM a2 JOIN a1 USING (vec_id)
    GROUP BY a2.cid
    """,
)
def kmeans_lloyd_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full Lloyd iterations (assign -> mean-update -> reassign) with
    the per-cluster convergence readout: size, inertia, and how many
    vectors changed cluster between the iterations (n_moved -> 0 is the
    stopping signal).  Extends `kmeans_assign_embeddings` (one E-step)
    into the actual training loop shape.

    Oracle-exact iteration without float drift: components quantize to
    the 1e4 integer grid, distances are pure-integer folds (associative,
    order-independent -- no sequential-fold requirement), and the M-step
    centroid is the FLOOR of the component mean (floor() on a computed
    double is engine-safe where round() is not), so iteration 2's input
    is bit-identical on both engines.  Scale: the E-step broadcasts k
    centroid arrays and never shuffles the vector side; the M-step is one
    map-side-combinable (cid, m) aggregation (k x 64 groups); per-round
    cost is 2 scans of the checkpointed quantized frame -- the
    pagerank_loop checkpoint-per-iteration shape, unrolled to the
    declared 2 rounds.  Integer envelope: |q| <= 2e4, per-dim diff^2 <=
    1.6e9, 64-dim fold <= 1.1e11, summed inertia < 2^63 up to ~8e7
    members/cluster; past that the fold accumulates in DECIMAL(38,0)
    (operand-cast rule).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 10000).cast("bigint"),
            ).alias("qv"),
        )
        # consumed by assign-1, the M-step member join, and assign-2
        .localCheckpoint(eager=True)
    )
    seeds = q.filter(F.col("vec_id") < N_CLUSTERS).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("c")
    )

    def idist(a: str, b: str):
        return F.aggregate(
            F.zip_with(
                F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cid"))
    a1 = (
        q.crossJoin(F.broadcast(seeds))
        .select("vec_id", "cid", idist("qv", "c").alias("d"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "cid")
        # consumed by the M-step join AND the moved check
        .localCheckpoint(eager=True)
    )
    comps = (
        a1.join(q.hint("shuffle_hash"), "vec_id")
        .select("cid", F.posexplode("qv").alias("m0", "x"))
    )
    cstats = comps.groupBy("cid", F.col("m0").alias("m")).agg(
        F.floor(
            F.sum("x").cast("double") / F.count(F.lit(1))
        ).cast("bigint").alias("cm")
    )
    cent2 = cstats.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "cm"))),
            lambda s: s.getField("cm"),
        ).alias("c")
    )
    a2 = (
        q.crossJoin(F.broadcast(cent2))
        .select(
            "vec_id", "cid", idist("qv", "c").cast("bigint").alias("d")
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", F.col("cid").alias("cid2"), "d")
    )
    return (
        a2.join(a1.hint("shuffle_hash"), "vec_id")
        .groupBy(F.col("cid2").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("d").cast("bigint").alias("inertia"),
            F.sum(
                F.when(F.col("cid2") != F.col("cid"), 1).otherwise(0)
            ).cast("bigint").alias("n_moved"),
        )
    )


_KCENTER_K = 4


def _kcenter_sql(k: int = _KCENTER_K) -> str:
    """Unrolled greedy k-center CTE chain: c{s} = centers after s picks;
    each pick is the argmax of min-distance-to-chosen (ties: min id)."""
    d = _IQDIST_SQL.format(a="v.qv", b="s.c")
    parts = [
        """
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    c1 AS (
      SELECT CAST(1 AS BIGINT) AS ord, vec_id AS cid, qv AS c
      FROM q WHERE vec_id = 0
    )"""
    ]
    for s in range(2, k + 1):
        parts.append(
            f"""
    d{s} AS (
      SELECT v.vec_id, CAST(min({d}) AS BIGINT) AS dmin
      FROM q v CROSS JOIN c{s - 1} s
      GROUP BY v.vec_id
    ),
    p{s} AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY dmin DESC, vec_id) AS rk
        FROM d{s}
      ) WHERE rk = 1
    ),
    c{s} AS (
      SELECT * FROM c{s - 1}
      UNION ALL
      SELECT CAST({s} AS BIGINT) AS ord, q.vec_id AS cid, q.qv AS c
      FROM q JOIN p{s} USING (vec_id)
    )"""
        )
    return f"""
    WITH {",".join(parts)},
    da AS (
      SELECT v.vec_id, s.ord, s.cid, CAST({d} AS BIGINT) AS dd
      FROM q v CROSS JOIN c{k} s
    ),
    a AS (
      SELECT vec_id, ord, cid, dd FROM (
        SELECT vec_id, ord, cid, dd,
               row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rk
        FROM da
      ) WHERE rk = 1
    )
    SELECT ord AS pick_order, cid AS center_id,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(max(dd) AS BIGINT) AS radius_q
    FROM a GROUP BY ord, cid
    """


@declared("kcenter_coreset_select", oracle=_kcenter_sql())
def kcenter_coreset_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985, the 2-approx
    farthest-first traversal) over the embedding corpus, k=4: start from
    vec_id 0, then repeatedly admit the point FARTHEST from the chosen
    set (max-min distance, ties to the smaller id).  The canonical
    diversity-maximizing subset selector for training-data curation --
    where `stratified_sample_docs` balances marginals and
    `semantic_dedup_keeper` removes redundancy, k-center picks the
    boundary-covering exemplars (active learning / SVP-style selection).
    Emits each pick with its assignment mass and covering radius; the
    max radius_q row IS the k-center objective value.

    Oracle-exact iteration: components quantize to the 1e4 integer grid
    and distances are associative integer folds (the
    `kmeans_lloyd_two_step` convention), so the greedy trajectory is
    bit-identical cross-engine -- a float k-center diverges at the first
    near-tie argmax.  Plan: the quantized frame checkpoints once; each
    of the k-1 picks is a broadcast of the <=k chosen centers against it
    (never a pairwise explosion), a global top-1 window over n rows, and
    a lineage-truncating checkpoint of the <=k-row center set.  Greedy
    k-center is inherently k sequential passes; at 100 TB you keep k
    passes but replace the exact argmax with a per-partition max + tiny
    final reduce (same result, no global sort) -- the window here IS
    that reduce at local scale.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 10000).cast("bigint"),
            ).alias("qv"),
        )
        # consumed by every pick round + the final assignment
        .localCheckpoint(eager=True)
    )

    def idist(a: str, b: str):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    centers = (
        q.filter(F.col("vec_id") == 0)
        .select(
            F.lit(1).cast("bigint").alias("ord"),
            F.col("vec_id").alias("cid"),
            F.col("qv").alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    w_pick = Window.orderBy(F.desc("dmin"), F.asc("vec_id"))
    for s in range(2, _KCENTER_K + 1):
        dmin = (
            q.crossJoin(F.broadcast(centers))
            .select("vec_id", idist("qv", "c").alias("d"))
            .groupBy("vec_id")
            .agg(F.min("d").cast("bigint").alias("dmin"))
        )
        pick = (
            dmin.withColumn("rk", F.row_number().over(w_pick))
            .filter(F.col("rk") == 1)
            .select("vec_id")
        )
        newc = q.join(F.broadcast(pick), "vec_id").select(
            F.lit(s).cast("bigint").alias("ord"),
            F.col("vec_id").alias("cid"),
            F.col("qv").alias("c"),
        )
        centers = centers.unionByName(newc).localCheckpoint(eager=True)
    wa = Window.partitionBy("vec_id").orderBy(F.asc("dd"), F.asc("cid"))
    assigned = (
        q.crossJoin(F.broadcast(centers))
        .select("vec_id", "ord", "cid", idist("qv", "c").cast("bigint").alias("dd"))
        .withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
    )
    return assigned.groupBy(
        F.col("ord").alias("pick_order"), F.col("cid").alias("center_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        F.max("dd").cast("bigint").alias("radius_q"),
    )


# DBSCAN-lite knobs: grid spacing for the planted label clusters, the
# eps-ball radius (= the blocking cell size), and the core threshold.
DBSCAN_GRID, DBSCAN_EPS, DBSCAN_MINPTS = 4000, 250, 4
_DB_OFF = 100000  # shift coords non-negative before integer cell division

_DB_PTS_SQL = f"""
      SELECT vec_id,
             (label % 4) * {DBSCAN_GRID}
             + CASE WHEN vec_id % 23 = 0 THEN {DBSCAN_GRID // 2} ELSE 0 END
             + ((CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
                 + 40000) // 4 - 10000) AS px,
             (label // 4) * {DBSCAN_GRID}
             + CASE WHEN vec_id % 23 = 0 THEN {DBSCAN_GRID // 2} ELSE 0 END
             + ((CAST(round(CAST(embedding[2] AS DOUBLE) * 10000) AS BIGINT)
                 + 40000) // 4 - 10000) AS py
      FROM embeddings
"""


@declared(
    "dbscan_clusters",
    oracle=f"""
    WITH RECURSIVE
    pts AS ({_DB_PTS_SQL}),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM pts a JOIN pts b
        ON (a.px - b.px) * (a.px - b.px)
           + (a.py - b.py) * (a.py - b.py) <= {DBSCAN_EPS * DBSCAN_EPS}
    ),
    cores AS (
      SELECT ia AS vec_id FROM pairs GROUP BY ia
      HAVING count(*) >= {DBSCAN_MINPTS}
    ),
    edges AS (
      SELECT p.ia AS src, p.ib AS dst
      FROM pairs p
      JOIN cores c1 ON c1.vec_id = p.ia
      JOIN cores c2 ON c2.vec_id = p.ib
      WHERE p.ia <> p.ib
    ),
    reach(node, lbl) AS (
      SELECT vec_id, vec_id FROM cores
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
      SELECT node AS vec_id, CAST(min(lbl) AS BIGINT) AS cluster_id
      FROM reach GROUP BY node
    ),
    border AS (
      SELECT p.ia AS vec_id, CAST(min(c.cluster_id) AS BIGINT) AS cluster_id
      FROM pairs p
      JOIN comp c ON c.vec_id = p.ib
      WHERE p.ia <> p.ib
        AND p.ia NOT IN (SELECT vec_id FROM cores)
      GROUP BY p.ia
    )
    SELECT pts.vec_id,
           CAST(coalesce(c.cluster_id, b.cluster_id, -1) AS BIGINT)
             AS cluster_id,
           CASE WHEN c.vec_id IS NOT NULL THEN 'core'
                WHEN b.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role
    FROM pts
    LEFT JOIN comp c ON c.vec_id = pts.vec_id
    LEFT JOIN border b ON b.vec_id = pts.vec_id
    """,
)
def dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clustering (DBSCAN, Ester et al. 1996) with grid-cell
    blocking -- the density member of the clustering family (k-means
    partitions everything; DBSCAN also yields BORDER and NOISE roles,
    the outlier-aware grouping a curation pipeline wants).

    Input is a planted 2-D corpus derived deterministically from the
    embeddings table (labels spread on a {DBSCAN_GRID}-unit grid,
    coordinates compressed 4x, every 23rd vector displaced into the
    inter-cluster gap -- the same planted-structure technique as
    dup_corpus / semantic_dup_threshold_sweep, because the raw 64-d
    embeddings have no density-separable projection).  All-integer
    coordinates and distances, so the full pipeline hash-matches the
    recursive-CTE oracle.

    Scale shape: candidate pairs come from a 9-cell grid join with cell
    size = eps (a pair inside the eps-ball differs by <= 1 cell per
    axis, so blocking is LOSSLESS -- per-axis distance bounds full
    distance); the oracle skips the blocking and joins all-pairs, which
    is the semantic definition.  Core election is one count over the
    pair stream; core-core components run the pointer-doubling
    min-label loop (_min_label_components, O(log diameter)
    rounds); border points attach to the min in-range core cluster.
    At 100 TB the grid join shuffles on uniform cell keys (density
    skew -> AQE skew split), and the component loop touches only core
    points.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    xq = (
        (F.round(F.col("embedding").getItem(0).cast("double") * 10000)
         .cast("bigint") + 40000)
    )
    yq = (
        (F.round(F.col("embedding").getItem(1).cast("double") * 10000)
         .cast("bigint") + 40000)
    )
    straggle = F.when(
        F.col("vec_id") % 23 == 0, F.lit(DBSCAN_GRID // 2)
    ).otherwise(F.lit(0))
    pts = emb.select(
        "vec_id",
        # floor(xq/4) == DuckDB's xq // 4 for ALL signs (the previous
        # (xq - xq % 4)/4 spelling diverged for negative xq: Spark % is
        # sign-of-dividend, DuckDB // floors); xq is offset to >= 0 for
        # |component| <= 4 but the spelling no longer depends on that.
        (
            (F.col("label") % 4) * DBSCAN_GRID + straggle
            + (F.floor(xq / 4).cast("bigint") - 10000)
        ).alias("px"),
        (
            (F.expr("label DIV 4")) * DBSCAN_GRID + straggle
            + (F.floor(yq / 4).cast("bigint") - 10000)
        ).alias("py"),
    ).localCheckpoint(eager=True)  # feeds home, probe, and the final roles
    return dbscan_df(pts, DBSCAN_EPS, DBSCAN_MINPTS)


def dbscan_df(
    pts: DataFrame, eps: int = DBSCAN_EPS, minpts: int = DBSCAN_MINPTS
) -> DataFrame:
    """Core DBSCAN over an arbitrary pre-checkpointed (vec_id, px, py)
    integer-coordinate frame (exposed for the planted two-moons edge
    test); |coords| must stay under _DB_OFF.  Returns (vec_id,
    cluster_id, role) with cluster_id = min core vec_id, -1 for noise."""
    cx = ((F.col("px") + _DB_OFF) - (F.col("px") + _DB_OFF) % eps) / eps
    cy = ((F.col("py") + _DB_OFF) - (F.col("py") + _DB_OFF) % eps) / eps
    home = pts.select(
        F.col("vec_id").alias("ia"),
        F.col("px").alias("xa"),
        F.col("py").alias("ya"),
        cx.cast("bigint").alias("cx"),
        cy.cast("bigint").alias("cy"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = pts.select(
        F.col("vec_id").alias("ib"),
        F.col("px").alias("xb"),
        F.col("py").alias("yb"),
        (cx.cast("bigint")).alias("cxb"),
        (cy.cast("bigint")).alias("cyb"),
        F.explode(offs).alias("o"),
    ).select(
        "ib",
        "xb",
        "yb",
        (F.col("cxb") + F.col("o.dx")).alias("cxp"),
        (F.col("cyb") + F.col("o.dy")).alias("cyp"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    pairs = (
        home.join(
            probe.hint("shuffle_hash"),
            (F.col("cx") == F.col("cxp")) & (F.col("cy") == F.col("cyp")),
        )
        .filter(d2 <= eps * eps)
        .select("ia", "ib")
        .localCheckpoint(eager=True)  # feeds core count, edges, border
    )
    # No plan posture of its own: the loop runs under the session's
    # confs.  Turning AQE off with a narrow shuffle width here cut the
    # query from 64 jobs to 28 at sf0.1 but made it slower (in-process
    # median of 5, local[4]: 5.91 s with that posture, 4.31 s without).
    cores = (
        pairs.groupBy("ia")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= minpts)
        .select(F.col("ia").alias("vec_id"))
        .localCheckpoint(eager=True)  # feeds edges (x2), labels, roles
    )
    # cores/comp/border all grow with the corpus -- broadcasting them
    # is a driver/executor memory hazard at 100x; shuffle_hash keeps
    # the stat-less checkpointed frames off SMJ without materializing
    # them on every executor (the winnow/dbscan pair-join convention).
    edges = (
        pairs.filter(F.col("ia") != F.col("ib"))
        .join(
            cores.select(F.col("vec_id").alias("ia")).hint("shuffle_hash"),
            "ia",
        )
        .join(
            cores.select(F.col("vec_id").alias("ib")).hint("shuffle_hash"),
            "ib",
        )
        .select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
        .localCheckpoint(eager=True)
    )
    labels = _min_label_components(
        edges, cores.select(F.col("vec_id").alias("node"))
    )
    comp = labels.select(
        F.col("node").alias("vec_id"),
        F.col("lbl").cast("bigint").alias("cluster_id"),
    ).localCheckpoint(eager=True)  # feeds border join + final roles
    border = (
        pairs.filter(F.col("ia") != F.col("ib"))
        .join(
            cores.select(F.col("vec_id").alias("ia")).hint("shuffle_hash"),
            "ia",
            "left_anti",
        )
        .join(
            comp.select(F.col("vec_id").alias("ib"), "cluster_id")
            .hint("shuffle_hash"),
            "ib",
        )
        .groupBy(F.col("ia").alias("vec_id"))
        .agg(F.min("cluster_id").cast("bigint").alias("cluster_id"))
    )
    return (
        pts.select("vec_id")
        .join(
            comp.withColumnRenamed("cluster_id", "c_core")
            .hint("shuffle_hash"),
            "vec_id",
            "left",
        )
        .join(
            border.withColumnRenamed("cluster_id", "c_border")
            .hint("shuffle_hash"),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce("c_core", "c_border", F.lit(-1))
            .cast("bigint")
            .alias("cluster_id"),
            F.when(F.col("c_core").isNotNull(), F.lit("core"))
            .when(F.col("c_border").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
        )
    )
