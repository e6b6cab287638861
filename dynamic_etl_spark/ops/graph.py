"""Connected components over a pair graph (near-dup clustering).

The missing last step of every dedup pipeline: pair detectors (MinHash-LSH,
n-gram Jaccard, SimHash, embedding-cosine — ops/lsh.py, ops/ann.py) emit
EDGES; corpus curation needs CLUSTERS plus one canonical survivor per
cluster. The reference has no graph operator (its dedup stops at
drop_duplicates, scripts2/load_dim_product_dw.py:387-392); this is part of
the beyond-reference LLM-data layer.

Algorithm: iterative min-label propagation with pointer jumping
(path halving), the DataFrame re-expression of classic MapReduce CC
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14).
Each round does

    l(v) <- min(l(v), min_{u in N(v)} l(u))     # one join + one groupBy
    l(v) <- min(l(v), l(l(v)))                  # pointer jump: one self-join

Plain propagation needs O(diameter) rounds; the jump contracts label
chains geometrically, so convergence is O(log diameter) — a 2^30-long
path converges inside the default ``max_iter=30``. Near-dup components
are dense (diameter 1-3) and converge in 2-3 rounds.

Scale shape: every round is two key shuffles (neighbor groupBy, label
self-join) over (vertex, label) pairs — never over payloads. Labels are
persisted per round and unpersisted as soon as the next round lands;
lineage is truncated with ``localCheckpoint`` every 5
rounds so plan size stays O(1) across iterations (an iterative job's
classic failure mode). The only driver-side values are the per-round
label-sum convergence scalars (labels never increase, so an unchanged
exact-decimal sum IS the fixpoint — no old-vs-new join needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Label every vertex of the undirected graph ``edges`` with the
    MINIMUM vertex id of its connected component (the canonical-survivor
    convention of the dedup layer: keep-first = keep MIN id).

    Returns (vertex, component) for every vertex incident to at least one
    edge; isolated vertices are the caller's to add (left-join + coalesce
    to their own id — see registry near_dup_components). Self-loops and
    null endpoints are dropped.

    Deterministic at any parallelism: min() is order-insensitive and the
    iteration count depends only on graph shape.
    """
    sym = (
        edges.select(F.col(src).alias("v"), F.col(dst).alias("n"))
        .union(edges.select(F.col(dst).alias("v"), F.col(src).alias("n")))
        .filter(F.col("v") != F.col("n"))
        .distinct()
        .persist()
    )
    labels = (
        sym.groupBy("v")
        .agg(F.min("n").alias("__mn"))
        .select("v", F.least(F.col("v"), F.col("__mn")).alias("l"))
        .persist()
    )
    # Convergence detector: labels never increase, so the exact-decimal
    # label sum strictly decreases until the fixpoint — one cheap agg on
    # the already-persisted round output, no old-vs-new join needed.
    def _label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("l").cast("decimal(38,0)")).alias("s")).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    converged = False
    for it in range(30):
        nbr = (
            sym.join(labels.select(F.col("v").alias("n"), F.col("l").alias("nl")), "n")
            .groupBy("v")
            .agg(F.min("nl").alias("nl"))
        )
        prop = labels.join(nbr, "v", "left").select(
            "v", F.least(F.col("l"), F.coalesce(F.col("nl"), F.col("l"))).alias("l")
        )
        # pointer jump: adopt the label OF the label vertex
        lookup = prop.select(F.col("v").alias("l"), F.col("l").alias("ll"))
        jumped = prop.join(lookup, "l", "left").select(
            "v", F.least(F.col("l"), F.coalesce(F.col("ll"), F.col("l"))).alias("l")
        )
        if (it + 1) % 5 == 0:
            jumped = jumped.localCheckpoint()
        else:
            jumped = jumped.persist()
        new_sum = _label_sum(jumped)
        labels.unpersist()
        labels = jumped
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            "connected_components did not converge in 30 rounds — "
            "with pointer jumping this needs a component diameter beyond "
            "~2^30"
        )
    # return a checkpointed LEAF and release the loop's cache: the final
    # per-round persist would otherwise stay pinned in the CacheManager
    # forever (per-batch callers like the streaming dedup sink would leak
    # one entry per invocation — review r4 pass 2); the extra checkpoint
    # re-reads cached/checkpointed partitions, not the iteration
    out = labels.select("v", F.col("l").alias("component")).localCheckpoint()
    labels.unpersist()
    return out


def admit_batch(
    new_docs: DataFrame,
    id_col: str,
    dup_pairs: DataFrame,
    small_cc_threshold: int = 200_000,
) -> DataFrame:
    """The shared batch-admission rule of every incremental dedup tier
    (lexical ops/lsh.incremental_near_dup_merge, semantic
    ops/ann.incremental_semantic_merge): given the verified duplicate
    pairs of one batch — (id_new, id_matched, ..., scope) rows with
    scope 'existing' (batch doc near the persistent corpus) or 'batch'
    (within-batch pair) — within-batch matches form connected
    components (the repo's transitive near-dup convention); a component
    is rejected WHOLE if any member near-matches the existing corpus,
    otherwise its MIN-id member is admitted (keep-first). Singleton
    batch docs with no matches admit directly. Returns the admitted
    ``new_docs`` rows.

    ``dup_pairs`` must already be materialized (the callers
    localCheckpoint it — the stateful-output lineage rule): this
    function takes ONE driver action over it.

    HYBRID execution: the pair set tracks duplicate structure (the
    banded-LSH / cell-bucketing guarantee), so it is usually
    mini-dim-sized — ONE driver action (take(threshold+1) over the
    checkpointed pairs: a mass-duplicate batch headed for the
    distributed fallback never materializes its full pair set on the
    driver) fetches BOTH scopes, a union-find labels the within-batch
    components, and the whole admission rule collapses to a driver-built
    REJECTED id set (every cross-hit doc, every member of a hit
    component, every non-min member of a clean component — bounded by
    2x the pair count) anti-joined broadcast-style against the batch.
    That replaces the lazy labeled/flagged/filter join chain the
    downstream consumer used to replay as ~6 AQE stage-jobs per batch
    (VERDICT r8 #3; the r7 #4 count-then-collect fusion was the same
    hunt). Past ``small_cc_threshold`` pairs it falls back to the
    distributed pointer-jumping CC + the join-chain rule, whose
    iterative lineage is checkpoint-truncated as usual.

    Driver-memory bound (ADVICE r9): the take() fetches up to
    ``small_cc_threshold + 1`` three-field Rows — (scope, id_matched,
    id_new), projected BEFORE the take, never the callers' full doc
    rows — so driver memory is threshold x ~100 bytes (~20 MB at the
    default), plus the union-find dicts over the distinct ids. Raising
    the threshold scales that linearly; the 200k default is the
    deliberate ceiling where the driver shortcut still beats the ~6
    scheduled stage-jobs the distributed rule costs per batch.
    """
    id_type = new_docs.schema[id_col].dataType
    pair_rows = dup_pairs.select("scope", "id_matched", "id_new").take(
        small_cc_threshold + 1
    )
    if len(pair_rows) <= small_cc_threshold:
        hits = {r["id_new"] for r in pair_rows if r["scope"] == "existing"}
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pair_rows:
            if r["scope"] != "batch":
                continue
            a, b = r["id_matched"], r["id_new"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        members: dict = {}
        for v in parent:
            members.setdefault(find(v), set()).add(v)
        rejected = set(hits)
        for root, comp in members.items():
            if comp & hits:
                rejected |= comp
            else:
                rejected |= comp - {min(comp)}
        if not rejected:
            return new_docs
        rej_df = new_docs.sparkSession.createDataFrame(
            [(x,) for x in rejected],
            T.StructType([T.StructField(id_col, id_type)]),
        )
        return new_docs.join(F.broadcast(rej_df), id_col, "left_anti")

    cross_hit = dup_pairs.filter(F.col("scope") == "existing").select(
        F.col("id_new").alias(id_col)
    ).distinct()
    comp_edges = dup_pairs.filter(F.col("scope") == "batch").select(
        F.col("id_matched").alias("src"), F.col("id_new").alias("dst")
    )
    # Component label = MIN member id; batch docs in no within-pair keep
    # their own id (left join + coalesce, the near_dup_components shape).
    # connected_components returns a checkpointed leaf (cache released).
    comps = connected_components(comp_edges)
    labeled = new_docs.join(
        comps.withColumnRenamed("v", id_col), id_col, "left"
    ).withColumn("__comp", F.coalesce(F.col("component"), F.col(id_col)))
    flagged = (
        labeled.join(cross_hit.withColumn("__hit", F.lit(True)), id_col, "left")
        .groupBy("__comp")
        .agg(F.max(F.coalesce(F.col("__hit"), F.lit(False))).alias("__any_hit"))
    )
    return (
        labeled.join(flagged, "__comp")
        .filter(~F.col("__any_hit") & (F.col(id_col) == F.col("__comp")))
        .select(*new_docs.columns)
    )


#: PageRank's damping factor (the random-surfer follow probability).
DAMPING = 0.85
#: pagerank runs graphs with at most this many vertices AND edges as one
#: driver-side numpy loop instead of distributed power iteration.
SMALL_GRAPH_THRESHOLD = 2000
#: pagerank's round cap, its L1-delta convergence tolerance, and the
#: distributed rounds per delta probe (each probe is a full extra job).
PR_MAX_ITER, PR_TOL, PR_TOL_CHECK_EVERY = 12, 1e-9, 4


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Weighted PageRank over a directed edge list — the influence /
    centrality companion to :func:`connected_components` (cluster
    structure). Data-curation uses: rank web domains by link authority
    before per-source quota caps, rank near-dup cluster members by
    reference structure, find hub users in interaction graphs.

    Per iteration (the classic power-iteration re-expression):

        contrib(v) = sum over in-edges (u, v) of rank(u) * w(u,v) / W(u)
        rank(v)   <- (1 - d)/N + d * (contrib(v) + dangling/N)

    where ``W(u)`` is u's total out-weight and ``dangling`` is the rank
    mass parked on vertices with no out-edges (redistributed uniformly —
    ranks always sum to 1). Stops when the L1 delta drops below
    ``PR_TOL`` or at ``PR_MAX_ITER``.

    Scale shape: each round is one join of the rank vector to the edge
    list on ``src`` (the rank side is vertex-sized; the edge side never
    re-shuffles once AQE plans the join) and one ``dst`` aggregation —
    both partial-combined. Ranks persist per round, the previous round
    unpersists as soon as the next lands, and lineage truncates via
    localCheckpoint every 5 rounds (the iterative-op
    rule). Driver-side values: three scalar aggregates per round
    (dangling mass, L1 delta via one join — vertex-sized, never edges).

    Double arithmetic: rank sums are IEEE reductions whose order varies
    with partitioning, so results are deterministic only to float
    tolerance — rows-only territory (numpy-checked in pytest), same
    class as the perplexity profile.

    Graphs at or under ``SMALL_GRAPH_THRESHOLD`` vertices AND edges run
    the identical recurrence as one dense numpy loop on the driver (the
    small-CC union-find hybrid pattern): ~2 cluster jobs x PR_MAX_ITER of
    scheduling overhead collapses to milliseconds, and both paths are
    pinned against each other in pytest. Dense cost is n² doubles —
    the default 2000 caps it at 32 MB.
    """
    e0 = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        (F.col(weight) if weight else F.lit(1.0)).cast("double").alias("w"),
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # zero/negative-weight edges carry no rank mass: drop them BEFORE the
    # out-weight division (ANSI mode makes w/0 a DIVIDE_BY_ZERO crash,
    # not a null), which also makes a vertex with ONLY zero-weight
    # out-edges dangling — the numpy reference's np.divide(where=)
    # convention. The vertex set still comes from the UNFILTERED edges so
    # such vertices stay in the graph (as dangling), not silently vanish.
    e = (
        e0.filter(F.col("w") > 0)
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .persist()
    )

    verts = (
        e0.select(F.col("src").alias("v"))
        .union(e0.select(F.col("dst").alias("v")))
        .distinct()
        .persist()
    )
    n = verts.count()
    if n == 0:
        e.unpersist()
        verts.unpersist()
        schema = f"v {edges.schema[src].dataType.simpleString()}, rank double"
        return edges.sparkSession.createDataFrame([], schema)

    out_w = e.groupBy("src").agg(F.sum("w").alias("__out_w"))
    # normalized transition weight per edge: w / W(src)
    trans = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("__out_w")).alias("p"))
        .persist()
    )
    trans.count()
    e.unpersist()

    # HYBRID execution (the small-CC union-find pattern, ops/lsh.py): a
    # small graph's power iteration is pure scheduling overhead as ~2
    # cluster jobs x PR_MAX_ITER — run it as one numpy loop on the driver
    # instead (identical recurrence; both paths are float-tolerance
    # territory and pytest pins them against each other). The threshold
    # bounds what the driver collects: normalized edges + the vertex set.
    m = trans.count()
    if max(n, m) <= SMALL_GRAPH_THRESHOLD:
        import numpy as np

        # sorted: collect order of a .distinct() is shuffle-dependent and
        # would permute the IEEE accumulation order of rank @ P — sorting
        # makes the driver path bit-stable at any parallelism
        vrows = sorted(r["v"] for r in verts.collect())
        idx = {v: i for i, v in enumerate(vrows)}
        P = np.zeros((n, n))
        for r in trans.collect():
            P[idx[r["src"]], idx[r["dst"]]] = r["p"]
        has_out = P.sum(axis=1) > 0
        rank = np.full(n, 1.0 / n)
        base_v = (1.0 - DAMPING) / n
        for it in range(PR_MAX_ITER):
            dangling = rank[~has_out].sum()
            nxt = base_v + DAMPING * (rank @ P + dangling / n)
            delta = np.abs(nxt - rank).sum()
            rank = nxt
            if delta < PR_TOL:
                break
        verts.unpersist()
        trans.unpersist()
        out_schema = T.StructType(
            [
                T.StructField("v", edges.schema[src].dataType),
                T.StructField("rank", T.DoubleType()),
            ]
        )
        return edges.sparkSession.createDataFrame(
            [(v, float(rank[idx[v]])) for v in vrows], out_schema
        )

    # dangling flag rides IN the vertex frame: the per-round dangling
    # mass is then one filtered aggregate on the cached rank vector, not
    # an anti-join per iteration
    flagged = (
        verts.join(
            trans.select(F.col("src").alias("v")).distinct().withColumn(
                "__has_out", F.lit(True)
            ),
            "v",
            "left",
        )
        .select("v", F.coalesce(F.col("__has_out"), F.lit(False)).alias("__has_out"))
        .persist()
    )
    flagged.count()
    verts.unpersist()

    ranks = flagged.select("v", "__has_out", F.lit(1.0 / n).alias("rank")).persist()
    base = (1.0 - DAMPING) / n
    # a round's frame is unpersisted only AFTER its child is materialized
    # by an action (the dangling collect or the delta probe) — releasing
    # earlier would make skipped-probe rounds recompute the whole join
    # chain back to the last checkpoint inside the next collect
    prev: DataFrame | None = None
    for it in range(PR_MAX_ITER):
        dangling = (
            ranks.filter(~F.col("__has_out")).agg(F.sum("rank")).collect()[0][0]
            or 0.0
        )
        if prev is not None:
            prev.unpersist()
            prev = None
        contrib = (
            ranks.join(trans, ranks["v"] == trans["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("__c"))
        )
        nxt = (
            flagged.join(contrib.withColumnRenamed("dst", "v"), "v", "left")
            .select(
                "v",
                "__has_out",
                (
                    F.lit(base)
                    + F.lit(DAMPING)
                    * (F.coalesce(F.col("__c"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
        )
        if (it + 1) % 5 == 0:
            nxt = nxt.localCheckpoint()
        else:
            nxt = nxt.persist()
        # the L1-delta convergence probe is a full extra job per round on
        # a small graph; ``PR_TOL_CHECK_EVERY`` amortizes it against the
        # hard PR_MAX_ITER (the iteration itself still runs via the
        # dangling-mass collect, which materializes nxt)
        if (it + 1) % PR_TOL_CHECK_EVERY == 0 or it == PR_MAX_ITER - 1:
            delta = (
                ranks.select("v", F.col("rank").alias("__prev"))
                .join(nxt, "v")
                .agg(F.sum(F.abs(F.col("rank") - F.col("__prev"))))
                .collect()[0][0]
            )
            # the probe materialized nxt: the parent can release now
            ranks.unpersist()
        else:
            delta = None
            prev = ranks  # still backs the lazy nxt — release next round
        ranks = nxt
        if delta is not None and delta < PR_TOL:
            break
    out = ranks.select("v", "rank").localCheckpoint()
    if prev is not None:
        prev.unpersist()
    ranks.unpersist()
    flagged.unpersist()
    trans.unpersist()
    return out


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 12,
    unit: int = 10**12,
) -> DataFrame:
    """Deterministic integer fixed-point PageRank — the oracle-checkable
    twin of :func:`pagerank` (whose IEEE rank sums are partition-order-
    sensitive at the ulp, hence rows-only). Every quantity is BIGINT and
    every division floors, so the recurrence is bit-exactly reproducible
    by a SQL recursive CTE and invariant to partitioning:

        n        = |vertices|
        rank0(v) = unit div n
        base     = (unit * 15) div (n * 100)
        flow(u,v)= (rank(u) * w(u,v)) div W(u)        W(u) = total out-weight
        dshare   = D div n                            D = sum of dangling ranks
        rank'(v) = base + ((contrib(v) + dshare) * 85) div 100

    i.e. damping 0.85 as exact 85/100 integer arithmetic. Floor drift
    leaks at most a few units per vertex per round, so ranks sum to
    slightly under ``unit`` — deterministic, and at unit=1e12 the drift
    is ~1e-9 relative: far below any ranking-relevant difference.
    FIXED iteration count (no float tolerance probe) keeps the plan a
    pure function of the data.

    Overflow headroom: rank*w must fit BIGINT, so with unit=1e12 edge
    weights (transition counts) up to ~9e6 are safe; drop unit to 1e9
    for heavier edges. Weights must be positive integers (zero/negative
    edges are dropped BEFORE W, the :func:`pagerank` convention).

    Scale shape: intended for SMALL VERTEX DOMAINS (event types,
    categories, sources — state tables, not web graphs). The rank frame
    is vertex-sized; the dangling sum runs as a single-partition window
    over it BY DESIGN, and each round localCheckpoints it (eager,
    iterative-op rule), so cost is ~iters scheduler round-trips over a
    tiny frame. For web-scale vertex sets use :func:`pagerank`, whose
    contrib joins distribute.
    """
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            (F.col(weight) if weight else F.lit(1)).cast("long").alias("w"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull() & (F.col("w") > 0))
        .localCheckpoint()  # referenced every round — truncate once
    )
    # fresh top-level exprIds after every checkpoint: localCheckpoint
    # PRESERVES output attribute ids, so e's and outw's LogicalRDDs would
    # otherwise both carry src#N and trip the ambiguous-self-join check
    # when they meet in one join tree
    def _fresh(df: DataFrame) -> DataFrame:
        return df.select(*[F.col(c).alias(c) for c in df.columns])

    e = _fresh(e)
    outw = _fresh(
        e.groupBy("src").agg(F.sum("w").alias("__ow")).localCheckpoint()
    ).withColumnRenamed("src", "__osrc")
    verts = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    r = (
        verts.withColumn("__n", F.count(F.lit(1)).over(wall))
        .select(
            "v",
            "__n",
            F.expr(f"CAST({unit} AS BIGINT) div __n").alias("rank"),
        )
        .localCheckpoint()
    )
    r = _fresh(r)
    for _ in range(iters):
        # ONE reference to the (checkpointed) rank frame per round keeps
        # lineage linear; rw's double use below re-runs only a broadcast
        # join over the checkpoint scan
        rw = (
            r.join(outw, r["v"] == outw["__osrc"], "left")
            .select("v", "__n", "rank", "__ow")
            .withColumn(
                "__dang",
                F.sum(
                    F.when(F.col("__ow").isNull(), F.col("rank")).otherwise(
                        F.lit(0).cast("long")
                    )
                ).over(wall),
            )
        )
        contrib = (
            rw.join(e, F.col("v") == F.col("src"))
            .select(F.col("dst").alias("v"), F.expr("(rank * w) div __ow").alias("__flow"))
            .groupBy("v")
            .agg(F.sum("__flow").alias("__contrib"))
        )
        r = (
            rw.select("v", "__n", "__dang")
            .join(contrib, "v", "left")
            .select(
                "v",
                "__n",
                (
                    F.expr(f"(CAST({unit} AS BIGINT) * 15) div (__n * 100)")
                    + F.expr(
                        "((coalesce(__contrib, CAST(0 AS BIGINT))"
                        " + (__dang div __n)) * 85) div 100"
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        r = _fresh(r)
    return r.select("v", F.col("rank").alias("rank_fp"))
