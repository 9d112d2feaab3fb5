package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Graph analytics over relational edge tables — the similarity-graph
  * companion to [[DedupOps.connectedComponents]]: once near-dup pairs
  * form a graph, centrality ranks the canonical representative (or
  * surfaces hub documents) without leaving DataFrames.
  *
  * PageRank (Page et al. 1998, the simplified no-dangling-mass form)
  * as iterative relational algebra: each iteration is one join of the
  * rank vector against the (edge, out-degree) relation plus one
  * dst-keyed partial-aggregated sum — the exact shuffle shape of a
  * sparse matrix-vector multiply. At cluster scale, pre-partition
  * `edges` and the rank vector on the same key so the per-iteration
  * join is co-located (bucketing does this for free on a persisted
  * edge table — see [[triangleStatsBucketed]] for the pattern).
  *
  * Iteration-state durability: every round's state is persisted at
  * MEMORY_AND_DISK with lineage RETAINED and the previous round
  * explicitly unpersisted — storage held is one round's vector
  * (small: per-node, not per-edge), and an executor
  * loss recomputes the lost blocks from lineage instead of killing the
  * job (`localCheckpoint` would discard lineage, making lost blocks
  * unrecoverable; reliable `checkpoint` needs a caller-owned
  * checkpoint dir). The DataFrame plan is re-rooted on the persisted
  * RDD each round so analysis cost stays one-round deep instead of
  * doubling per round.
  *
  * Arithmetic contract (cross-engine): init 1.0/N; update
  * (1.0 - d)/N + d * coalesce(sum(pr_src / outdeg_src), 0.0) — every
  * constant an IEEE op both engines perform identically, so an oracle
  * replaying the same expressions reproduces the doubles to summation
  * noise.
  */
object GraphOps {

  /** Materialize one iteration's state durably: persist the rows at
    * MEMORY_AND_DISK (lineage retained — recoverable after executor
    * loss; memory-first because the r7 driver bench showed DISK_ONLY
    * round state amplifying host disk contention 23x on q174 where
    * other queries saw 3-15x),
    * force computation, drop round n-1's blocks, and re-root the
    * DataFrame on the persisted RDD so the logical plan doesn't grow
    * with the round count. Returns (round DataFrame, its RDD handle —
    * pass it back as `prev` next round). */
  private def materializeRound(df: DataFrame, prev: Option[RDD[Row]])
      : (DataFrame, RDD[Row]) = {
    val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count() // compute round n BEFORE releasing round n-1
    prev.foreach(_.unpersist(false))
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** PageRank over a directed edge list. Nodes = distinct src ∪ dst;
    * nodes without in-edges settle at (1-d)/N; out-edge-less nodes
    * leak their mass (the simplified form — mirror it in any oracle).
    *
    * Edge contract: the list is treated as a MULTIGRAPH — duplicate
    * (src, dst) rows add to the out-degree and contribute twice, and a
    * self-loop feeds a node its own rank. Callers wanting simple-graph
    * semantics (every current in-repo caller) must `.distinct()` the
    * symmetrized pairs first; any oracle must replay the same choice.
    * Returns (node, pr). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodesRdd = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.sparkSession.createDataFrame(nodesRdd,
      e.select(col("src").as("node")).schema)
    val n = nodes.count().toDouble
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // (src, dst, deg) scanned once per iteration
    val edRdd = e.join(deg, "src").rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val ed = e.sparkSession.createDataFrame(edRdd, e.join(deg, "src").schema)
    var p = nodes.withColumn("pr", lit(1.0) / lit(n))
    var prev: Option[RDD[Row]] = None
    for (_ <- 1 to iters) {
      val contrib = ed.join(p, col("src") === col("node"))
        .select(col("dst"), (col("pr") / col("deg")).as("w"))
        .groupBy(col("dst")).agg(sum(col("w")).as("sw"))
      val next = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(1.0 - damping) / lit(n) +
            lit(damping) * coalesce(col("sw"), lit(0.0))).as("pr"))
      val (pm, rdd) = materializeRound(next, prev)
      p = pm; prev = Some(rdd)
    }
    nodesRdd.unpersist(false)
    edRdd.unpersist(false)
    p
  }

  /** Synchronous label propagation (community detection) over a
    * DIRECTED edge list (pass both directions for undirected graphs):
    * labels start as node ids; each round every node adopts the most
    * frequent label among its in-neighbors, ties to the SMALLEST
    * label — a fully deterministic round, so any engine replaying the
    * rule reproduces the labels exactly (unlike the randomized
    * classic). Per round: one label join + one (node, label)-keyed
    * partial-aggregated count + one argmin — the PageRank shuffle
    * shape with a struct-min instead of a sum. Nodes without
    * in-neighbors keep their label.
    *
    * Edge contract: MULTIGRAPH, like [[pageRank]] — duplicate
    * (src, dst) rows double that neighbor's vote in the frequency
    * count. Callers wanting simple-graph semantics must `.distinct()`
    * first (all current in-repo callers do); oracles must match.
    * Returns (node, community) after `iters` rounds. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    val eRdd = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val e = edges.sparkSession.createDataFrame(eRdd,
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).schema)
    var lab = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().withColumn("lab", col("node"))
    var prev: Option[RDD[Row]] = None
    val (lab0, rdd0) = materializeRound(lab, None)
    lab = lab0; prev = Some(rdd0)
    for (_ <- 1 to iters) {
      val counts = e.join(lab, col("src") === col("node"))
        .groupBy(col("dst"), col("lab").as("nl"))
        .agg(count(lit(1)).as("c"))
      // argmax count, ties to smallest label: lexicographic struct min
      val best = counts.groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("negc"), col("nl").as("l")))
          .as("m"))
        .select(col("dst"), col("m.l").as("newlab"))
      val next = lab.join(best, col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("newlab"), col("lab")).as("lab"))
      val (lm, rdd) = materializeRound(next, prev)
      lab = lm; prev = Some(rdd)
    }
    eRdd.unpersist(false)
    lab.select(col("node"), col("lab").as("community"))
  }

  /** Wedge-join triangle enumeration over a canonical distinct edge
    * relation (a < b) — the body of [[triangleStatsBucketed]]. */
  private def triangleCore(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("cc",
        when(col("deg") < 2, lit(0.0)).otherwise(
          lit(2.0) * col("tri") / (col("deg") * (col("deg") - lit(1L)))))
  }

  /** Per-node triangle count, degree, and local clustering
    * coefficient over an UNDIRECTED edge list given as canonical
    * pairs (`aCol` < `bCol`; duplicates removed here). The standard
    * distributed triangle enumeration: each triangle x<y<z is found
    * exactly once by joining wedge (x,y)+(y,z) against closing edge
    * (x,z) — join keys are node ids, so every stage is an equi-join
    * whose cost is edge-degree bound, never all-triples.
    * cc = 2*t / (deg*(deg-1)) (0 when deg < 2).
    *
    * The canonical edge relation is first persisted as a
    * bucketed+sorted table on `a` (via [[ScaleOps.writeBucketed]]),
    * so the edge sides keyed on `a` — the e2 wedge side and the e3
    * closing-edge side (bucket key `a` is a subset of its (a, b) join
    * clustering) — scan pre-partitioned with no shuffle exchange. The
    * 100 TB shape: a similarity graph is built once and mined many
    * times, so the edge table should live bucketed on disk rather than
    * be re-shuffled per query. */
  def triangleStatsBucketed(spark: SparkSession, pairs: DataFrame,
                            aCol: String, bCol: String,
                            table: String = "graft_tri_edges",
                            buckets: Int = 32): DataFrame = {
    val e = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b")).distinct()
    ScaleOps.writeBucketed(e, table, "a", buckets)
    triangleCore(spark.table(table))
  }

  /** Weighted PageRank over a directed edge list with INTEGER edge
    * weights (similarity-weighted centrality — pass e6-pinned
    * similarity scores as weights so the out-weight sums stay exact
    * integers): update (1-d)/N + d * sum(pr_src * w / W_src), where
    * W_src is the exact integer out-weight total. The only
    * order-dependent float accumulation is the per-dst contribution
    * sum — the same accepted class as [[pageRank]] (oracle at e6,
    * partition-parity spec coverage). Zero-weight edges contribute
    * nothing; a node whose W_src is 0 leaks its mass like an
    * out-edge-less node in the unweighted form.
    *
    * Edge contract: MULTIGRAPH, like [[pageRank]] — duplicate rows
    * add their weights. Returns (node, pr). */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int,
                       damping: Double = 0.85): DataFrame = {
    val sel = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(weightCol).cast("long").as("w"))
    val nodesRdd = sel.select(col("src").as("node"))
      .union(sel.select(col("dst").as("node")))
      .distinct().rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = sel.sparkSession.createDataFrame(nodesRdd,
      sel.select(col("src").as("node")).schema)
    val n = nodes.count().toDouble
    val wsum = sel.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val edRdd = sel.join(wsum, "src").filter(col("wsum") > 0)
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val ed = sel.sparkSession.createDataFrame(edRdd,
      sel.join(wsum, "src").schema)
    var p = nodes.withColumn("pr", lit(1.0) / lit(n))
    var prev: Option[RDD[Row]] = None
    for (_ <- 1 to iters) {
      val contrib = ed.join(p, col("src") === col("node"))
        .select(col("dst"),
          (col("pr") * col("w").cast("double") /
            col("wsum").cast("double")).as("wc"))
        .groupBy(col("dst")).agg(sum(col("wc")).as("sw"))
      val next = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(1.0 - damping) / lit(n) +
            lit(damping) * coalesce(col("sw"), lit(0.0))).as("pr"))
      val (pm, rdd) = materializeRound(next, prev)
      p = pm; prev = Some(rdd)
    }
    nodesRdd.unpersist(false)
    edRdd.unpersist(false)
    p
  }

  /** Newman modularity per community — the quality score for a
    * community assignment ([[labelPropagation]]'s output, or any
    * (node, label) table): contribution of community c is
    * e_in/m - (d_c/2m)^2 over the DIRECTED double-counted edge list
    * (an undirected graph passed as symmetric pairs — so e_in2 counts
    * each internal undirected edge twice and m2 = 2m, and the
    * classical formula becomes e_in2/m2 - (d_c/m2)^2). Total Q is the
    * sum over rows. All inputs are exact integer counts; the two
    * divisions are single IEEE ops, so the e6 pin is engine-
    * independent.
    *
    * Scale shape: two label-keyed broadcast-or-shuffle joins of the
    * community table onto the edges + three partial-aggregated
    * counts; the only driver value is the total edge count. Every
    * label in `labels` gets a row (zero-internal-edge communities
    * coalesce to 0). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String, labCol: String)
      : DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val lab = labels.select(col(nodeCol).cast("long").as("node"),
      col(labCol).cast("long").as("c"))
    val m2 = e.count()
    require(m2 > 0, "modularity needs a non-empty edge list")
    val dc = e.join(lab, col("src") === col("node"))
      .groupBy(col("c")).agg(count(lit(1)).as("d_c"))
    val ein = e
      .join(lab.select(col("node").as("sn"), col("c").as("cs")),
        col("src") === col("sn"))
      .join(lab.select(col("node").as("dn"), col("c").as("cd")),
        col("dst") === col("dn"))
      .filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("c")).agg(count(lit(1)).as("e_in2"))
    val nn = lab.groupBy(col("c")).agg(count(lit(1)).as("n_nodes"))
    nn.join(dc, Seq("c"), "left").join(ein, Seq("c"), "left")
      .select(col("c").as("community"), col("n_nodes"),
        coalesce(col("e_in2"), lit(0L)).as("e_in2"),
        coalesce(col("d_c"), lit(0L)).as("d_c"))
      .withColumn("modularity",
        col("e_in2").cast("double") / lit(m2.toDouble) -
          (col("d_c").cast("double") / lit(m2.toDouble)) *
          (col("d_c").cast("double") / lit(m2.toDouble)))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a directed edge
    * list, in the UNNORMALIZED integer form: h_0 = 1 for every node,
    * then per round a = A^T h (authority = sum of in-neighbor hub
    * scores) and h = A a using the fresh authorities. Without the
    * usual L2 normalization every round is a pure integer sum —
    * associative, so the scores are EXACTLY engine-independent (the
    * ranking they induce is identical to normalized HITS, which only
    * rescales). Integer growth is ~(max degree)^(2*iters) per round
    * pair: at the default 2 iterations a degree-1e4 hub graph peaks
    * ~1e16 < 2^63; for deeper runs or hotter hubs switch to doubles
    * and oracle at e6 like [[pageRank]].
    *
    * Edge contract: MULTIGRAPH, like [[pageRank]] — duplicate edges
    * double their contribution; callers wanting simple-graph
    * semantics must `.distinct()` first, and oracles must match.
    * Per round: two edge-keyed partial-aggregated shuffles (the
    * sparse mat-vec shape). Returns (node, hub, auth) after `iters`
    * rounds; nodes with no in-edges have auth 0, no out-edges hub 0.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8]: $iters")
    // persist the edge list once — the upstream derivation (often an
    // expensive similarity-pair job) must not recompute 2x per round
    val eRdd = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val e = edges.sparkSession.createDataFrame(eRdd,
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).schema)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var h = nodes.withColumn("hub", lit(1L))
    var a: DataFrame = null
    var prev: Option[RDD[Row]] = None
    for (_ <- 1 to iters) {
      val auth = e.join(h, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("s"))
      a = nodes.join(auth, col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("auth"))
      val hub = e.join(a.withColumnRenamed("node", "dn"),
          col("dst") === col("dn"))
        .groupBy(col("src")).agg(sum(col("auth")).as("s"))
      val next = nodes.join(a, "node")
        .join(hub, col("node") === col("src"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("hub"),
          col("auth"))
      val (nm, rdd) = materializeRound(next, prev)
      h = nm.select(col("node"), col("hub"))
      a = nm.select(col("node"), col("auth"))
      prev = Some(rdd)
    }
    eRdd.unpersist(false)
    h.join(a, "node").select(col("node"), col("hub"), col("auth"))
  }

  /** Bounded k-core peeling: `rounds` iterations of "remove every node
    * with degree < k, then recount". With enough rounds this converges
    * to the exact k-core; a FIXED round count is declared instead so
    * the result is replayable as a finite oracle (the GraphOps
    * iteration contract — same as pageRank/labelPropagation). Edge
    * contract: callers pass the symmetrized distinct edge list, so
    * degree = COUNT over outgoing rows.
    *
    * Per round: one degree aggregation + two semi joins (both ends
    * must survive) — all key-partitioned; surviving-edge state is
    * persisted MEMORY_AND_DISK and re-rooted per round like every GraphOps
    * iteration (lineage kept, round n-1 released). Returns the nodes
    * still standing after the last peel with their residual degrees:
    * (node, deg). */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad k=$k or rounds=$rounds")
    var e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    var prev: Option[RDD[Row]] = None
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("__keep"))
      val next = e
        .join(keep, col("src") === col("__keep"), "left_semi")
        .join(keep, col("dst") === col("__keep"), "left_semi")
      val (em, rdd) = materializeRound(next, prev)
      e = em; prev = Some(rdd)
    }
    // the result reads from the last persisted round's RDD; it stays
    // pinned (MEMORY_AND_DISK) until the session drops it — same contract as
    // the other GraphOps iterations' final round
    e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
  }

  /** Personalized PageRank (random walk with restart to a SEED set —
    * Jeh & Widom 2003's topic-sensitive form): the teleport vector is
    * uniform over the seed nodes present in the graph instead of over
    * all nodes, so rank mass concentrates around the seeds. The
    * data-curation use: given a few hand-blessed (or hand-flagged)
    * documents, rank the rest of the similarity graph by proximity —
    * "find more like these" / "find everything contaminated by
    * these" without an embedding model.
    *
    * Same iterative sparse mat-vec shuffle shape, durability contract
    * (MEMORY_AND_DISK + re-root + release n-1), and multigraph edge
    * contract as [[pageRank]]. Arithmetic (mirror in oracles): tele(v)
    * = 1/|S| for seed nodes (|S| counts only seeds PRESENT in the
    * graph; absent seed ids are ignored), else 0.0; init pr = tele;
    * update (1-d)*tele + d*coalesce(sum(pr_src/deg_src), 0.0).
    * Out-edge-less nodes leak mass, exactly as in [[pageRank]].
    * Returns (node, pr). */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: Seq[Long], iters: Int,
                           damping: Double = 0.85): DataFrame = {
    require(seeds.nonEmpty && iters >= 1,
      s"need seeds and iters >= 1, got ${seeds.size}, $iters")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodesRdd = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.sparkSession.createDataFrame(nodesRdd,
      e.select(col("src").as("node")).schema)
    val seedSet = col("node").isInCollection(seeds)
    val nSeeds = nodes.filter(seedSet).count().toDouble
    require(nSeeds > 0, "no seed id is present in the graph")
    val tele = when(seedSet, lit(1.0) / lit(nSeeds)).otherwise(lit(0.0))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edRdd = e.join(deg, "src").rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val ed = e.sparkSession.createDataFrame(edRdd, e.join(deg, "src").schema)
    var p = nodes.withColumn("pr", tele)
    var prev: Option[RDD[Row]] = None
    for (_ <- 1 to iters) {
      val contrib = ed.join(p, col("src") === col("node"))
        .select(col("dst"), (col("pr") / col("deg")).as("w"))
        .groupBy(col("dst")).agg(sum(col("w")).as("sw"))
      val next = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * tele +
            lit(damping) * coalesce(col("sw"), lit(0.0))).as("pr"))
      val (pm, rdd) = materializeRound(next, prev)
      p = pm; prev = Some(rdd)
    }
    nodesRdd.unpersist(false)
    edRdd.unpersist(false)
    p
  }

  /** Deterministic random walks over a directed edge list — the
    * DeepWalk / node2vec corpus-generation step (Perozzi et al. 2014)
    * with the RNG replaced by a hash: from node u at step s of walk w,
    * the next hop is the out-neighbor v minimizing
    * md5Hash32("walk:" + w + ":" + s + ":" + u + ":" + v) — a
    * per-(walk, step, node) pseudo-random uniform choice that every
    * engine (and every re-run, at any parallelism) reproduces exactly.
    * Walks that reach an out-edge-less node stop early (standard
    * truncation).
    *
    * Scale shape: `steps` joins of the frontier (|nodes| x
    * walksPerNode rows) against the edge table, each followed by one
    * (walk, step, node)-keyed argmin aggregation — no per-node
    * neighbor collection, no driver loop over nodes. The output is
    * the training corpus for skip-gram-style graph embeddings; feed
    * it to the window/pairing ops downstream.
    *
    * Returns (start, walk, step, node): step 0 is the start node
    * itself, step k the position after k hops. */
  def deterministicWalks(edges: DataFrame, srcCol: String,
                         dstCol: String, walksPerNode: Int,
                         steps: Int): DataFrame = {
    require(walksPerNode >= 1 && steps >= 1,
      s"bad walksPerNode=$walksPerNode or steps=$steps")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // walk ids via a literal-sequence explode, not a crossJoin: same
    // fan-out, no join operator in the plan
    val starts = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .select(col("node").as("start"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walk"))
    var frontier = starts.select(col("start"), col("walk"),
      lit(0).as("step"), col("start").as("node"))
    var acc = frontier
    for (s <- 1 to steps) {
      val hop = frontier.join(e, col("node") === col("src"))
        .select(col("start"), col("walk"),
          struct(
            CurationOps.md5Hash32(concat_ws(":", lit("walk"),
              col("walk"), lit(s), col("node"), col("dst"))).as("h"),
            col("dst").as("nxt")).as("pick"))
        .groupBy(col("start"), col("walk"))
        .agg(min(col("pick")).as("pick"))
        .select(col("start"), col("walk"), lit(s).as("step"),
          col("pick.nxt").as("node"))
      frontier = hop
      acc = acc.unionByName(hop)
    }
    // materialize once: the walk table is nodes x walksPerNode x
    // (steps+1) rows, and every consumer (skip-gram self-join = TWO
    // scans, window pairing, sinks) would otherwise re-run the whole
    // steps-deep join chain per scan
    acc.localCheckpoint(false)
  }

  /** Skip-gram training pairs from a walk corpus (the output contract
    * of [[deterministicWalks]]): for every walk, each (center,
    * context) node pair within `window` steps of each other —
    * exactly the pair extraction DeepWalk feeds to word2vec, with
    * pair frequencies aggregated (the trainer wants counts, not the
    * raw stream). Direction-signed offsets collapse: (u, v) from
    * offset +2 and (u, v) from offset -2 both count toward (u, v).
    *
    * Scale shape: one self-join of the walk table keyed on
    * (start, walk) — each side bounded by walk length, so the
    * per-walk fan-out is steps x window, then one (center, context)
    * partial-agg count. Returns (center, context, n). */
  def walkSkipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val a = walks.select(col("start").as("__s"), col("walk").as("__w"),
      col("step").as("__pa"), col("node").as("center"))
    val b = walks.select(col("start").as("__s2"),
      col("walk").as("__w2"), col("step").as("__pb"),
      col("node").as("context"))
    a.join(b, col("__s") === col("__s2") && col("__w") === col("__w2") &&
        col("__pa") =!= col("__pb") &&
        abs(col("__pa") - col("__pb")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Two-hop reach per node over a DIRECTED edge list (symmetrize
    * for undirected): the count of DISTINCT nodes reachable in
    * exactly <= 2 hops, excluding the node itself — the "blast
    * radius" of a contaminated document in the similarity graph
    * (1-hop near-dups plus their near-dups). One edge self-join on
    * the middle node + one distinct count, both key-partitioned;
    * fan-out is bounded by sum of deg(u)·deg(mid) — degree-cap the
    * edge list first on hub-heavy graphs (the q116 wedge discipline).
    * Output: (node, deg, reach2). */
  def twoHopReach(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
    val oneHop = e.select(col("src"), col("dst").as("__r"))
    val twoHop = e.as("a").join(
        e.select(col("src").as("__m"), col("dst").as("__r")).as("b"),
        col("a.dst") === col("__m"))
      .select(col("a.src").as("src"), col("__r"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    oneHop.unionByName(twoHop)
      .filter(col("__r") =!= col("src"))
      .distinct()
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("reach2"))
      .join(deg.select(col("src").as("node"), col("deg")), "node")
      .select(col("node"), col("deg"), col("reach2"))
  }

  /** Multi-source BFS hop distances, bounded at `maxHops`: per round
    * ONE frontier-edge join + one distinct + one anti-join against the
    * settled set — the textbook frontier relaxation as relational
    * algebra, with round state made durable exactly like [[pageRank]]
    * (MEMORY_AND_DISK persist, round n-1 released, plan re-rooted so
    * analysis cost stays one round deep). Early-exits when a frontier
    * empties (the count is the same action that forces the round).
    * Returns (node, dist) for every node within `maxHops` of a seed;
    * unreachable nodes are absent (callers outer-join as needed). */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: Seq[Long], maxHops: Int): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
    val spark = edges.sparkSession
    import spark.implicits._
    var dist = seeds.toDF("node").withColumn("dist", lit(0L))
    var frontier = dist.select(col("node"))
    var prev: Option[RDD[Row]] = None
    var h = 1
    var done = false
    while (h <= maxHops && !done) {
      val next = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
      val (nm, rdd) = materializeRound(dist.unionByName(next), prev)
      done = nm.count() == dist.count() // no new nodes settled
      dist = nm; prev = Some(rdd)
      frontier = dist.filter(col("dist") === h.toLong).select(col("node"))
      h += 1
    }
    dist
  }

  /** Degree assortativity of an undirected graph (pass both edge
    * directions): the Pearson correlation between the degrees at the
    * two ends of each edge (Newman 2002's r, computed over the
    * directed-pair list, which for a symmetrized simple graph equals
    * the undirected definition). One degree aggregate joined back to
    * both endpoints (key-partitioned — the degree table is node-sized,
    * so it is NOT broadcast; AQE downgrades to broadcast when small) +
    * one corr aggregate — no iteration. Returns one row (n_edges, r). */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
    // degree from BOTH endpoint columns: on a symmetrized graph this
    // doubles every degree — r is invariant (Pearson under exact
    // power-of-2 scaling, bit-for-bit); on an unsymmetrized list it
    // is the correct total degree, and no edge is silently dropped
    // for having a dst with no out-edges (r6 ADVICE — the old
    // out-degree inner join did exactly that)
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    e.join(deg.select(col("node").as("src"), col("deg").as("dx")),
        Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")),
        Seq("dst"))
      .agg(count(lit(1)).as("n_edges"),
        avg(col("dx").cast("double")).as("mx"),
        avg(col("dy").cast("double")).as("my"),
        avg(col("dx").cast("double") * col("dy").cast("double")).as("mxy"),
        avg(col("dx").cast("double") * col("dx").cast("double")).as("mxx"),
        avg(col("dy").cast("double") * col("dy").cast("double")).as("myy"))
      // population-moment Pearson form, guarded: a regular graph (zero
      // degree variance) yields r = NULL, matching SQL corr semantics
      // without ANSI divide-by-zero (and the expression tree is
      // oracle-replayable, unlike engine-internal streaming corr).
      .select(col("n_edges"),
        when((col("mxx") - col("mx") * col("mx")) > 0.0 &&
            (col("myy") - col("my") * col("my")) > 0.0,
          (col("mxy") - col("mx") * col("my")) /
            sqrt((col("mxx") - col("mx") * col("mx")) *
              (col("myy") - col("my") * col("my"))))
          .as("r"))
  }
}
