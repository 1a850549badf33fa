package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph centrality for corpus curation.
  *
  * Web-scale training corpora weight and filter documents by the
  * standing of their source in the link graph (Common Crawl publishes
  * harmonic-centrality / PageRank domain rankings for exactly this
  * purpose). This operator computes PageRank over an arbitrary
  * (src, dst) edge frame as iterative key-partitioned joins — no
  * driver-side graph materialization, so it scales to edge sets that
  * never fit one machine.
  *
  * Determinism by design: ranks are carried as FIXED-POINT integers
  * (`scale` units = rank 1.0, default nano-rank 1e9), all updates are
  * integer multiply/divide, and every aggregation is a sum of longs —
  * associative and exact. A float PageRank changes in the last ulps
  * whenever Spark re-orders a partial sum (task retry, AQE coalesce,
  * speculative execution); this one returns bit-identical ranks on
  * every run, which makes it safe to hash-compare, cache, and
  * incrementally diff — and lets an external engine replay the exact
  * recurrence (see [[graft.OracleSqlGen.pageRank]]).
  *
  * Update rule (classic damped PageRank, Page et al. 1999, with
  * dangling-mass redistribution):
  * {{{
  *   contrib(u)  = rank(u) div outdeg(u)                 (u non-dangling)
  *   dangShare   = sum(rank(d) for dangling d) div N
  *   rank'(v)    = base + dampNum * (inbound(v) + dangShare) div dampDen
  *   base        = scale * (dampDen - dampNum) div dampDen
  * }}}
  * All divisions are floor divisions on non-negative longs (Scala `/`
  * and DuckDB `//` agree there). Truncation loses at most 1 unit per
  * division — at nano-rank resolution a relative error of 1e-9 per
  * step, irrelevant for ranking and identical on every engine.
  *
  * Overflow bound: the damping multiply is the widest intermediate —
  * `dampNum * totalMass` with totalMass = N * scale must stay under
  * 2^63, so at the default scale=1e9, dampNum=17 the operator is safe
  * to ~5×10^8 nodes; drop `scale` to 1e6 for a 5×10^11-node graph.
  * (Spark 4 runs ANSI mode: an overflow would throw loudly, never
  * wrap silently.)
  *
  * Scale shape per iteration (re-derived in r18 from StageProbe
  * evidence — the r17 round paid FOUR task waves over three exchanges
  * and the per-stage scheduling floor dominated the benched SF):
  *   - one shuffle of the state projection to the edge cache's
  *     hash(src) partitioning (the edges NEVER move — the cache's
  *     REPARTITION_BY_COL partitioning is reused every round);
  *   - one shuffle of (dst, contrib) partial sums for the inbound
  *     aggregation (map-side combiner runs before the exchange);
  *   - ZERO further exchanges: the rank update joins the inbound sums
  *     against a static cached `nodes(id, outdeg)` frame whose
  *     PERSISTED hash(id) partitioning matches the aggregation's —
  *     the r17 shape re-shuffled the checkpointed state here every
  *     round, because a localCheckpoint forgets its partitioning
  *     under AQE while an InMemoryRelation records it.
  * The dangling total rides each round's checkpoint materialization
  * as an Observation metric and enters the next round as a literal,
  * so one round = one job with no side jobs; per-round driver state
  * is two longs. Each round is `localCheckpoint`ed — lineage would
  * otherwise grow with the iteration count — and the superseded
  * round's storage is released eagerly
  * ([[GraftBridge.unpersistCheckpoint]]); on a real cluster prefer
  * reliable `checkpoint()`. Before the checkpoint the state is
  * `coalesce`d (narrow, no shuffle) to a partition count derived from
  * the OBSERVED node count (~256k state rows per partition), so a
  * small graph stops paying a full task wave per stage while a
  * 100 TB one keeps every shuffle partition — the scale-adaptive
  * partitioning rule of optimization-guide §2.
  *
  * Fixed `iters` rather than a convergence test: curation wants a
  * reproducible artifact, and a convergence probe would cost an extra
  * global aggregate per round for a stopping point that data drift
  * then moves between runs.
  *
  * Semantics notes: parallel edges collapse (`DISTINCT src, dst`);
  * self-loops are ordinary edges (count toward outdeg, contribute to
  * self); NULL endpoints are dropped; nodes appearing only as `dst`
  * are dangling (outdeg 0).
  */
object Graph {

  /** State rows one post-round partition should hold (~24 B each →
    * ~6 MB partitions). Derives the coalesce width from the observed
    * node count; at any real graph size the width saturates at the
    * shuffle-partition count and the coalesce is a no-op. */
  private val StateRowsPerPartition = 262144L

  /** PageRank over `edges(srcCol, dstCol)` (long-compatible ids).
    * Returns (id LONG, rank LONG) — rank in `scale` fixed-point units,
    * total mass ≈ N * scale.
    */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
               iters: Int = 8, scale: Long = 1_000_000_000L,
               dampNum: Long = 17L, dampDen: Long = 20L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping $dampNum/$dampDen outside [0, 1]")
    require(scale > 0, s"scale must be positive, got $scale")
    val eParts = edgePartitions(edges)
    val e = prepareEdges(edges, srcCol, dstCol, eParts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodeOutdeg(e).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val setupT0 = System.nanoTime()
      if (sys.env.contains("GRAFT_DEBUG_PR")) {
        val ec = e.count()
        System.err.println(s"[pageRank] edge materialize: " +
          s"${(System.nanoTime() - setupT0) / 1e9}s, |E|=$ec")
      }
      // N and the initial dangling mass ride the first checkpoint
      // materialization as Observation metrics (exact integer sums);
      // the same job populates the `nodes` cache the rounds join.
      val obs0 = Observation()
      var state = nodes.withColumn("rank", lit(scale))
        // narrow width reduction sized like the edge pipeline, so round
        // 1's contribution scan doesn't pay a full shuffle-partition
        // task wave over near-empty checkpoint partitions (n is not
        // observed yet at this point; later rounds re-derive from n)
        .coalesce(eParts)
        .observe(obs0, count(lit(1)).as("n"), danglingMass)
        .localCheckpoint(true)
      val n = observed(obs0, "n",
        state.agg(count(lit(1))).head.getLong(0))
      var dang = observed(obs0, "dang",
        state.agg(danglingMass).head.getLong(0))
      if (sys.env.contains("GRAFT_DEBUG_PR"))
        System.err.println(s"[pageRank] setup (edges + degrees + initial " +
          s"state): ${(System.nanoTime() - setupT0) / 1e9}s, n=$n")
      val base = scale * (dampDen - dampNum) / dampDen
      if (n == 0) return state.select(col("id"), col("rank")) // empty graph
      // post-round partitions sized to the observed state (see scaladoc)
      val parts = math.min(
        e.sparkSession.conf.get("spark.sql.shuffle.partitions").toLong,
        math.max(1L, (n + StateRowsPerPartition - 1) / StateRowsPerPartition))
        .toInt
      for (it <- 0 until iters) {
        val roundT0 = System.nanoTime()
        val obs = Observation()
        val next = round(e, nodes, state, n, base, dampNum, dampDen, dang, parts)
          .observe(obs, danglingMass)
          .localCheckpoint(true)
        dang = observed(obs, "dang",
          next.agg(danglingMass).head.getLong(0))
        GraftBridge.unpersistCheckpoint(state)
        state = next
        if (sys.env.contains("GRAFT_DEBUG_PR"))
          System.err.println(s"[pageRank] round ${it + 1}: " +
            s"${(System.nanoTime() - roundT0) / 1e9}s")
      }
      state.select(col("id"), col("rank"))
    } finally {
      e.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /** Bounded Observation read (ADVICE r17): `Observation.get` waits on
    * an async listener event with no timeout — a dropped event would
    * hang the driver loop forever. Poll the non-blocking view with a
    * deadline and fall back to `direct` (a 1-row aggregate over the
    * already-checkpointed frame — cheap, and arithmetically the same
    * exact integer sum the metric carries). The fallback logs a WARN:
    * a metric that never arrives points at a listener-bus problem. */
  private def observed(obs: Observation, key: String, direct: => Long): Long = {
    val startNs = System.nanoTime()
    val deadlineNs = startNs + 30L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadlineNs) {
      val m = GraftBridge.observationOrEmpty(obs)
      if (m.nonEmpty) return m(key).asInstanceOf[Long]
      Thread.sleep(2)
    }
    org.apache.logging.log4j.LogManager.getLogger(getClass.getName.stripSuffix("$")).warn(
      s"Observation metric '$key' not delivered after " +
        s"${(System.nanoTime() - startNs) / 1000000} ms; falling back to a direct aggregate")
    direct
  }

  /** Total rank mass on sinks — the Observation metric each round's
    * materialization carries (exact long sum, order-independent). */
  private def danglingMass: org.apache.spark.sql.Column =
    coalesce(sum(when(col("outdeg") === 0L, col("rank"))), lit(0L)).as("dang")

  /** ONE setup shuffle on src: the distinct's Aggregate(src, dst)
    * requires only co-location on a subset of its keys, so the explicit
    * HashPartitioning(src) satisfies it with no second exchange — and
    * every ITERATION's contribution join then reuses the same
    * partitioning (the per-round shuffle carries the small state frame,
    * never the edges).
    *
    * The partition COUNT is derived from the edge source's size (r18,
    * guide §2 "make partitioning scale-adaptive — derive from input
    * size"): the per-round join stage runs one task per edge
    * partition, and at the benched SF the inherited
    * spark.sql.shuffle.partitions=cores meant 32 near-empty tasks
    * whose fixed cost (launch + deserialize, ~10-25 ms each)
    * dominated every round — the 8-core driver run of the SAME query
    * was 2.4× faster end to end (PERF r17 scaling 0.42), which is the
    * whole signature. One partition per ~4 MB of source keeps task
    * compute well above the fixed cost; the leaf-relation size
    * estimate is real file bytes (never a join-cardinality guess),
    * and any real edge set saturates the configured shuffle
    * parallelism, where this clamp is a no-op. */
  /** Edge-pipeline partition count from the source's leaf size. */
  private[graft] def edgePartitions(edges: DataFrame): Int =
    Ops.sizedPartitions(edges, 4L * 1024 * 1024)

  private[graft] def prepareEdges(edges: DataFrame, srcCol: String,
                                  dstCol: String): DataFrame =
    prepareEdges(edges, srcCol, dstCol, edgePartitions(edges))

  private[graft] def prepareEdges(edges: DataFrame, srcCol: String,
                                  dstCol: String, parts: Int): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(parts, col("src"))
      .distinct()

  /** The static (id, outdeg) node frame every round's rank update joins
    * — ONE aggregation over both edge endpoints (src rows weigh 1, dst
    * rows 0, so the sum IS the out-degree and dst-only nodes land at
    * 0), partial-aggregated map-side. Built once, cached: its
    * hash(id) partitioning is RECORDED by the InMemoryRelation, so the
    * per-round join against the inbound sums needs no exchange on
    * either side (r18; the r17 shape re-shuffled the state frame here
    * every round). Replaces the r16/r17 initState's distinct-union +
    * left-join (one exchange and one join fewer at setup). */
  private[graft] def nodeOutdeg(e: DataFrame): DataFrame =
    e.select(col("src").as("id"), lit(1L).as("__d"))
      .unionByName(e.select(col("dst").as("id"), lit(0L).as("__d")))
      .groupBy("id").agg(sum(col("__d")).as("outdeg"))

  /** Initial (id, outdeg, rank = scale) state over the node set —
    * retained for spec use; production setup rides [[nodeOutdeg]]. */
  private[graft] def initState(e: DataFrame, scale: Long): DataFrame =
    nodeOutdeg(e).withColumn("rank", lit(scale))

  /** One PageRank round over (id, outdeg, rank) `state` — extracted so
    * the per-round physical plan itself sits under a PlanSpec pin (the
    * final query plan is just the last checkpoint's LogicalRDD, which
    * would hide a regression here). `nodes` is the cached static
    * (id, outdeg) frame; `parts` the post-round coalesce width. */
  private[graft] def round(e: DataFrame, nodes: DataFrame, state: DataFrame,
                           n: Long, base: Long, dampNum: Long, dampDen: Long,
                           dang: Long, parts: Int): DataFrame = {
    // the dangling share enters as a LITERAL (r17 opt): the previous
    // round's Observation already summed the sink mass exactly, so the
    // old 1-row aggregate + BroadcastExchange subtree is gone — both
    // floor divisions on non-negative longs, identical arithmetic
    val dangShare = dang / n
    // (dst, rank div outdeg) summed per dst — partial-aggregated
    // map-side, so the shuffle carries one row per (task, dst); the
    // contribution is computed BEFORE the join so the edge-side probe
    // carries one long, not (rank, outdeg)
    val contribs = state.filter(col("outdeg") > 0L)
      .select(col("id").as("src"), expr("rank div outdeg").as("__c"))
    // SHUFFLE_HASH on the state-sized side (r17 opt, guide §3.1): the
    // planner's sort-merge would re-SORT the cached 100 TB-side edge
    // frame every round (measured: the join stage dominated each
    // round); hashing the per-partition state slice — bounded by
    // N/partitions rows — streams the edges unsorted. Same rows out,
    // different join algorithm only.
    val inbound = e.join(contribs.hint("shuffle_hash"), Seq("src"))
      .groupBy(col("dst").as("id"))
      .agg(sum(col("__c")).as("__in"))
    // rank update against the CACHED node frame: both sides already
    // hash(id)-partitioned (cache-recorded / aggregation output), so
    // no exchange — the r17 shape paid one here per round. `div` (not
    // `/`): Column./ is DOUBLE division even on longs, which would
    // silently forfeit the exact-integer contract. The coalesce is
    // narrow (never a shuffle) and a no-op once parts reaches the
    // shuffle-partition count.
    nodes.join(inbound.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), col("outdeg"),
        expr(s"$base + ($dampNum * (coalesce(__in, CAST(0 AS BIGINT)) + $dangShare)) " +
          s"div $dampDen").cast("long").as("rank"))
      .coalesce(parts)
  }
}
