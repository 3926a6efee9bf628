package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — DUPLICATE-CLUSTER
  * RESOLUTION for the near-dup suite (training-data op): the pair emitters
  * ([[NearDup.minHashPairs]], [[NearDup.simHashPairs]],
  * [[NearDup.ngramJaccardPairs]], [[Similarity]] cosine pairs) produce
  * verified CANDIDATE PAIRS; a curation pipeline must resolve those pairs
  * into transitive clusters (A~B, B~C ⇒ {A,B,C}) and keep ONE canonical
  * document per cluster. The single-pass `dup_of = min(partner)`
  * approximation (NearDup scaladoc) under-merges chains; this operator
  * closes that gap exactly.
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the standard
  * shuffle-based CC for graphs whose edge list dwarfs any single machine:
  *
  *  - large-star: every node connects its STRICTLY LARGER neighbors to the
  *    smallest node of its closed neighborhood;
  *  - small-star: every node connects its not-larger neighbors (and itself)
  *    to that minimum.
  *
  * Both are one aggregation + one equi-join riding the SAME hash
  * partitioning on the node id (the min-table exchange is map-side-combined
  * and tiny), and the alternation provably converges to STARS — every node
  * pointing directly at its component's minimum id — in O(log² n) rounds
  * (O(log n) in practice), INDEPENDENT of graph diameter. A plain hash-min
  * propagation needs O(diameter) rounds — a 10^6-long near-dup chain (crawl
  * boilerplate drift) would take 10^6 shuffles; this takes ~20.
  *
  * Scale notes (100 TB shape):
  *  - per round: `edges` is shuffled once per star op on the node id; the
  *    min-per-node side collapses map-side before its (tiny) exchange;
  *  - the equi-join (not a window) lets AQE's skew-join splitting handle a
  *    giant component's center (its degree grows toward the cluster size as
  *    stars form — a window over that partition would pin one task);
  *  - lineage is truncated every round with an EAGER localCheckpoint — an
  *    iterative DataFrame loop otherwise compounds the plan exponentially
  *    and re-executes all prior rounds at every action;
  *  - the driver holds only per-round counts, never edges.
  *
  * Determinism: outputs depend only on the edge SET (canonicalized,
  * deduplicated); the component id is the component's minimum node id.
  */
object Components {

  private val LoopConfKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")

  /** THREAD-SAFE conf window for the star loop (same hazard class and same
    * cure as `LakeTable.withSpjConfs`): a naive save/restore pair
    * interleaves under two concurrent loops so the second thread "restores"
    * the first thread's temporary values, permanently mutating the session.
    * Instead every exit restores to a BASELINE captured when no window was
    * active — and restores via set/unset so never-set keys stay never-set.
    * Two overlapping loops can still briefly see each other's per-round
    * values (bounded perf blip, never wrong results — the values only tune
    * plan shape), and the baseline always wins at the end. */
  private val confLock = new Object
  private val confState =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Array[Any]]()

  private def enterConfWindow(spark: org.apache.spark.sql.SparkSession): Unit =
    confLock.synchronized {
      var st = confState.get(spark)
      if (st == null) { st = Array[Any](0, null); confState.put(spark, st) }
      if (st(0).asInstanceOf[Int] == 0)
        st(1) = LoopConfKeys.map(spark.conf.getOption)
      st(0) = st(0).asInstanceOf[Int] + 1
    }

  private def exitConfWindow(spark: org.apache.spark.sql.SparkSession): Unit =
    confLock.synchronized {
      val st = confState.get(spark)
      st(0) = st(0).asInstanceOf[Int] - 1
      if (st(0).asInstanceOf[Int] == 0) {
        LoopConfKeys.zip(st(1).asInstanceOf[Seq[Option[String]]]).foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
        confState.remove(spark) // don't pin stopped sessions
      }
    }

  /** Resolve an undirected edge list into components.
    *
    * @param edges  DataFrame holding one edge per row (direction and
    *               duplicates irrelevant; self-loops and null endpoints
    *               dropped)
    * @param srcCol edge endpoint column (any orderable Spark type)
    * @param dstCol other endpoint column (same type)
    * @param maxRounds hard bound on star rounds. Practical convergence is
    *               ~log₂(diameter) rounds (the spec's diameter-255 chain
    *               lands in 9); the proven worst case is O(log² n), so the
    *               default 200 is generous insurance, not a tuning knob —
    *               exhausting it throws rather than returning a half-merged
    *               clustering
    * @return one row per distinct node: (`id`, `component`) where
    *         `component` is the minimum node id of the node's component
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 200): DataFrame = {
    // materialize the (typically expensive) pair-producing lineage ONCE —
    // nodes and the canonical edge set both derive from it, and deriving
    // them from the un-checkpointed plan would re-execute the whole
    // candidate join up to three times (the union reads it twice)
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .localCheckpoint()
    val nodes = raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id"))).distinct().localCheckpoint()
    // canonical directed form: u > v ("point at the smaller"), an invariant
    // both star ops preserve; self-loops carry no connectivity
    var cur = raw.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()
    raw.unpersist(false)
    // one-job round fingerprint: (edge count, order-independent content
    // hash — sum never overflows DECIMAL(38) at any physical row count).
    // A fingerprint CHANGE proves non-convergence with no extra job; only
    // a fingerprint MATCH triggers the exact except confirmation, so a
    // hash collision can cost one wasted except but never a wrong answer.
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var (curCount, curHash) = fingerprint(cur)

    // min over the closed neighborhood, joined back on the same key the
    // groupBy shuffled on — the aggregation exchange is reused, so each star
    // op costs ONE real shuffle of the edge set (+ the tiny min-table)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("_m0"))
        .select(col("u"), least(col("_m0"), col("u")).as("_m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u")) // larger neighbors re-point at the min
        .select(col("v").as("u"), col("_m").as("v")) // v > u ≥ m keeps u > v
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // all neighbors here are < u by the invariant; u and every neighbor
      // re-point at the neighborhood minimum
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("_m"))
      e.join(mins, "u")
        .select(explode(array(
          struct(col("u").as("a"), col("_m").as("b")),
          struct(col("v").as("a"), col("_m").as("b")))).as("_p"))
        .select(col("_p.a").as("u"), col("_p.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // Right-size the loop's shuffles to the LIVE edge count: each round is
    // 4 exchanges over the (shrinking) edge set, and at session defaults a
    // small graph pays pure scheduling — 32 near-empty partitions × 4
    // stages × O(log n) rounds, with AQE re-planning and materializing
    // every stage as its own job, and whole-stage codegen Janino-compiling
    // ~8 fresh stages per round of NEW lineage. ~100k edges/partition keeps
    // one task busy; a 10^10-edge graph still gets the session's full
    // parallelism AND keeps AQE + codegen (AQE's skew-join splitting is
    // what absorbs a giant component's center — only small rounds, where
    // skew cannot matter and per-stage replanning dominates, skip them).
    // The window is entered/exited through the refcounted baseline below —
    // the loop runs between eager checkpoints, so no caller-visible plan
    // depends on the temporary values.
    val spark = edges.sparkSession
    val conf = spark.conf
    val sessionParts =
      try conf.get("spark.sql.shuffle.partitions").toInt
      catch { case _: Exception => spark.sparkContext.defaultParallelism }
    def loopParts(edgeCount: Long): Int =
      math.min(sessionParts.toLong, edgeCount / 100000L + 1L).toInt
    var rounds = 0
    var converged = curCount == 0L
    enterConfWindow(spark)
    try {
    while (!converged && rounds < maxRounds) {
      rounds += 1
      conf.set("spark.sql.shuffle.partitions", loopParts(curCount))
      val big = curCount >= 10000000L
      conf.set("spark.sql.adaptive.enabled", big.toString)
      conf.set("spark.sql.codegen.wholeStage", big.toString)
      val next = smallStar(largeStar(cur)).localCheckpoint()
      val (nextCount, nextHash) = fingerprint(next)
      // fixed point ⇔ star set (each star op is identity exactly on stars —
      // the alternation's potential argument admits no other fixed point);
      // the except runs over two materialized checkpoints, not re-planned
      // lineage, and ONLY when the fingerprint matches — a chain-shaped
      // graph keeps a constant edge count all the way down, and paying an
      // exact set comparison every round would double the loop. Belt-and-
      // braces: the randomized spec cross-checks an in-memory union-find.
      converged = nextCount == curCount && nextHash == curHash &&
        next.except(cur).isEmpty
      val old = cur
      cur = next; curCount = nextCount; curHash = nextHash
      old.unpersist(false)
    }
    } finally exitConfWindow(spark)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds star rounds " +
          s"($curCount edges remain) — malformed input or maxRounds too low")
    // stars: every non-minimum node has exactly one outgoing (u → component)
    // edge; component minimums (and isolated nodes) map to themselves
    nodes.join(cur, nodes("id") === cur("u"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("component"))
  }

  /** Annotate `docs` with the transitive duplicate-cluster id implied by
    * `pairs` (columns `id_a`, `id_b` — any of the near-dup pair emitters):
    * `cluster_id` = the cluster's minimum doc id; docs in no pair form
    * singleton clusters (`cluster_id` = own id). Keeping one doc per
    * cluster is then `filter(col(idCol) === col("cluster_id"))` — the exact
    * transitive completion of [[NearDup]]'s single-pass `dup_of`. */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs, "id_a", "id_b")
    docs.join(cc, docs(idCol) === cc("id"), "left")
      .select(docs.columns.map(docs(_)) :+
        coalesce(col("component"), docs(idCol)).as("cluster_id"): _*)
  }
}
