package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the shapes the engine PROMISES at scale are
  * checked against `explain`, not just claimed in comments (builder
  * mandate: ".explain the plan and iterate until it's the plan you'd
  * want"). */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** Count physical nodes of a kind in the formatted tree (the details
    * section repeats each node name — match the numbered tree entries). */
  private def nodes(p: String, name: String): Int =
    ("""(?m)^\s*(?::|\+)?-?\s*""" + name + """ \(\d+\)""").r.findAllIn(p).size

  /** the bucket scans of `df`'s executed plan */
  private def scans(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }).collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }

  private def plan(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8")
  }

  test("q03 manifest-lookup join broadcasts the small side (J1)") {
    val p = plan(SparkEntry.queries("q03_manifest_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q06 owner filter pushes predicates into the parquet scan (F6)") {
    val p = plan(SparkEntry.queries("q06_owner_filter")(spark, sf))
    assert(p.contains("PushedFilters:") &&
      p.replaceAll("\\s", "").contains("EqualTo(lang,en)"), p.take(3000))
    // column pruning: the scan must not read the text payload
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("text"), readSchema)
  }

  test("q01 LWW dedup is a hash aggregation with map-side partials, no window sort (A1)") {
    val p = plan(SparkEntry.queries("q01_lww_dedup")(spark, sf))
    assert(!p.contains("Window"), "LWW must not fall back to window/row_number")
    // partial + final aggregate pair around ONE exchange (struct-payload
    // max_by plans as SortAggregate; rows still collapse map-side)
    assert(nodes(p, "HashAggregate") + nodes(p, "SortAggregate") >= 2, p.take(3000))
    assert(nodes(p, "Exchange") === 1, p.take(3000))
  }

  test("lake MERGE rides exactly one shuffle (dedup reuses the bucket repartition)") {
    import graft.tables.LakeTable
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("plantbl").toString
    val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 8)
    t.merge(Seq(("a", 1L, "a1"), ("b", 1L, "b1")).toDF("k", "wv", "v"), "b1")
    val existing = t.read()
    val batch = Seq(("a", 2L, "a2"), ("c", 1L, "c1")).toDF("k", "wv", "v")
    val merged = t.buildMerged(existing, batch, t.snapshot(), partitions = 16,
      writeFactor = 2, salted = false)
    val p = plan(merged)
    val exchanges = nodes(p, "Exchange")
    assert(exchanges === 1,
      s"expected ONE exchange (the bucket repartition), got $exchanges:\n${p.take(4000)}")

    // the PRODUCTION variant carries the upsert flag (max per group) through
    // the same aggregation — it must not cost a second exchange
    val flagged = plan(t.buildMerged(existing, batch, t.snapshot(), partitions = 16,
      writeFactor = 2, salted = false, withSrcFlag = true))
    assert(nodes(flagged, "Exchange") === 1,
      s"flag carry added an exchange:\n${flagged.take(6000)}")

    // the SALTED plan trades that for exactly TWO exchanges: the (keys,salt)
    // pre-aggregation shuffle BEFORE the bucket repartition — hot-key rows
    // must spread over the salt space before they are funneled to their
    // (key-derived) bucket partition
    val saltedPlan = plan(t.buildMerged(existing, batch, t.snapshot(),
      partitions = 16, writeFactor = 2, salted = true))
    assert(nodes(saltedPlan, "Exchange") === 2,
      s"expected TWO exchanges (salt pre-agg + bucket repartition):\n${saltedPlan.take(4000)}")
  }

  test("storage-partitioned COW merge: NO exchange above the table scan — " +
      "only the batch side shuffles (SURVEY.md §7.5)") {
    import graft.tables.LakeTable
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("planspj").toString
    val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 8)
    t.merge((0 until 64).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "full")
    val batch = (0 until 16).map(i => (s"k$i", 2L, s"b$i")).toDF("k", "wv", "v")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldShuf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // REGRESSION LOCK: with more session shuffle partitions than groups,
    // EnsureRequirements would prefer the hash side's spec and re-shuffle
    // the table scan; withSpjConfs(Some(groups)) pins the contest
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    // one group per bucket (a big merge), and the 4 groups a small merge
    // packs its 8 buckets into on 4 cores
    val perBucket = graft.tables.MergePlan.BucketGroups((0 until 8).map(b => b -> b).toMap)
    val packed = graft.tables.MergePlan.BucketGroups((0 until 8).map(b => b -> b / 2).toMap)
    try for (groups <- Seq(perBucket, packed)) t.withSpjConfs(Some(groups.count)) {
      val merged = t.buildMergedSpj(t.snapshot(), schema, groups, batch, salted = false)
      val p = plan(merged)
      assert(p.contains("BatchScan"), p.take(3000))
      // exactly TWO exchanges, both on the batch side: the dedup agg's hash
      // exchange + the storage-partitioned shuffle into the scan's
      // KeyGroupedPartitioning; ZERO exchanges above the table scan
      assert(nodes(p, "Exchange") === 2,
        s"expected TWO batch-side exchanges:\n${p.take(5000)}")
      assert(p.contains("keygroupedpartitioning"),
        s"batch side must shuffle into the scan's KeyGroupedPartitioning:\n${p.take(5000)}")
      assert(nodes(p, "SortMergeJoin FullOuter") === 1, p.take(3000))
      // structurally: no ShuffleExchange node has the scan in its subtree
      val exec = merged.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val shuffledScan = exec.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.child.collect {
              case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
            }.nonEmpty => s
      }
      assert(shuffledScan.isEmpty, s"existing side was shuffled:\n${exec.treeString}")
      // the existing side runs one task per group
      assert(scans(merged).map(_.inputRDD.getNumPartitions) === Seq(groups.count),
        exec.treeString)
      // and the merge is CORRECT through this plan
      val out = merged.drop("_gbucket", "_ghasbatch").as[(String, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(out.size === 64)
      assert(out("k3") === ((2L, "b3")) && out("k40") === ((1L, "v40")))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.conf.set("spark.sql.shuffle.partitions", oldShuf)
    }
  }

  test("compaction plans ZERO exchanges (layers are bucket-local by construction)") {
    import graft.tables.LakeTable
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("plancompact").toString
    val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 4)
    t.merge((0 until 16).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1", mor = true)
    t.merge((0 until 16).map(i => (s"k$i", 2L, s"w$i")).toDF("k", "wv", "v"), "b2", mor = true)
    val snap = t.snapshot()
    assert(snap.morBuckets.nonEmpty)
    t.withSpjConfs() {
      val resolved = graft.operators.Dedup.latestByKey(
        spark.read.format(graft.tables.dsv2.LakeBucketSource.Name)
          .option("root", t.root).option("version", snap.version.toString)
          .option("buckets", snap.morBuckets.mkString(",")).load(),
        Seq("k", "_gbucket"), Seq("wv"))
      val p = plan(resolved)
      assert(nodes(p, "Exchange") === 0,
        s"compaction must not shuffle:\n${p.take(4000)}")
    }
    // and the real compact() produces the right state
    t.compact()
    assert(t.snapshot().morBuckets.isEmpty)
    val state = t.read().as[(String, Long, String)].collect().map(r => r._1 -> r._2).toMap
    assert(state.values.forall(_ == 2L))
  }

  test("clustering plans ZERO exchanges and ONE local sort per bucket task") {
    import graft.tables.LakeTable
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("plancluster").toString
    val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 4)
    t.merge((0 until 64).map(i => (s"k$i", i.toLong, s"v$i")).toDF("k", "wv", "v"), "b1")
    val snap = t.snapshot()
    t.withSpjConfs() {
      // the exact shape clusterBuckets writes: KGP-riding resolve + a
      // task-local sort — no exchange anywhere, exactly one Sort node
      val resolved = graft.operators.Dedup.latestByKey(
        spark.read.format(graft.tables.dsv2.LakeBucketSource.Name)
          .option("root", t.root).option("version", snap.version.toString)
          .option("buckets", snap.bucketFiles.keys.toSeq.sorted.mkString(","))
          .load(),
        Seq("k", "_gbucket"), Seq("wv"))
        .sortWithinPartitions(org.apache.spark.sql.functions.col("_gbucket"),
          org.apache.spark.sql.functions.col("wv"))
      val p = plan(resolved)
      assert(nodes(p, "Exchange") === 0,
        s"clustering must not shuffle:\n${p.take(4000)}")
      // the output sort is task-local on (_gbucket, wv); the SortAggregate's
      // own grouping sort underneath it is the agg's, not an extra pass
      assert(p.linesIterator.exists(l => l.contains("Arguments:") &&
          l.contains("_gbucket#") && l.contains("wv#")),
        s"clustering wants the local (_gbucket, wv) sort:\n${p.take(4000)}")
    }
    // and the real cluster() produces slice files without changing state
    val before = t.read().collect().map(_.toSeq).toSet
    assert(t.cluster(Seq("wv"), maxRowsPerFile = 8L) === 4)
    assert(t.read().collect().map(_.toSeq).toSet === before)
  }

  test("MOR-dirty read() plans ZERO exchanges: dirty buckets resolve riding " +
      "the bucket scan's partitioning, like compaction") {
    import graft.tables.LakeTable
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("planmorread").toString
    val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 4)
    t.merge((0 until 16).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1", mor = true)
    t.merge((0 until 16).map(i => (s"k$i", 2L, s"w$i")).toDF("k", "wv", "v"), "b2", mor = true)
    assert(t.snapshot().morBuckets.nonEmpty)
    t.withSpjConfs() {
      val df = t.read()
      val p = plan(df)
      assert(nodes(p, "Exchange") === 0,
        s"MOR-dirty read must not shuffle:\n${p.take(4000)}")
      // and the state through this plan is the resolved one
      val state = df.as[(String, Long, String)].collect().map(r => r._1 -> r._2).toMap
      assert(state.size === 16 && state.values.forall(_ == 2L))
    }
    assert(t.logicalRowCount() === 16L)
  }

  test("grouped scans: changelog, read() and compaction run 16 buckets in 4 tasks") {
    import graft.tables.LakeTable
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("plangroups").toString
    val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 16)
    t.merge((0 until 128).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()
    t.merge((0 until 128).map(i => (s"k$i", 2L, s"w$i")).toDF("k", "wv", "v"), "b2", mor = true)
    assert(t.snapshot().morBuckets.size === 16)
    val cores = spark.sparkContext.defaultParallelism
    assert(cores === 4)
    // the at-scale shape: no plan here may lean on an auto-broadcast
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def grouped(df: DataFrame, what: String, window: Boolean = false): Unit = {
      val p = plan(df)
      assert(nodes(p, "Exchange") === 0, s"$what must not shuffle:\n${p.take(5000)}")
      val ss = scans(df)
      assert(ss.nonEmpty && ss.forall(_.inputRDD.getNumPartitions == cores),
        s"$what: ${ss.map(_.inputRDD.getNumPartitions)}")
      // a changelog: ONE window scan and ONE aggregation (its partial and
      // final halves in the same task), no join
      if (window) {
        assert(ss.size === 1 && nodes(p, "SortAggregate") === 2, p.take(5000))
        assert(!p.contains("Join"), p.take(5000))
      }
    }
    try {
      grouped(t.readChanges(v1, t.currentVersion()), "changelog", window = true)
      grouped(t.readChangesTyped(v1, t.currentVersion()), "typed changelog", window = true)
      grouped(t.read(), "MOR read")
      assert(t.readChanges(v1, t.currentVersion()).count() === 128L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    // the compaction write: grouped scan, zero exchanges, one file per bucket
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { assert(t.compact() === 16); drainListenerBus() }
    finally spark.listenerManager.unregister(listener)
    val writes = plans.toArray.map(_.toString).filter(_.contains("InsertIntoHadoopFsRelation"))
    assert(writes.length === 1, writes.mkString("\n---\n"))
    assert(!writes.head.contains("Exchange") && writes.head.contains("groups=4"), writes.head)
    assert(t.snapshot().bucketFiles.values.forall(_.size == 1))
    assert(t.read().as[(String, Long, String)].collect().map(_._2).toSet === Set(2L))
  }

  test("colocatedJoin of two same-layout tables plans ZERO exchanges " +
      "(storage-partitioned join, both sides task-local)") {
    import graft.tables.LakeTable
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val rootA = java.nio.file.Files.createTempDirectory("plancjA").toString
    val rootB = java.nio.file.Files.createTempDirectory("plancjB").toString
    val sa = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val sb = StructType.fromDDL("k STRING, wv BIGINT, meta STRING")
    val a = LakeTable.createOrOpen(spark, rootA, sa, Seq("k"), Seq("wv"), 4)
    val b = LakeTable.createOrOpen(spark, rootB, sb, Seq("k"), Seq("wv"), 4)
    a.merge((0 until 16).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "a1")
    // B carries unresolved MOR layers: the join must still not shuffle
    b.merge((0 until 12).map(i => (s"k$i", 1L, s"m$i")).toDF("k", "wv", "meta"), "b1", mor = true)
    b.merge((0 until 12).map(i => (s"k$i", 2L, s"n$i")).toDF("k", "wv", "meta"), "b2", mor = true)
    assert(b.snapshot().morBuckets.nonEmpty)
    // pin the AT-SCALE shape: with SupportsReportStatistics a test-sized
    // table is (correctly) small enough to auto-broadcast, which would hide
    // the storage-partitioned plan this test exists to lock
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try a.withSpjConfs() {
      val joined = a.colocatedJoin(b)
      val p = plan(joined)
      assert(nodes(p, "Exchange") === 0,
        s"colocated join must not shuffle either side:\n${p.take(4000)}")
      assert(nodes(p, "BroadcastExchange") === 0,
        s"colocated join must not broadcast under a disabled threshold:\n${p.take(4000)}")
      val rows = joined.as[(String, Long, String, Long, String)].collect()
      assert(rows.length === 12)
      // right side resolved to its LWW winner (wv=2) before joining
      assert(rows.forall { case (_, _, _, wvR, m) => wvR == 2L && m.startsWith("n") })
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("the scan reports metadata statistics: a small lake table " +
      "auto-broadcasts in a join (SupportsReportStatistics)") {
    import graft.tables.LakeTable
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("planstats").toString
    val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 4)
    t.merge((0 until 50).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1")
    // big probe side (no broadcast hint anywhere): Catalyst must choose to
    // broadcast the LAKE side purely from the scan's reported statistics —
    // under the old defaultSizeInBytes fallback it would sort-merge
    val probe = spark.range(0, 50000)
      .select(concat(lit("k"), col("id") % 200).as("pk"), col("id"))
    val joined = probe.join(t.readBucketed(), col("pk") === col("k"))
    val p = plan(joined)
    assert(nodes(p, "BroadcastExchange") === 1,
      s"expected the small lake side to auto-broadcast from reported stats:\n${p.take(3000)}")
    assert(joined.count() === 50L * 250) // 50 matching keys × 250 ids each
  }

  test("runtime bucket pruning: a selective broadcast join hands its key set " +
      "to the scan at runtime (SupportsRuntimeFiltering ≙ Iceberg DPP)") {
    import graft.tables.LakeTable
    import graft.tables.dsv2.LakeBucketScan
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("planrtf").toString
    val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 8)
    t.merge((0 until 2000).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1")
    // the build side needs a SELECTIVE FILTER that survives optimization
    // (a filtered local Seq constant-folds away) — a filtered range does
    val dim = spark.range(0, 200)
      .filter(col("id") % 50 === 17) // 17, 67, 117, 167
      .select(concat(lit("k"), col("id")).as("dk"))
    val before = LakeBucketScan.runtimePrunes.get()
    val joined = t.readBucketed().join(broadcast(dim), col("k") === col("dk"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"expected a runtime filter on the bucket scan:\n${p.take(3000)}")
    val rows = joined.select("k", "v").as[(String, String)].collect().sortBy(_._1)
    assert(rows.toSeq ===
      Seq("k117" -> "v117", "k167" -> "v167", "k17" -> "v17", "k67" -> "v67"))
    assert(LakeBucketScan.runtimePrunes.get() > before,
      "the scan never received the runtime key set")
  }

  test("projected changelog read prunes unread payload columns at the DSv2 " +
      "bucket scan (SupportsPushDownRequiredColumns)") {
    import graft.tables.LakeTable
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("planprune").toString
    val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 4)
    t.merge((0 until 16).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()
    t.merge((0 until 4).map(i => (s"k$i", 2L, s"w$i")).toDF("k", "wv", "v"), "b2")
    val projected = t.readChanges(v1, t.currentVersion()).select("k")
    val exec = projected.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scans = exec.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, exec.treeString)
    scans.foreach { b =>
      val cols = b.output.map(_.name)
      assert(!cols.contains("v"),
        s"payload column not pruned from bucket scan: $cols\n${exec.treeString}")
      assert(cols.contains("k") && cols.contains("_gbucket"), cols.mkString(","))
    }
    assert(projected.as[String].collect().sorted.toSeq ===
      (0 until 4).map(i => s"k$i").sorted)
  }


  test("typed changelog plans ONE window scan and ONE aggregation, ZERO exchanges") {
    import graft.tables.LakeTable
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("plantyped").toString
    val schema = StructType.fromDDL("k STRING, wv BIGINT, v STRING")
    val t = LakeTable.createOrOpen(spark, root, schema, Seq("k"), Seq("wv"), 4)
    t.merge((0 until 32).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "wv", "v"), "b1")
    val v1 = t.currentVersion()
    t.merge((0 until 8).map(i => (s"k$i", 2L, s"w$i")).toDF("k", "wv", "v"), "b2", mor = true)
    val typed = t.readChangesTyped(v1, t.currentVersion())
    val p = plan(typed)
    assert(nodes(p, "Exchange") === 0, s"typed changelog must not shuffle:\n${p.take(5000)}")
    assert(scans(typed).size === 1 && nodes(p, "SortAggregate") === 2 && !p.contains("Join"),
      p.take(5000))
    assert(scans(typed).head.inputRDD.getNumPartitions === spark.sparkContext.defaultParallelism)
    val out = typed.select("_change_type", "k", "wv").as[(String, String, Long)]
      .collect().toSet
    assert(out === (0 until 8).flatMap(i => Seq(
      ("update_preimage", s"k$i", 1L), ("update_postimage", s"k$i", 2L))).toSet)
  }

  test("session-wide SPJ confs are inert for non-reporting scans: a foreign " +
      "parquet join plans identically with and without a LakeTable open") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_custkey")
    def shape(): Seq[String] = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .queryExecution.executedPlan.collect { case n => n.nodeName }
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.shuffle.enabled")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(k => spark.conf.set(k, "false"))
      val off = shape()
      // what opening any LakeTable does to the session
      keys.foreach(k => spark.conf.set(k, "true"))
      val on = shape()
      assert(on === off,
        s"foreign join plan changed under the lake confs:\noff=$off\non=$on")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q22 minhash candidate generation never plans a cartesian product") {
    val p = plan(SparkEntry.queries("q22_dedup_minhash")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q07 projection prunes unread lineitem columns at the scan (P2)") {
    val p = plan(SparkEntry.queries("q07_projection_cast")(spark, sf))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      readSchema)
  }

  test("q47 IVF ANN: centroids enter as plan literals, probes broadcast — " +
      "the corpus never sort-merge-joins or cross-joins") {
    val p = plan(SparkEntry.queries("q47_ann_ivf")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the probe join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "assignment must be a map over literal centroids, not a join")
  }

  test("q45 stratified sample map-side truncates each stratum before the " +
      "exchange (WindowGroupLimit both sides of the shuffle)") {
    val p = plan(SparkEntry.queries("q45_stratified_sample")(spark, sf))
    // Spark 4 rewrites rn<=k into WindowGroupLimit Partial (map side, before
    // the hash exchange) + Final — the shuffle carries O(k·strata·tasks)
    // rows, not the corpus. If this regresses the window sorts the corpus.
    assert(nodes(p, "WindowGroupLimit") === 2, p.take(3000))
    assert(p.contains("Partial") && p.contains("Final"), p.take(3000))
    // and the scan still prunes the text payload
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("text"), readSchema)
  }
}
