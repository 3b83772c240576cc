package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins the physical-plan shape of the load-bearing pipelines so plan drift
  * fails tests instead of silently regressing scale behavior (round-2
  * verdict item 4). PLANS.md records the audited shapes (query plans dumped
  * with `runMain graft.PlanDump`); this spec asserts the same operators
  * appear in the live plans.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def docsDf = {
    import spark.implicits._
    (0L until 64L).map(i => (i, s"document number $i with some shared words"))
      .toDF("doc_id", "text")
  }

  test("minhashDupPairs: broadcast anti-join gate, no Window straggler path") {
    val plan = planOf(TextOps.minhashDupPairs(docsDf))
    // the round-2 window-count gate serialized a degenerate hot key through
    // ONE WindowExec task; the round-3 formulation must not reintroduce it
    assert(!plan.contains("Window"), s"window gate reappeared:\n$plan")
    // oversized keys are filtered via a broadcast LEFT ANTI join, so the hot
    // key never reaches the group exchange
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"broadcast anti gate missing:\n$plan")
    // the member rows are shuffled exactly once (the group exchange); the
    // count side adds one tiny post-partial-agg exchange
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"collect_list aggregate missing:\n$plan")
  }

  test("simhashDupPairs and lshNearPairs share the anti-join gate shape") {
    import spark.implicits._
    val sim = planOf(TextOps.simhashDupPairs(docsDf))
    assert(!sim.contains("Window") && sim.contains("LeftAnti"), sim)
    val vecs = (0L until 32L)
      .map(i => (i, Array.tabulate(8)(d => (math.sin(i * 8 + d)).toFloat)))
      .toDF("vec_id", "embedding")
    val lsh = planOf(SimSearch.lshNearPairs(vecs, bits = 8, dim = 8))
    assert(!lsh.contains("Window") && lsh.contains("LeftAnti"), lsh)
  }

  test("audited gate: LocalRelation anti-join side, no third pass, no cross join") {
    // the audit must be FREE relative to the unaudited gate: the oversized
    // keys come back WITH sizes from the one count aggregation (collected,
    // bounded by rows/maxBucket), the dropped mass is summed driver-side,
    // and the anti-join side is a LocalTableScan — NOT a recomputed
    // aggregate subtree, and NOT the old crossJoin(broadcast(statsRow))
    // healthy data, no oversized keys: the localized gate side is an
    // EMPTY LocalRelation, so Catalyst's empty-relation propagation
    // removes the anti-join entirely — the audited gate costs literally
    // nothing on unskewed inputs (the lazy variant keeps a runtime
    // broadcast join against a near-empty aggregate side)
    val healthy = planOf(TextOps.minhashDupPairs(docsDf, auditDropped = true))
    assert(!healthy.contains("Window"), healthy)
    assert(!healthy.contains("Join"),
      s"empty gate side should optimize the anti-join away:\n$healthy")
    // skewed data, oversized keys present: gate must survive as a
    // broadcast LeftAnti against the localized key set
    val plan = planOf(TextOps.minhashDupPairs(docsDf, maxBucket = 2,
      auditDropped = true))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("LocalTableScan"),
      s"audited gate side must be localized:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"audit must not reintroduce a cross join:\n$plan")
    // exactly one aggregation chain consumes the banded stream in THIS
    // plan (collect_list group pass, partial+final) plus the
    // dropDuplicates pair dedup (partial+final); the count pass already
    // ran eagerly and its result is localized. A recomputed count subtree
    // would add two more aggregate nodes.
    val aggNodes = "HashAggregate".r.findAllIn(plan).length
    assert(aggNodes <= 4,
      s"audited plan re-aggregates the banded stream ($aggNodes agg nodes):\n$plan")
    TextOps.SigCache.clear()
  }

  test("boundedBuckets count pass reuses the persisted signature stage") {
    val banded = TextOps.minhashBanded(docsDf, k = 64, bands = 16)
    val gated = TextOps.boundedBuckets(banded, Seq("band", "bucket"),
      struct(col("doc_id")), maxBucket = 64)
    // both passes must hang off one InMemoryRelation (signature cache), so
    // the expensive text->signature map runs once, not twice
    val analyzed = gated.queryExecution.withCachedData.toString
    assert(analyzed.contains("InMemoryRelation"),
      s"signature stage not cached:\n$analyzed")
    banded.sparkSession.catalog.clearCache()
  }

  test("DEFAULT encode pipeline: one exchange, identity routing, PACKED (r7 item 4)") {
    val ds = Fixtures.tokenTable(spark, 400L)
    // the packed pipeline is the only encode path (it won its interleaved
    // A/B, tools/ab_packshuffle_20260818)
    val opts = EncodeOptions(numParts = 4, blockTokens = 1 << 12)
    val plan = Planner.plan(ds, opts)
    val p = planOf(TokenCompressor(opts).encodeWithPlan(ds, plan, None).toDF())
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"encode pipeline must shuffle exactly once:\n$p")
    // the pre-exchange route stage must stay native codegen: part_id is the
    // PartIdOf expression, not a Scala UDF (which would allocate a String
    // per row and break the scan→route WholeStageCodegen span)
    assert(p.contains("part_id_of"), s"native PartIdOf missing:\n$p")
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("UDF("),
      s"Scala UDF reappeared in the encode route stage:\n$p")
    // and the default exchange must carry the PACKED bytes: plans print
    // top-down, so for_unpack (reduce side) sits ABOVE the Exchange line
    // and for_pack (map side) BELOW it
    val iEx = p.indexOf("Exchange")
    val iPack = p.indexOf("for_pack")
    val iUnpack = p.indexOf("for_unpack")
    assert(iPack >= 0 && iUnpack >= 0,
      s"default path must pack the exchange (r7 verdict item 4):\n$p")
    assert(iUnpack < iEx && iEx < iPack,
      s"pack must run map-side and unpack reduce-side:\n$p")
  }

  test("a first run filters no parts; a resumed partial run keeps its part filter") {
    val ds = Fixtures.tokenTable(spark, 400L)
    val opts = EncodeOptions(numParts = 12, blockTokens = 1 << 12)
    val plan = Planner.plan(ds, opts)
    assert(plan.numParts > 10, "the partial run must filter on more parts than Spark's IN→INSET threshold")
    def partFilters(parts: Set[Int]): Seq[String] =
      planOf(TokenCompressor(opts).encodeWithPlan(ds, plan, Some(parts)).toDF())
        .linesIterator.filter(l => l.contains("INSET") && l.contains("part_id_of")).toSeq
    val all = (0 until plan.numParts).toSet
    // every part planned: no filter, so part_id_of runs once per row
    assert(partFilters(all).isEmpty, s"first run filters parts:\n${partFilters(all)}")
    assert(partFilters(all - 5).nonEmpty, "a resumed partial run lost its part filter")
  }

  test("rangeBlocks: one scan over batch data, a compacted run and the stream tail") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.execution.FileSourceScanExec
    val table = java.nio.file.Files.createTempDirectory("graft_scans").toString
    val opts = EncodeOptions(numParts = 4)
    def rows(from: Long, to: Long) = spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    ResumableEncodeJob.run(rows(0, 200), table, opts)
    StreamingEncode.appendBatch(rows(200, 260), table, opts, batchId = 0L)
    StreamingEncode.compact(spark, table, opts)
    StreamingEncode.appendBatch(rows(260, 320), table, opts, batchId = 1L)
    StreamingEncode.appendBatch(rows(320, 380), table, opts, batchId = 2L)
    val snap = ManifestIO.latest(spark, table).get
    assert(snap.compactedRuns.size == 1 && snap.committed.nonEmpty)
    val df = RangeReader.rangeBlocks(spark, table, "", "￿").toDF()
    val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    // one scan over every layout (a full span selects every file)
    val named = snap.files
    assert(named.map(_.root).distinct.size == 3)
    assert(scans.size == 1, s"expected one scan:\n${df.queryExecution.sparkPlan}")
    // its roots are exactly the .parquet files the snapshot names
    val roots = scans.head.relation.location.rootPaths.map(_.toUri.getPath)
    assert(roots.forall(_.endsWith(".parquet")), roots)
    assert(roots.sorted == named.map(z => s"$table/${z.path}").sorted)
  }

  test("table writes: the block write adds no sort in run, appendBatch, compact, mergeRuns or migrate") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = java.nio.file.Files.createTempDirectory("graft_write_plans").toString
    val (table, dst) = (s"$root/t", s"$root/m")
    val opts = EncodeOptions(numParts = 8)
    def rows(from: Long, to: Long) = spark.range(from, to)
      .mapPartitions(_.map(i => Fixtures.row(42L, i)))(Encoders.product[TokenRow])
    object Plans extends AdaptiveSparkPlanHelper
    // per `writeBlocks` execution, the sort keys of each sort in its final
    // plan, query stages included
    def writeSorts[T](body: => T): Seq[Seq[String]] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
      val l = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          if (f == "writeBlocks") got.add(Plans.collect(qe.executedPlan) {
            case s: SortExec => s.sortOrder.flatMap(_.child.references.map(_.name)).mkString(", ")
          })
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.register(l)
      try body
      finally {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.listenerManager.unregister(l)
      }
      got.toArray(Array.empty[Seq[String]]).toSeq
    }
    // each write's plan holds exactly the sort its input asks for: the
    // encode's, below the block encoder, or the merge's own within-task
    // order; the write itself adds none
    val encode = Seq("part_id, doc_id")
    def assertSorts(what: String, sorts: Seq[String]*)(body: => Any): Unit = {
      val got = writeSorts(body)
      assert(got == sorts, s"$what: the sorts of each write")
    }
    assertSorts("run", encode)(ResumableEncodeJob.run(rows(0, 400), table, opts))
    assertSorts("appendBatch", encode)(StreamingEncode.appendBatch(rows(400, 500), table, opts, 0L))
    assertSorts("compact", encode)(StreamingEncode.compact(spark, table, opts))
    StreamingEncode.appendBatch(rows(500, 600), table, opts, 1L)
    // the second run is as large as the first: compaction, then the merge
    assertSorts("compact + mergeRuns", encode, Seq("part_id, first_doc_id")) {
      assert(StreamingEncode.compact(spark, table, opts).compactedRuns.length == 1)
    }
    assertSorts("migrate", encode)(ResumableEncodeJob.migrate(spark, table, dst,
      EncodeOptions(codecPolicy = "plain")))
  }

  test("incrementalPairs: committed sigs scanned once in place, cand side broadcast") {
    val table = java.nio.file.Files.createTempDirectory("graft_idx_plan").toString
    MinhashIndex.commit(docsDf, table)
    val newBatch = docsDf.select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val p = planOf(MinhashIndex.incrementalPairs(newBatch, table, minJaccard = 0.5))
    // no straggler path, no all-pairs fallback
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup must never go all-pairs:\n$p")
    // the corpus-sized sig table joins against a BROADCAST candidate set —
    // scanned in place exactly once, never shuffled (the explicit
    // broadcast(cand) in incrementalPairs)
    assert(p.contains("BroadcastExchange"), s"cand side must broadcast:\n$p")
    assert("/sigs".r.findAllIn(p).length == 1,
      s"committed sig table must be scanned exactly once:\n$p")
    // the committed side contributes only the two slim index tables —
    // the committed docs' text is never re-signed (zero-recompute at the
    // plan level): every FileScan in the plan reads index paths
    val scans = "Location: [^\\n]+".r.findAllIn(p).toSeq
    assert(scans.nonEmpty && scans.forall(l =>
        l.contains("/buckets") || l.contains("/sigs")),
      s"plan must scan only the index tables:\n${scans.mkString("\n")}")
    TextOps.SigCache.clear()
  }

  test("incrementalPairs: cand broadcast hint is size-gated by the provable bound") {
    val table = java.nio.file.Files.createTempDirectory("graft_idx_gate").toString
    MinhashIndex.commit(docsDf, table)
    val newBatch = docsDf.select((col("doc_id") + 2000L).as("doc_id"), col("text"))
    // static planning with the size-based broadcast rule OFF, so the sig
    // join's strategy reads exactly the hint's presence: BroadcastHashJoin
    // iff the gate kept the hint, SortMergeJoin iff it dropped it
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val under = planOf(MinhashIndex.incrementalPairs(newBatch, table, minJaccard = 0.5))
      assert("BroadcastHashJoin \\[doc_a".r.findFirstIn(under).isDefined,
        s"under the cap the sig join must stay a forced broadcast:\n$under")
      // a batch whose bound exceeds the cap must NOT force the broadcast —
      // the executors' memory cannot hold a batch-scaled candidate set
      val over = planOf(MinhashIndex.incrementalPairs(
        newBatch, table, minJaccard = 0.5, broadcastCandCap = 0L))
      assert("BroadcastHashJoin \\[doc_a".r.findFirstIn(over).isEmpty &&
        "SortMergeJoin \\[doc_a".r.findFirstIn(over).isDefined,
        s"above the cap the hint must be dropped (AQE/SMJ decides):\n$over")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      TextOps.SigCache.clear()
    }
  }

  test("bruteForceTopK broadcasts the query side; corpus scanned once") {
    import spark.implicits._
    val vecs = (0L until 32L)
      .map(i => (i, Array.tabulate(8)(d => (math.cos(i * 8 + d)).toFloat)))
      .toDF("vec_id", "embedding")
    val p = planOf(SimSearch.bruteForceTopK(vecs, vecs.limit(4), k = 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast:\n$p")
  }
}
