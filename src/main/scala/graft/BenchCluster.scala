package graft

import org.apache.spark.sql.{SparkSession, functions => F}

/** Child JVM for the multi-JVM scaling experiment (round-2 verdict item 2):
  * runs the encode benchmark under `local-cluster[workers, 1, mem]` —
  * Spark standalone's test cluster with SEPARATE single-core executor
  * JVMs, real shuffle serialization and netty transfers, per-executor
  * memory. Launched as a child JVM (with SPARK_HOME set) because executor
  * processes are forked via `$SPARK_HOME/bin/spark-class`.
  *
  * Two modes:
  *
  *  - ONE-SHOT (`args: fixturePath numWorkers maxReps [nParts]`):
  *    start the cluster, warm, run convergence reps within the rep
  *    budget the parent passes as `-Dgraft.repBudgetSec`, print one
  *    GRAFT_CLUSTER_RESULT marker line, exit. Used by the parent as the
  *    fallback path.
  *
  *  - SERVE (`args: fixturePath numWorkers serve ctlDir [nParts]`): start
  *    the cluster, warm ONCE, then stay alive answering file-protocol
  *    commands from the parent [[Bench]] until `quit` or the serve budget
  *    expires (r6 verdict item 1: the one-shot design paid ~25 s cluster
  *    startup + a full-job JIT warm pass per leg PER ROUND, so a 330 s
  *    reserve bought only 2 paired rounds; keeping both cluster sizes
  *    alive across rounds makes startup + warm one-time, so a round costs
  *    only its measured reps). Protocol (all files under ctlDir, written
  *    atomically via tmp + rename):
  *      child ready:  ready_<workers>        {"warm":s,"tokens":n}
  *      parent asks:  cmd_<workers>_<k>      "reps=<r>" | "quit"
  *      child answers: res_<workers>_<k>     {"sec":best,"tokens":n,"secs":[..]}
  *    k starts at 1 and increments per answered command. The serve budget
  *    (`-Dgraft.serveBudgetSec`) bounds the child's total wall clock so a
  *    crashed parent can never leak a live cluster.
  */
object BenchCluster {

  private def makeSession(workers: Int): SparkSession = {
    val memMb = 3072
    val s = SparkSession.builder()
      .master(s"local-cluster[$workers,1,$memMb]")
      .appName(s"graft-bench-cluster-$workers")
      .config("spark.sql.shuffle.partitions", math.max(workers, 8).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.executor.memory", s"${memMb - 512}m")
      // ship the graft classes to the executor JVMs
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      // the scaling experiment's serial fraction is driver scheduling, not
      // compute: big scan splits (fewer tasks) and no locality stalls keep
      // the driver out of the critical path so the cores measure the engine
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (4 * 1024 * 1024).toString)
      .config("spark.locality.wait", "0")
      // AQE ON (Spark default), measured deliberately: an interleaved A/B
      // at 8 workers had AQE-on ~7% faster in both rounds (min-of-4 6.42
      // vs 6.88, 5.33 vs 5.74 s) — its partition coalescing merges the 64
      // ~25 MB routed shuffle partitions into fewer right-sized tasks,
      // which outweighs the re-plan pause; leg2 was neutral (20.2 vs
      // 19.3 s under heavier load).
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val fixturePath = args(0)
    val workers = args(1).toInt
    if (args.length > 2 && args(2) == "serve")
      serve(fixturePath, workers, args(3),
        if (args.length > 4) args(4).toInt else 64)
    else
      oneshot(fixturePath, workers, args(2).toInt,
        if (args.length > 3) args(3).toInt else 64)
  }

  private def encoder(s: SparkSession, fixturePath: String,
                      nParts: Int): () => (Double, Long) = {
    // 64 planned parts ~= 3-8M tokens (12-30 MB) per encode task at the
    // parent-chosen >=200M-token job: few scheduling waves, real per-task
    // work — the shape a 1000-executor run would use per core
    val opts = EncodeOptions(numParts = nParts, sampleMod = 16)
    val ds = s.read.parquet(fixturePath).as[TokenRow](RowEncoders.tokenRow)
    val plan = Planner.plan(ds, opts)
    val comp = TokenCompressor(opts)
    () => {
      val t0 = System.nanoTime()
      val agg = comp.encodeWithPlan(ds, plan, None).toDF()
        .agg(F.sum("n_tokens").as("toks")).head()
      ((System.nanoTime() - t0) / 1e9, agg.getAs[Long]("toks"))
    }
  }

  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", java.lang.Double.valueOf(d))

  /** Atomic publish: a parent polling the target name can never observe a
    * half-written file.
    */
  private def writeAtomic(dir: String, name: String, content: String): Unit = {
    val tmp = java.nio.file.Paths.get(dir, name + ".tmp")
    java.nio.file.Files.writeString(tmp, content)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def serve(fixturePath: String, workers: Int, ctlDir: String,
                    nParts: Int): Unit = {
    val s = makeSession(workers)
    try {
      val once = encoder(s, fixturePath, nParts)
      val t00 = System.nanoTime()
      def spent: Double = (System.nanoTime() - t00) / 1e9
      // lifetime bound: even if the parent dies without sending quit, the
      // cluster self-terminates instead of squatting on 10+ JVMs
      val serveBudgetSec =
        sys.props.getOrElse("graft.serveBudgetSec", "900").toInt
      // one-time JIT + page-cache warm for THIS cluster's executor JVMs;
      // every later round reuses it — the whole point of serve mode
      val warm = once()
      writeAtomic(ctlDir, s"ready_$workers",
        s"""{"workers":$workers,"warm":${fmt(warm._1)},"tokens":${warm._2}}""")
      var k = 1
      var alive = true
      while (alive && spent < serveBudgetSec) {
        val cmd = new java.io.File(ctlDir, s"cmd_${workers}_$k")
        if (cmd.exists()) {
          val txt = java.nio.file.Files.readString(cmd.toPath).trim
          if (txt == "quit") alive = false
          else {
            val reps = txt.stripPrefix("reps=").toInt
            val runs = (1 to math.max(1, reps)).map(_ => once())
            val best = runs.minBy(_._1)
            writeAtomic(ctlDir, s"res_${workers}_$k",
              s"""{"sec":${fmt(best._1)},"tokens":${best._2},""" +
                s""""secs":[${runs.map(r => fmt(r._1)).mkString(",")}]}""")
            k += 1
          }
        } else Thread.sleep(100)
      }
    } finally s.stop()
  }

  private def oneshot(fixturePath: String, workers: Int, maxReps: Int,
                      nParts: Int): Unit = {
    val s = makeSession(workers)
    try {
      val once = encoder(s, fixturePath, nParts)
      // JIT + page-cache warmup in THIS cluster's executor JVMs — at the
      // parent-chosen job size one full pass pushes the encode kernel far
      // past C2 thresholds on every executor. The rep budget clock starts
      // BEFORE the warmup: on a crushed box a single pass can take many
      // minutes, and a budget that ignored it could still run the child
      // into the parent's hard kill-timeout
      val budget0 = System.nanoTime()
      val warm = once()
      // convergence-based reps (same policy as the parent's local legs):
      // rep until the two fastest agree within 5% (>= minReps, <= maxReps).
      // Noise is one-sided — extra reps land on the leg a load window hit,
      // correcting its floor estimate instead of skewing the round ratio.
      // WALL-CLOCK BUDGET on top: under heavy co-tenant load a ~30 s rep
      // can stretch to minutes; without a budget the convergence loop ran
      // a leg into the parent's hard kill-timeout, which discarded the
      // whole round (measured: a leg2 killed at 20 min with its data
      // unread). Past the budget the leg returns its best-so-far (down to
      // a single rep when even the warmup blew the budget) — a weaker
      // floor estimate, visible in the REPS line, beats a vanished round.
      val repBudgetSec = sys.props.getOrElse("graft.repBudgetSec", "360").toInt
      // tight budgets accept 2-rep convergence: one warm + two measured
      // passes is a weaker floor than three, but ~25% shorter legs dodge
      // this box's minutes-long co-tenant storms far more often — the
      // difference between 0 and 3 landed samples in a 720 s driver run
      val minReps = if (repBudgetSec < 200) 2 else 3
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      // if the WARMUP alone blew the budget (badly loaded box), don't run
      // even one measured rep — reuse the warmup sample as the single rep
      // so the child still emits a result before the parent's hard kill
      // (a JIT-cold floor estimate beats a vanished round)
      if ((System.nanoTime() - budget0) / 1e9 > repBudgetSec) runs += warm
      var go = runs.isEmpty
      while (go) {
        runs += once()
        val sorted = runs.map(_._1).sorted
        val spent = (System.nanoTime() - budget0) / 1e9
        go = (runs.length < minReps ||
          (runs.length < maxReps && sorted(1) / sorted(0) > 1.05)) &&
          spent <= repBudgetSec
      }
      val best = runs.minBy(_._1)
      // per-rep times on a separate diagnostic line (parent parses only the
      // GRAFT_CLUSTER_RESULT marker): JIT-vs-steady-state visibility
      println(String.format(java.util.Locale.ROOT,
        "GRAFT_CLUSTER_REPS warm=%.3f reps=%s",
        java.lang.Double.valueOf(warm._1),
        runs.map(r => fmt(r._1)).mkString(",")))
      // Locale.ROOT: the parent parses a dot-decimal regex; a comma-decimal
      // default locale would silently truncate the captured seconds
      println(s"""GRAFT_CLUSTER_RESULT {"workers":$workers,"sec":${fmt(best._1)},"tokens":${best._2}}""")
    } finally s.stop()
  }
}
