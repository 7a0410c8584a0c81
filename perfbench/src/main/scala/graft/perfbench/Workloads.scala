package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.bench.Graph500

/** One timed op: a Graph500 root (its BFS plus its validation) or one
  * query. A failed op is counted but kept out of every latency metric. */
final case class Op(name: String, seconds: Double, failed: Boolean)

/** One pass over a workload's ops: a cycle over the Graph500 roots, or
  * every query of the suite once. */
final case class Pass(seconds: Double, ops: Seq[Op])

final case class Metric(value: Double, unit: String)

/**
 * A workload as the harness drives it: an untimed warm-up, several
 * set-ups (their median is `setup_s`), then a fixed number of timed passes.
 */
trait Workload {
  /** Set-ups per run; their median is `setup_s`. */
  def setupReps: Int
  /** Do one set-up; returns its seconds. */
  def setup(): Double
  /** Untimed work before the first set-up. */
  def warmUp(): Unit
  /** One timed pass; `check` asks for the outputs to be checked. */
  def pass(check: Boolean): Pass
  /** Nominal seconds of one pass on four cores; sets the pass count. */
  def nominalPassS: Double
  /** Wall time of one full pass as a user runs it (`pass_s`). */
  def passS(setups: Seq[Double], passes: Seq[Pass]): Double
  /** Failures found by checks that belong to no single op. */
  def otherFailures: Seq[String]
  /** Per-layer metrics from the traced passes. */
  def layers(tracer: Tracer, traced: Seq[Pass]): Map[String, Metric]
  /** What was checked and how, for the run record. */
  def notes: Map[String, String]
  def close(): Unit
}

/** Graph500: the protocol at one SCALE with `nRoots` roots, one root at a
  * time on the driver-side kernels or, with `distributed`, all roots of a
  * pass in one multi-source BFS on the DataFrame paths. */
final class Graph500Workload(spark: SparkSession, scale: Int, nRoots: Int,
                             distributed: Boolean, seed: Long, warmRoots: Int,
                             val nominalPassS: Double, val setupReps: Int,
                             tracer: Tracer) extends Workload {
  if (distributed) graft.Gates.forceDistributed(spark)

  /** `--seed 0` is the reference's default seed pair (2, 3), the one the
    * golden traversed-edge counts hold for. */
  val seed1: Long = graft.gen.Kronecker.DefaultSeed1
  val seed2: Long = graft.gen.Kronecker.DefaultSeed2 + seed
  private val protocol = new Graph500Protocol(spark, scale, nRoots, seed1,
    seed2, tracer)
  private val golden = Graph500Protocol.golden(scale, seed1, seed2)
  private var built: Option[Graph500Protocol.Built] = None
  private val setups = scala.collection.mutable.ArrayBuffer.empty[Graph500Protocol.SetupTimes]
  /** Root runs of each pass, in pass order, and whether it was traced. */
  private val runs =
    scala.collection.mutable.ArrayBuffer.empty[(Boolean, Seq[Graph500Protocol.RootRun])]
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Failed checks that belong to no single root: the golden check and the
    * stats cross-check. */
  private val passFailures = scala.collection.mutable.ArrayBuffer.empty[String]

  def setup(): Double = {
    built.foreach(_.release())
    System.gc()
    val b = protocol.build()
    built = Some(b)
    setups += b.times
    b.times.total
  }

  /** One untimed construction in the cold JVM, then `warmRoots` untimed
    * roots on its graph, cycling over the pass's roots, so that neither the
    * set-ups nor the first timed root pay compilation or first-use costs.
    * The seeds are the run's, so this is the graph every set-up builds. */
  def warmUp(): Unit = {
    val b = protocol.build()
    val warm = Iterator.continually(b.roots.toSeq).flatten.take(warmRoots).toSeq
    if (distributed) warm.grouped(nRoots).foreach(rs => protocol.runBatch(b, rs).release())
    else warm.foreach(r => protocol.runRoot(b, r))
    b.release()
  }

  private def opOf(r: Graph500Protocol.RootRun): Op = {
    if (r.errors != 0) failures += s"root ${r.root}: ${r.errors} validation errors"
    Op(r.root.toString, r.bfsS + r.validateS, r.errors != 0)
  }

  def pass(check: Boolean): Pass = {
    val b = built.get
    val t0 = System.nanoTime()
    def failedAll(roots: Seq[Long], e: Exception) = {
      failures += s"roots ${roots.mkString(",")}: $e"
      roots.map(r => (None, Op(r.toString, 0.0, failed = true)))
    }
    var batch: Option[Graph500Protocol.Batch] = None
    val cycle: Seq[(Option[Graph500Protocol.RootRun], Op)] =
      if (distributed)
        try {
          batch = Some(protocol.runBatch(b, b.roots.toSeq))
          batch.get.runs.map(r => (Some(r), opOf(r)))
        } catch { case e: Exception => failedAll(b.roots.toSeq, e) }
      else b.roots.toSeq.flatMap { root =>
        try {
          val r = protocol.runRoot(b, root)
          Seq((Some(r), opOf(r)))
        } catch { case e: Exception => failedAll(Seq(root), e) }
      }
    checkStats(cycle.collect { case (Some(r), op) if !op.failed => r })
    val seconds = (System.nanoTime() - t0) / 1e9
    val ran = cycle.flatMap(_._1)
    Graph500Protocol.goldenMiss(golden, ran.map(_.nedge)).foreach(passFailures += _)
    // the batched trees' depth needs one more job: counted while tracing
    // only, after the pass time is taken
    val levels = batch.filter(_ => tracer.active).map(_.levels)
    batch.foreach(_.release())
    runs += ((tracer.active, levels.fold(ran)(l => ran.map(_.copy(levels = l)))))
    Pass(seconds, cycle.map(_._2))
  }

  /** The stats layer's harmonic-mean TEPS must agree with the one computed
    * here from the same runs. */
  private def checkStats(ok: Seq[Graph500Protocol.RootRun]): Unit = if (ok.nonEmpty) {
    val stats = tracer.span("stats") {
      val summary = Graph500.Summary(scale, ok.size, 0.0, 0.0,
        ok.zipWithIndex.map { case (r, i) =>
          Graph500.RunStat(i.toLong, r.root, r.bfsS, r.validateS,
            r.nedge.toDouble, r.errors)
        }, 0.0, nedgeGoldenOk = true)
      Graph500.statBlock(spark, summary).head()
    }
    val got = stats.getAs[Double]("harmonic_mean_teps")
    val want = Stats.hmTeps(ok.map(r => (r.bfsS, r.nedge.toDouble)))
    if (math.abs(got - want) > 1e-6 * want + 1e-6)
      passFailures += s"stats harmonic_mean_teps $got != $want"
  }

  def passS(setupS: Seq[Double], passes: Seq[Pass]): Double =
    Stats.median(setupS) + Stats.median(passes.map(_.seconds))

  def otherFailures: Seq[String] = passFailures.toSeq

  def layers(tracer: Tracer, traced: Seq[Pass]): Map[String, Metric] = {
    val tracedRuns = runs.collect { case (true, rs) => rs }.flatten.toSeq
    val nRuns = math.max(1, tracedRuns.size)
    val reps = setups.size
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val prep = tracer.work("bfs.prepare")
    val bfs = tracer.work("bfs.run")
    val validate = tracer.work("validate")
    Map(
      "gen.s" -> Metric(med(setups.map(_.genS).toSeq), "s"),
      "gen.edges" -> Metric(setups.last.rawEdges.toDouble, "count"),
      "gen.roots_s" -> Metric(med(setups.map(_.rootsS).toSeq), "s"),
      "bfs.prepare_s" -> Metric(med(setups.map(_.prepareS).toSeq), "s"),
      "bfs.prepare_shuffle_mb" -> Metric(prep.shuffleMb / reps, "MB"),
      "bfs.prepare_spill_mb" -> Metric(prep.spillMb / reps, "MB"),
      "bfs.run_s" -> Metric(med(tracedRuns.map(_.bfsS).toSeq), "s"),
      "bfs.levels" -> Metric(tracedRuns.map(_.levels).sum.toDouble / nRuns, "count"),
      "bfs.nedge" -> Metric(med(tracedRuns.map(_.nedge.toDouble).toSeq), "count"),
      "bfs.jobs_per_root" -> Metric(bfs.jobs.toDouble / nRuns, "count"),
      "bfs.tasks_per_root" -> Metric(bfs.tasks.toDouble / nRuns, "count"),
      "bfs.shuffle_mb_per_root" -> Metric(bfs.shuffleMb / nRuns, "MB"),
      "validate.prepare_s" -> Metric(med(setups.map(_.validatorS).toSeq), "s"),
      "validate.s" -> Metric(med(tracedRuns.map(_.validateS).toSeq), "s"),
      "validate.jobs_per_root" -> Metric(validate.jobs.toDouble / nRuns, "count"),
      "validate.shuffle_mb_per_root" -> Metric(validate.shuffleMb / nRuns, "MB"),
      "stats.s" -> Metric(med(tracer.spans("stats").map(_.seconds)), "s"),
      "g500.hm_teps" -> Metric(Stats.hmTeps(tracedRuns.filter(_.errors == 0)
        .map(r => (r.bfsS, r.nedge.toDouble)).toSeq), "TEPS"))
  }

  def notes: Map[String, String] = Map(
    "kronecker_seeds" -> s"$seed1,$seed2",
    "scale" -> scale.toString, "roots" -> nRoots.toString,
    "path" -> (if (distributed) "distributed, batched" else "kernel"),
    "golden_nedge" -> golden.map(_.toString).getOrElse("n/a"),
    "hm_teps" -> Stats.hmTeps(runs.flatMap(_._2).filter(_.errors == 0)
      .map(r => (r.bfsS, r.nedge.toDouble)).toSeq).toString,
    "last_pass_first_roots" -> runs.lastOption.toSeq.flatMap(_._2).take(8).map(r =>
      f"${r.root}:bfs=${r.bfsS}%.4f:val=${r.validateS}%.4f:levels=${r.levels}:nedge=${r.nedge}")
      .mkString(","),
    "failures" -> (failures ++ passFailures).take(5).mkString("; "))

  def close(): Unit = built.foreach(_.release())
}

/** The query surface: [[QuerySuite]] over the tables in `dir`. */
final class QueryWorkload(spark: SparkSession, dir: String,
                          expected: Map[String, (Long, Long)],
                          val nominalPassS: Double, val setupReps: Int,
                          tracer: Tracer)
    extends Workload {
  /** Declaration order: shared intermediates are charged to the same
    * first consumer in every pass and every run. */
  private val order: Seq[String] = QuerySuite.all
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private var lastOps: Seq[Op] = Nil

  /** A fresh session with empty per-session query caches: shared
    * intermediates that queries build lazily are rebuilt in every pass
    * and charged to their first consumer, so no work hides between
    * passes. */
  private def freshSession(): SparkSession = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.newSession()
  }

  /** Set-up is opening the inputs: a fresh session scans every table. */
  def setup(): Double = {
    val s = freshSession()
    val t0 = System.nanoTime()
    tracer.span("sources") {
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).sorted
        .foreach(f => s.read.parquet(s"$dir/$f").write.format("noop")
          .mode("overwrite").save())
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** One untimed pass, so the timed passes run compiled code. The batch
    * queries warm concurrently (the session and its query caches are
    * thread-safe); the streaming replays change session conf while they
    * run, so they warm one at a time afterwards. */
  def warmUp(): Unit = {
    val s = freshSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try {
      QuerySuite.Batch.map(q => pool.submit(new Runnable {
        def run(): Unit = QuerySuite.run(s, dir, q, tracer)
      })).foreach(_.get())
    } finally pool.shutdown()
    QuerySuite.Streaming.foreach(q => QuerySuite.run(s, dir, q, tracer))
  }

  /** One timed pass, queries one at a time; with `check`, the digests are
    * computed afterwards, in parallel. */
  def pass(check: Boolean): Pass = {
    val session = freshSession()
    val t0 = System.nanoTime()
    val runs = order.map(q => QuerySuite.run(session, dir, q, tracer))
    val seconds = (System.nanoTime() - t0) / 1e9
    val problems =
      if (!check) runs.map(_.result.left.toOption)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          spark.sparkContext.defaultParallelism)
        try runs.map { r =>
          pool.submit(new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] = QuerySuite.problem(r, expected.get(r.name))
          })
        }.map(_.get())
        finally pool.shutdown()
      }
    val ops = runs.zip(problems).map { case (r, problem) =>
      problem.foreach(p => failures += s"${r.name}: $p")
      Op(r.name, r.seconds, problem.isDefined)
    }
    lastOps = ops
    Pass(seconds, ops)
  }

  /** `pass_s` is the sum of the query times of a pass, so the digest
    * checks of the checked pass do not count. */
  def passS(setupS: Seq[Double], passes: Seq[Pass]): Double =
    Stats.median(passes.map(_.ops.map(_.seconds).sum))

  def otherFailures: Seq[String] = Nil

  def layers(tracer: Tracer, traced: Seq[Pass]): Map[String, Metric] = {
    val n = math.max(1, traced.size).toDouble
    QuerySuite.Families.flatMap { case (fam, _) =>
      val spans = tracer.spansWhere(_.startsWith(fam + "/"))
      val w = spans.map(tracer.work).foldLeft(Work.Zero)(_ + _)
      val failed = traced.flatMap(_.ops)
        .count(o => o.failed && QuerySuite.familyOf(o.name) == fam)
      Seq(
        s"$fam.s" -> Metric(spans.map(_.seconds).sum / n, "s"),
        s"$fam.jobs" -> Metric(w.jobs / n, "count"),
        s"$fam.tasks" -> Metric(w.tasks / n, "count"),
        s"$fam.cpu_s" -> Metric(w.cpuS / n, "s"),
        s"$fam.wait_s" -> Metric(w.waitS / n, "s"),
        s"$fam.shuffle_mb" -> Metric(w.shuffleMb / n, "MB"),
        s"$fam.spill_mb" -> Metric(w.spillMb / n, "MB"),
        s"$fam.failed" -> Metric(failed.toDouble, "count"))
    }.toMap
  }

  def notes: Map[String, String] = Map(
    "queries" -> order.mkString(","),
    "last_pass_s" -> lastOps.map(o => f"${o.name}=${o.seconds}%.4f").mkString(","),
    "failures" -> failures.take(5).mkString("; "))

  def close(): Unit = ()
}
