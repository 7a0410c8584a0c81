package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/**
 * Benchmark driver, started by `perfbench/run.py`:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *        --data <tables dir> --expected <digests.json> --work <run dir>
 *
 * Runs one workload in one `local[4]` driver process and prints, as its last
 * stdout line, `{"correct", "attempted", "failed", "metrics"}`: the
 * end-to-end metrics with `--trace 0`, the per-layer metrics with
 * `--trace 1`. perfbench/README.md defines every metric.
 */
object Main {

  /** Passes per run: `--seconds` over the workload's nominal pass time. */
  def passCount(seconds: Int, nominalPassS: Double): Int =
    math.max(1, math.round(seconds / nominalPassS).toInt)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = arg("work")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $what")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    phase("session ready")

    // Host noise, recorded beside every run and never used to drop one.
    val (_, calCpuS) = graft.Bench.calibrate(cores)
    val stat0 = graft.Bench.procStat()
    phase("calibrated")

    val workload: Workload = workloadName match {
      case "g500_kernel" =>
        new Graph500Workload(spark, scale = 16, nRoots = 320,
          distributed = false, seed = seed, warmRoots = 96,
          nominalPassS = 7.0, setupReps = 3, tracer = tracer)
      case "g500_distributed" =>
        new Graph500Workload(spark, scale = 10, nRoots = 8,
          distributed = true, seed = seed, warmRoots = 48,
          nominalPassS = 2.5, setupReps = 4, tracer = tracer)
      case "queries_sf001" =>
        new QueryWorkload(spark, arg("data"), readExpected(arg("expected")),
          nominalPassS = 8.5, setupReps = 4, tracer = tracer)
      case other => sys.error(s"unknown workload $other")
    }

    workload.warmUp()
    System.gc()
    phase("warmed up")
    tracer.active = trace
    val setupS = (1 to workload.setupReps).map(_ => workload.setup())
    tracer.active = false
    System.gc()
    phase("set up")

    val n = passCount(seconds, workload.nominalPassS)
    def onePass(traced: Boolean, check: Boolean): Pass = {
      tracer.active = traced
      val p = workload.pass(check)
      tracer.active = false
      // a collection and a pause, so Spark's ContextCleaner releases the
      // pass's unreachable RDDs, shuffles and broadcasts before the next one
      System.gc()
      Thread.sleep(300)
      p
    }
    // A traced run interleaves at least two untraced and two traced passes
    // in the order U T T U U T ..., so both series see the same warm-up and
    // the difference of their medians is the tracing overhead.
    val tracedFrom = System.nanoTime()
    val order =
      if (!trace) Seq.fill(n)(false)
      else (0 until math.max(2, n)).flatMap(i => if (i % 2 == 0) Seq(false, true) else Seq(true, false))
    val lastOf = order.lastIndexOf(trace)
    val all = order.zipWithIndex.map { case (t, i) => (t, onePass(t, check = i == lastOf)) }
    phase("passes " + all.map { case (t, p) => f"${if (t) "T" else "U"}${p.seconds}%.3f" }.mkString(" "))
    // two more collections 300 ms apart, so what the cleaner released is
    // gone; the heap still in use is what the workload keeps live
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val untraced = all.collect { case (false, p) => p }
    val traced = all.collect { case (true, p) => p }
    val measured = if (trace) traced else untraced
    val stat1 = graft.Bench.procStat()
    val stealPct = (stat0, stat1) match {
      case (Some((b0, s0, _)), Some((b1, s1, _))) =>
        100.0 * (s1 - s0) / math.max(1L, b1 - b0)
      case _ => 0.0
    }

    // every op counts towards attempted and failed; latency comes from the
    // measured series only
    val allOps = (untraced ++ traced).flatMap(_.ops)
    val ops = measured.flatMap(_.ops)
    val okS = ops.filterNot(_.failed).map(_.seconds)
    def stat(f: Seq[Double] => Double) = if (okS.isEmpty) 0.0 else f(okS)
    // per pass, so a pass that runs slow as a whole moves the median only
    val passMeans = measured.map(_.ops.filterNot(_.failed).map(_.seconds))
      .filter(_.nonEmpty).map(xs => xs.sum / xs.size)
    val failed = allOps.count(_.failed) + workload.otherFailures.size
    val attempted = math.max(1, allOps.size)

    val metrics: Map[String, Metric] =
      if (!trace) Map(
        "setup_s" -> Metric(Stats.median(setupS), "s"),
        "pass_s" -> Metric(workload.passS(setupS, measured), "s"),
        "op_mean_s" -> Metric(if (passMeans.isEmpty) 0.0 else Stats.median(passMeans), "s"),
        "heap_peak_mb" -> Metric(heapMb, "MB"))
      else {
        tracer.drain()
        val sparkWork = tracer.spansWhere(_ => true)
          .filter(_.startNs >= tracedFrom)
          .map(tracer.work).foldLeft(Work.Zero)(_ + _)
        val perPass = traced.size.toDouble
        val overheadPct = 100.0 *
          (Stats.median(traced.map(_.seconds)) / Stats.median(untraced.map(_.seconds)) - 1)
        emptyLayers ++ workload.layers(tracer, traced) ++ Map(
          "spark.jobs" -> Metric(sparkWork.jobs / perPass, "count"),
          "spark.task_s" -> Metric(sparkWork.taskS / perPass, "s"),
          "spark.cpu_s" -> Metric(sparkWork.cpuS / perPass, "s"),
          "spark.gc_s" -> Metric(sparkWork.gcS / perPass, "s"),
          "spark.failed_tasks" -> Metric(sparkWork.failedTasks.toDouble, "count"),
          "host.cal_cpu_s" -> Metric(calCpuS, "s"),
          "host.steal_pct" -> Metric(stealPct, "%"),
          "run.failed_ratio" -> Metric(Stats.failedRatio(attempted, failed), "ratio"),
          "run.ops" -> Metric(ops.size.toDouble, "count"),
          "run.op_p50_s" -> Metric(stat(Stats.median), "s"),
          "run.op_tail_s" -> Metric(stat(Stats.tail), "s"),
          "trace.overhead_pct" -> Metric(overheadPct, "%"))
      }

    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", failed == 0)
    result.put("attempted", attempted)
    result.put("failed", failed)
    val m = new java.util.LinkedHashMap[String, Any]()
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      m.put(k, Map("value" -> finite(v.value), "unit" -> v.unit).asJava)
    }
    result.put("metrics", m)

    val record = new java.util.LinkedHashMap[String, Any](result)
    record.put("workload", workloadName)
    record.put("seed", seed)
    record.put("seconds", seconds)
    record.put("trace", trace)
    record.put("passes", order.size)
    record.put("tail_pct", Stats.tailPercentile(okS.size))
    record.put("setup_samples_s", setupS.asJava)
    record.put("host", Map("cal_cpu_s" -> calCpuS, "steal_pct" -> stealPct).asJava)
    record.put("notes", workload.notes.asJava)
    if (trace) record.put("spans", tracer.spansWhere(_ => true).size)
    val mapper = new ObjectMapper()
    Files.write(Paths.get(work, "record.json"),
      mapper.writeValueAsString(record).getBytes(StandardCharsets.UTF_8))
    if (trace) writeSpans(mapper, tracer, Paths.get(work, "spans.jsonl"))

    workload.close()
    spark.stop()
    println(mapper.writeValueAsString(result))
  }

  /** Every per-layer metric, zero until a workload that runs the layer
    * fills it in. */
  private def emptyLayers: Map[String, Metric] = {
    val graph500 = Seq("gen.s" -> "s", "gen.edges" -> "count",
      "gen.roots_s" -> "s", "bfs.prepare_s" -> "s",
      "bfs.prepare_shuffle_mb" -> "MB", "bfs.prepare_spill_mb" -> "MB",
      "bfs.run_s" -> "s", "bfs.levels" -> "count", "bfs.nedge" -> "count",
      "bfs.jobs_per_root" -> "count", "bfs.tasks_per_root" -> "count",
      "bfs.shuffle_mb_per_root" -> "MB", "validate.prepare_s" -> "s",
      "validate.s" -> "s", "validate.jobs_per_root" -> "count",
      "validate.shuffle_mb_per_root" -> "MB", "stats.s" -> "s",
      "g500.hm_teps" -> "TEPS")
    val families = for {
      (fam, _) <- QuerySuite.Families
      (k, u) <- Seq("s" -> "s", "jobs" -> "count", "tasks" -> "count",
        "cpu_s" -> "s", "wait_s" -> "s", "shuffle_mb" -> "MB",
        "spill_mb" -> "MB", "failed" -> "count")
    } yield s"$fam.$k" -> u
    (graph500 ++ families).map { case (k, u) => k -> Metric(0.0, u) }.toMap
  }

  private def finite(x: Double): Double =
    if (x.isNaN || x.isInfinite) 0.0 else x

  private def readExpected(path: String): Map[String, (Long, Long)] = {
    val root = new ObjectMapper().readTree(Paths.get(path).toFile)
    root.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asLong())
    }.toMap
  }

  private def writeSpans(mapper: ObjectMapper, tracer: Tracer,
                         path: java.nio.file.Path): Unit = {
    val lines = tracer.spansWhere(_ => true).map { s =>
      val w = tracer.work(s)
      mapper.writeValueAsString(Map[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> w.jobs,
        "tasks" -> w.tasks, "task_ms" -> w.taskMs, "cpu_ns" -> w.cpuNs,
        "shuffle_bytes" -> w.shuffleBytes, "spill_bytes" -> w.spillBytes,
        "failed_tasks" -> w.failedTasks).asJava)
    }
    Files.write(path, lines.asJava, StandardCharsets.UTF_8,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }
}
