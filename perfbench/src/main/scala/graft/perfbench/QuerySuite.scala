package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/**
 * The query-surface workload: a fixed subset of `SparkEntry.queries` whose
 * time splits over the query families roughly as the full suite's does
 * ([[SuiteShares]] measures that split; perfbench/README.md records it).
 * The streaming replays are about two fifths of the full suite's time, so
 * the subset keeps two stateful ones (`st_sessions` keeps per-user state
 * in `flatMapGroupsWithState`, `st_userstats` a streaming aggregation in
 * the state store); relational comes next, led by `rel_marketshare`, a
 * seven-join query whose plan hinges on join placement. The whole suite
 * takes over a minute per pass on four cores; the subset keeps a run
 * inside the benchmark's time budget.
 *
 * A query is timed from the call of its query function to the end of a
 * `noop` write, which materializes every output column (a `count()` would
 * let Catalyst prune columns it does not need). Its result can be checked
 * afterwards, outside the timed window, by row count and an
 * order-independent content digest.
 */
object QuerySuite {

  /** Query families: each maps name prefixes to the module that runs them. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("rel_"),
    "text" -> Seq("tx_"),
    "events" -> Seq("ev_"),
    "dedup" -> Seq("dd_"),
    "similarity" -> Seq("sim_"),
    "mix" -> Seq("mix_"),
    "multimodal" -> Seq("mm_"),
    "streaming" -> Seq("st_"),
    "graph" -> Seq("gr_", "q1_", "q2_", "q3_", "q4_", "q5_", "q6_", "q7_",
      "q8_", "q9_", "q10_", "s4_", "s5_", "s6_", "s7_", "cc_", "sssp_",
      "pipe_"))

  def familyOf(query: String): String =
    Families.collectFirst {
      case (f, prefixes) if prefixes.exists(query.startsWith) => f
    }.getOrElse(sys.error(s"query $query belongs to no family"))

  val Batch: Seq[String] = Seq(
    "rel_marketshare", "rel_pricing",
    "tx_tokens", "tx_bigram_lm",
    "ev_sessions", "ev_funnel",
    "dd_exact", "dd_minhash",
    "sim_brute",
    "q7_bfs", "q8_validate", "gr_pagerank",
    "mix_sample",
    "mm_frames")

  /** Streaming replays run after the batch queries of each pass. */
  val Streaming: Seq[String] = Seq("st_sessions", "st_userstats")

  def all: Seq[String] = Batch ++ Streaming

  /** Order-independent content digest: row count and the sum of per-row
    * xxhash64 values mod a prime. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => df.col("`" + c.replace("`", "``") + "`"))
    val r = df.select(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(1000000007L))),
        lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** One timed query: its result, or the error that stopped it. */
  final case class QueryRun(name: String, seconds: Double,
                            result: Either[String, DataFrame])

  /** Run `name` once on `spark` over the tables in `dir`. */
  def run(spark: SparkSession, dir: String, name: String,
          tracer: Tracer): QueryRun = {
    val fn = SparkEntry.queries(name)
    try {
      val t0 = System.nanoTime()
      val df = tracer.span(s"${familyOf(name)}/$name") {
        val d = fn(spark, dir)
        d.write.format("noop").mode("overwrite").save()
        d
      }
      QueryRun(name, (System.nanoTime() - t0) / 1e9, Right(df))
    } catch {
      case e: Exception => QueryRun(name, 0.0, Left(e.toString))
    }
  }

  /** Why `run` failed or its digest differs from `expected`; None when it
    * matches. */
  def problem(run: QueryRun, expected: Option[(Long, Long)]): Option[String] =
    run.result match {
      case Left(error) => Some(error)
      case Right(df) => expected match {
        case None => Some("no expected digest")
        case Some(exp) =>
          try {
            val got = digest(df)
            if (got == exp) None else Some(s"digest $got, expected $exp")
          } catch { case e: Exception => Some(e.toString) }
      }
    }
}
