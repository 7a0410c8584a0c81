package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/**
 * Measures how the full query suite's time splits over the query families,
 * the figure the `queries_sf001` subset is weighted by:
 *
 *   SuiteShares <warm-up tables dir> <tables dir> <out.json>
 *
 * One untimed pass of every `SparkEntry.queries` entry over the warm-up
 * tables, then one timed pass over the measured tables, in declaration
 * order in one `local[4]` session, each query timed as [[QuerySuite.run]]
 * times it (to the end of a `noop` write). Writes every query's seconds and
 * each family's seconds and share of the total.
 */
object SuiteShares {
  def main(args: Array[String]): Unit = {
    val Array(warmDir, dir, out) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    val names = graft.SparkEntry.queries.keys.toSeq
    names.foreach(q => QuerySuite.run(spark, warmDir, q, tracer))
    val runs = names.map { q =>
      val r = QuerySuite.run(spark, dir, q, tracer)
      System.err.println(f"[shares] $q ${r.seconds}%.3f ${r.result.left.getOrElse("")}")
      r
    }
    val total = runs.map(_.seconds).sum
    val families = new java.util.LinkedHashMap[String, Any]()
    runs.groupBy(r => QuerySuite.familyOf(r.name)).toSeq
      .sortBy(-_._2.map(_.seconds).sum).foreach { case (fam, rs) =>
        val s = rs.map(_.seconds).sum
        families.put(fam, Map("queries" -> rs.size, "s" -> s,
          "share" -> s / total).asJava)
      }
    val report = new java.util.LinkedHashMap[String, Any]()
    report.put("tables", dir)
    report.put("total_s", total)
    report.put("failed", runs.filter(_.result.isLeft).map(_.name).asJava)
    report.put("families", families)
    report.put("queries", runs.map(r => r.name -> r.seconds).toMap.asJava)
    Files.write(Paths.get(out), new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValueAsString(report).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
