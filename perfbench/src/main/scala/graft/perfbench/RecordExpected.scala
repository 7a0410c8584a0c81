package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/**
 * Records the expected row count and content digest of every
 * [[QuerySuite]] query over a tables directory:
 *
 *   RecordExpected <tables dir> <out.json>
 *
 * Run once on a commit whose outputs matched the DuckDB oracle
 * (tools/check.py over graft.Verify's dump of the same directory); the
 * benchmark then checks every later run against the file.
 */
object RecordExpected {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val digests = new java.util.TreeMap[String, java.util.List[Long]]()
    QuerySuite.all.foreach { q =>
      val (rows, sum) = QuerySuite.digest(graft.SparkEntry.queries(q)(spark, dir))
      digests.put(q, Seq(rows, sum).asJava)
    }
    Files.write(Paths.get(out), new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValueAsString(digests).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
