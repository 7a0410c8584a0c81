package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Gates
import graft.bench.Graph500
import graft.gen.Kronecker

class Graph500ProtocolSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def protocol(seed2: Long, nRoots: Int) =
    new Graph500Protocol(spark, 10, nRoots, Kronecker.DefaultSeed1, seed2,
      new Tracer(spark.sparkContext))

  private val golden10 = 16383L

  test("kernel path matches Graph500.run at the default seeds") {
    Gates.all.foreach(g => spark.conf.unset(s"spark.graft.$g"))
    val reference = Graph500.run(spark, 10, 8)
    val p = protocol(Kronecker.DefaultSeed2, 8)
    val built = p.build()
    val runs = built.roots.toSeq.map(p.runRoot(built, _))
    built.release()
    assert(built.local)
    assert(runs.map(_.root) === reference.runs.map(_.root))
    assert(runs.map(_.nedge) === reference.runs.map(_.nedge.toLong))
    assert(runs.map(_.errors).sum === 0L)
    assert(reference.runs.map(_.errors).sum === 0L)
    assert(Graph500Protocol.golden(10, Kronecker.DefaultSeed1,
      Kronecker.DefaultSeed2) === Some(golden10))
    assert(runs.map(_.nedge).max === golden10)
  }

  test("distributed path matches Graph500.runBatched at the default seeds") {
    Gates.forceDistributed(spark)
    try {
      val reference = Graph500.runBatched(spark, 10, 4)
      val p = protocol(Kronecker.DefaultSeed2, 4)
      val built = p.build()
      val batch = p.runBatch(built, built.roots.toSeq)
      val runs = batch.runs
      val levels = batch.levels
      batch.release()
      built.release()
      assert(!built.local)
      assert(runs.map(_.root) === reference.roots)
      assert(runs.map(_.nedge) === reference.perRootNedge)
      assert(runs.map(_.errors).sum === 0L)
      assert(reference.errors === 0L)
      assert(runs.map(_.nedge).max === golden10)
      assert(levels > 1)
    } finally Gates.all.foreach(g => spark.conf.unset(s"spark.graft.$g"))
  }

  test("golden check compares the largest nedge of a pass, as Graph500.run does") {
    val g = Some(golden10)
    // a root in a small component traverses fewer edges: not a miss
    assert(Graph500Protocol.goldenMiss(g, Seq(golden10, 12L, golden10)) === None)
    assert(Graph500Protocol.goldenMiss(g, Seq(16382L, 12L)).isDefined)
    assert(Graph500Protocol.goldenMiss(g, Seq(golden10 + 1)).isDefined)
    // no golden count at other seeds
    assert(Graph500Protocol.goldenMiss(None, Seq(5L)) === None)
  }

  test("another seed changes the graph and still validates clean") {
    val p = protocol(Kronecker.DefaultSeed2 + 7, 4)
    val built = p.build()
    val runs = built.roots.toSeq.map(p.runRoot(built, _))
    built.release()
    assert(Graph500Protocol.golden(10, Kronecker.DefaultSeed1,
      Kronecker.DefaultSeed2 + 7) === None)
    assert(runs.map(_.errors).sum === 0L)
    assert(runs.map(_.nedge).max != golden10)
  }

  test("tracer charges each job to the innermost open span") {
    val tracer = new Tracer(spark.sparkContext)
    tracer.active = true
    tracer.span("outer") {
      spark.range(100).collect()
      tracer.span("inner") {
        spark.range(100).groupBy(col("id") % 3).count().collect()
      }
    }
    tracer.active = false
    spark.range(10).count()
    tracer.drain()
    val outer = tracer.work("outer")
    val inner = tracer.work("inner")
    assert(outer.jobs >= 1 && inner.jobs >= 1)
    assert(inner.shuffleBytes > 0 && outer.shuffleBytes === 0L)
    assert(tracer.spans("outer").head.seconds >= tracer.spans("inner").head.seconds)
    assert(tracer.spansWhere(_ => true).size === 2)
  }

  test("query digests ignore row order, and every query has a family") {
    val df = spark.range(50).select(col("id"), (col("id") * 7 % 5).as("v"))
    assert(QuerySuite.digest(df) === QuerySuite.digest(df.orderBy(col("v"), col("id").desc)))
    assert(QuerySuite.digest(df)._1 === 50L)
    assert(QuerySuite.digest(df) != QuerySuite.digest(df.limit(49)))
    graft.SparkEntry.queries.keys.foreach(QuerySuite.familyOf)
    assert(QuerySuite.all.forall(graft.SparkEntry.queries.contains))
  }
}
