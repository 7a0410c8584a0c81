package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.storage.StorageLevel

import graft.bfs.{Bfs, LocalCsr}
import graft.bench.Graph500
import graft.gen.Kronecker
import graft.validate.{LocalValidator, Validator}

/**
 * The Graph500 protocol of `bench.Graph500.run`, driven step by step
 * through the layers' own functions so each step can be timed and traced
 * on its own, with the Kronecker and root-sampling seeds as parameters
 * (`Graph500.run` always uses the reference's default seeds).
 * Graph500ProtocolSpec checks that both paths reproduce `Graph500.run`'s
 * roots, traversed-edge counts and error counts at the default seeds.
 *
 * [[build]] is the construction stage (generate → construct → sample roots
 * → prepare the validator); [[runRoot]] is one BFS plus its validation on
 * the kernels, and [[runBatch]] many roots at once on the DataFrame paths.
 */
final class Graph500Protocol(spark: SparkSession, scale: Int, nRoots: Int,
                             seed1: Long, seed2: Long, tracer: Tracer) {
  import Graph500Protocol.{Batch, Built, RootRun, SetupTimes}

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def build(): Built = {
    val ((raw, nRaw), genS) = tracer.span("gen") {
      timed {
        val r = Kronecker.generate(spark, scale, Kronecker.DefaultEdgeFactor,
          seed1, seed2).persist(StorageLevel.MEMORY_AND_DISK)
        (r, r.count())
      }
    }
    val (g, prepareS) = tracer.span("bfs.prepare") {
      timed(Bfs.prepareRaw(raw, knownCount = nRaw))
    }
    val ((maxV, roots), rootsS) = tracer.span("gen.roots") {
      timed[(Long, Array[Long])] {
        g.csrIfBuilt match {
          case Some(csr) if csr.nVerts > 0 =>
            (csr.ids.last, Kronecker.sampleRoots(nRoots, csr.ids.last + 1,
              v => java.util.Arrays.binarySearch(csr.ids, v) >= 0, seed1, seed2))
          case _ =>
            val mv = g.all.agg(max(col("vertex"))).head().getLong(0)
            (mv, Kronecker.sampleRootsDistributed(g.all.toDF("vertex"),
              "vertex", nRoots, mv + 1, seed1, seed2))
        }
      }
    }
    val local = g.totalEdges <= Bfs.localBfsMaxEdges(spark)
    val ((localV, undirected), validatorS) = tracer.span("validate.prepare") {
      timed {
        if (local) {
          val lv = g.takeRawPairs() match {
            case Some(flat) => new LocalValidator(g.csr.ids, flat)
            case None => new LocalValidator(g.csr.ids, raw)
          }
          (Some(lv), None)
        } else {
          val u = Validator.undirectedRawOf(raw)
            .persist(StorageLevel.MEMORY_AND_DISK)
          u.count()
          (None, Some(u))
        }
      }
    }
    val (pred, depth) =
      if (local) (new Array[Int](g.csr.nVerts), new Array[Int](g.csr.nVerts))
      else (null, null)
    Built(raw, g, maxV, roots, local, localV, undirected, pred, depth,
      SetupTimes(genS, prepareS, rootsS, validatorS, nRaw))
  }

  /** One root on the driver-side kernels: BFS, then validation. */
  def runRoot(b: Built, root: Long): RootRun = {
    require(b.local, "runRoot runs the kernel path; use runBatch above the gate")
    val csr: LocalCsr = b.graph.csr
    val ((_, _, levels), bfsS) = tracer.span("bfs.run") {
      timed(csr.bfsInto(root, b.pred, b.depth))
    }
    val (counters, validateS) = tracer.span("validate") {
      timed(b.localValidator.get.validate(b.pred, b.depth,
        java.util.Arrays.binarySearch(csr.ids, root), b.maxVertex + 1))
    }
    RootRun(root, bfsS, validateS, levels.size, counters.last, counters.init.sum)
  }

  /**
   * All roots in one multi-source BFS and one batched validation, as
   * `Graph500.runBatched` does above the gate (root ids are dense from 0 in
   * the batch, as `Validator.validateMulti` requires). BFS and validation
   * time are each split evenly over the roots. The BFS trees stay cached in
   * the returned [[Batch]] until the caller releases them.
   */
  def runBatch(b: Built, roots: Seq[Long]): Batch = {
    import spark.implicits._
    val (trees, bfsS) = tracer.span("bfs.run") {
      timed {
        val t = Bfs.bfsMinParentMulti(spark, b.graph, roots)
          .persist(StorageLevel.MEMORY_AND_DISK)
        t.count()
        t
      }
    }
    val (rows, validateS) = tracer.span("validate") {
      timed {
        val rootsDf = roots.zipWithIndex.map { case (r, i) => (i.toLong, r) }
          .toDF("run", "root")
        Validator.validateMulti(spark, b.raw, trees, rootsDf, b.maxVertex + 1)
          .collect().sortBy(r => r.getLong(r.fieldIndex("run")))
      }
    }
    Batch(roots.zip(rows).map { case (root, r) =>
      val nedge = r.getLong(r.fieldIndex("edge_visit_count"))
      val errors = (1 until r.length).map(r.getLong).sum - nedge
      RootRun(root, bfsS / roots.size, validateS / roots.size, 0, nedge,
        errors)
    }, trees)
  }
}

object Graph500Protocol {
  final case class Built(raw: DataFrame,
                         graph: Bfs.PreparedGraph, maxVertex: Long,
                         roots: Array[Long], local: Boolean,
                         localValidator: Option[LocalValidator],
                         undirected: Option[DataFrame],
                         pred: Array[Int], depth: Array[Int],
                         times: SetupTimes) {
    def release(): Unit = {
      undirected.foreach(_.unpersist(blocking = false))
      raw.unpersist(blocking = false)
      graph.unpersist()
    }
  }

  /** Seconds of each construction step, and the edges generated. Kept
    * apart from [[Built]] so that recording a set-up does not keep its
    * graph alive. */
  final case class SetupTimes(genS: Double, prepareS: Double, rootsS: Double,
                              validatorS: Double, rawEdges: Long) {
    def total: Double = genS + prepareS + rootsS + validatorS
  }

  /** One root's outcome. `nedge` and `errors` come from validation. */
  final case class RootRun(root: Long, bfsS: Double, validateS: Double,
                           levels: Int, nedge: Long, errors: Long)

  /** The roots of one batched BFS, and their cached BFS trees. */
  final case class Batch(runs: Seq[RootRun], trees: DataFrame) {
    /** Levels of the deepest tree, charged to every root; one more job. */
    def levels: Int = trees.agg(max(col("depth"))).head().getLong(0).toInt + 1
    def release(): Unit = trees.unpersist(blocking = false)
  }

  /** The golden check of the reference (`bench.Graph500.run`): the largest
    * traversed-edge count over a pass's roots must equal the golden one.
    * Returns why it missed, or None. A root in a small component traverses
    * fewer edges and is not a failure by itself. */
  def goldenMiss(golden: Option[Long], nedges: Seq[Long]): Option[String] =
    golden.filter(g => nedges.nonEmpty && nedges.max != g)
      .map(g => s"max nedge ${nedges.max} != golden $g")

  /** The reference's golden traversed-edge count, defined for the default
    * seeds only. */
  def golden(scale: Int, seed1: Long, seed2: Long): Option[Long] =
    if (seed1 == Kronecker.DefaultSeed1 && seed2 == Kronecker.DefaultSeed2)
      Graph500.PfNedge.get(scale)
    else None
}
