package graft

import org.apache.spark.sql.SparkSession
import graft.sqlgen.{Gen, SparkDialect, Wm}

/** The watermark chain (bkt → knn → indeg → carriers → stego) and the
  * ANN index builds that ride with it (IVF, PQ, BQ): the `cacheStages`
  * artifacts, built and read through the [[Scratch]] store per
  * (session, sf dir) and registered as g_* temp views.
  *
  * Many queries (wm_*, BER suite, writeback, recall, LSH/IVF/PQ top-k,
  * graph analytics) consume some prefix of the same chain; without
  * sharing, each one rebuilds it (the reference computes it once per
  * embed call too — database/pgvector/pg_func.py:735 embed_watermark).
  * The Spark-dialect rendering (Gen with useViews) aliases the views
  * while the DuckDB oracle keeps the full inline chain — the views hold
  * exactly the full chain's rows, so results are identical.
  */
object WmCache {

  /** The cacheStages view names (the same at every plane count). */
  private lazy val views: Set[String] =
    new Gen(SparkDialect).cacheStages.map(_._1).toSet

  /** Whether a Spark rendering reads a chain view, i.e. needs [[ensure]]. */
  def readBy(sql: String): Boolean = Scratch.refs(sql).exists(views)

  /** Stages split into their independent chains: the connected
    * components of the stages' g_* references, each in declaration
    * order: the wm selection chain, the IVF index build (ct → asg),
    * the PQ index build (ct → codes) and the BQ codes, each starting
    * from the raw `embeddings` scan. */
  private[graft] def chains(stages: Seq[(String, String)]): Seq[Seq[(String, String)]] =
    stages.foldLeft(Vector.empty[Seq[(String, String)]]) { (acc, stage) =>
      val reads = Scratch.refs(stage._2)
      val (linked, rest) = acc.partition(_.exists(s => reads(s._1)))
      rest :+ (linked.flatten :+ stage)
    }

  private val chainsByPlanes =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[Seq[(String, String)]]]()

  /** Build-or-read every chain stage for (spark, dir) and register the
    * g_* views. The stage SQL uses the same N-derived plane count as
    * SparkEntry's consumer renderings: the views and every query
    * reading them must agree on the bucket layout.
    *
    * A cold build is overhead-dominated (codegen compile + parquet
    * commit per stage), so the chains build CONCURRENTLY, one thread
    * each (Spark job submission is thread-safe; temp views register
    * through the session catalog), cutting the one-off cold cost to the
    * longest chain instead of the stage-count sum. Within a chain each
    * stage reads the views its own thread registered before it. */
  def ensure(spark: SparkSession, dir: String): Unit = {
    Tables.register(spark, dir)
    val cs = chainsByPlanes.computeIfAbsent(Wm.lshPlanesFor(Tables.vectorCount(spark, dir)),
      p => chains(new Gen(SparkDialect, lshPlanes = p).cacheStages))
    def build(stage: (String, String)): Unit = Scratch.table(spark, dir, stage._1, stage._2)
    val cold = cs.filterNot(_.forall(s => Scratch.isBuilt(spark, dir, s._1)))
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = cold.map { chain =>
      val t = new Thread(() =>
        try chain.foreach(build)
        catch { case e: Throwable => err.compareAndSet(null, e) })
      t.start(); t
    }
    threads.foreach(_.join())
    if (err.get() != null) throw err.get() match {
      case e: Exception => e
      case e => new RuntimeException(e)
    }
    // memo hits: (re-)register every view for this dir
    cs.flatten.foreach(build)
  }
}
