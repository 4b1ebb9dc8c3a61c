package graft

import java.io.File
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The artifact store: every derived table graft keeps is built or read
  * here, through one protocol. That covers the watermark chain and the
  * ANN index stages ([[WmCache]] owns their order and threads) and the
  * doc-side builds (g_simpairs, g_jpairs, g_mhsig, g_hybrid_scores,
  * g_bpe_vocab, g_lpa, the markov census, the decont shingle indexes,
  * the basket table, the MMR pool, the quantile histograms, …).
  *
  * These are the kept production artifacts of the pipeline: O(N)
  * derived ids, edges, signatures, pairs, codes and rate·N·d stego
  * cells, never raw exploded vectors. Without the store every FRESH
  * session re-pays the corpus-priced builds; with it a later session
  * reads parquet.
  *
  *  - key = md5(sf dir | fingerprint of ALL source parquet files
  *    (length + mtime each) | name = build SQL (or tableDf's version) |
  *    the keys of every store artifact of the same (session, dir)
  *    whose g_* name that text references). A testdata refresh, an
  *    edit to an artifact's SQL, or an edit anywhere upstream of it
  *    re-keys it, so stale rows are unservable by construction. A g_*
  *    name the store did not build contributes nothing.
  *  - layout: `<root>/<name>-<key>/<name>` (parquet), complete once
  *    `<name>-<key>/_DONE` exists. Writes go to a process-unique tmp
  *    dir renamed into place, so concurrent builders race safely
  *    (either winner's files serve).
  *  - scratch off (`spark.graft.scratch` = off) or a write failure
  *    falls back to an in-session localCheckpoint, value-identical.
  *    localCheckpoint (not persist) on purpose: it SEVERS the logical
  *    lineage, so each registered view is a plain LogicalRDD. A lazily
  *    persisted view would carry its full WithCTE plan into every
  *    consumer; nesting those inside the consumers' own CTEs trips
  *    Catalyst's PushdownPredicatesAndPruneColumnsForCTEDef on CTE-id
  *    bookkeeping (observed: "key not found" crashes and a mis-resolved
  *    CTE ref that built stego rows from the wrong carrier set).
  *    Parquet-backed views are equally lineage-free.
  *  - memoized per (session, dir, name): a hit is a map lookup plus
  *    view registration, with no file stat and no hashing. A build
  *    holds only its own artifact's lock, so unrelated artifacts build
  *    concurrently.
  *
  * Output files are sized to the data: 1 file per ~200k vectors,
  * capped at the session's shuffle parallelism.
  */
object Scratch {

  private case class Built(key: String, df: DataFrame)

  private val mem = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), AtomicReference[Built]]()

  /** Wall-clock seconds of every artifact BUILD executed by this JVM
    * (scratch parquet writes and localCheckpoint fallbacks). Read-hits
    * record nothing — the map holds exactly the work a warm run does
    * NOT pay, so the bench can publish the cold-build column next to
    * the warm serving numbers. */
  private val buildLog =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Snapshot of the per-artifact build seconds (name -> sec). */
  def buildSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildLog.asScala.toMap
  }

  /** Build-or-read the artifact `name` for (spark, dir) from `sql`,
    * register it as temp view `name`, and return it. `sql` is only
    * rendered on a miss. */
  def table(spark: SparkSession, dir: String, name: String,
            sql: => String): DataFrame = {
    lazy val text = sql
    artifact(spark, dir, name, text)(spark.sql(text))
  }

  /** Build-or-read a PROGRAMMATIC artifact: same keying, memoization,
    * and fallback as [[table]], but the rows come from `mk` (a
    * typed/mapPartitions build) and `version` stands in for the SQL in
    * the key — the convention passes the equivalent generated SQL
    * text, so any change to the declared arithmetic invalidates the
    * artifact exactly like an SQL edit would. */
  def tableDf(spark: SparkSession, dir: String, name: String,
              version: => String)(mk: => DataFrame): DataFrame =
    artifact(spark, dir, name, "df:" + version)(mk)

  /** Whether (spark, dir) already holds artifact `name` (memo only). */
  private[graft] def isBuilt(spark: SparkSession, dir: String, name: String): Boolean =
    Option(mem.get((spark, dir, name))).exists(_.get != null)

  private val gName = "\\bg_\\w+".r

  /** The g_* names `text` references. */
  private[graft] def refs(text: String): Set[String] =
    gName.findAllIn(text).toSet

  /** Scratch root, or None when disabled. */
  private def root(spark: SparkSession): Option[File] = {
    val conf = try spark.conf.get("spark.graft.scratch") catch {
      case _: Exception =>
        sys.env.getOrElse("SPARK_GRAFT_SCRATCH", new File(".graft-scratch").getAbsolutePath)
    }
    conf match {
      case "" | "off" | "false" => None
      case p => Some(new File(p))
    }
  }

  /** Fingerprint of every source parquet file in `dir` (one stat()
    * per file): any table refresh invalidates every key. */
  private[graft] def dataFingerprint(dir: String): String =
    Tables.names.map { n =>
      val f = new File(s"$dir/$n.parquet")
      s"$n:${f.length}:${f.lastModified}"
    }.mkString(",")

  /** The one build-or-read: memo hit, else (under this artifact's own
    * lock, never a map-wide one) key it, read or write its parquet, and
    * fall back to localCheckpoint. */
  private def artifact(spark: SparkSession, dir: String, name: String,
                       text: => String)(mk: => DataFrame): DataFrame = {
    val slot = mem.computeIfAbsent((spark, dir, name), _ => new AtomicReference[Built]())
    val hit = slot.get
    val df = (if (hit != null) hit else slot.synchronized {
      if (slot.get == null) {
        val key = keyOf(spark, dir, name, text)
        val viaScratch = root(spark).flatMap { r =>
          try Some(readOrWrite(spark, dir, r, name, key, mk))
          catch { case e: Exception =>
            System.err.println(s"[scratch] $name failed (${e.getMessage}), " +
              "falling back to localCheckpoint"); None }
        }
        slot.set(Built(key, viaScratch.getOrElse(timed(name)(mk.localCheckpoint()))))
      }
      slot.get
    }).df
    df.createOrReplaceTempView(name)
    df
  }

  private def keyOf(spark: SparkSession, dir: String, name: String,
                    text: String): String = {
    val upstream = refs(text).toSeq.sorted.flatMap(n =>
      Option(mem.get((spark, dir, n))).flatMap(s => Option(s.get)).map(b => s"$n@${b.key}"))
    graft.functions.Prf.md5hex(
      (Seq(dir, dataFingerprint(dir), name + "=" + text) ++ upstream).mkString("|")).take(16)
  }

  private def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    buildLog.merge(name, (System.nanoTime() - t0) / 1e9, (a, b) => a + b)
    r
  }

  private def readOrWrite(spark: SparkSession, dir: String, root: File,
                          name: String, key: String, mk: => DataFrame): DataFrame = {
    val base = new File(root, s"$name-$key")
    if (!new File(base, "_DONE").exists()) {
      val tmp = new File(root,
        s"${base.getName}.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      tmp.mkdirs()
      // repartition (not coalesce): coalesce would narrow the whole
      // upstream computation to `parts` tasks; the extra exchange is
      // tiny exactly when parts is small
      val parts = math.max(1L, math.min(
        spark.sessionState.conf.numShufflePartitions.toLong,
        Tables.vectorCount(spark, dir) / 200000L)).toInt
      val p = new File(tmp, name).getAbsolutePath
      timed(name)(mk.repartition(parts).write.mode("overwrite").parquet(p))
      new File(tmp, "_DONE").createNewFile()
      if (!tmp.renameTo(base)) {
        // lost a race: a COMPLETE winner serves everyone — drop ours
        if (new File(base, "_DONE").exists()) deleteRec(tmp)
        else {
          // base exists but incomplete (a dead builder's partial):
          // rename it ASIDE first, then delete the renamed dir — a
          // delete-in-place would yank parquet files out from under a
          // concurrent reader in another process that already resolved
          // `base` (readers holding the old inode via the renamed path
          // keep valid files); then retry, so the scratch actually
          // lands and future sessions read instead of rebuilding
          val stale = new File(root,
            s"${base.getName}.stale-${ProcessHandle.current().pid()}-${System.nanoTime()}")
          if (base.renameTo(stale)) deleteRec(stale)
          if (!tmp.renameTo(base)) {
            // a live concurrent builder got in between — serve our tmp
            // this session and say the path leaked instead of hiding it
            System.err.println(s"[scratch] rename race on $name: serving and leaking $tmp")
            return spark.read.parquet(p)
          }
        }
      }
    }
    spark.read.parquet(new File(base, name).getAbsolutePath)
  }

  private[graft] def deleteRec(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }
}
