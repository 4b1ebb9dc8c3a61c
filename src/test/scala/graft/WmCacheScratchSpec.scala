package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sqlgen.{Gen, SparkDialect}

/** Cross-session chain scratch: the first ensure() writes each g_*
  * stage as parquet under its own (data, SQL, upstream)-fingerprinted
  * key in the Scratch store; a second session reuses them (chain build
  * ≈ parquet read) and serves IDENTICAL rows. */
class WmCacheScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("second session reuses the parquet scratch and matches") {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch").toString
    val stageSqls = new Gen(SparkDialect).cacheStages
    val stages = stageSqls.map(_._1)

    // the chains ensure() builds on their own threads, derived from the
    // stages' g_* references
    assert(WmCache.chains(stageSqls).map(_.map(_._1)).toSet == Set(
      Seq("g_bkt", "g_knn", "g_indeg", "g_carriers", "g_stego"),
      Seq("g_ivf_ct", "g_ivf_asg"), Seq("g_pq_ct", "g_pq_codes"), Seq("g_bq")))

    val s1 = spark.newSession()
    s1.conf.set("spark.graft.scratch", root)
    WmCache.ensure(s1, TestSpark.Sf)
    val done = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && new java.io.File(f, "_DONE").exists())
    assert(done.length == stages.size,
      s"expected one completed scratch key per stage, got ${done.length}")
    val stageFile = stages.map { v =>
      val d = done.filter(_.getName.startsWith(v + "-"))
      assert(d.length == 1, s"expected one completed key for $v")
      v -> new java.io.File(d(0), v)
    }.toMap
    val carriers1 = s1.table("g_carriers").collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted
    assert(carriers1.nonEmpty)
    val stamps = stageFile.map { case (v, f) => v -> f.lastModified() }

    // fresh session: views must come from the scratch parquet, not a
    // rebuild (no stage's files are rewritten)
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.scratch", root)
    WmCache.ensure(s2, TestSpark.Sf)
    val carriers2 = s2.table("g_carriers").collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted
    assert(carriers2.toSeq == carriers1.toSeq)
    stages.foreach { v =>
      assert(stageFile(v).lastModified() == stamps(v),
        s"scratch stage $v was rebuilt instead of reused")
    }

    // and the scratch-served chain agrees with the oracle-checked
    // inline rendering (scratch off → localCheckpoint path)
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.scratch", "off")
    WmCache.ensure(s3, TestSpark.Sf)
    val carriers3 = s3.table("g_carriers").collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted
    assert(carriers3.toSeq == carriers1.toSeq)
  }
}
