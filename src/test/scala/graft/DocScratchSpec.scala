package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-session DOC-side scratch (graft.Scratch): the first session
  * writes each checkpointed build (pair tables, signatures, vocab, …)
  * as parquet under a (data, SQL)-fingerprinted key; a fresh session
  * READS it (no rebuild) and serves identical rows; any change to the
  * build SQL, or to an upstream artifact it reads, lands under a NEW
  * key (auto-invalidation). */
class DocScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("fresh session reads the doc scratch instead of rebuilding; SQL change invalidates") {
    val root = java.nio.file.Files.createTempDirectory("graft_docscratch").toString
    val sql = "select doc_id, length(text) as len from documents where doc_id % 7 = 0"

    val s1 = spark.newSession()
    s1.conf.set("spark.graft.scratch", root)
    Tables.register(s1, TestSpark.Sf)
    val r1 = Scratch.table(s1, TestSpark.Sf, "g_sc_probe", sql)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(r1.nonEmpty)
    val done = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("g_sc_probe-") &&
        new java.io.File(f, "_DONE").exists())
    assert(done.length == 1, s"expected one completed doc scratch key, got ${done.length}")
    val stamp = new java.io.File(done(0), "g_sc_probe").lastModified()

    // fresh session: rows come from the scratch parquet, not a rebuild
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.scratch", root)
    Tables.register(s2, TestSpark.Sf)
    val r2 = Scratch.table(s2, TestSpark.Sf, "g_sc_probe", sql)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(r2 == r1)
    assert(new java.io.File(done(0), "g_sc_probe").lastModified() == stamp,
      "doc scratch was rebuilt instead of reused")
    // and the registered view serves the same rows
    assert(s2.table("g_sc_probe").count() == r1.length.toLong)

    // an edited build SQL must land under a NEW key, never serve stale rows
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.scratch", root)
    Tables.register(s3, TestSpark.Sf)
    val r3 = Scratch.table(s3, TestSpark.Sf, "g_sc_probe",
      sql + " and doc_id % 14 = 0")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(r3 == r1.filter(_._1 % 14 == 0))
    val done2 = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("g_sc_probe-") &&
        new java.io.File(f, "_DONE").exists())
    assert(done2.length == 2, "SQL change must create a new scratch key")

    // scratch off: the localCheckpoint fallback is value-identical
    val s4 = spark.newSession()
    s4.conf.set("spark.graft.scratch", "off")
    Tables.register(s4, TestSpark.Sf)
    val r4 = Scratch.table(s4, TestSpark.Sf, "g_sc_probe", sql)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(r4 == r1)

    // lineage: an artifact that reads another is keyed by its
    // upstream's key, so editing the upstream in a fresh session must
    // rebuild the reader under a new key, never serve its old rows
    val downSql = "select doc_id from g_up"
    def lineage(upSql: String): (Seq[Long], Seq[Long]) = {
      val s = spark.newSession()
      s.conf.set("spark.graft.scratch", root)
      Tables.register(s, TestSpark.Sf)
      val up = Scratch.table(s, TestSpark.Sf, "g_up", upSql)
        .collect().map(_.getLong(0)).sorted.toSeq
      val down = Scratch.table(s, TestSpark.Sf, "g_down", downSql)
        .collect().map(_.getLong(0)).sorted.toSeq
      (up, down)
    }
    def downKeys: Set[String] = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("g_down-") &&
        new java.io.File(f, "_DONE").exists()).map(_.getName).toSet
    val upSql = "select doc_id from documents where doc_id % 2 = 0"
    val (up1, down1) = lineage(upSql)
    assert(up1.nonEmpty && down1 == up1)
    val keys1 = downKeys
    val (up2, down2) = lineage(upSql + " and doc_id % 3 = 0")
    assert(up2 == up1.filter(_ % 3 == 0) && up2.length < up1.length)
    assert(down2 == up2, "g_down served rows built from g_up before its edit")
    val keys2 = downKeys
    assert(keys1.size == 1 && keys2.size == 2 && keys1.subsetOf(keys2),
      "an upstream edit must land the reader under a new key")
  }

  test("a production table (g_jpairs) round-trips through the scratch across sessions") {
    val root = java.nio.file.Files.createTempDirectory("graft_docscratch2").toString
    def runIn(scratch: String): Seq[String] = {
      val s = spark.newSession()
      s.conf.set("spark.graft.scratch", scratch)
      SparkEntry.queries("dedup_jaccard")(s, TestSpark.Sf)
        .collect().map(_.toString).sorted.toSeq
    }
    val a = runIn(root)
    val files = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("g_jpairs-"))
    assert(files.length == 1)
    val stamp = new java.io.File(files(0), "g_jpairs").lastModified()
    val b = runIn(root) // fresh session, same scratch → read, not rebuild
    assert(b == a && a.nonEmpty)
    assert(new java.io.File(files(0), "g_jpairs").lastModified() == stamp)
    val c = runIn("off") // fallback parity
    assert(c == a)
  }
}
