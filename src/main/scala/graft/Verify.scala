package graft
import java.io.File
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-8 contract: the dump FAILS OPEN under any wall-clock cap
  * (round 7's gate died at 320 keys and reported `{}` despite 320/320
  * passing when re-run):
  *
  *  - `oracle_sql.json` is written FIRST (it needs no Spark work), so
  *    a timeout mid-dump grades the dumped prefix instead of zeroing
  *    the round;
  *  - keys dump CHEAPEST-FIRST (last round's bench costs), so that
  *    prefix is maximal;
  *  - dumps run on a small thread pool (Spark job submission is
  *    thread-safe; shared chain/scratch stages are built once on the
  *    main thread first, and the Scratch store memoizes each
  *    artifact per session) — wall time ≈ single-threaded / pool size;
  *  - INCREMENTAL re-runs: each key gets a signature file under the
  *    SIBLING metadata dir `<outDir>_sigs/<key>` (outside the dump
  *    dir entirely — r13: the driver's comparator globs outDir's
  *    subdirectories as query outputs, so a `_sigs` dir inside it
  *    graded as a parquet-read error row) keyed on (compiled-classes fingerprint | data
  *    fingerprint | oracle SQL), so re-running after a kill skips
  *    everything already dumped by the same build on the same data. Any recompile or testdata
  *    refresh invalidates every signature — stale dumps are
  *    unservable by construction. SPARK_GRAFT_VERIFY_INCR=off
  *    disables. A fresh driver outDir is unaffected (no dirs → no
  *    skips);
  *  - a budget watchdog (SPARK_GRAFT_VERIFY_BUDGET seconds, default
  *    1500) cancels all Spark jobs at the deadline so the JVM exits
  *    cleanly with the prefix on disk;
  *  - `--smoke` dumps a fixed 5-key canary profile (< 60 s cold) to
  *    the same JSON shape — the gate that can always finish.
  */
object Verify {
  private val smokeKeys =
    Seq("q1_pricing", "dedup_exact", "text_tokens", "vec_topk", "events_sessions")

  /** Fingerprint of the compiled code. Any code change invalidates
    * every incremental dump. sbt runMain repackages the classes into a
    * FRESH bg-jobs jar every invocation, so the fingerprint must be
    * CONTENT-based: jar entry (name, size, crc) — identical bytecode
    * → identical fingerprint across repackagings. The classes-dir
    * fallback uses (name, length, mtime): a recompile bumps mtimes,
    * conservative in the right direction. */
  private def codeFingerprint: String = {
    val url = getClass.getResource("/graft/SparkEntry.class")
    val s = if (url == null) "nores" else if (url.getProtocol == "jar") {
      val jarPath = java.net.URLDecoder.decode(
        url.getPath.stripPrefix("file:").takeWhile(_ != '!'), "UTF-8")
      val jf = new java.util.jar.JarFile(jarPath)
      try {
        val b = Seq.newBuilder[String]
        val en = jf.entries()
        while (en.hasMoreElements) {
          val e = en.nextElement()
          if (!e.isDirectory) b += s"${e.getName}:${e.getSize}:${e.getCrc}"
        }
        b.result().sorted.mkString(",")
      } finally jf.close()
    } else if (url.getProtocol == "file") {
      val root = new File(url.getPath).getParentFile.getParentFile
      def walk(f: File): Seq[File] = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        kids.filter(_.isFile).toSeq ++ kids.filter(_.isDirectory).flatMap(walk)
      }
      walk(root).map(f => s"${f.getName}:${f.length}:${f.lastModified}")
        .sorted.mkString(",")
    } else url.toString
    graft.functions.Prf.md5hex(s).take(16)
  }

  def main(args: Array[String]): Unit = {
    val deadlineAt = System.nanoTime() +
      (sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET", "1500").toDouble * 1e9).toLong
    val smoke = args.contains("--smoke")
    val pos = args.filterNot(_.startsWith("--"))
    val Array(sfDir, outDir) = pos
    val incr = sys.env.getOrElse("SPARK_GRAFT_VERIFY_INCR", "on") != "off"
    val nThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    new File(outDir).mkdirs()
    // signatures used to live in `outDir/_sigs`; on a reused dump dir
    // that legacy dir would keep grading as a parquet-read error row
    Scratch.deleteRec(new File(outDir, "_sigs"))

    // ---- oracle JSON first: no Spark work needed, and it is what the
    // driver's compare reads — with it on disk, any prefix of dumps
    // grades instead of the whole round reporting {}.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dev-only key filter (--keys=a,b,c): dump + oracle a subset while
    // iterating on new operators. The driver never passes it.
    val onlyKeys: Option[Set[String]] = args.collectFirst {
      case a if a.startsWith("--keys=") => a.stripPrefix("--keys=").split(',').toSet
    }
    def dumpJson(path: String, m: Map[String, String]): Unit =
      Files.writeString(Paths.get(path),
        m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")): Unit
    // oracle_sql.json always carries the FULL key map (a --keys run
    // previously truncated it, so a later full pass or any tool
    // reading the dump from that outDir saw a subset — r9 ADVICE);
    // the filtered --keys map goes to a SIBLING file that
    // tools/check_oracle.py prefers when present, and a full run
    // removes any stale sibling.
    val subsetPath = Paths.get(s"$outDir/oracle_sql_subset.json")
    // oracle_sql.json carries the FULL map in every mode; the dumped
    // subset (smoke canary or --keys filter) goes to the sibling file
    // check_oracle.py prefers, and a full run removes any stale
    // sibling — so a reused outDir can never grade a stale subset as
    // a clean full pass (r10 ADVICE: the smoke branch used to
    // OVERWRITE oracle_sql.json with the filtered map and leave any
    // old subset file in place).
    dumpJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    val subsetKeys: Option[Set[String]] =
      if (smoke) Some(smokeKeys.toSet) else onlyKeys
    subsetKeys match {
      case Some(ks) => dumpJson(subsetPath.toString,
        SparkEntry.oracleSql.view.filterKeys(ks).toMap)
      case None => Files.deleteIfExists(subsetPath): Unit
    }

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val keys =
      if (smoke) smokeKeys.filter(SparkEntry.queries.contains)
      else GateCosts.cheapestFirst(
        onlyKeys.fold(SparkEntry.queries.keys)(ks =>
          SparkEntry.queries.keys.filter(ks)), GateCosts.load())
    val sigBase = if (incr) codeFingerprint + "|" + Scratch.dataFingerprint(sfDir) else ""
    def sigOf(name: String): String = graft.functions.Prf.md5hex(
      sigBase + "|" + SparkEntry.oracleSql.getOrElse(name, "")).take(16)

    // shared stages once, on the main thread — after this every
    // per-key Tables.register / WmCache.ensure / Scratch.table call is
    // an idempotent cache hit, safe under the pool
    Tables.register(spark, sfDir)
    if (!smoke) try WmCache.ensure(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"[verify] chain build failed: ${e.getMessage}") }

    val t0 = System.nanoTime()
    def remainingSec = (deadlineAt - System.nanoTime()) / 1e9
    // watchdog: at the deadline, cancel everything — blocked writers
    // throw, workers observe the deadline and exit, the prefix stands
    val watchdog = new Thread(() => {
      try {
        val ms = math.max(0L, (deadlineAt - System.nanoTime()) / 1000000L)
        Thread.sleep(ms)
        System.err.println("[verify] budget reached — cancelling remaining jobs")
        spark.sparkContext.cancelAllJobs()
      } catch { case _: InterruptedException => () }
    })
    watchdog.setDaemon(true)
    watchdog.start()

    // SIBLING path, not inside outDir (r12 verdict #4: the driver's
    // comparator globs outDir's subdirectories as query outputs and
    // reported `_sigs` as a parquet-read error row every round)
    val sigsDir = new File(outDir.stripSuffix("/") + "_sigs")
    if (incr) sigsDir.mkdirs()
    val idx = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val skipped = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = (0 until math.max(1, nThreads)).map { _ =>
      val t = new Thread(() => {
        var i = idx.getAndIncrement()
        while (i < keys.length && remainingSec > 0) {
          val name = keys(i)
          val dir = new File(outDir, name)
          val sigFile = new File(sigsDir, name)
          val sig = sigOf(name)
          if (incr && sigFile.exists() && dir.exists() &&
              new String(Files.readAllBytes(sigFile.toPath), "UTF-8") == sig) {
            skipped.incrementAndGet()
          } else try {
            SparkEntry.queries(name)(spark, sfDir).coalesce(1)
              .write.mode("overwrite").parquet(dir.getAbsolutePath)
            if (incr) Files.writeString(sigFile.toPath, sig)
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          val d = done.incrementAndGet()
          if (d % 25 == 0) System.err.println(
            f"[verify] $d/${keys.length} keys in ${(System.nanoTime() - t0) / 1e9}%.0fs")
          i = idx.getAndIncrement()
        }
      })
      t.start(); t
    }
    workers.foreach(_.join())
    watchdog.interrupt()
    val undumped = keys.length - done.get()
    System.err.println(
      f"[verify] ${done.get()}/${keys.length} dumped (${skipped.get()} served incremental)" +
        (if (undumped > 0) s", $undumped NOT dumped (budget)" else "") +
        f" in ${(System.nanoTime() - t0) / 1e9}%.0fs")
    spark.stop()
  }
}
