package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{Scratch, SparkEntry, Tables, WmCache}
import graft.api.Graft
import graft.operators.Backup
import graft.sqlgen.{Wm, WmParams}

/** One benchmark run: one JVM, one Spark driver at local[nproc], one
  * closed-loop client calling the program's public entry points.
  *
  *   --workload wm_roundtrip | serve_mix
  *   --seed N --seconds S --trace 0|1
  *   --data DIR      corpus the workload reads (parquet tables)
  *   --work DIR      empty directory the run owns (scratch, outputs)
  *   --nproc N       local[N] and N shuffle partitions
  *   --spawn-ns T    wall-clock epoch ns at which the JVM was launched
  *   --expected F    the serving mix: key, row count and hash per line
  *
  * Prints one JSON object as its last stdout line:
  * {"correct", "attempted", "failed", "metrics"}. Untraced runs report
  * the end-to-end metrics, traced runs the per-layer ones. */
object Harness {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        nproc: Int, spawnNs: Long, expected: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("nproc").toInt,
      m("spawn-ns").toLong, m("expected"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = new File(o.work)
    val spark = SparkSession.builder()
      .master(s"local[${o.nproc}]")
      .config("spark.sql.shuffle.partitions", o.nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.graft.scratch", new File(work, "scratch").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res =
      try {
        val run = new Run(spark, o)
        o.workload match {
          case "wm_roundtrip" => run.wm()
          case "serve_mix" => run.serve()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      } finally spark.stop()
    println(res)
  }
}

final class Run(spark: SparkSession, o: Harness.Opts) {
  import Stats.{median, quantile}
  private val params = WmParams.Default
  private val work = new File(o.work)
  private val trace = if (o.trace) Some(new Trace(spark)) else None
  private val mix = ServeMix.load(o.expected)

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------ failure accounting

  private var attempted = 0L
  private var failed = 0L
  private def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what")
  }

  // ------------------------------------------ per-layer samples, traced

  /** metric -> one value per traced operation; reported as medians. */
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(k: String, v: Double): Unit =
    if (trace.isDefined) layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private def sampleAll(d: Map[String, Double]): Unit = d.foreach { case (k, v) => sample(k, v) }

  /** Artifact builds Scratch logged since `before` (its log is
    * JVM-global and keyed by name, so it is read as a difference). */
  private def builds(before: Map[String, Double]): Map[String, Double] =
    Scratch.buildSeconds.collect {
      case (k, v) if v > before.getOrElse(k, 0.0) => k -> (v - before.getOrElse(k, 0.0))
    }

  /** Trace counters and artifact builds of `body` (traced runs only). */
  private def traced[T](body: => T): (T, Map[String, Double]) = trace match {
    case Some(t) =>
      val b0 = Scratch.buildSeconds
      val s0 = t.snapshot()
      val r = body
      val d = Trace.diff(s0, t.snapshot())
      val bs = builds(b0)
      if (bs.nonEmpty) System.err.println(s"[perfbench] built ${bs.keys.toSeq.sorted.mkString(" ")}")
      (r, d ++ bs.map { case (k, v) => s"artifact.build_s.$k" -> v } ++
        Map("artifact.builds" -> bs.size.toDouble, "artifact.build_s" -> bs.values.sum))
    case None => (body, Map.empty)
  }

  private def coreUtil(d: Map[String, Double], wall: Double): Map[String, Double] =
    d.get("exec.task_run_s").map(r => "exec.core_util" -> r / (wall * o.nproc)).toMap

  // ---------------------------------------------------------- result

  private def readyNow(): Double =
    (System.currentTimeMillis() * 1000000L - o.spawnNs) / 1e9

  private def dirMb(f: File): Double = {
    def bytes(f: File): Long =
      if (f.isFile) f.length else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    bytes(f) / (1024.0 * 1024.0)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** The end-to-end metrics, one set for every workload: set-up, the
    * median timed operation (a round-trip; a warm pass over the mix),
    * the tail latency of one public call (the workload names which),
    * and the artifact scratch. A traced run reports the per-layer
    * metrics instead, the traced operation's wall among them. */
  private def result(setup: Double, ops: Seq[Double], callTail: Double,
                     scratchMb: Double): String = {
    val metrics =
      if (trace.isDefined) {
        if (ops.nonEmpty) sample("trace.op_s", median(ops))
        sample("jvm.peak_rss_mb", peakRssMb())
        LayerMetrics.names(mix.keys).map { case (k, unit) =>
          (k, layer.get(k).map(xs => median(xs.toSeq)).getOrElse(0.0), unit) }
      } else if (failed > 0) Nil
      else Seq(
        ("setup_s", setup, "s"),
        ("op_s", median(ops), "s"),
        ("call_p90_s", callTail, "s"),
        ("scratch_mb", scratchMb, "MB"))
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    val correct = failed == 0 && attempted > 0
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  /** A session of its own: the given scratch dir, nproc shuffle
    * partitions, and watched by the trace listener. */
  private def session(scratch: File): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", o.nproc.toString)
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.graft.scratch", scratch.getAbsolutePath)
    trace.foreach(_.watch(s))
    s
  }

  // ------------------------------------------------------------ wm_*

  /** Set-up is the JVM, the session and Tables.register. The timed
    * operation is the paper's workflow, once, in this fresh JVM, on a new
    * session and an empty scratch: embed (ensure, write the stego table,
    * save the carrier ids), attack (harness, untimed), detect (extract,
    * decrypt). Only the first round-trip of a JVM pays its warm-up, as
    * a batch job does, so a run times exactly one. Its call_p90_s is the
    * slowest public call of the round-trip, WmCache.ensure. Every output
    * is checked after the timed steps. */
  def wm(): String = {
    val (_, reg) = time(Tables.register(spark, o.data))
    sample("tables.register_s", reg)
    val setup = readyNow()
    val dir = new File(work, "rt")
    val out = new File(dir, "stego").getAbsolutePath
    val ids = new File(dir, "ids").getAbsolutePath
    val attacked = new File(dir, "attacked").getAbsolutePath
    attempted += 1
    val ok = try {
      val s = session(new File(dir, "scratch"))
      val ((rows, embedSteps), d1) = traced {
        val (_, ens) = time(WmCache.ensure(s, o.data))
        val (rows, wr) = time(new Graft(s, o.data).writeWatermarked(out))
        val (_, idt) = time(Backup.saveCarrierIds(s, o.data, ids))
        (rows, Map("artifact.ensure_s" -> ens, "wm.write_s" -> wr, "wm.ids_s" -> idt))
      }
      Attack.gaussian(s, out, attacked, o.seed)
      val ((bits, msg, detectSteps), d2) = traced {
        val (rs, ex) = time(Backup.extractFromIds(s.read.parquet(attacked), ids).collect())
        val bits = rs.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val (msg, dec) = time(Graft.assembleAndDecrypt(bits, params.key))
        (bits, msg, Map("wm.extract_s" -> ex, "wm.decrypt_s" -> dec))
      }
      val steps = embedSteps ++ detectSteps
      val embed = embedSteps.values.sum
      val detect = detectSteps.values.sum
      System.err.println(f"[perfbench] round-trip embed $embed%.3f s detect $detect%.3f s")
      val problems = Checks.wm(s, o.data, out, ids, rows, msg, params)
      problems.foreach(p => fail(s"round-trip: $p"))
      if (problems.isEmpty) {
        val d = (d1.keySet ++ d2.keySet).map(k =>
          k -> (d1.getOrElse(k, 0.0) + d2.getOrElse(k, 0.0))).toMap
        sampleAll(d ++ coreUtil(d, embed + detect) ++ steps ++
          Map("wm.embed_s" -> embed, "wm.detect_s" -> detect,
            "wm.bit_errors" -> Checks.bitErrors(bits, params.cipherB64).toDouble))
        Some((embed + detect, steps("artifact.ensure_s")))
      } else None
    } catch { case e: Throwable =>
      fail(s"round-trip threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
    result(setup, ok.map(_._1).toSeq, ok.map(_._2).getOrElse(0.0),
      dirMb(new File(dir, "scratch")))
  }

  // ------------------------------------------------------- serve_mix

  private def frame(s: SparkSession, key: String): DataFrame =
    if (key == ServeMix.TopKNative) new Graft(s, o.data).topKNative(10)
    else SparkEntry.queries(key)(s, o.data)

  /** One call, timed from the entry point to its collected output. */
  private case class Call(key: String, rows: Array[Row], cols: Seq[String],
                          dfS: Double, wall: Double)

  private def call(s: SparkSession, key: String): Option[Call] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val (df, dfS) = time(frame(s, key))
      val rows = df.collect()
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $key%-24s $wall%8.3f s ${rows.length}%7d rows")
      Some(Call(key, rows, df.columns.toSeq, dfS, wall))
    } catch { case e: Throwable =>
      fail(s"$key threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }

  /** Outside every timing: the rows against the committed hash. */
  private def check(c: Call): Boolean = {
    val got = (c.rows.length.toLong, Canon.hash(c.cols, c.rows))
    mix.want.get(c.key) match {
      case Some(w) if w == got => true
      case w => fail(s"${c.key}: got $got, expected ${w.getOrElse("no entry")}"); false
    }
  }

  /** The committed hashes were graded against the oracle's static
    * geometry; on a corpus whose derived geometry differs they do not
    * apply. */
  private def checkGeometry(s: SparkSession): Unit = {
    val nv = Tables.vectorCount(s, o.data)
    val nd = Tables.docCount(s, o.data)
    val g = Seq(("lshPlanesFor", Wm.lshPlanesFor(nv), Wm.LshPlanes),
      ("simhashBandsFor", Wm.simhashBandsFor(nd), Wm.SimhashBands),
      ("l1HashesFor", Wm.l1HashesFor(nv), 2))
    attempted += 1
    g.filter(x => x._2 != x._3).foreach { case (f, got, want) =>
      fail(s"$f gives $got on this corpus, the oracle geometry is $want") }
  }

  /** One warm pass in seeded order; its calls are checked after the
    * pass, and a warm pass may build nothing. The calls and the trace
    * counters if every call succeeded, else None. */
  private def warmPass(s: SparkSession, rng: scala.util.Random, pass: Int)
      : Option[(Seq[Call], Map[String, Double])] = {
    val b0 = Scratch.buildSeconds
    val (calls, d) = traced(rng.shuffle(mix.keys).flatMap(k => call(s, k)))
    val rebuilt = builds(b0)
    attempted += 1
    if (rebuilt.nonEmpty) fail(s"warm pass $pass built ${rebuilt.keys.mkString(",")}")
    val good = calls.filter(check)
    if (good.size == mix.keys.size && rebuilt.isEmpty) Some((good, d)) else None
  }

  /** Set-up is the JVM, the session, Tables.register and one pass over
    * the mix on an empty scratch, which builds every artifact. Then warm
    * passes run until `seconds` have passed. Every pass is checked.
    * Its call_p90_s is the 90th percentile of the warm calls' latency. */
  def serve(): String = {
    val base = session(new File(work, "scratch"))
    val rng = new scala.util.Random(o.seed)
    val (cold, setupTrace) = traced {
      val (_, reg) = time(Tables.register(base, o.data))
      sample("tables.register_s", reg)
      checkGeometry(base)
      mix.keys.flatMap(k => call(base, k))
    }
    val setup = readyNow()
    sampleAll(setupTrace.filter(_._1.startsWith("artifact.")))
    cold.foreach(check)
    val scratchMb = dirMb(new File(work, "scratch"))

    val passes = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 1 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      warmPass(base, rng, pass).foreach { case (good, d) =>
        val wall = good.map(_.wall).sum
        passes += wall
        lat ++= good.map(_.wall)
        sampleAll(d.filterNot(_._1.startsWith("artifact.")) ++ coreUtil(d, wall) ++
          good.map(c => s"key.${c.key}_s" -> c.wall) +
          ("sqlgen.df_s" -> good.map(_.dfS).sum))
      }
      pass += 1
    }
    result(setup, passes.toSeq, if (lat.isEmpty) 0.0 else quantile(lat.toSeq, 0.9), scratchMb)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
