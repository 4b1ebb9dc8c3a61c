package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, udf}
import graft.sqlgen.WmParams

/** The attacker's side of the round-trip, run by the harness and never
  * timed: a seeded noisy copy of the written stego table. As the
  * program's own `attack_gaussian`, 30% of the rows get N(0, 0.1²)
  * noise on every dimension; which rows and which noise follow from
  * the seed and the row id alone. */
object Attack {
  def gaussian(s: SparkSession, stego: String, out: String, seed: Long): Unit = {
    val noisy = udf { (id: Long, v: Seq[Double]) =>
      val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
      if (r.nextDouble() < 0.3) v.map(x => x + 0.1 * r.nextGaussian()) else v
    }
    s.read.parquet(stego)
      .select(col("vec_id"), noisy(col("vec_id"), col("embedding")).as("embedding"))
      .write.mode("overwrite").parquet(out)
  }
}

/** Correctness checks of the round-trip, all outside the timed steps. */
object Checks {
  /** Payload bits that differ from the ciphertext's bits (of 256). */
  def bitErrors(bits: Map[(Long, Long), Long], cipherB64: String): Int =
    (for (blk <- 0 until 16; ci <- 0 until 2; b <- 0 until 8) yield {
      val want = (cipherB64(blk * 2 + ci) >> (7 - b)) & 1
      if (bits.getOrElse((blk.toLong, (ci * 8 + b).toLong), -1L) == want) 0 else 1
    }).sum

  /** Problems with one round-trip, empty when all hold: the attacked
    * table decrypted to the message, the clean stego table decrypts to
    * the message, the written table has one row per input vector, and
    * only carrier rows differ from the input (by more than rounding). */
  def wm(s: SparkSession, data: String, stego: String, ids: String,
         rows: Long, attackedMsg: String, params: WmParams): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (attackedMsg != params.message)
      problems += s"attacked decrypt gave '$attackedMsg'"
    val clean = graft.operators.Backup.recoverFromIds(s.read.parquet(stego), ids, params)
    if (clean != params.message) problems += s"clean decrypt gave '$clean'"
    val input = s.read.parquet(s"$data/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("orig"))
    val n = input.count()
    if (rows != n) problems += s"stego table has $rows rows, input has $n"
    // the stego table stores values rounded to 6 decimals, so a row
    // counts as changed only beyond that rounding
    val changed = s.read.parquet(stego).join(input, "vec_id")
      .where(expr("exists(zip_with(embedding, orig, (a, b) -> abs(a - b)), d -> d > 1e-5)"))
      .select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val carriers = s.read.parquet(ids).select("vec_id").collect().map(_.getLong(0)).toSet
    if (changed.isEmpty) problems += "no row changed"
    val stray = changed -- carriers
    if (stray.nonEmpty) problems += s"${stray.size} non-carrier rows changed"
    problems.result()
  }
}

/** The serving mix and its committed outputs, read from
  * perfbench/expected/serve_mix.txt: one `key rows md5` line per key,
  * in the order the set-up pass runs them. That file is the one list of
  * the mix; record_expected.py re-records the keys it names. */
final case class ServeMix(expected: Seq[(String, (Long, String))]) {
  val keys: Seq[String] = expected.map(_._1)
  val want: Map[String, (Long, String)] = expected.toMap
}

object ServeMix {
  /** `Graft.topKNative(10)`, which plans through CosineTopK. Its
    * committed line is vec_topk's: it must return exactly those rows. */
  val TopKNative = "topk_native"

  def load(path: String): ServeMix = {
    val src = scala.io.Source.fromFile(path)
    try ServeMix(src.getLines().toList
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, r, h) = l.split("\\s+"); k -> (r.toLong, h) })
    finally src.close()
  }
}
