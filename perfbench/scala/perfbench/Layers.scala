package perfbench

import graft.core.CardinalitySketch
import graft.sql.UnsafeWyHash

import org.apache.spark.unsafe.types.UTF8String

/** Single-thread direct calls into `graft.core` and `graft.sql`, each rep a
  * span. Every rate is the median over reps of items per second.
  */
object Layers {
  private val Reps = 5
  private val MinRepSeconds = 0.15
  private val WarmSeconds = 0.5
  @volatile private var sink: Long = 0L

  /** Items per second of `pass` (which handles `items` items per call). */
  def rate(run: Run, name: String, items: Long)(pass: => Long): Double = {
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < WarmSeconds * 1e9) sink ^= pass
    val rates = (1 to Reps).map { _ =>
      run.span("call", name) {
        val t0 = System.nanoTime()
        var done = 0L
        while ((System.nanoTime() - t0) < MinRepSeconds * 1e9) {
          sink ^= pass
          done += items
        }
        done / ((System.nanoTime() - t0) / 1e9)
      }
    }
    Stats.median(rates)
  }

  def hashes(urls: Array[UTF8String]): Array[Long] = urls.map(UnsafeWyHash.hashUTF8)

  /** `core.insert_hash_per_s`, `sql.hash_utf8_per_s` and the hash + insert
    * rung over the workload's own values.
    */
  def hashAndInsert(run: Run, values: Array[String]): Map[String, Double] = {
    val utf8 = values.map(UTF8String.fromString)
    val hs = hashes(utf8)
    val n = hs.length.toLong
    val insert = rate(run, "core.insertHash", n) {
      val sk = CardinalitySketch(12, 6)
      var i = 0
      while (i < hs.length) { sk.insertHash(hs(i)); i += 1 }
      sk.estimate
    }
    val hash = rate(run, "sql.hashUTF8", n) {
      var acc = 0L
      var i = 0
      while (i < utf8.length) { acc ^= UnsafeWyHash.hashUTF8(utf8(i)); i += 1 }
      acc
    }
    val both = rate(run, "sql.hashUTF8+core.insertHash", n) {
      val sk = CardinalitySketch(12, 6)
      var i = 0
      while (i < utf8.length) { sk.insertHash(UnsafeWyHash.hashUTF8(utf8(i))); i += 1 }
      sk.estimate
    }
    Map("core.insert_hash_per_s" -> insert, "sql.hash_utf8_per_s" -> hash,
      "ladder.hash_insert_rows_per_s" -> both, "ladder.hash_insert_frac" -> both / insert)
  }

  /** `core.deserialize_per_s` and `core.merge_per_s` over stored sketches,
    * merged per key as a rollup does.
    */
  def deserializeAndMerge(run: Run, keyed: Array[(Int, Array[Byte])]): Map[String, Double] = {
    val n = keyed.length.toLong
    val deser = rate(run, "core.deserialize", n) {
      var acc = 0L
      var i = 0
      while (i < keyed.length) { acc += CardinalitySketch.deserialize(keyed(i)._2).p; i += 1 }
      acc
    }
    val sketches = keyed.map { case (k, b) => (k, CardinalitySketch.deserialize(b)) }
    val merge = rate(run, "core.merge", n) {
      val acc = new java.util.HashMap[Int, CardinalitySketch]()
      var i = 0
      while (i < sketches.length) {
        val (k, sk) = sketches(i)
        val cur = acc.get(k)
        if (cur == null) acc.put(k, sk.copy()) else cur.merge(sk)
        i += 1
      }
      acc.size.toLong
    }
    Map("core.deserialize_per_s" -> deser, "core.merge_per_s" -> merge)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
