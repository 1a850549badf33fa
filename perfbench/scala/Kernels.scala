package perfbench

import graft.functions.{JaroWinkler, MinHashKernels, TextKernels}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Single-threaded throughput of graft's string kernels, called directly
  * on a workload's own strings. Each probe runs one untimed pass, then
  * whole passes until `budgetMs` has elapsed. */
object Kernels {
  private var sink = 0L // consumed results, so no call is dead code

  private def rate(budgetMs: Double, units: Double)(pass: => Unit): Double = {
    pass
    val t0 = System.nanoTime()
    var passes = 0
    while ((System.nanoTime() - t0) / 1e6 < budgetMs || passes == 0) { pass; passes += 1 }
    units * passes / ((System.nanoTime() - t0) / 1e9)
  }

  def measure(texts: Array[String], pairs: Array[(String, String)],
              budgetMs: Double): Map[String, Double] = {
    val us = texts.map(UTF8String.fromString)
    val mb = us.map(_.numBytes().toLong).sum / (1024.0 * 1024.0)
    val ps = pairs.map { case (a, b) => (UTF8String.fromString(a), UTF8String.fromString(b)) }
    val shingles: Array[ArrayData] = us.map(MinHashKernels.shingleHashes(_, 5))
    Map(
      "kernel.jaro_winkler.mpairs_s" -> rate(budgetMs, ps.length / 1e6) {
        ps.foreach { case (a, b) => sink += JaroWinkler.similarity(a, b).toLong }
      },
      "kernel.shingle_hashes.mb_s" -> rate(budgetMs, mb) {
        us.foreach(u => sink += MinHashKernels.shingleHashes(u, 5).numElements())
      },
      "kernel.minhashes.mrows_s" -> rate(budgetMs, shingles.length / 1e6) {
        shingles.foreach(s => sink += MinHashKernels.minHashes(s, 128).getLong(0))
      },
      "kernel.repetition_counts.mb_s" -> rate(budgetMs, mb) {
        us.foreach(u => sink += TextKernels.repetitionCounts(u).getLong(0))
      },
      "kernel.text_stats.mb_s" -> rate(budgetMs, mb) {
        us.foreach(u => sink += TextKernels.stats(u).numFields)
      },
      "kernel.chunk_tokens.mb_s" -> rate(budgetMs, mb) {
        us.foreach(u => sink += TextKernels.chunkTokens(u, 256, 32).numElements())
      })
  }
}
