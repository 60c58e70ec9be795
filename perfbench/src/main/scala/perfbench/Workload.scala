package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.json4s.JValue

/** One closed-loop call: runs an operator to its full result and throws
  * [[WrongOutput]] when the result differs from the expected one. */
final case class Call(name: String, layer: String, run: () => Unit)

final case class WrongOutput(msg: String) extends Exception(msg)

/** What a workload measures besides its calls, in a traced run. */
final case class LayerRecord(metrics: Seq[(String, Double, String)], notTaken: Seq[(String, String)])

trait Workload {
  def name: String
  /** Builds the seeded inputs and fills caches. */
  def prepare(): Unit
  /** Computes the expected result of every call, Spark-free. */
  def reference(): Unit
  /** The calls of one pass, in the order the client makes them. */
  def pass(index: Int): Seq[Call]
  def passes(seconds: Int): Int
  /** Work sizes for the run record. */
  def sizes: Seq[(String, JValue)]
  /** Spark-free kernel timings and per-call derived metrics for a traced
    * run; `callSeconds` holds the traced median seconds of each call. */
  def layers(callSeconds: Map[String, Double]): LayerRecord =
    LayerRecord(Nil, Nil)
}

/** Seeded input values. Each element is a pure function of
  * (seed, item, index), so Spark tasks and reference threads regenerate
  * identical inputs independently. */
object Gen {
  def rng(seed: Long, stream: Long, item: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + item)

  def doubles(seed: Long, stream: Long, item: Long, n: Int): Array[Double] = {
    val r = rng(seed, stream, item)
    val a = new Array[Double](n)
    var i = 0
    while (i < n) { a(i) = r.nextDouble(); i += 1 }
    a
  }

  def bools(seed: Long, stream: Long, item: Long, n: Int, pTrue: Double): Array[Boolean] = {
    val r = rng(seed, stream, item)
    val a = new Array[Boolean](n)
    var i = 0
    while (i < n) { a(i) = r.nextDouble() < pTrue; i += 1 }
    a
  }
}

/** Spark's xxhash64, folded the way Spark folds it over array elements and
  * struct fields, for hashing reference outputs outside Spark. Doubles
  * hash their bits with both zeros as 0; booleans hash as ints 1/0. */
object H {
  def long(v: Long, h: Long): Long = XXH64.hashLong(v, h)
  def int(v: Int, h: Long): Long = XXH64.hashInt(v, h)
  def doubles(a: Array[Double], h0: Long): Long = doubles(a, 0, a.length, h0)
  def doubles(a: Array[Double], from: Int, until: Int, h0: Long): Long = {
    var h = h0
    var i = from
    while (i < until) {
      val d = a(i)
      h = XXH64.hashLong(if (d == 0.0) 0L else java.lang.Double.doubleToLongBits(d), h)
      i += 1
    }
    h
  }
  def bools(a: Array[Boolean], h0: Long): Long = {
    var h = h0
    var i = 0
    while (i < a.length) { h = XXH64.hashInt(if (a(i)) 1 else 0, h); i += 1 }
    h
  }
  def ints(a: Array[Int], h0: Long): Long = {
    var h = h0
    var i = 0
    while (i < a.length) { h = XXH64.hashInt(a(i), h); i += 1 }
    h
  }
}

/** A fixed pool of plain JVM threads for Spark-free work. */
object Par {
  def threads: Int = Runtime.getRuntime.availableProcessors()

  /** Runs f(0 until n) on `nThreads` threads; items are claimed in order. */
  def foreach(n: Int, nThreads: Int)(f: Int => Unit): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(nThreads)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      (0 until nThreads).foreach { _ =>
        pool.execute(() => {
          var i = next.getAndIncrement()
          while (i < n && errors.isEmpty) {
            try f(i) catch { case e: Throwable => errors.add(e) }
            i = next.getAndIncrement()
          }
        })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.HOURS)
    }
    if (!errors.isEmpty) throw errors.peek()
  }

  /** Digest of n items whose row hashes `rowHash` computes, on `nThreads`. */
  def digest(n: Int, nThreads: Int)(rowHash: Int => Long): Digest = {
    val parts = Array.fill(n)(0L)
    foreach(n, nThreads)(i => parts(i) = rowHash(i))
    val b = new Digest.Builder
    parts.foreach(b.add)
    b.result
  }

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}
