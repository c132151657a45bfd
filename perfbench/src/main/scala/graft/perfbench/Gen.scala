package graft.perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, size}

/** Seeded web-like graph generator and the order-independent checksum
  * every BV read-back is compared against.
  *
  * The shape follows the locality-clustered generator of the 50M-node
  * scale rehearsal, with the seed mixed into every draw and two web
  * traits added: heavy-tailed (Pareto) outdegrees with a share of
  * dangling nodes, and per-host link templates (64 consecutive ids share
  * a pool of targets), which is what gives BV's reference copying
  * something to copy. Every node's list is a pure function of
  * (seed, node, n), so any task, the driver or a test can regenerate
  * any row. */
object Gen {
  private val Golden = 0x9E3779B97F4A7C15L

  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** SplitMix64 stream keyed on (seed, key). */
  final class Rng(seed: Long, key: Long) {
    private var s = mix64(seed * Golden ^ mix64(key + 0x632BE59BD9B4E019L))
    def next(): Long = { s += Golden; mix64(s) }
    /** Uniform in [0, bound). */
    def below(bound: Int): Int = ((next() >>> 1) % bound).toInt
    /** Uniform in (0, 1]. */
    def unit(): Double = ((next() >>> 11) + 1).toDouble / (1L << 53).toDouble
  }

  val MaxDegree = 1000
  val HostSize = 64

  /** Outdegree of node x: 10% dangling, else Pareto(α = 1.6, xm = 3),
    * capped at [[MaxDegree]] and below n. */
  def degree(seed: Long, x: Int, n: Int): Int = {
    val r = new Rng(seed, x.toLong)
    if (r.below(10) == 0) 0
    else math.min(math.min(MaxDegree, n - 1),
      math.floor(3.0 * math.pow(r.unit(), -1.0 / 1.6)).toInt)
  }

  /** Successors of node x: strictly ascending, duplicate-free, in [0, n),
    * exactly [[degree]] of them. */
  def successors(seed: Long, x: Int, n: Int): Array[Int] = {
    val d = degree(seed, x, n)
    if (d == 0) return Array.emptyIntArray
    val r = new Rng(seed, x.toLong + (1L << 40))
    val host = x / HostSize
    val hr = new Rng(seed, host.toLong + (2L << 40))
    val template = Array.fill(24) {
      val v = host.toLong * HostSize + hr.below(20001) - 10000
      math.max(0L, math.min(n - 1L, v)).toInt
    }
    val set = new java.util.TreeSet[Integer]()
    var tries = 0
    while (set.size < d && tries < 8 * d) {
      val k = r.below(10)
      val v =
        if (k < 4) template(r.below(template.length))
        else if (k < 8) math.max(0, math.min(n - 1, x + r.below(129) - 64))
        else r.below(n)
      set.add(v)
      tries += 1
    }
    while (set.size < d) set.add(r.below(n))
    val out = new Array[Int](d)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Hash of one (id, successors) row; successor order matters. */
  def rowHash(id: Long, succ: Array[Int]): Long = {
    var h = mix64(id * Golden + succ.length)
    var i = 0
    while (i < succ.length) { h = mix64(h ^ (succ(i).toLong + Golden)); i += 1 }
    h
  }

  /** Arc count and wrapping sum of row hashes: independent of row order,
    * so a sharded, split or shuffled read-back compares directly. */
  final case class Checksum(rows: Long, arcs: Long, hash: Long) {
    def +(o: Checksum): Checksum = Checksum(rows + o.rows, arcs + o.arcs, hash + o.hash)
  }
  object Checksum {
    val Zero: Checksum = Checksum(0L, 0L, 0L)
    def of(rows: Iterator[(Long, Array[Int])]): Checksum = {
      var c = Zero
      rows.foreach { case (id, s) => c = c + Checksum(1L, s.length.toLong, rowHash(id, s)) }
      c
    }
  }

  /** The generated graph as (id, successors, outdegree) rows. */
  def adjacency(spark: SparkSession, seed: Long, n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, n.toLong, 1L, parts).as[Long]
      .map(x => (x.toInt, successors(seed, x.toInt, n)))
      .toDF("id", "successors")
      .withColumn("outdegree", size(col("successors")))
  }

  /** Checksum of the generated graph, computed from the generator alone. */
  def expected(spark: SparkSession, seed: Long, n: Int, parts: Int): Checksum =
    spark.sparkContext.range(0L, n.toLong, 1L, parts)
      .mapPartitions(it => Iterator(Checksum.of(it.map(x =>
        (x, successors(seed, x.toInt, n))))))
      .reduce(_ + _)

  /** Checksum of rows read back through Spark. */
  def readBack(ds: Dataset[(Int, Array[Int])]): Checksum =
    ds.rdd.mapPartitions(it => Iterator(Checksum.of(it.map { case (i, s) => (i.toLong, s) })))
      .fold(Checksum.Zero)(_ + _)

  /** Generated graph and its transpose, both as checksums, built on the
    * driver with no Spark involved (used for the smaller write graph). */
  def withTranspose(seed: Long, n: Int): (Checksum, Checksum) = {
    val adj = Array.tabulate(n)(x => successors(seed, x, n))
    val inDeg = new Array[Int](n)
    adj.foreach(_.foreach(v => inDeg(v) += 1))
    val inAdj = Array.tabulate(n)(v => new Array[Int](inDeg(v)))
    val fill = new Array[Int](n)
    // ascending x, so each in-list fills already sorted
    var x = 0
    while (x < n) {
      adj(x).foreach { v => inAdj(v)(fill(v)) = x; fill(v) += 1 }
      x += 1
    }
    (Checksum.of(adj.iterator.zipWithIndex.map { case (s, i) => (i.toLong, s) }),
      Checksum.of(inAdj.iterator.zipWithIndex.map { case (s, i) => (i.toLong, s) }))
  }

  /** Prefix sums of outdegree: arcs of ids [lo, hi) = p(hi) - p(lo). */
  def degreePrefix(seed: Long, n: Int): Array[Long] = {
    val p = new Array[Long](n + 1)
    var x = 0
    while (x < n) { p(x + 1) = p(x) + degree(seed, x, n); x += 1 }
    p
  }
}
