package graft.perfbench

import graft.bv.{BvEncoder, BvGraph}

/** Single-thread codec figures on one shard of a workload's graph, taken
  * through the codec's public entry points after the timed passes. */
object Codec {
  private def timeNs(f: => Unit): Long = { val t0 = System.nanoTime(); f; System.nanoTime() - t0 }

  private def medianOf(reps: Int)(f: => Long): Double =
    Stats.median((0 until reps).map(_ => f.toDouble))

  def probe(shardBase: String): Map[String, Double] = {
    val loadMs = medianOf(5)(timeNs(BvGraph.load(shardBase))) / 1e6
    val g = BvGraph.load(shardBase)
    var adj: Array[Array[Int]] = null
    val decodeNs = medianOf(5)(timeNs {
      adj = g.nodeIterator(0, g.n).map(_._2).toArray
    })
    val arcs = adj.map(_.length.toLong).sum
    val r = new Gen.Rng(g.n.toLong, 7L)
    val xs = Array.fill(200000)(r.below(g.n))
    val in = g.newBitInput()
    var sink = 0L
    val degNs = medianOf(5)(timeNs(xs.foreach(x => sink += g.outdegree(x, in))))
    require(sink >= 0)
    val enc = BvEncoder()
    enc.encode(adj) // JIT warm-up
    val encodeNs = medianOf(2)(timeNs(enc.encode(adj)))
    Map(
      "bv.load_ms" -> loadMs,
      "bv.decode_ns_per_arc" -> decodeNs / math.max(1L, arcs),
      "bv.outdegree_ns_per_node" -> degNs / xs.length,
      "bv.encode_ns_per_arc" -> encodeNs / math.max(1L, arcs))
  }
}
