package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.IntWritable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.hadoop.{IntArrayWritable, WebGraphInputFormat}
import graft.sources.BvShards

/** What a timed op hands back: the units of work it delivered (arcs for
  * the graph ops, rows otherwise) and its output check, which runs after
  * the clock stops and returns an error message on a wrong result. */
final case class Done(work: Long, check: () => Option[String])

/** One op of a workload. `pass` is -1 for the untimed warm-up pass. */
final case class Op(name: String, body: Int => Done)

final case class Ctx(spark: SparkSession, seed: Long, cores: Int, work: String,
    tables: String, dump: String)

trait Workload {
  def name: String
  /** One build of the workload's inputs; set-up runs it several times and
    * reports the median. `i` numbers the build (a fresh location each). */
  def build(i: Int): Unit
  /** Expected values and read-back checks, once, after the builds. */
  def prepare(): Unit
  def ops: Seq[Op]
  /** Measurement seconds budgeted per pass: a run measures
    * round(seconds / secondsPerPass) passes, so the sample count, and with
    * it the tail percentile, depends on `--seconds` and not on how fast the
    * box happens to be. */
  def secondsPerPass: Double
  /** Op order of timed pass `pass` (the warm-up uses `ops`). */
  def order(pass: Int): Seq[Op] = ops
  /** Workload figures for the record (sizes, bits per link, ...). */
  def facts: Map[String, Any]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "bv-scan" => new BvScan(ctx)
    case "bv-write" => new BvWrite(ctx)
    case "query-mix" => new QueryMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def check(ok: Boolean, msg: => String): Option[String] = if (ok) None else Some(msg)

  def fileBytes(path: String): Long = Files.size(Paths.get(path))

  def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally all.close()
  }
}

import Workload.check

/** Decode side: one generated graph written once by the sink as 8 shards,
  * read through the DSv2 source and through the Hadoop InputFormat. */
final class BvScan(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "bv-scan"
  val secondsPerPass = 2.0 // about one warm pass on 4 cores
  val n = 300000
  val shards = 8
  private var base = ""
  private var expect = Gen.Checksum.Zero
  private var prefix: Array[Long] = Array.emptyLongArray
  private val slices = new Gen.Rng(ctx.seed, -1L)

  def build(i: Int): Unit = {
    if (base.nonEmpty) Workload.rmTree(Paths.get(base).getParent)
    base = s"${ctx.work}/scan$i/g"
    Gen.adjacency(spark, ctx.seed, n, ctx.cores * 2).write.format("bvgraph")
      .option("basename", base).option("shards", shards.toLong).option("nodes", n.toLong)
      .mode("overwrite").save()
  }

  private def graph(): DataFrame = spark.read.format("bvgraph").option("basename", base).load()

  /** (file basename, first global id) of every shard, from the manifest. */
  private def shardFiles: Seq[(String, Long)] =
    BvShards.readManifest(base).get.shards.map(s => (s.base, s.from))

  /** The reference README's flow: one newAPIHadoopRDD per shard file (the
    * InputFormat reads plain BV triples, not shard manifests). Keys are
    * shard-local ids; the shard's first global id is added back. */
  private def hadoopRows(): org.apache.spark.rdd.RDD[(Long, Array[Int])] = {
    val sc = spark.sparkContext
    sc.union(shardFiles.map { case (b, from) =>
      val conf = new Configuration(sc.hadoopConfiguration)
      WebGraphInputFormat.setBasename(conf, b)
      WebGraphInputFormat.setNumberOfSplits(conf, 2)
      sc.newAPIHadoopRDD(conf, classOf[WebGraphInputFormat], classOf[IntWritable],
        classOf[IntArrayWritable]).map { case (k, v) => (from + k.get, v.values) }
    })
  }

  def prepare(): Unit = {
    import spark.implicits._
    expect = Gen.expected(spark, ctx.seed, n, ctx.cores * 2)
    prefix = Gen.degreePrefix(ctx.seed, n)
    require(prefix(n) == expect.arcs, "degree prefix disagrees with the generator")
    val dsv2 = Gen.readBack(graph().select($"id", $"successors").as[(Int, Array[Int])])
    require(dsv2 == expect, s"DSv2 read-back $dsv2 != generated $expect")
    val hadoop = hadoopRows().mapPartitions(it => Iterator(Gen.Checksum.of(it)))
      .fold(Gen.Checksum.Zero)(_ + _)
    require(hadoop == expect, s"InputFormat read-back $hadoop != generated $expect")
  }

  val ops: Seq[Op] = Seq(
    Op("scan_full", _ => {
      val c = graph().select(explode(col("successors"))).count()
      Done(c, () => check(c == expect.arcs, s"$c arcs, expected ${expect.arcs}"))
    }),
    Op("scan_outdegree", _ => {
      val rows = graph().select(col("id"), col("outdegree"))
        .groupBy(col("outdegree")).count().collect()
      val nodes = rows.map(_.getLong(1)).sum
      val arcs = rows.map(r => r.getInt(0).toLong * r.getLong(1)).sum
      Done(nodes, () => check(nodes == n && arcs == expect.arcs,
        s"($nodes nodes, $arcs arcs), expected ($n, ${expect.arcs})"))
    }),
    Op("scan_slice", _ => {
      val lo = slices.below(n - n / 100)
      val hi = lo + n / 100
      val c = graph().filter(col("id") >= lo && col("id") < hi)
        .select(explode(col("successors"))).count()
      val want = prefix(hi) - prefix(lo)
      Done(c, () => check(c == want, s"slice [$lo,$hi): $c arcs, expected $want"))
    }),
    Op("scan_meta", _ => {
      val r = graph().agg(count(lit(1)), sum(col("outdegree"))).head()
      val (nodes, arcs) = (r.getLong(0), r.getLong(1))
      Done(1L, () => check(nodes == n && arcs == expect.arcs,
        s"($nodes, $arcs), expected ($n, ${expect.arcs})"))
    }),
    Op("hadoop_edges", _ => {
      val c = hadoopRows().map(_._2.length.toLong).fold(0L)(_ + _)
      Done(c, () => check(c == expect.arcs, s"$c arcs, expected ${expect.arcs}"))
    }))

  def facts: Map[String, Any] = Map("nodes" -> n, "arcs" -> expect.arcs,
    "shards" -> shards, "basename" -> base, "graph_bytes" ->
      shardFiles.map(f => Workload.fileBytes(f._1 + ".graph")).sum)

  def shardBase0: String = shardFiles.head._1
}

/** Encode side: the sink writes a stored adjacency (ζ and Golomb codings)
  * and a transpose that reads, explodes, regroups and writes back. */
final class BvWrite(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "bv-write"
  val secondsPerPass = 2.0 // about one warm pass on 4 cores
  val n = 40000
  private val seed = Gen.mix64(ctx.seed ^ 0x5752495445L) // own seed stream
  private var adjPath = ""
  private var expect = Gen.Checksum.Zero
  private var expectT = Gen.Checksum.Zero
  private def out(kind: String) = s"${ctx.work}/write/$kind"
  /** Encoded `.graph` bytes of every write, by output kind. */
  private val bytes = scala.collection.mutable.Map.empty[String, Seq[Long]].withDefaultValue(Nil)

  /** The adjacency is stored as parquet rather than cached: the harness
    * clears Spark's caches before every op, and generation must stay out
    * of the timed writes. */
  def build(i: Int): Unit = {
    if (adjPath.nonEmpty) Workload.rmTree(Paths.get(adjPath))
    adjPath = s"${ctx.work}/adjacency$i"
    Gen.adjacency(spark, seed, n, ctx.cores).write.parquet(adjPath)
  }

  private def adj: DataFrame = spark.read.parquet(adjPath)

  def prepare(): Unit = {
    val (a, t) = Gen.withTranspose(seed, n)
    expect = a; expectT = t
  }

  private def readBack(base: String): Gen.Checksum = {
    import spark.implicits._
    Gen.readBack(spark.read.format("bvgraph").option("basename", base).load()
      .select($"id", $"successors").as[(Int, Array[Int])])
  }

  /** A written graph is checked against the manifest: node and arc
    * totals, and shard ranges that tile [0, n). The warm-up pass also
    * decodes it in full and compares the checksum with the generator's.
    * (Shard cuts come from the range shuffle's sampling, so the encoded
    * size may differ by a few bytes between passes.) */
  private def written(kind: String, want: Gen.Checksum, pass: Int): Option[String] = {
    val base = out(kind)
    val m = BvShards.readManifest(base)
    val tiles = m.exists { x =>
      val s = x.shards.sortBy(_.from)
      s.head.from == 0 && s.last.until == n && s.zip(s.tail).forall { case (a, b) => a.until == b.from }
    }
    m.foreach(x => bytes(kind) = bytes(kind) :+ x.shards.map(s => Workload.fileBytes(s.base + ".graph")).sum)
    val full = pass >= 0 || readBack(base) == want
    check(tiles && full && m.exists(x => x.nodes == n && x.arcs == want.arcs),
      s"$kind: manifest ${m.map(x => (x.nodes, x.arcs))}, shards tile [0,n): $tiles, " +
        s"full read-back matches: $full; expected ($n, ${want.arcs})")
  }

  private def write(df: DataFrame, kind: String, opts: (String, String)*): Unit =
    opts.foldLeft(df.write.format("bvgraph")
      .option("basename", out(kind)).option("shards", ctx.cores.toLong)
      .option("nodes", n.toLong).mode("overwrite")) { case (w, (k, v)) => w.option(k, v) }
      .save()

  val ops: Seq[Op] = Seq(
    Op("write_zeta", p => {
      write(adj, "zeta")
      Done(expect.arcs, () => written("zeta", expect, p))
    }),
    Op("transpose", p => {
      val g = spark.read.format("bvgraph").option("basename", out("zeta")).load()
      val t = g.select(col("id").as("src"), explode(col("successors")).as("dst"))
        .groupBy(col("dst")).agg(sort_array(collect_list(col("src"))).as("successors"))
        .select(col("dst").as("id"), col("successors"))
        .withColumn("outdegree", size(col("successors")))
      write(t, "transpose")
      Done(expect.arcs, () => written("transpose", expectT, p))
    }),
    Op("write_golomb", p => {
      write(adj, "golomb", "compressionflags" -> "RESIDUALS_GOLOMB", "golombmodulus" -> "256")
      Done(expect.arcs, () => written("golomb", expect, p))
    }))

  def facts: Map[String, Any] = Map("nodes" -> n, "arcs" -> expect.arcs,
    "shards" -> ctx.cores, "bits_per_link" -> bitsPerLink(),
    "golomb_bits_per_link" -> bitsPerLink("golomb"))

  /** Median compressed size of a written graph, in bits per arc. */
  def bitsPerLink(kind: String = "zeta"): Double =
    if (bytes(kind).isEmpty) 0.0 else Stats.median(bytes(kind).map(_ * 8.0 / expect.arcs))
  def zetaShard0: String = BvShards.readManifest(out("zeta")).get.shards.head.base
}

/** The query surface over seeded tables: iterative graph loops, TPC-H
  * aggregates on the planning floor, a streaming replay and the
  * `graft.functions` expressions. Each pass runs the ops in a seeded
  * order. Outputs are hashed; the warm-up pass dumps each result for the
  * DuckDB oracle check and every timed pass must hash the same. */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "query-mix"
  // a warm pass takes about 6 s on 4 cores; 2.7 s per pass turns the
  // declared 8 s into three passes, whose 18 samples put the tail
  // percentile in the middle of the op mix instead of on its cheapest op
  val secondsPerPass = 2.7
  val names: Seq[String] = Seq("graph_cc", "q1_agg", "q6_forecast_revenue",
    "q14_promo_effect", "stream_time_window", "dedup_simhash")
  private val surface = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql
  private val reference = scala.collection.mutable.Map.empty[String, String]

  def build(i: Int): Unit = () // tables are generated before the JVM starts
  def prepare(): Unit = names.foreach(q => require(surface.contains(q), s"no query $q"))

  private def dump(q: String, df: DataFrame, rows: Array[Row]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"${ctx.dump}/$q")

  val ops: Seq[Op] = names.map(q => Op(q, p => {
    val df = surface(q)(spark, ctx.tables)
    val rows = df.collect()
    Done(rows.length.toLong, () => {
      val h = Canon.hash(rows)
      if (p < 0) {
        reference(q) = h
        if (oracle.contains(q)) dump(q, df, rows)
        check(rows.nonEmpty, s"$q returned no rows")
      } else check(reference.get(q).contains(h), s"$q: result hash changed between passes")
    })
  }))

  override def order(pass: Int): Seq[Op] = {
    val r = new Gen.Rng(ctx.seed, 1000L + pass)
    val a = ops.toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.below(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def oracleOps: Map[String, String] = names.flatMap(q => oracle.get(q).map(q -> _)).toMap
  def facts: Map[String, Any] = Map("ops" -> names, "oracle_sql" -> oracleOps)
}

/** Canonical form of collected rows: floats rounded to 9 places, rows
  * sorted, so the hash ignores partitioning and summation order. */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }
      .sorted.mkString("{", ",", "}")
    case o => o.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).bigDecimal
      .stripTrailingZeros.toPlainString

  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(value).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
