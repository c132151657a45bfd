package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BlockLocation, FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.hadoop.fs.viewfs.ViewFileSystem
import org.apache.hadoop.hdfs.DistributedFileSystem
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.bv.{BitInput, BvGraph, BvProperties, SeekableBytes}

/** DataSource V2 connector for BVGraph-compressed graphs:
  * `spark.read.format("bvgraph").option("basename", prefix)` yields rows
  * `(id INT, successors ARRAY<INT>)` — the Spark-native re-expression of the
  * reference's Hadoop InputFormat
  * (/root/reference/src/main/java/de/l3s/mapreduce/webgraph/io/WebGraphInputFormat.java:16-25).
  *
  * Scale design (SURVEY.md §2.1 S1-S4, §4.3):
  *  - One `InputPartition` per node range; ranges are **byte-balanced** using
  *    the offsets index (equal compressed bytes, not equal node counts), so
  *    skewed graphs don't produce straggler tasks. `splits` option overrides
  *    the default of one split per ~32 MiB of compressed graph.
  *  - `preferredLocations` from `FileSystem.getFileBlockLocations` — HDFS
  *    locality exactly like the reference's `NodeIteratorInputSplit`.
  *  - Per-executor JVM cache of the decoded offsets index (the reference
  *    re-reads `.offsets` per task — SURVEY.md §2.1 "Per-task graph reload"
  *    note; we load once per executor and share across tasks).
  *  - `SupportsPushDownRequiredColumns`: a scan that doesn't need
  *    `successors` never decodes adjacency data at all — ids are synthesized
  *    from the range (zero graph I/O).
  *  - `SupportsReportStatistics`: `nodes`/`arcs` from `.properties` feed
  *    Catalyst's join planning (broadcast decisions).
  */
class BvGraphTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bvgraph"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // long-id graphs surface BIGINT columns. Reads auto-detect from the
    // manifest (schema is a property of the graph on disk, like parquet
    // footer inference); a FRESH big write has no manifest yet, so the
    // writer opts in with .option("idwidth", "long") — the input schema
    // then validates against the LONG table schema instead of INT.
    val basename = options.get("basename")
    if ("long".equalsIgnoreCase(options.getOrDefault("idwidth", "")) ||
        (basename != null && BvShards.readManifest(basename).exists(_.big)))
      BvGraphTable.LONG_SCHEMA
    else BvGraphTable.SCHEMA
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val basename = properties.get("basename")
    require(basename != null, "bvgraph source requires .option(\"basename\", ...)")
    val splits = Option(properties.get("splits")).map(_.toInt)
    // fresh big writes have no manifest to infer from — the idwidth
    // option forces the LONG schema so the input validates wide
    val forceLong = "long".equalsIgnoreCase(
      String.valueOf(properties.getOrDefault("idwidth", "")))
    new BvGraphTable(basename, splits, forceLong)
  }

  override def supportsExternalMetadata(): Boolean = false
}

object BvGraphTable {
  /** `outdegree` is derivable from `successors` but exists as a first-class
    * column because an outdegree-only scan has a dedicated fast path: the
    * reference's random-access D3 read (HdfsBVGraph.java:69-91) — position
    * at offsets(x), decode one γ value, never touch successor data. */
  val SCHEMA: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("successors", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("outdegree", IntegerType, nullable = false)))
  /** >2^31-global-id ("big") graphs: same columns, BIGINT ids. Outdegree
    * stays INT — one node's successor list is a single array, so its
    * length is Int-bounded even in big mode. */
  val LONG_SCHEMA: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("successors", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("outdegree", IntegerType, nullable = false)))
  /** Default bytes of compressed graph per input partition. */
  val TARGET_SPLIT_BYTES: Long = 32L * 1024 * 1024
}

class BvGraphTable(basename: String, splits: Option[Int],
    forceLong: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  // schema is decided by what's on disk at PLANNING time (manifest
  // idwidth) — absent/unsharded graphs are classic INT graphs unless the
  // idwidth=long option forces wide (fresh big writes)
  private lazy val big: Boolean =
    forceLong || BvShards.readManifest(basename).exists(_.big)
  override def name(): String = s"bvgraph(`$basename`)"
  override def schema(): StructType =
    if (big) BvGraphTable.LONG_SCHEMA else BvGraphTable.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BvGraphScanBuilder(basename, splits, big)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new BvWriteBuilder(basename, info)
}

class BvGraphScanBuilder(basename: String, splits: Option[Int],
    big: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  private var required: StructType =
    if (big) BvGraphTable.LONG_SCHEMA else BvGraphTable.SCHEMA
  // Long sentinels: "no bound" must not clamp away manifest shards whose
  // global id ranges sit past 2^31 (the Long-id escape hatch)
  private var lo: Long = Long.MinValue // inclusive id lower bound
  private var hi: Long = Long.MaxValue // exclusive id upper bound
  private var accepted: Array[Filter] = Array.empty
  private var pushedAggs: Option[Seq[BvGraphScan.PushedAgg]] = None
  private var limit: Option[Int] = None

  /** LIMIT k plans a k-node prefix scan: the offsets index makes "first k
    * rows" a planning-time range truncation — one partition, zero decode
    * I/O past the k-th record — instead of launching a full-range scan
    * that the LocalLimit then abandons. Spark only offers the limit when
    * no post-scan filters remain, and this source always re-evaluates
    * pushed filters as residuals, so a pushed limit implies a bare
    * (possibly column-pruned) scan — prefix truncation is exact. Spark
    * still applies its own GlobalLimit above (isPartiallyPushed default),
    * which is a no-op on the truncated output. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Metadata-answerable aggregates never scan: COUNT(*) is the (id-
    * clamped) node-range size, SUM(outdegree) is `arcs` from the
    * properties/manifest, MIN/MAX(id) are the range bounds. Only pushed
    * when no grouping and every aggregate in the query is answerable
    * (SUM(outdegree) additionally requires an unfiltered scan — arcs is
    * a whole-graph stat). At 100 TB, `SELECT count(*) FROM graph` is
    * O(1) instead of a full decode. */
  private def resolve(agg: Aggregation): Option[Seq[BvGraphScan.PushedAgg]] = {
    if (agg.groupByExpressions().nonEmpty) return None
    val unfiltered = lo == Long.MinValue && hi == Long.MaxValue
    val resolved = agg.aggregateExpressions().map {
      case _: CountStar => Some(BvGraphScan.CountStar)
      case s: Sum if !s.isDistinct => s.column() match {
        case f: NamedReference if f.fieldNames().sameElements(Array("outdegree"))
          && unfiltered => Some(BvGraphScan.SumOutdegree)
        case _ => None
      }
      case m: Min => m.column() match {
        case f: NamedReference if f.fieldNames().sameElements(Array("id")) =>
          Some(BvGraphScan.MinId)
        case _ => None
      }
      case m: Max => m.column() match {
        case f: NamedReference if f.fieldNames().sameElements(Array("id")) =>
          Some(BvGraphScan.MaxId)
        case _ => None
      }
      case _ => None
    }
    if (resolved.forall(_.isDefined)) Some(resolved.map(_.get).toSeq) else None
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    resolve(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    resolve(agg) match {
      case some @ Some(_) => pushedAggs = some; true
      case None => false
    }
  }

  /** Range predicates on `id` prune node ranges at planning time (offsets
    * make any id range directly addressable — zero I/O for skipped
    * nodes). All filters are also left as residuals for Spark to
    * re-evaluate, so partial/overlapping predicates stay correct. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def num(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case _ => None
    }
    accepted = filters.filter {
      case GreaterThan("id", v) => num(v).exists { x => lo = math.max(lo, x + 1); true }
      case GreaterThanOrEqual("id", v) => num(v).exists { x => lo = math.max(lo, x); true }
      case LessThan("id", v) => num(v).exists { x => hi = math.min(hi, x); true }
      case LessThanOrEqual("id", v) => num(v).exists { x => hi = math.min(hi, x + 1); true }
      case EqualTo("id", v) =>
        num(v).exists { x => lo = math.max(lo, x); hi = math.min(hi, x + 1); true }
      case _ => false
    }
    filters // every filter is re-evaluated post-scan
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan =
    new BvGraphScan(basename, splits, required, lo, hi, pushedAggs, big, limit)
}

class BvGraphScan(basename: String, splits: Option[Int], required: StructType,
    planLo: Long = Long.MinValue, planHi: Long = Long.MaxValue,
    pushedAggs: Option[Seq[BvGraphScan.PushedAgg]] = None,
    big: Boolean = false, limit: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  // Runtime filtering (the DSv2 analogue of dynamic partition pruning):
  // when this scan sits under a join whose other side is selective, Spark
  // hands us the join-key values AT RUNTIME via filter(); we tighten the
  // id bounds and planInputPartitions() drops/narrows node ranges before
  // any task launches. Partial pruning is sound — the join re-evaluates
  // its condition — so collapsing an IN-set to its [min, max] envelope
  // never loses rows, it only bounds how much we skip. At 100 TB this
  // turns "scan the whole graph to join 1000 ids" into a seek.
  @volatile private var rtLo: Long = Long.MinValue
  @volatile private var rtHi: Long = Long.MaxValue
  private def idLo: Long = math.max(planLo, rtLo)
  private def idHi: Long = math.min(planHi, rtHi)

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources._
    def num(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case _ => None
    }
    filters.foreach {
      case In("id", vs) =>
        val ids = vs.flatMap(num(_))
        if (ids.nonEmpty && ids.length == vs.length) {
          rtLo = math.max(rtLo, ids.min)
          rtHi = math.min(rtHi, ids.max + 1)
        }
      case EqualTo("id", v) => num(v).foreach { x =>
        rtLo = math.max(rtLo, x); rtHi = math.min(rtHi, x + 1)
      }
      case GreaterThan("id", v) => num(v).foreach(x => rtLo = math.max(rtLo, x + 1))
      case GreaterThanOrEqual("id", v) => num(v).foreach(x => rtLo = math.max(rtLo, x))
      case LessThan("id", v) => num(v).foreach(x => rtHi = math.min(rtHi, x))
      case LessThanOrEqual("id", v) => num(v).foreach(x => rtHi = math.min(rtHi, x + 1))
      case _ => () // unsupported runtime filter: scan stays unpruned (safe)
    }
  }

  override def readSchema(): StructType = pushedAggs match {
    case Some(aggs) => StructType(aggs.zipWithIndex.map { case (a, i) =>
      // COUNT(*) of an empty range is 0; SUM/MIN/MAX over zero rows is NULL
      StructField(s"agg_$i", LongType, nullable = a != BvGraphScan.CountStar)
    })
    case None => required
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"BvGraphScan(basename=$basename, columns=${required.fieldNames.mkString(",")}" +
      (if (idLo > Long.MinValue || idHi < Long.MaxValue) s", id in [$idLo,$idHi)" else "") +
      limit.map(l => s", PushedLimit: $l").getOrElse("") +
      pushedAggs.map(a => s", PushedAggregates: ${a.mkString(",")}").getOrElse("") + ")"

  /** Clamp a node range to the pushed id bounds. */
  private def clamp(from: Int, until: Int): (Int, Int) = {
    val f = math.max(from.toLong, idLo)
    val u = math.min(until.toLong, idHi)
    if (f >= u) (0, 0) else (f.toInt, u.toInt)
  }

  /** The ACTUAL materialized global id ranges after pushed-filter clamping.
    * Sharded graphs are not required to tile [0, nodes) — leading and
    * inter-shard gaps are legal unless the write used the `nodes` pad
    * option — so row-count/min/max questions must be answered from the
    * shard ranges, never from a dense [0, nodes) assumption (a graph whose
    * ids start at 1000 would otherwise report COUNT(*) = nodes and
    * MIN(id) = 0, silently diverging from the unpushed scan). */
  private def clampedRanges(): Seq[(Long, Long)] = (manifest match {
    case Some(mf) => mf.shards.map(sh => (sh.from, sh.until))
    case None => Seq((0L, graph.n.toLong))
  }).map { case (f, u) => (math.max(f, idLo), math.min(u, idHi)) }
    .filter { case (f, u) => f < u }

  // Loaded lazily on the driver for planning (offsets for byte-balancing,
  // properties for stats). The per-executor cache is separate. Sharded
  // graphs (written by the distributed sink) are planned from the
  // manifest instead.
  private lazy val manifest: Option[BvShards.Manifest] =
    BvShards.readManifest(basename)
  private lazy val graph: BvGraph = BvGraphCache.get(basename)

  override def estimateStatistics(): Statistics = new Statistics {
    private val (n, m) = manifest match {
      case Some(mf) => (mf.shards.map(s => s.until - s.from).sum, mf.arcs)
      case None => (graph.n.toLong, graph.m)
    }
    override def sizeInBytes(): util.OptionalLong =
      // decompressed relational size: 4 B id + ~4 B per successor
      util.OptionalLong.of(4L * n + 4L * m)
    override def numRows(): util.OptionalLong = util.OptionalLong.of(n)
  }

  /** Byte-balanced node-range cuts over [scanFrom, scanUntil): walk the
    * offsets index, cut when the running byte span exceeds the per-split
    * target (the reference slices the *node* space uniformly —
    * WebGraphInputFormat.java:100 — which straggles on skew). */
  private def byteBalancedCuts(g: BvGraph, scanFrom: Int, scanUntil: Int,
      numSplits: Int): Seq[(Int, Int)] = {
    val totalBits = g.offsets(scanUntil) - g.offsets(scanFrom)
    val targetBits = math.max(1L, totalBits / math.max(1, numSplits))
    val cuts = scala.collection.mutable.ArrayBuffer(scanFrom)
    var x = scanFrom
    while (x < scanUntil && cuts.length < numSplits) {
      val startBit = g.offsets(cuts.last)
      // binary-search the first node whose offset passes startBit+targetBits
      var lo = x + 1; var hi = scanUntil
      val limit = startBit + targetBits
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (g.offsets(mid) < limit) lo = mid + 1 else hi = mid
      }
      if (lo < scanUntil) cuts += lo
      x = lo
    }
    cuts += scanUntil
    (0 until cuts.length - 1).map(i => (cuts(i), cuts(i + 1)))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    pushedAggs.foreach { aggs =>
      // metadata-only answer from the ACTUAL shard id ranges (see
      // clampedRanges — dense [0, nodes) is not assumed)
      val ranges = clampedRanges()
      val count = ranges.map { case (f, u) => u - f }.sum
      val m = manifest.map(_.arcs).getOrElse(graph.m)
      val values: Array[java.lang.Long] = aggs.map {
        case BvGraphScan.CountStar => java.lang.Long.valueOf(count)
        case _ if count == 0L => null // SUM/MIN/MAX over zero rows
        case BvGraphScan.SumOutdegree => java.lang.Long.valueOf(m)
        case BvGraphScan.MinId => java.lang.Long.valueOf(ranges.map(_._1).min)
        case BvGraphScan.MaxId => java.lang.Long.valueOf(ranges.map(_._2).max - 1)
      }.toArray
      return Array(BvAggResultPartition(values))
    }
    manifest.foreach { mf =>
      // One partition per shard (each is an independently decodable
      // graph); pushed id bounds drop/narrow shards at planning time, and
      // a shard written oversized (misconfigured write) is sub-split on
      // its own offsets index so no single task scans it alone.
      //
      // Planning I/O: shard byte sizes come from the manifest (recorded
      // at commit); block-location hosts come from one listing of the
      // shard directory (BvGraphScan.listBlocks) — O(1) NameNode calls
      // on HDFS and zero subprocesses elsewhere. Never a per-shard
      // getFileStatus loop (10k shards would mean 10k serial NameNode
      // RPCs before the first task launches).
      val conf = new Configuration()
      val dir = new Path(basename + ".d")
      val listed =
        try BvGraphScan.listBlocks(dir.getFileSystem(conf), dir)
        catch { case _: Exception => Map.empty[String, BvGraphScan.FileBlocks] }
      def statusFor(base: String) =
        listed.get(new Path(base + ".graph").toUri.getPath)
      // hosts of the blocks overlapping [startByte, endByte) — same
      // locality contract as the reference's NodeIteratorInputSplit
      // (io/NodeIteratorInputSplit.java:48-50) and our unsharded path
      def hostsFor(base: String, startByte: Long, endByte: Long): Array[String] =
        statusFor(base).map(_.blocks
          .filter(b => b.getOffset < endByte && b.getOffset + b.getLength > startByte)
          .flatMap(_.getHosts).distinct).getOrElse(Array.empty)

      // pushed LIMIT: truncate the clamped shard walk after `limit` nodes
      // (one row per node) — a prefix scan, usually a single partition
      var remaining: Long = limit.map(_.toLong).getOrElse(Long.MaxValue)
      return mf.shards.flatMap { sh =>
        val gf = math.max(sh.from, idLo)
        val gu0 = math.min(sh.until, idHi)
        // saturating: gf + Long.MaxValue must not wrap when no limit is set
        val gu = if (remaining >= gu0 - gf) gu0 else gf + math.max(0L, remaining)
        if (gf < gu) remaining -= (gu - gf)
        if (gf >= gu) Nil
        else {
          // int-schema ceiling (classic graphs only): a scanned shard's
          // global ids must fit the INT id column. Long-id manifests
          // surface BIGINT and take the Long decode kernel instead.
          require(big || gu - 1 <= Int.MaxValue.toLong,
            s"shard [${sh.from},${sh.until}) holds ids beyond Int.MaxValue " +
              "but the manifest lacks idwidth=long; rewrite through the " +
              "sink with a BIGINT id schema (see SCALE.md Ceilings)")
          val localFrom = (gf - sh.from).toInt
          val localUntil = (gu - sh.from).toInt
          val graphBytes =
            if (sh.bytes >= 0) sh.bytes // recorded at commit — no I/O
            else statusFor(sh.base).map(_.len).getOrElse(0L)
          if (graphBytes <= 2 * BvGraphTable.TARGET_SPLIT_BYTES)
            Seq(BvInputPartition(sh.base, localFrom, localUntil,
              sh.from, hostsFor(sh.base, 0L, Long.MaxValue)): InputPartition)
          else {
            val sub = math.ceil(graphBytes.toDouble / BvGraphTable.TARGET_SPLIT_BYTES).toInt
            val g = BvGraphCache.get(sh.base)
            byteBalancedCuts(g, localFrom, localUntil, sub).map { case (a, b) =>
              BvInputPartition(sh.base, a, b, sh.from,
                hostsFor(sh.base, g.offsets(a) >>> 3, (g.offsets(b) >>> 3) + 1)): InputPartition
            }
          }
        }
      }.toArray
    }
    val g = graph
    val n = g.n
    val (scanFrom, scanUntil0) = clamp(0, n)
    // pushed LIMIT on an unsharded graph: a [scanFrom, scanFrom+k) prefix
    val scanUntil = limit match {
      case Some(l) => math.min(scanUntil0.toLong, scanFrom.toLong + l).toInt
      case None => scanUntil0
    }
    if (scanFrom >= scanUntil) return Array.empty
    val totalBits = g.offsets(scanUntil) - g.offsets(scanFrom)
    // under a pushed limit the byte-based count rules (a k-node prefix
    // should not be shredded into the caller's full-scan split count)
    val numSplits = (if (limit.isDefined) None else splits).getOrElse(
      math.max(1, math.ceil((totalBits / 8.0) / BvGraphTable.TARGET_SPLIT_BYTES).toInt))
    val conf = new Configuration()
    val graphPath = new Path(basename + ".graph")
    val fs = graphPath.getFileSystem(conf)
    val status = fs.getFileStatus(graphPath)

    byteBalancedCuts(g, scanFrom, scanUntil, numSplits).map { case (from, until) =>
      val startByte = g.offsets(from) >>> 3
      val endByte = (g.offsets(until) >>> 3) + 1
      val hosts =
        try fs.getFileBlockLocations(status, startByte,
          math.max(1L, endByte - startByte)).flatMap(_.getHosts).distinct
        catch { case _: Exception => Array.empty[String] }
      BvInputPartition(basename, from, until, 0, hosts): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (pushedAggs.isDefined) new BvAggReaderFactory
    else new BvGraphReaderFactory(required.fieldNames, big)

  /** Per-task decode counters, surfaced in the Spark UI / listener bus as
    * SQL metrics on the scan node — the observability a production source
    * needs (decode volume per task exposes skewed splits directly). */
  override def supportedCustomMetrics(): Array[
      org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new BvNodesDecodedMetric, new BvArcsDecodedMetric)
}

/** One concrete class per metric: the SQL status listener re-instantiates
  * the metric REFLECTIVELY by class name with a zero-arg constructor to
  * aggregate task values — a parameterized `BvSumMetric(name, desc)`
  * compiles and even renders at first, but every listener update fails
  * with "did not have a zero-argument constructor" and the UI metric
  * silently stays empty. */
class BvNodesDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bvNodesDecoded"
  override def description(): String = "BV nodes decoded"
}

class BvArcsDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bvArcsDecoded"
  override def description(): String = "BV arcs decoded"
}

case class BvTaskMetric(metricName: String, metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

object BvGraphScan {
  sealed trait PushedAgg
  case object CountStar extends PushedAgg { override def toString = "COUNT(*)" }
  case object SumOutdegree extends PushedAgg { override def toString = "SUM(outdegree)" }
  case object MinId extends PushedAgg { override def toString = "MIN(id)" }
  case object MaxId extends PushedAgg { override def toString = "MAX(id)" }

  /** What planning keeps of a listed file: its length and block locations. */
  case class FileBlocks(len: Long, blocks: Array[BlockLocation])

  /** Length and block locations of every entry directly under `dir`,
    * keyed by URI path. HDFS and viewfs answer one batched
    * `listLocatedStatus` (one NameNode call whatever the file count).
    * Everywhere else this is `listStatus` plus `getFileBlockLocations`
    * per file: the generic `listLocatedStatus` copy-constructs a
    * `LocatedFileStatus`, whose constructor calls `getPermission`, and
    * without libhadoop the local filesystem answers that by forking
    * `ls -ld` per file. Spark's `HadoopFSUtils.listLeafFiles` avoids that
    * constructor for the same reason; so must this. */
  def listBlocks(fs: FileSystem, dir: Path): Map[String, FileBlocks] = {
    val statuses: Array[FileStatus] = fs match {
      case _: DistributedFileSystem | _: ViewFileSystem =>
        val it = fs.listLocatedStatus(dir)
        val b = Array.newBuilder[FileStatus]
        while (it.hasNext) b += it.next()
        b.result()
      case _ => fs.listStatus(dir)
    }
    statuses.map { st =>
      val blocks = st match {
        case l: LocatedFileStatus => l.getBlockLocations
        case _ => fs.getFileBlockLocations(st, 0L, st.getLen)
      }
      st.getPath.toUri.getPath -> FileBlocks(st.getLen, blocks)
    }.toMap
  }
}

/** Single synthetic partition carrying metadata-derived aggregate values
  * (null = SQL NULL for empty-range SUM/MIN/MAX). */
case class BvAggResultPartition(values: Array[java.lang.Long])
    extends InputPartition

class BvAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val vs = partition.asInstanceOf[BvAggResultPartition].values
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(vs.length)
        var i = 0
        while (i < vs.length) {
          if (vs(i) == null) row.setNullAt(i) else row.update(i, vs(i).longValue())
          i += 1
        }
        row
      }
      override def close(): Unit = ()
    }
  }
}

/** Serialized driver→executor split descriptor (mirrors the reference's
  * NodeIteratorInputSplit, io/NodeIteratorInputSplit.java:11-50).
  * `basename` points at the (shard) graph; local node range
  * [from, until); global id = local id + idOffset (0 for unsharded).
  * `idOffset` is Long so sharded manifests can address a global id space
  * past 2^31 (per-shard LOCAL ids stay int — the codec ceiling); planning
  * guarantees every scanned partition's global ids fit the INT column. */
case class BvInputPartition(basename: String, from: Int, until: Int,
    idOffset: Long, hosts: Array[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

/** `fields` is the pruned read schema in output order. Reader selection:
  *  - `successors` required → full sequential decode (D1/D2);
  *  - only `outdegree` (+`id`) → random-access outdegree walk (D3): one γ
  *    per node via the offsets index, successor data never decoded;
  *  - only `id` / nothing → ids synthesized from the range, zero graph I/O.
  */
class BvGraphReaderFactory(fields: Array[String], big: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BvInputPartition]
    if (fields.contains("successors")) {
      if (big) new BvGraphPartitionReaderLong(p, fields)
      else new BvGraphPartitionReader(p, fields)
    }
    else if (fields.contains("outdegree")) new BvOutdegreeReader(p, fields, big)
    else new BvIdOnlyReader(p, fields.length, big)
  }
}

/** Pruned scan: ids synthesized from the range (the scan collapses to a
  * counter). */
class BvIdOnlyReader(p: BvInputPartition, nFields: Int, big: Boolean = false)
    extends PartitionReader[InternalRow] {
  private var curr = p.from - 1
  private val row = new GenericInternalRow(nFields)
  override def next(): Boolean = { curr += 1; curr < p.until }
  override def get(): InternalRow = {
    if (nFields > 0) {
      if (big) row.update(0, curr + p.idOffset)
      else row.update(0, (curr + p.idOffset).toInt)
    }
    row
  }
  override def close(): Unit = ()
}

/** Degree-only scan: per node, seek offsets(x) and decode a single
  * outdegree value (the reference's D3 fast path). */
class BvOutdegreeReader(p: BvInputPartition, fields: Array[String],
    big: Boolean = false)
    extends PartitionReader[InternalRow] {
  private val graph = BvGraphCache.acquire(p.basename)
  private val in = graph.newBitInput()
  private val idIdx = fields.indexOf("id")
  private val outIdx = fields.indexOf("outdegree")
  private var curr = p.from - 1
  private val row = new GenericInternalRow(fields.length)

  private var nodes = 0L

  override def next(): Boolean = { curr += 1; curr < p.until }
  override def get(): InternalRow = {
    if (idIdx >= 0) {
      if (big) row.update(idIdx, curr + p.idOffset)
      else row.update(idIdx, (curr + p.idOffset).toInt)
    }
    row.update(outIdx, graph.outdegree(curr, in))
    nodes += 1
    row
  }
  override def currentMetricsValues(): Array[
      org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(BvTaskMetric("bvNodesDecoded", nodes), BvTaskMetric("bvArcsDecoded", 0L))
  override def close(): Unit = graph.release()
}

class BvGraphPartitionReader(p: BvInputPartition, fields: Array[String])
    extends PartitionReader[InternalRow] {
  private val graph = BvGraphCache.acquire(p.basename)
  private val iter = graph.nodeIterator(p.from, p.until)
  private val idIdx = fields.indexOf("id")
  private val succIdx = fields.indexOf("successors")
  private val outIdx = fields.indexOf("outdegree")
  private var curr: (Int, Array[Int]) = _
  private val row = new GenericInternalRow(fields.length)

  private var nodes = 0L
  private var arcs = 0L

  override def next(): Boolean = {
    if (!iter.hasNext) return false
    curr = iter.next()
    nodes += 1
    arcs += curr._2.length
    true
  }

  override def get(): InternalRow = {
    if (idIdx >= 0) row.update(idIdx, (curr._1 + p.idOffset).toInt)
    if (succIdx >= 0) row.update(succIdx, UnsafeArrayData.fromPrimitiveArray(curr._2))
    if (outIdx >= 0) row.update(outIdx, curr._2.length)
    row
  }

  override def currentMetricsValues(): Array[
      org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(BvTaskMetric("bvNodesDecoded", nodes), BvTaskMetric("bvArcsDecoded", arcs))

  override def close(): Unit = graph.release()
}

/** [[BvGraphPartitionReader]]'s Long twin for idwidth=long manifests:
  * same splittable sequential decode, Long node ids and successor values
  * (the big decode kernel — see [[graft.bv.BvGraph.nodeIteratorLong]]). */
class BvGraphPartitionReaderLong(p: BvInputPartition, fields: Array[String])
    extends PartitionReader[InternalRow] {
  private val graph = BvGraphCache.acquire(p.basename)
  private val iter = graph.nodeIteratorLong(p.from, p.until)
  private val idIdx = fields.indexOf("id")
  private val succIdx = fields.indexOf("successors")
  private val outIdx = fields.indexOf("outdegree")
  private var curr: (Int, Array[Long]) = _
  private val row = new GenericInternalRow(fields.length)

  private var nodes = 0L
  private var arcs = 0L

  override def next(): Boolean = {
    if (!iter.hasNext) return false
    curr = iter.next()
    nodes += 1
    arcs += curr._2.length
    true
  }

  override def get(): InternalRow = {
    if (idIdx >= 0) row.update(idIdx, curr._1 + p.idOffset)
    if (succIdx >= 0) row.update(succIdx, UnsafeArrayData.fromPrimitiveArray(curr._2))
    if (outIdx >= 0) row.update(outIdx, curr._2.length)
    row
  }

  override def currentMetricsValues(): Array[
      org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(BvTaskMetric("bvNodesDecoded", nodes), BvTaskMetric("bvArcsDecoded", arcs))

  override def close(): Unit = graph.release()
}

/** Positioned-read adapter over Hadoop `FSDataInputStream` — the Spark-side
  * equivalent of the reference's HdfsRepositionableStream
  * (io/HdfsRepositionableStream.java:9-24). `read(position, ...)` is
  * thread-safe, so one open stream serves all readers in the executor. */
class HadoopBytes(path: Path, conf: Configuration) extends SeekableBytes {
  private val fs = path.getFileSystem(conf)
  private val len = fs.getFileStatus(path).getLen
  private val in = fs.open(path)
  def length: Long = len
  def readAt(pos: Long, buf: Array[Byte], off: Int, n: Int): Int =
    if (pos >= len) -1 else in.read(pos, buf, off, n)
  override def close(): Unit = in.close()
}

/** Executor-wide cache: one decoded `BvGraph` (properties + offsets index)
  * per basename per JVM, shared by all tasks — fixes the reference's
  * per-task `.offsets` reload (SURVEY.md §2.1 notes). Entries invalidate
  * when the `.properties` mtime changes (graph rewritten in place) and
  * the cache is LRU-bounded so scans over many shards/graphs can't pin
  * unbounded offsets indexes in executor memory.
  *
  * Lifetime: entries are reference-counted (see [[graft.bv.BvGraph]]).
  * The cache holds one reference; [[acquire]] pins one more for an active
  * reader (the pin happens INSIDE the synchronized compute, atomic with
  * any eviction), so eviction under shard churn merely drops the cache's
  * reference — file handles close only when the last reader releases. */
object BvGraphCache {
  /** Cold constructions (shard opens) in this JVM — instrumentation for
    * the "a pruned id-range scan opens ONLY the covering shards" gate
    * (SURVEY §4.3 item 4): planning prunes shards from the manifest
    * without touching them, so the count of fresh BvGraph constructions
    * IS the count of shards whose .graph/.offsets handles were opened.
    * Read as a before/after delta (local mode shares one JVM; on a
    * cluster each executor counts its own). */
  val coldOpens = new java.util.concurrent.atomic.AtomicLong()

  private val MAX_ENTRIES = 64
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, BvGraph)](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, BvGraph)]): Boolean = {
        val evict = size() > MAX_ENTRIES
        // drop the cache's reference — handles close now iff no active
        // reader still pins the graph (each pins via acquire()).
        if (evict) try e.getValue._2.release() catch { case _: Exception => }
        evict
      }
    })

  private def lookup(basename: String, pin: Boolean): BvGraph = {
    val conf = new Configuration()
    val propsPath = new Path(basename + ".properties")
    val fs = propsPath.getFileSystem(conf)
    val mtime = fs.getFileStatus(propsPath).getModificationTime
    cache.compute(basename, (b, cached) => {
      val entry =
        if (cached != null && cached._1 == mtime) cached
        else {
          // stale entry (graph rewritten in place): drop the cache's ref
          if (cached != null) try cached._2.release() catch { case _: Exception => }
          val propsText = {
            val in = fs.open(propsPath)
            try new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.ISO_8859_1)
            finally in.close()
          }
          val props = BvProperties.parse(propsText)
          coldOpens.incrementAndGet(): Unit
          (mtime, new BvGraph(props,
            new HadoopBytes(new Path(b + ".graph"), conf),
            new HadoopBytes(new Path(b + ".offsets"), conf)))
        }
      // pin while still under the map's lock: a concurrent put's eviction
      // can only target the ELDEST entry, and this access just made the
      // entry most-recently-used, so the pin cannot race an eviction.
      if (pin) entry._2.acquire()
      entry
    })._2
  }

  /** Pin-and-get for partition readers: the returned graph's handles stay
    * open across LRU eviction until the caller's `release()`. */
  def acquire(basename: String): BvGraph = lookup(basename, pin = true)

  /** Unpinned get for DRIVER-side planning, which only touches in-memory
    * state (properties + the decoded offsets index) — safe even if the
    * entry is later evicted and its byte sources closed. Executor-side
    * readers that decode bits MUST use [[acquire]] instead. */
  def get(basename: String): BvGraph = lookup(basename, pin = false)
}
