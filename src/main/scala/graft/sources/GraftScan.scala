package graft.sources

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{
  EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.codec.{IntBlocks, StrBlocks}
import graft.expr.{NestedLegs, SerializableHadoopConf}
import graft.table.{AnyColumn, GenericTable, GraftTable}
import graft.table.GraftTable.Snapshot

/** The DataSource V2 scan of both table lanes. What Catalyst hands it is
  * used for real work at plan time:
  *   - column pruning (`SupportsPushDownRequiredColumns`) reaches the
  *     parquet projection — a `SELECT n_tok` reads ONLY the `pl_n_tok`
  *     payload column, a generic `SELECT lang` only the payloads of the
  *     leaves behind `lang`;
  *   - pushed filters (`SupportsPushDownFilters`) prune on the driver to
  *     the live data dirs plus one parquet row-group + record filter per
  *     version ([[ScanLane.prune]]). Every filter also stays in the
  *     residual plan, so correctness never depends on pruning;
  *   - an unfiltered, ungrouped COUNT(*) answers from the snapshot's exact
  *     row total ([[GraftCountScan]]: no data file is opened — the
  *     Iceberg/parquet count optimization). Any filter or grouping falls
  *     back to the normal scan: zone-map pruning is conservative, counts
  *     must be exact;
  *   - `SupportsReportStatistics` reports the snapshot's exact row/byte
  *     totals, so the optimizer can (e.g.) choose a broadcast join of a
  *     decoded dimension table without scanning it.
  */
class GraftScanBuilder(tableDir: String, snap: Snapshot)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private val lane = ScanLane.of(snap)
  private var required: StructType = lane.schema
  private var pushed: Array[Filter] = Array.empty
  private var countPushed = false
  private var limit = -1

  /** Partial LIMIT pushdown: each partition stops decoding blocks once it
    * has produced `limit` rows (Spark still applies the global limit).
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed: Boolean = true

  /** An unfiltered, ungrouped COUNT(*): the snapshot answers it. */
  private def isCountStar(agg: Aggregation): Boolean =
    pushed.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])

  override def supportCompletePushDown(agg: Aggregation): Boolean = isCountStar(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    val ok = isCountStar(agg)
    if (ok) countPushed = true
    ok
  }

  /** Records the filters the lane prunes with; every filter stays
    * residual (returned back), so pruning is a pure optimization.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(lane.accepts)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve canonical column order
    val keep = requiredSchema.fieldNames.toSet
    required = lane.project(lane.schema.fields.filter(f => keep.contains(f.name)))
  }

  override def build(): Scan =
    if (countPushed) new GraftCountScan(snap)
    else new GraftScan(tableDir, snap, lane, required, pushed, limit)
}

/** Metadata-only COUNT(*): one partition, one row, zero data files read. */
class GraftCountScan(snap: Snapshot) extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftCountPartition(snap.rowCount))

  // a count partition opens no file: an empty Hadoop conf travels
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(readSchema(), new SerializableHadoopConf(new Configuration(false)), -1)

  override def description(): String =
    s"graft COUNT(*)=${snap.rowCount} (snapshot metadata, no data read)"
}

final case class GraftCountPartition(count: Long) extends InputPartition

/** One partition = one stripe of one parquet data file, with the lane as
  * that file's version is read (its surviving block ids, or its write
  * schema and the pushed key interval).
  */
private[sources] final case class GraftInputPartition(
    file: String,
    lane: ScanLane,
    splitStart: Long = 0L,
    splitEnd: Long = Long.MaxValue) extends InputPartition

object GraftScan {
  /** Driver-side block-pruning ceiling: above this many surviving block
    * ids the zone-map prune is skipped (≈2 MB of ids; the parquet
    * row-group filter and the residual Spark filters still apply).
    */
  @volatile var MaxPrunedBlockIds: Int = 262144

  /** Byte ranges for one data file: files above `splitBytes` yield one
    * range per `splitBytes` stripe, so read parallelism is bounded by
    * ROW GROUPS, not files — a heavily-compacted version with a few
    * large files still fans out across a cluster. Parquet's midpoint
    * rule (a row group belongs to the range holding its middle byte)
    * makes the stripes exact: each row group is read by exactly one
    * split, whatever the stripe boundaries cut through.
    */
  private[sources] def splitRanges(len: Long, splitBytes: Long): Seq[(Long, Long)] =
    if (len <= splitBytes || splitBytes <= 0) Seq((0L, Long.MaxValue))
    else (0L until len by splitBytes).map(s => (s, math.min(s + splitBytes, len)))
}

class GraftScan private[sources] (
    tableDir: String,
    snap: Snapshot,
    lane: ScanLane,
    required: StructType,
    pushed: Array[Filter],
    limit: Int) extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(snap.bytesTotal)
    override def numRows(): OptionalLong = OptionalLong.of(snap.rowCount)
  }

  /** The driver-side prune, run once: planning and `description` share it. */
  private lazy val pruned = lane.prune(SparkSession.active, tableDir, snap, pushed)

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val splitBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val parts = Seq.newBuilder[InputPartition]
    pruned.dirs.foreach { case (d, dirLane) =>
      val dir = new HPath(s"$tableDir/$d")
      dir.getFileSystem(conf).listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
          GraftScan.splitRanges(st.getLen, splitBytes).foreach { case (s, e) =>
            parts += GraftInputPartition(st.getPath.toString, dirLane, s, e)
          }
      }
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required,
      new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration), limit)

  override def description(): String = lane.describe(snap, required, pushed, pruned)
}

class GraftReaderFactory(
    required: StructType,
    conf: SerializableHadoopConf,
    limit: Int) extends PartitionReaderFactory {
  // Deliberately row-at-a-time, MEASURED (tools/SqlScanProbe, 27M tokens,
  // idle host): a ColumnarBatch emit (OnHeapColumnVector per block, bulk
  // putInts for the token child vector) read 12.0 M tok/s vs 19.6 M on
  // this path, and a residual-filtered string scan was 3.7x slower —
  // because every downstream operator here is row-based, so
  // ColumnarToRow copies each token array ELEMENT-wise out of the
  // vector, while this reader hands Spark a finished UnsafeArrayData
  // via one memcpy (fromPrimitiveArray). Columnar would only pay off
  // with a vectorized consumer, which Spark's aggregates are not.
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftCountPartition(count) =>
        val row: InternalRow = new GenericInternalRow(Array[Any](count))
        new GraftPartitionReader(Iterator.single(row), () => ())
      case part: GraftInputPartition =>
        val decoder = part.lane.decoder(required)
        val reader = open(part, decoder.columns)
        val rows = Iterator.continually(reader.read()).takeWhile(_ != null).flatMap(decoder.rows)
        // pushed LIMIT: stop decoding blocks once `limit` rows are out
        new GraftPartitionReader(if (limit >= 0) rows.take(limit) else rows, () => reader.close())
    }

  /** Opens one partition's stripe of its data file, projecting ONLY
    * `columns` and skipping pruned blocks with the lane's record filter.
    */
  private def open(part: GraftInputPartition, columns: Seq[String]): ParquetReader[Group] = {
    // the DRIVER's Hadoop conf (spark.hadoop.* creds, fs impls) travels
    // with the factory — a fresh Configuration() would drop it
    val hconf = new Configuration(conf.value)
    val path = new HPath(part.file)
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(path, hconf))
    val fileSchema = try footer.getFooter.getFileMetaData.getSchema finally footer.close()
    val proj = new MessageType(fileSchema.getName,
      columns.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
    hconf.set(ReadSupport.PARQUET_READ_SCHEMA, proj.toString)
    var b = ParquetReader.builder(new GroupReadSupport(), path).withConf(hconf)
    if (part.splitStart > 0L || part.splitEnd != Long.MaxValue)
      b = b.withFileRange(part.splitStart, part.splitEnd)
    part.lane.recordFilter.fold(b)(f => b.withFilter(FilterCompat.get(f))).build()
  }
}

/** Hands Spark a partition's rows one at a time, then closes their source. */
class GraftPartitionReader private[sources] (
    rows: Iterator[InternalRow],
    onClose: () => Unit) extends PartitionReader[InternalRow] {

  private var current: InternalRow = _

  override def next(): Boolean = rows.hasNext && { current = rows.next(); true }

  override def get(): InternalRow = current

  override def close(): Unit = onClose()
}

/** What the two table lanes do differently inside the one scan: which
  * filters prune, how they prune, which payload columns a block read
  * projects, and how one block record becomes rows. A value serves the
  * whole scan on the driver; [[prune]] refines it per live version, and
  * that value travels in each partition to the executor.
  */
private[sources] sealed trait ScanLane extends Serializable {

  /** The table's full read schema, in canonical column order. */
  def schema: StructType

  /** A pushed filter this lane prunes with. */
  def accepts(f: Filter): Boolean

  /** The read schema of the required `fields`. */
  def project(fields: Array[StructField]): StructType = StructType(fields)

  /** Driver: the live data dirs under the accepted `pushed` filters, each
    * with the lane as its version is read.
    */
  def prune(
      spark: SparkSession, tableDir: String, snap: Snapshot, pushed: Array[Filter]): ScanLane.Pruned

  /** The scan's `description()`. */
  def describe(snap: Snapshot, required: StructType, pushed: Array[Filter],
      pruned: => ScanLane.Pruned): String

  /** Executor: the parquet row-group + record filter on block metadata. */
  def recordFilter: Option[FilterPredicate]

  /** Executor: the parquet columns one block read needs for `required`,
    * and how one block record becomes rows.
    */
  def decoder(required: StructType): ScanLane.BlockDecoder
}

private[sources] object ScanLane {

  /** Live data dirs, each with the lane of its version, plus the number of
    * blocks a zone-map prune kept (None when no block prune ran).
    */
  final case class Pruned(dirs: Seq[(String, ScanLane)], blocks: Option[Int] = None)

  final case class BlockDecoder(columns: Seq[String], rows: Group => Iterator[InternalRow])

  def of(snap: Snapshot): ScanLane =
    if (!GenericTable.isGeneric(snap)) Token()
    else {
      val schema = GenericTable.readSchemaOf(snap)
      val key = GenericTable.keyNameOf(snap)
      val integral = schema.fields.find(_.name == key).exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
      Generic(schema, Some(key).filter(_ => integral), GenericTable.writeSchemaOf(snap))
    }

  private def columnList(required: StructType): String =
    s"columns=[${required.fieldNames.mkString(",")}]"

  /** The token lane. `doc_id`/`source` equality and IN prune whole BLOCKS
    * on the driver via the manifest zone maps (doc_id min/max, src_list)
    * before any executor starts; the surviving block ids of a version
    * (`allowed`; None = every block) become a parquet record filter inside
    * its files.
    */
  final case class Token(allowed: Option[Array[Int]] = None) extends ScanLane {

    override def schema: StructType = GraftDataSource.TokenSchema

    override def accepts(f: Filter): Boolean = f match {
      case EqualTo("doc_id" | "source", _: String) => true
      case In("doc_id" | "source", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }

    // an empty prune (count(*)) still needs row multiplicity — keep
    // n_tok, the cheapest payload
    override def project(fields: Array[StructField]): StructType =
      StructType(if (fields.nonEmpty) fields else schema.fields.filter(_.name == "n_tok"))

    /** Blocks whose [doc_id_min, doc_id_max] can hold one of the doc_ids
      * AND whose src_list intersects the sources (the zone-map predicates
      * of [[GraftTable.decodeRange]] and [[GraftTable.decodeWhere]]).
      */
    override def prune(
        spark: SparkSession, tableDir: String, snap: Snapshot, pushed: Array[Filter]): Pruned = {
      // the doc_id and source values the pushed filters demand (conjunctive)
      var docIds = Seq.empty[String]
      var sources = Seq.empty[String]
      pushed.foreach {
        case EqualTo("doc_id", v: String) => docIds = Seq(v)
        case In("doc_id", vs) => docIds = vs.map(_.asInstanceOf[String]).toSeq
        case EqualTo("source", v: String) => sources = Seq(v)
        case In("source", vs) => sources = vs.map(_.asInstanceOf[String]).toSeq
        case _ =>
      }
      val unpruned = Pruned(snap.dataDirs.map(_ -> this))
      if (docIds.isEmpty && sources.isEmpty) return unpruned
      var man = GraftTable.readManifest(spark, tableDir, snap)
      docIds.flatMap(v => scala.util.Try(v.toLong).toOption) match {
        case nums if nums.nonEmpty && nums.length == docIds.length =>
          man = man.where(nums.map(n => GraftTable.docIdSpanHits(n, n)).reduce(_ || _))
        case _ => // non-numeric doc_id: bounds are numeric, cannot prune
      }
      if (sources.nonEmpty) man = man.where(GraftTable.srcListHits(sources))
      // Bounded collect: an UNSELECTIVE filter over a 15M-block table
      // would otherwise pull every surviving (ver, block_id) to the
      // driver and ship the array into each partition — the same
      // O(numBlocks) driver floor the two-level bounds removed from the
      // encode path. limit(N+1) caps what the collect can ever pull;
      // past the cap, pruning is skipped entirely (it is a pure
      // optimization — every filter stays residual in the Spark plan,
      // so correctness never depends on it).
      val rows = man.select(col("ver").cast("int"), col("block_id").cast("int"))
        .limit(GraftScan.MaxPrunedBlockIds + 1)
        .collect()
      if (rows.length > GraftScan.MaxPrunedBlockIds) return unpruned
      val byVer = rows.groupBy(_.getInt(0)).map { case (v, rs) =>
        v -> rs.map(_.getInt(1)).distinct.sorted
      }
      // a fully-pruned version drops out with its files
      Pruned(
        snap.dataDirs.flatMap(d =>
          byVer.get(GraftTable.versionOfDir(d)).map(ids => d -> Token(Some(ids)))),
        Some(byVer.values.map(_.length).sum))
    }

    override def describe(
        snap: Snapshot, required: StructType, pushed: Array[Filter], pruned: => Pruned): String =
      s"graft blocks=${pruned.blocks.fold("all")(_.toString)}/${snap.blocksEncoded} " +
        s"${columnList(required)} pushed=[${pushed.mkString(",")}]"

    override def recordFilter: Option[FilterPredicate] =
      allowed.filter(_.length <= 65536).map { ids =>
        val hs = new java.util.HashSet[Integer]()
        ids.foreach(id => hs.add(Int.box(id)))
        FilterApi.in(FilterApi.intColumn("block_id"), hs)
      }

    /** Decodes one block's needed payloads into plain arrays, then emits
      * one row per document.
      */
    override def decoder(required: StructType): BlockDecoder = {
      val columns = required.fieldNames
      val needDoc = columns.contains("doc_id")
      val needTok = columns.contains("tokens")
      val needN = columns.contains("n_tok") || needTok // lens drive slicing
      val needSrc = columns.contains("source")
      val keep = allowed.map(_.toSet) // exact even past the record-filter size cap
      val payloads = Seq("block_id") ++
        (if (needDoc) Seq("pl_doc_id") else Nil) ++
        (if (needTok) Seq("pl_tokens") else Nil) ++
        (if (needN) Seq("pl_n_tok") else Nil) ++
        (if (needSrc) Seq("pl_source") else Nil)
      BlockDecoder(payloads, { g =>
        if (!keep.forall(_.contains(g.getInteger("block_id", 0)))) Iterator.empty
        else {
          def ints(c: String) = IntBlocks.decode(g.getBinary(c, 0).getBytes)
          def strs(c: String) = StrBlocks.decode(g.getBinary(c, 0).getBytes)
          val docIds = if (needDoc) strs("pl_doc_id") else null
          val lens = if (needN) ints("pl_n_tok") else null
          val flat = if (needTok) ints("pl_tokens") else null
          val srcs = if (needSrc) strs("pl_source") else null
          val nRows =
            if (needN) lens.length
            else if (needDoc) docIds.length
            else srcs.length
          var off = 0
          Iterator.tabulate(nRows) { i =>
            val vals = new Array[Any](columns.length)
            var c = 0
            while (c < columns.length) {
              vals(c) = columns(c) match {
                case "doc_id" => UTF8String.fromString(docIds(i))
                case "tokens" =>
                  UnsafeArrayData.fromPrimitiveArray(
                    java.util.Arrays.copyOfRange(flat, off, off + lens(i)))
                case "n_tok" => lens(i)
                case "source" => UTF8String.fromString(srcs(i))
              }
              c += 1
            }
            if (needTok) off += lens(i)
            new GenericInternalRow(vals)
          }
        }
      })
    }
  }

  /** The generic (any-schema) lane. Comparisons on the table's integral
    * range key (`key`; None when the key is not integral — there the
    * range key is a hash, not the value) compose into one [lo, hi]
    * interval (`range`), pushed as a parquet row-group + record filter on
    * the per-block `key_min`/`key_max` zone maps — no driver-side id set
    * at ANY table size — plus whole-VERSION pruning from the manifest key
    * spans. Each version decodes under the schema it was written with
    * (`writeSchema`) and null-fills fields that postdate it, exactly like
    * [[GenericTable.decode]].
    */
  final case class Generic(
      schema: StructType,
      key: Option[String],
      writeSchema: StructType,
      range: Option[(Long, Long)] = None) extends ScanLane {

    private def asLong(v: Any): Option[Long] = v match {
      case n: Long => Some(n)
      case n: Int => Some(n.toLong)
      case n: Short => Some(n.toLong)
      case n: Byte => Some(n.toLong)
      case _ => None
    }

    /** The key interval one filter implies; None = not a key filter. */
    private def bound(f: Filter): Option[(Long, Long)] = f match {
      case EqualTo(a, v) if key.contains(a) => asLong(v).map(n => (n, n))
      case GreaterThan(a, v) if key.contains(a) =>
        asLong(v).map(n => (if (n < Long.MaxValue) n + 1 else Long.MinValue, Long.MaxValue))
      case GreaterThanOrEqual(a, v) if key.contains(a) => asLong(v).map(n => (n, Long.MaxValue))
      case LessThan(a, v) if key.contains(a) =>
        asLong(v).map(n => (Long.MinValue, if (n > Long.MinValue) n - 1 else Long.MaxValue))
      case LessThanOrEqual(a, v) if key.contains(a) => asLong(v).map(n => (Long.MinValue, n))
      case In(a, vs) if key.contains(a) && vs.nonEmpty =>
        val ns = vs.flatMap(asLong)
        if (ns.length == vs.length) Some((ns.min, ns.max)) else None
      case _ => None
    }

    override def accepts(f: Filter): Boolean = bound(f).isDefined

    /** The conjunction of the pushed key filters as one conservative
      * [lo, hi] interval (In widens to its min..max envelope).
      */
    private def keyRange(pushed: Array[Filter]): Option[(Long, Long)] =
      if (pushed.isEmpty) None
      else Some(pushed.flatMap(bound).foldLeft((Long.MinValue, Long.MaxValue)) {
        case ((lo, hi), (l, h)) => (math.max(lo, l), math.min(hi, h))
      })

    override def prune(
        spark: SparkSession, tableDir: String, snap: Snapshot, pushed: Array[Filter]): Pruned = {
      val r = keyRange(pushed)
      // whole-version pruning from the manifest key spans (tiny JSON read
      // on the driver — the interval itself, never an id set)
      val live = r.fold(snap.dataDirs) { case (lo, hi) =>
        GenericTable.rangeDataDirs(spark, tableDir, snap, lo, hi)
      }
      Pruned(GenericTable.versionWriteSchemas(spark, tableDir, snap, live).flatMap {
        case (_, dirs, ws) => dirs.map(_ -> copy(writeSchema = ws, range = r))
      })
    }

    override def describe(
        snap: Snapshot, required: StructType, pushed: Array[Filter], pruned: => Pruned): String =
      s"graft-generic ${columnList(required)} " +
        s"range=${keyRange(pushed).map(r => s"[${r._1},${r._2}]").getOrElse("all")} " +
        s"pushed=[${pushed.mkString(",")}]"

    // a block can hold keys in [lo, hi] iff key_max >= lo AND key_min <= hi
    // — parquet prunes row groups on stats, then filters block records
    override def recordFilter: Option[FilterPredicate] = range.map { case (lo, hi) =>
      FilterApi.and(
        FilterApi.gtEq(FilterApi.longColumn("key_max"), Long.box(lo)),
        FilterApi.ltEq(FilterApi.longColumn("key_min"), Long.box(hi)))
    }

    /** The needed leaf payloads decode via the shared
      * [[AnyColumn.decodeCatalyst]], and rows assemble straight into
      * Catalyst internal representations — dates/timestamps are identity
      * (days/micros ARE the internal forms), decimals rebuild from the
      * stored unscaled long, structs from their presence + child leaves,
      * maps from their key/value array leaves.
      */
    override def decoder(required: StructType): BlockDecoder = {
      val wplan = GenericTable.planOf(writeSchema)
      val leafIdx = wplan.flatMap(_._2).map(_.name).zipWithIndex.toMap
      val kinds = wplan.flatMap(_._2).map(l => l.name -> l.kind).toMap
      val byName = wplan.map(p => p._1.name -> p._1).toMap
      // leaves the required fields need from this write schema
      val needed: Array[String] = required.fields
        .flatMap(f => wplan.find(_._1.name == f.name).toSeq.flatMap(_._2.map(_.name)))
        .distinct
      // per row the needed leg values land in one flat slot array that
      // every field builder indexes — builders resolve their slot ONCE
      // here, no hash probes in the hot loop. The rebuild logic is the
      // shared NestedLegs (the Scala-API decode uses it for
      // non-scalar-element arrays).
      val slot = needed.zipWithIndex.toMap
      // one builder per required field; fields this version predates
      // emit null (schema evolution)
      val builders: Array[Array[Any] => Any] = required.fields.map { f =>
        byName.get(f.name) match {
          case Some(wf) => NestedLegs.builder(wf.name, wf.dataType, wf.nullable, slot)
          case None => (_: Array[Any]) => null
        }
      }
      // row_count drives multiplicity (no payload needed for SELECT count
      // shapes); key_min/key_max ride along for the record-level filter
      BlockDecoder(
        Seq("row_count", "key_min", "key_max") ++ needed.map(n => s"pl_${leafIdx(n)}"),
        { g =>
          val legs = needed.map(n => AnyColumn.decodeCatalyst(
            kinds(n), g.getBinary(s"pl_${leafIdx(n)}", 0).getBytes).array)
          Iterator.tabulate(g.getLong("row_count", 0).toInt) { i =>
            val legVals = new Array[Any](legs.length)
            var s = 0
            while (s < legs.length) { legVals(s) = legs(s)(i); s += 1 }
            val vals = new Array[Any](builders.length)
            var c = 0
            while (c < builders.length) { vals(c) = builders(c)(legVals); c += 1 }
            new GenericInternalRow(vals)
          }
        })
    }
  }
}
