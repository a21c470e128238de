package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, DataSourceRegister,
  EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull,
  IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains, StringEndsWith,
  StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.{GenericTable, GraftTable}

/** Spark DataSource V2 connector for graft tables of both lanes, read and
  * write: `spark.read.format("graft").load(tableDir)`,
  * `df.write.format("graft")`, `CREATE TABLE t USING graft OPTIONS (path
  * '...') [AS SELECT ...]`, `INSERT INTO` and `DELETE FROM`.
  *
  * A token table reads as the fixed [[GraftDataSource.TokenSchema]], a
  * generic table as its stored read schema. Both read through the one
  * [[GraftScan]], whose per-block payload decode emits `InternalRow`s
  * directly; the lane differences live in [[ScanLane]].
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "graft"

  /** Writes carry their own schema (the incoming DataFrame's) — Spark
    * must not require inferSchema to succeed on a not-yet-created path.
    */
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft reads need a table path: .load(dir)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = pathOf(options)
    val snap = GraftTable.currentSnapshot(SparkSession.active, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed graft table at $dir"))
    if (GenericTable.isGeneric(snap)) GenericTable.readSchemaOf(snap)
    else GraftDataSource.TokenSchema
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftSparkTable(properties.get("path"), schema)

  /** V1 CTAS bridge: `CREATE TABLE t USING graft OPTIONS (path ...) AS
    * SELECT ...` plans through the session catalog's V1 command, which
    * needs a CreatableRelationProvider. Routes into the same lane logic
    * as the V2 write path.
    */
  override def createRelation(
      sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft writes need a table path option"))
    val exists = GraftTable.currentSnapshot(data.sparkSession, dir).isDefined
    mode match {
      case ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $dir")
      case Ignore if exists => // no-op by contract
      case _ =>
        GraftDataSource.writeBatch(data, dir, overwrite = mode == Overwrite, parameters)
    }
    val ctx = sqlContext
    val written = data.schema
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = written
    }
  }
}

object GraftDataSource {

  /** The decoded token-table schema (matches [[GraftTable.decode]]). */
  val TokenSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = true),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = true)))

  /** V1 Filter → Column translation for SQL `DELETE FROM ... WHERE ...`
    * (conjunctive; None = untranslatable, the delete is rejected at
    * analysis via canDeleteWhere — never a silent partial delete).
    */
  private[sources] def filterColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case And(l, r) =>
        for { a <- filterColumn(l); b <- filterColumn(r) } yield a && b
      case Or(l, r) =>
        for { a <- filterColumn(l); b <- filterColumn(r) } yield a || b
      case Not(c) => filterColumn(c).map(!_)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** A batch rides the specialized token lane when it IS the token shape.
    * containsNull on `tokens` is ignored for routing: Spark's write
    * planning relaxes nullability flags on the way to the V1 insert, and
    * the token lane never casts the array (a null ELEMENT at runtime
    * fails the encode loudly — token streams are non-null by contract;
    * batches that genuinely carry element nulls should target a generic
    * table, whose `arr_int_n` kind stores them faithfully).
    */
  private[sources] def isTokenShape(s: StructType): Boolean =
    s.fieldNames.sorted.sameElements(Array("doc_id", "n_tok", "source", "tokens")) &&
      s("doc_id").dataType == StringType &&
      (s("tokens").dataType match {
        case ArrayType(IntegerType, _) => true
        case _ => false
      }) &&
      s("n_tok").dataType == IntegerType &&
      s("source").dataType == StringType

  /** Shared write routing for the V2 (`df.write.format("graft")`) and V1
    * (CTAS) paths. Overwrite replaces (both lanes' `encode` starts a fresh
    * version whose dataDirs carry only the new data when the input
    * fingerprint changed — and resumes as a no-op when it didn't); append
    * on an existing table accumulates a version (generic lane: with
    * union-by-name schema evolution). An existing table pins the lane;
    * a fresh path routes by the batch's shape.
    */
  private[sources] def writeBatch(
      data: org.apache.spark.sql.DataFrame,
      tableDir: String,
      overwrite: Boolean,
      options: Map[String, String]): Unit = {
    val spark = data.sparkSession
    val existing = GraftTable.currentSnapshot(spark, tableDir)
    val existingGeneric = existing.exists(GenericTable.isGeneric)
    val opts = GraftTable.Options(
      targetRowsPerBlock =
        options.get("targetrowsperblock").orElse(options.get("targetRowsPerBlock"))
          .map(_.toInt).getOrElse(GraftTable.Options().targetRowsPerBlock))
    val tokenLane =
      if (existing.isEmpty) isTokenShape(data.schema)
      else !existingGeneric
    if (tokenLane) {
      require(isTokenShape(data.schema),
        s"$tableDir is a token-lane table; the batch schema " +
          s"${data.schema.catalogString} is not the token shape " +
          "(doc_id string, tokens array<int> non-null elements, n_tok int, source string)")
      val d = data.select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
      if (overwrite || existing.isEmpty) GraftTable.encode(d, tableDir, opts)
      else GraftTable.append(d, tableDir, opts)
    } else {
      val key = options.getOrElse("key", "")
      if (overwrite || existing.isEmpty)
        GenericTable.encode(data, tableDir, keyCol = key, opts = opts)
      else GenericTable.append(data, tableDir, opts)
    }
  }
}

class GraftSparkTable(tableDir: String, provided: StructType) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private lazy val snapOpt = GraftTable.currentSnapshot(SparkSession.active, tableDir)

  private lazy val snap = snapOpt.getOrElse(
    throw new IllegalArgumentException(s"no committed graft table at $tableDir"))

  override def name(): String = s"graft:`$tableDir`"

  override def schema(): StructType = snapOpt match {
    case Some(s) if GenericTable.isGeneric(s) => GenericTable.readSchemaOf(s)
    case Some(_) => GraftDataSource.TokenSchema
    case None => if (provided != null) provided else GraftDataSource.TokenSchema
  }

  // TRUNCATE (not OVERWRITE_BY_FILTER): the write builder implements only
  // SupportsTruncate, and TRUNCATE alone is what df.write.mode("overwrite")
  // / INSERT OVERWRITE need. Advertising OVERWRITE_BY_FILTER would let a
  // filtered overwrite pass analysis only to fail at runtime.
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableDir, snap)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(tableDir, info.options().asScala.toMap)

  // SQL `DELETE FROM t WHERE ...` routes into the generic lane's
  // copy-on-write deleteWhere (version-pruned rewrite). Only accepted
  // when EVERY filter translates — a partial translation would delete a
  // superset/subset of what the user asked. Token-lane tables reject at
  // analysis (re-encode or serve the token schema through a generic
  // table when deletes are needed).
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    snapOpt.exists(GenericTable.isGeneric) &&
      filters.forall(f => GraftDataSource.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(snapOpt.exists(GenericTable.isGeneric),
      s"DELETE FROM is supported on generic graft tables only ($tableDir is token-lane)")
    // strict translation: Spark gates on canDeleteWhere first, but if a
    // future call path skipped that gate, a silently-dropped filter here
    // would delete a SUPERSET of the requested rows — fail loud instead
    val pred = filters.toSeq.map(f =>
        GraftDataSource.filterColumn(f).getOrElse(throw new IllegalArgumentException(
          s"DELETE filter does not translate: $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    GenericTable.deleteWhere(SparkSession.active, tableDir, pred)
  }
}

/** V1Write bridge: both lanes' encode is a whole-DataFrame operation
  * (global range bounds, one hash exchange, streaming block assembly) —
  * the per-task DataWriter protocol cannot express it, and reimplementing
  * it per-partition would forfeit the engine's layout determinism. The
  * InsertableRelation hand-off keeps the WHOLE distributed pipeline
  * (nothing is collected; the driver only orchestrates).
  */
class GraftWriteBuilder(tableDir: String, options: Map[String, String])
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var overwrite = false

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
        (data: org.apache.spark.sql.DataFrame, ov: Boolean) =>
          GraftDataSource.writeBatch(data, tableDir, overwrite || ov, options)
    }
}
