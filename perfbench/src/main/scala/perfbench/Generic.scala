package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StreamingEncode
import graft.table.GenericTable

/** Generic lane under writes: one encode of a lineitem-shaped table with a
  * unique key, then small commits one after another (append, upsert batch,
  * deleteWhere, deleteRange, compact) with decodeRange reads between them.
  * Every commit touches only the tail versions written after the encode,
  * so commits are dominated by the commit protocol's fixed cost.
  */
final class GenericMutate extends Workload {

  private val Orders = 2500 // ~10k lines: TPC-H sf0.1 lineitem's shape at 1/60 the rows
  private val BatchRows = 40
  private val ReadSpan = 2000L
  private val spec = s"v1;$Orders"

  private val Schema = StructType(Seq(
    StructField("l_key", LongType, nullable = false),
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DecimalType(15, 2)), StructField("l_extendedprice", DecimalType(15, 2)),
    StructField("l_discount", DecimalType(15, 2)), StructField("l_tax", DecimalType(15, 2)),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType), StructField("l_commitdate", DateType),
    StructField("l_receiptdate", DateType), StructField("l_shipinstruct", StringType),
    StructField("l_shipmode", StringType), StructField("l_comment", StringType)))

  private val Instruct = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val Modes = Array("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val Words = Array("furiously", "quickly", "carefully", "final", "regular", "express",
    "ironic", "pending", "bold", "slyly", "deposits", "packages", "accounts", "requests",
    "theodolites", "instructions", "foxes", "pinto", "beans", "asymptotes", "ideas", "blithely")

  private def dec(unscaled: Long) = java.math.BigDecimal.valueOf(unscaled, 2)

  private def line(r: SplittableRandom, order: Long, ln: Int): Row = {
    val qty = 1 + r.nextInt(50)
    val price = 90000L + r.nextInt(110000)
    val ship = 8035 + r.nextInt(2500) // 1992-01-01 + up to ~7 years, in days
    val comment = (0 until 2 + r.nextInt(5)).map(_ => Words(r.nextInt(Words.length))).mkString(" ")
    Row(order * 8 + ln, order, 1L + r.nextInt(20000), 1L + r.nextInt(1000), ln,
      dec(qty * 100L), dec(qty * price), dec(r.nextInt(11)), dec(r.nextInt(9)),
      if (ship < 9300) (if (r.nextBoolean()) "R" else "A") else "N",
      if (ship < 9400) "F" else "O",
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(ship)),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(ship - 30 + r.nextInt(60))),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(ship + 1 + r.nextInt(30))),
      Instruct(r.nextInt(Instruct.length)), Modes(r.nextInt(Modes.length)), comment)
  }

  private var baseRows: Array[Row] = _
  private var baseDf: DataFrame = _
  private var refParquetBytes = 0L
  private var dir: String = _
  private var tableNo = 0
  private val model = mutable.TreeMap.empty[Long, Row]
  private var nextOrder = 0L
  private val storedBytes = mutable.ArrayBuffer.empty[Long]
  private val baseKeys = mutable.ArrayBuffer.empty[Long]

  def setup(ctx: Ctx): Unit = {
    val r = Gen.rng(ctx.seed, "generic_mutate")
    baseRows = (1L to Orders).flatMap(o => (1 to 1 + r.nextInt(7)).map(ln => line(r, o, ln))).toArray
    val cache = ctx.cached(spec) { tmp =>
      ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(baseRows.toSeq, 4), Schema)
        .write.parquet(tmp)
    }
    baseDf = ctx.spark.read.schema(Schema).parquet(cache)
    refParquetBytes = ctx.bytesUnder(cache)
    ctx.check("mutate.input_loaded", baseDf.count() == baseRows.length)
  }

  private def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Schema)

  /** (rows, key sum, quantity sum) of a frame, and of the model's range. */
  private def readAgg(df: DataFrame): (Long, Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), coalesce(sum("l_key"), lit(0L)),
      coalesce(sum("l_quantity"), lit(java.math.BigDecimal.ZERO))).head()
    (r.getLong(0), r.getLong(1), r.getDecimal(2).setScale(2))
  }
  private def modelAgg(lo: Long, hi: Long): (Long, Long, java.math.BigDecimal) = {
    val rs = model.range(lo, hi + 1).values
    (rs.size.toLong, rs.map(_.getLong(0)).sum,
      rs.map(_.getDecimal(5)).foldLeft(java.math.BigDecimal.ZERO)(_ add _).setScale(2))
  }

  private def tailKeys: IndexedSeq[Long] = model.keysIteratorFrom(baseKeys.last + 1).toIndexedSeq

  private def read(ctx: Ctx, rec: Recorder, r: SplittableRandom): Unit = {
    val keys = if (r.nextBoolean() || tailKeys.isEmpty) baseKeys else tailKeys
    val lo = keys(r.nextInt(keys.size)) - ReadSpan / 2
    val hi = lo + ReadSpan
    val got = rec.call("range_read", "table")(
      readAgg(GenericTable.decodeRange(ctx.spark, dir, lo, hi)))
    val want = modelAgg(lo, hi)
    ctx.check("mutate.range_read", got == want, s"[$lo,$hi] $got vs $want")
  }

  def probe(ctx: Ctx, rec: Recorder, i: Int): Unit =
    read(ctx, rec, Gen.rng(ctx.seed * 1000 + i, "generic_mutate.probe"))

  private def newLines(r: SplittableRandom, n: Int): Seq[Row] = {
    val out = mutable.ArrayBuffer.empty[Row]
    while (out.size < n) {
      nextOrder += 1
      out ++= (1 to 1 + r.nextInt(7)).map(ln => line(r, nextOrder, ln))
    }
    out.take(n).toSeq
  }

  def round(ctx: Ctx, rec: Recorder, roundNo: Int): Unit = {
    val spark = ctx.spark
    if (dir != null) ctx.delete(dir)
    tableNo += 1
    dir = s"${ctx.work}/generic-$tableNo"
    model.clear()
    baseRows.foreach(row => model(row.getLong(0)) = row)
    baseKeys.clear()
    baseKeys ++= model.keys
    nextOrder = Orders.toLong
    val r = Gen.rng(ctx.seed * 1000 + roundNo, "generic_mutate.round")

    val enc = rec.call("encode", "table")(GenericTable.encode(baseDf, dir, "l_key"))
    storedBytes += enc.bytesTotal
    // every commit touches only the tail written after the encode: the
    // base version's key span is never hit, so no commit rewrites it
    val rows = newLines(r, BatchRows)
    rec.call("append", "table")(GenericTable.append(frame(spark, rows), dir))
    rows.foreach(row => model(row.getLong(0)) = row)

    // upsert: replace half the tail rows, add as many new ones
    val tail = tailKeys
    val updates = (0 until BatchRows / 2).map(_ => tail(r.nextInt(tail.size))).distinct.map { k =>
      val old = model(k)
      Row.fromSeq(old.toSeq.updated(5, dec((1 + r.nextInt(50)) * 100L))
        .updated(16, "updated " + old.getString(16)))
    }
    val batch = updates ++ newLines(r, BatchRows - updates.size)
    rec.call("upsert", "streaming")(StreamingEncode.applyBatchUpsert(
      frame(spark, batch), 1L, dir, "l_key"))
    batch.foreach(row => model(row.getLong(0)) = row)
    read(ctx, rec, r)

    val victims = tailKeys
    val del = (0 until 4).map(_ => victims(r.nextInt(victims.size))).distinct
    rec.call("delete_where", "table")(GenericTable.deleteWhere(spark, dir,
      col("l_key").isin(del: _*)))
    del.foreach(model.remove)

    val t = tailKeys
    val lo = t(r.nextInt(t.size))
    val hi = lo + 40
    rec.call("delete_range", "table")(GenericTable.deleteRange(spark, dir, lo, hi))
    model.range(lo, hi + 1).keys.toList.foreach(model.remove)
    read(ctx, rec, r)

    rec.call("compact", "table")(GenericTable.compact(spark, dir))
    read(ctx, rec, r)
  }

  def verify(ctx: Ctx): Unit = {
    def hashAgg(df: DataFrame) = {
      val row = df.agg(count(lit(1)),
        sum(xxhash64(Schema.fieldNames.map(col): _*).cast("decimal(38,0)"))).head()
      (row.getLong(0), row.getDecimal(1))
    }
    val got = hashAgg(GenericTable.decode(ctx.spark, dir).select(Schema.fieldNames.map(col): _*))
    val want = hashAgg(frame(ctx.spark, model.values.toSeq))
    ctx.check("mutate.table_equals_model", got == want, s"got $got want $want")
    val schemaOk = GenericTable.decode(ctx.spark, dir).schema.map(f => f.name -> f.dataType) ==
      Schema.map(f => f.name -> f.dataType)
    ctx.check("mutate.schema", schemaOk)
    ctx.check("mutate.stored_bytes_deterministic", storedBytes.distinct.size == 1,
      storedBytes.mkString(","))
  }

  def samples(ctx: Ctx): Kernels.Samples = {
    val block = baseRows.take(16384)
    Kernels.Samples(
      ints = Seq(block.map(_.getInt(4)), block.map(r => r.getDate(11).toLocalDate.toEpochDay.toInt)),
      strs = Seq(block.map(_.getString(16)), block.map(_.getString(15)), block.map(_.getString(14))),
      longs = Seq(block.map(_.getLong(0)), block.map(_.getLong(2)), block.map(_.getLong(3)),
        block.map(_.getDecimal(6).unscaledValue.longValue)))
  }

  def detail(ctx: Ctx, rec: Recorder, report: Option[TraceReport]): Map[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    out("encode_rows_s") = (baseRows.length / rec.median("encode"), "rows/s")
    out("stored_bytes_ratio") = (storedBytes.last.toDouble / refParquetBytes, "ratio")
    val reads = rec.calls.filter(_.op == "range_read").map(_.seconds * 1e3).toSeq
    out("range_read_p50_ms") = (Stats.median(reads), "ms")
    out("range_read_p90_ms") = (Stats.quantile(reads, 0.9), "ms")
    val commitOps = Seq("upsert", "delete_where", "delete_range", "append", "compact")
    val commits = rec.calls.filter(c => commitOps.contains(c.op)).map(_.seconds * 1e3).toSeq
    out("mutate_commit_p50_ms") = (Stats.median(commits), "ms")
    out("mutate_commit_p90_ms") = (Stats.quantile(commits, 0.9), "ms")
    out("mutate_commit_samples") = (commits.size.toDouble, "count")
    report.foreach { rep =>
      out ++= rep.commitFigures(commitOps)
      out("streaming.batch_commit_ms") = (rec.median("upsert") * 1e3, "ms")
      val t0 = System.nanoTime()
      graft.table.GraftTable.readManifest(ctx.spark, dir).count()
      out("table.scan.meta_open_ms") = ((System.nanoTime() - t0) / 1e6, "ms")
    }
    out.toMap
  }
}
