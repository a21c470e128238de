package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.GraftTable

/** Inputs, expected results and figures of the token workload. */
object TokenInputs {

  /** Rows per block for both token tables: graft.Bench's 8192. */
  val Opts = GraftTable.Options(targetRowsPerBlock = 8192)

  /** Write ingestion batches as one Parquet dataset partitioned by `batch`. */
  def write(spark: SparkSession, batches: Seq[Array[Gen.Doc]], dir: String): Unit = {
    import spark.implicits._
    val rows = batches.zipWithIndex.flatMap { case (docs, b) =>
      docs.toSeq.map(d => (d.id.toString, d.tokens, d.tokens.length, d.source, b))
    }
    spark.sparkContext.parallelize(rows, 8)
      .toDF("doc_id", "tokens", "n_tok", "source", "batch")
      .write.partitionBy("batch").parquet(dir)
  }

  /** (rows, tokens, sum of numeric doc ids) plus an order-independent
    * content hash, as one aggregate row.
    */
  def summary(df: DataFrame): (Long, Long, Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("n_tok")), lit(0L)),
      coalesce(sum(col("doc_id").cast("long")), lit(0L)),
      coalesce(sum(xxhash64(col("doc_id"), col("tokens"), col("source")).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3))
  }

  /** (rows, tokens, sum of ids): the cheap aggregate every timed read ends in. */
  def readAgg(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("n_tok")), lit(0L)),
      coalesce(sum(col("doc_id").cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Expected (rows, tokens, id sum) of any id range, without the engine. */
  final class Expect(docs: Seq[Gen.Doc]) {
    private val byId = docs.sortBy(_.id).toArray
    private val ids = byId.map(_.id)
    private val tokPrefix = byId.scanLeft(0L)(_ + _.tokens.length)
    private val idPrefix = byId.scanLeft(0L)(_ + _.id)
    def range(lo: Long, hi: Long): (Long, Long, Long) = {
      val a = lowerBound(lo)
      val b = lowerBound(hi + 1)
      ((b - a).toLong, tokPrefix(b) - tokPrefix(a), idPrefix(b) - idPrefix(a))
    }
    private def lowerBound(x: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, x)
      if (i >= 0) i else -i - 1
    }
    def where(p: Gen.Doc => Boolean): (Long, Long, Long) = {
      val s = byId.filter(p)
      (s.length.toLong, s.map(_.tokens.length.toLong).sum, s.map(_.id).sum)
    }
    def all: (Long, Long, Long) = (ids.length.toLong, tokPrefix.last, idPrefix.last)
  }

  /** Phase times of the encode calls, from the call sites of their jobs. */
  def encodePhases(report: TraceReport): Map[String, (Double, String)] = {
    val spans = report.named("encode")
    def phaseOf(site: String): String =
      if (site.contains("graft.table.Stats$")) "stats"
      else if (site.contains("computeBounds") || site.contains("graft.table.Ranks$") ||
        site.contains("writeBounds")) "bounds"
      else if (site.contains("DataFrameWriter.parquet")) "assemble"
      else "other"
    val jobs = spans.flatMap(report.jobsOf)
    val byPhase = jobs.groupBy(j => phaseOf(j.callSite))
    val n = spans.size.max(1)
    val sums = report.sums(jobs)
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    Seq("stats", "bounds", "assemble", "other").foreach { p =>
      out(s"table.encode.${p}_s") =
        (byPhase.getOrElse(p, Nil).map(report.jobSeconds).sum / n, "s")
    }
    out("table.encode.driver_s") = (spans.map(report.driverS).sum / n, "s")
    out("table.encode.shuffle_write_bytes") = (sums.shuffleWriteBytes.toDouble / n, "bytes")
    out("table.encode.spill_bytes") = (sums.spillBytes.toDouble / n, "bytes")
    out("table.encode.task_cpu_s") = (sums.cpuS / n, "s")
    out.toMap
  }
}

/** The token lane end to end, write path then read path, on one table:
  *   - one encode of a 300k-token shard whose 128,256-id vocabulary puts
  *     it above IntBlocks.DictCap (no DICT/FSST trials);
  *   - three small appends below DictCap (DICT/FSST trials), each batch
  *     from its own source;
  *   - one compact, merging the three fragments;
  *   - reads: full decode, ~one-block decodeRange reads, the same ranges
  *     through spark.read.format("graft") plus a filter, and decodeWhere
  *     on one source, which the src_list zone maps can prune.
  */
final class TokensIngestScan extends Workload {
  import TokenInputs._

  private val Vocab = 128256 // Llama-3 vocabulary
  private val ZipfS = 0.6 // flat enough that the shard samples > DictCap distinct ids
  private val Lens = Gen.Lengths(median = 16, sigma = 0.5, minLen = 2, maxLen = 128)
  private val BaseTokens = (300000L, 310000L)
  private val Batches = 3
  private val BatchTokens = (24000L, 26000L)
  private val RangeIds = 4096L // half a block's worth of ids
  private val RangeReads = 3
  private val spec = s"v2;$Vocab;$ZipfS;$Lens;$BaseTokens;$Batches;$BatchTokens"

  private var docs: Seq[Array[Gen.Doc]] = _ // base shard, then the append batches
  private var frames: Seq[DataFrame] = _
  private var expect: Expect = _
  private var refParquetBytes = 0L
  private var tableNo = 0
  private var dir: String = _
  private val storedBytes = mutable.ArrayBuffer.empty[Long]
  private val planMs = mutable.ArrayBuffer.empty[Double]
  private val sqlBlocks = mutable.ArrayBuffer.empty[Double]
  private val prunedBlocks = mutable.ArrayBuffer.empty[(Double, Double, Double)]

  private def firstId(b: Int): Long = 1000000L * (b + 1)

  def setup(ctx: Ctx): Unit = {
    val r = Gen.rng(ctx.seed, "tokens")
    val zipf = new Gen.Zipf(Vocab, ZipfS, r)
    val baseSrc = Gen.categorical(Seq("web" -> 0.6, "books" -> 0.2, "code" -> 0.1, "wiki" -> 0.1))
    docs = Gen.tokenDocs(r, zipf, Lens, firstId(0), BaseTokens._1, BaseTokens._2, baseSrc) +:
      (1 to Batches).map(b =>
        Gen.tokenDocs(r, zipf, Lens, firstId(b), BatchTokens._1, BatchTokens._2, _ => s"feed$b"))
    expect = new Expect(docs.flatten)
    val cache = ctx.cached(spec)(write(ctx.spark, docs, _))
    val all = ctx.spark.read.parquet(cache)
    frames = docs.indices.map(b => all.where(col("batch") === b).drop("batch"))
    refParquetBytes = ctx.bytesUnder(cache)
    val loaded = readAgg(all)
    ctx.check("tokens.input_loaded", loaded == expect.all, s"$loaded vs ${expect.all}")
  }

  private def rangeOf(r: java.util.SplittableRandom): (Long, Long) = {
    val b = if (r.nextInt(4) == 0) 1 + r.nextInt(Batches) else 0
    val lo = firstId(b) + r.nextLong(math.max(1L, docs(b).length - RangeIds))
    (lo, lo + RangeIds - 1)
  }

  def round(ctx: Ctx, rec: Recorder, roundNo: Int): Unit = {
    val spark = ctx.spark
    if (dir != null) ctx.delete(dir)
    tableNo += 1
    dir = s"${ctx.work}/tokens-$tableNo"
    val r = Gen.rng(ctx.seed * 1000 + roundNo, "tokens.round")

    // write path
    rec.call("encode", "table")(GraftTable.encode(frames.head, dir, Opts))
    frames.tail.foreach(df => rec.call("append", "table")(GraftTable.append(df, dir, Opts)))
    val res = rec.call("compact", "table")(GraftTable.compact(spark, dir, Opts))
    ctx.check("tokens.compacted", res.blocksEncodedThisRun > 0)
    storedBytes += res.bytesTotal

    // read path
    val (snap, manifestRows) = rec.call("meta_open", "table") {
      val s = GraftTable.currentSnapshot(spark, dir).get
      (s, GraftTable.readManifest(spark, dir, s).count())
    }
    ctx.check("tokens.manifest", manifestRows == snap.blocksEncoded)

    val full = rec.call("decode", "table")(readAgg(GraftTable.decode(spark, dir).toDF()))
    ctx.check("tokens.decode", full == expect.all, s"$full vs ${expect.all}")

    (0 until RangeReads).foreach { _ =>
      val (lo, hi) = rangeOf(r)
      val got = rangeRead(ctx, rec, lo, hi)
      if (rec.tracing) {
        val hit = GraftTable.readManifest(spark, dir)
          .where(col("doc_id_max").cast("long") >= lo && col("doc_id_min").cast("long") <= hi)
          .agg(count(lit(1)), coalesce(sum("row_count"), lit(0L))).head()
        prunedBlocks += ((hit.getLong(0).toDouble, snap.blocksEncoded.toDouble,
          hit.getLong(1).toDouble / math.max(1L, got._1)))
      }

      val sql = rec.call("sql_range_read", "sources") {
        val df = spark.read.format("graft").load(dir)
          .where(col("doc_id").cast("long").between(lo, hi))
          .agg(count(lit(1)), coalesce(sum(col("n_tok")), lit(0L)),
            coalesce(sum(col("doc_id").cast("long")), lit(0L)))
        val t0 = System.nanoTime()
        val plan = rec.span("sources.plan", "sources")(df.queryExecution.executedPlan.toString)
        planMs += (System.nanoTime() - t0) / 1e6
        "graft blocks=(\\w+)/(\\d+)".r.findFirstMatchIn(plan).foreach { m =>
          sqlBlocks += (if (m.group(1) == "all") m.group(2) else m.group(1)).toDouble
        }
        val row = df.head()
        (row.getLong(0), row.getLong(1), row.getLong(2))
      }
      ctx.check("tokens.sql_range_read", sql == expect.range(lo, hi), s"[$lo,$hi] $sql")
    }

    val src = s"feed${1 + r.nextInt(Batches)}"
    val got = rec.call("source_read", "table")(
      readAgg(GraftTable.decodeWhere(spark, dir, Seq(src)).toDF()))
    val want = expect.where(_.source == src)
    ctx.check("tokens.source_read", got == want, s"$src $got vs $want")
  }

  private def rangeRead(ctx: Ctx, rec: Recorder, lo: Long, hi: Long): (Long, Long, Long) = {
    val got = rec.call("range_read", "table")(
      readAgg(GraftTable.decodeRange(ctx.spark, dir, lo, hi).toDF()))
    ctx.check("tokens.range_read", got == expect.range(lo, hi), s"[$lo,$hi] $got")
    got
  }

  def probe(ctx: Ctx, rec: Recorder, i: Int): Unit = {
    val (lo, hi) = rangeOf(Gen.rng(ctx.seed * 1000 + i, "tokens.probe"))
    rangeRead(ctx, rec, lo, hi)
  }

  def verify(ctx: Ctx): Unit = {
    val want = summary(frames.reduce(_ unionByName _))
    val got = summary(GraftTable.decode(ctx.spark, dir).toDF())
    ctx.check("tokens.round_trip", got == want, s"got $got want $want")
    ctx.check("tokens.stored_bytes_deterministic", storedBytes.distinct.size == 1,
      storedBytes.mkString(","))
    // the shard's own blocks (version 1) sampled > DictCap distinct ids
    val dictInShard = GraftTable.readManifest(ctx.spark, dir)
      .where(col("ver").cast("int") === 1 && col("codec_tokens").isin("dict", "fsst")).count()
    ctx.check("tokens.no_dict_above_cap", dictInShard == 0, s"$dictInShard dict/fsst blocks")
  }

  /** The tokens, n_tok, doc_id and source columns of two blocks of the
    * shard and of the first append batch.
    */
  def samples(ctx: Ctx): Kernels.Samples = {
    val runs = docs.head.grouped(Opts.targetRowsPerBlock).take(2).toSeq :+ docs(1)
    Kernels.Samples(
      ints = runs.map(_.flatMap(_.tokens)) ++ runs.map(_.map(_.tokens.length)),
      strs = runs.map(_.map(_.id.toString)) ++ runs.map(_.map(_.source)),
      longs = runs.map(_.map(_.id)))
  }

  def detail(ctx: Ctx, rec: Recorder, report: Option[TraceReport]): Map[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    out("encode_tok_s") = (docs.head.map(_.tokens.length).sum / rec.median("encode"), "tokens/s")
    out("append_p50_s") = (rec.median("append"), "s")
    out("compact_s") = (rec.median("compact"), "s")
    out("stored_bytes_ratio") = (storedBytes.last.toDouble / refParquetBytes, "ratio")
    out("decode_tok_s") = (expect.all._2 / rec.median("decode"), "tokens/s")
    val rng = rec.calls.filter(_.op == "range_read").map(_.seconds * 1e3).toSeq
    out("range_read_p50_ms") = (Stats.median(rng), "ms")
    out("range_read_p90_ms") = (Stats.quantile(rng, 0.9), "ms")
    out("range_read_samples") = (rng.size.toDouble, "count")
    out("sql_range_read_p50_ms") = (rec.median("sql_range_read") * 1e3, "ms")
    out("source_read_p50_ms") = (rec.median("source_read") * 1e3, "ms")
    report.foreach { rep =>
      out ++= encodePhases(rep)
      out ++= rep.commitFigures(Seq("append"))
      val man = GraftTable.readManifest(ctx.spark, dir)
      man.groupBy("codec_tokens").count().collect().foreach { r =>
        out(s"codec.int.choice.${r.getString(0)}") = (r.getLong(1).toDouble, "blocks")
      }
      val t = man.agg(sum("bytes_tokens"), sum("token_count")).head()
      out("codec.bytes_per_token") = (t.getLong(0).toDouble / t.getLong(1), "bytes")
      out("table.scan.meta_open_ms") = (rec.median("meta_open") * 1e3, "ms")
      out("table.scan.blocks_read") = (Stats.median(prunedBlocks.map(_._1).toSeq), "blocks")
      out("table.scan.blocks_total") = (prunedBlocks.head._2, "blocks")
      out("table.scan.rows_decoded_per_row_returned") =
        (Stats.median(prunedBlocks.map(_._3).toSeq), "ratio")
      val readSpans = Seq("decode", "range_read", "source_read").flatMap(rep.named)
      out("table.scan.task_cpu_s") = (rep.sums(readSpans.flatMap(rep.jobsOf)).cpuS, "s")
      out("table.scan.range_input_records") = (Stats.median(rep.named("range_read")
        .map(s => rep.sums(rep.jobsOf(s)).inputRecords.toDouble)), "records")
      out("sources.plan_ms") = (Stats.median(planMs.toSeq), "ms")
      if (sqlBlocks.nonEmpty) out("sources.blocks_read") = (Stats.median(sqlBlocks.toSeq), "blocks")
    }
    out.toMap
  }
}
