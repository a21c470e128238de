package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Dedup, Ivf, Similarity}

/** graft.ops over a seeded corpus with injected near-duplicate groups
  * (known ground truth) and seeded clustered embeddings. No codec or table
  * call is timed here.
  */
final class CorpusOps extends Workload {

  private val UniqueDocs = 1200
  private val Groups = 100
  private val Threshold = 0.75
  private val Shingle = 3
  private val Dim = 64
  private val Vectors = 5000
  private val Queries = 200
  private val Lists = 32
  private val NProbe = 8
  private val K = 10
  private val MinRecall = 0.9
  private val spec = s"v1;$UniqueDocs;$Groups;$Dim;$Vectors;$Queries;$Lists"

  private var corpus: Gen.Corpus = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var queries: DataFrame = _
  private var shingles: Array[Set[String]] = _
  private var lshPairCount = 0
  private var simInGroup = 0.0
  private var ivfRecall = 0.0
  private var lastIndex: Ivf.Index = _

  private val VecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = Gen.rng(ctx.seed, "corpus_ops")
    // group sizes 2..6, skewed toward pairs
    val sizes = Seq.fill(Groups)(2 + math.min(4, (-math.log(1 - r.nextDouble()) * 1.2).toInt))
    corpus = Gen.corpus(r, UniqueDocs, sizes, vocab = 20000, zipfS = 1.0,
      minWords = 60, maxWords = 160, editsPerMember = 1)
    shingles = corpus.texts.map { t =>
      val w = t.split(" ", -1)
      (0 to math.max(0, w.length - Shingle)).map(i => w.slice(i, i + Shingle).mkString(" ")).toSet
    }
    val centres = Gen.centres(r, Lists * 2, Dim)
    val vs = Gen.embeddings(r, Vectors, Dim, centres, 0.08)
    val qs = Gen.embeddings(r, Queries, Dim, centres, 0.08)
    val cache = ctx.cached(spec) { tmp =>
      import spark.implicits._
      spark.sparkContext.parallelize(corpus.ids.zip(corpus.texts).toSeq, 4)
        .toDF("doc_id", "text").write.parquet(s"$tmp/docs")
      def vecFrame(xs: Array[Array[Float]], first: Long) = spark.createDataFrame(
        spark.sparkContext.parallelize(xs.toSeq.zipWithIndex.map { case (v, i) =>
          Row(first + i, v.toSeq) }, 4), VecSchema)
      vecFrame(vs, 0L).write.parquet(s"$tmp/vectors")
      vecFrame(qs, 1000000000L).write.parquet(s"$tmp/queries")
      new java.io.File(s"$tmp/_SUCCESS").createNewFile()
    }
    Seq(docs, vecs, queries).filter(_ != null).foreach(_.unpersist(true))
    docs = spark.read.parquet(s"$cache/docs").persist(StorageLevel.MEMORY_ONLY)
    vecs = spark.read.parquet(s"$cache/vectors").persist(StorageLevel.MEMORY_ONLY)
    queries = spark.read.parquet(s"$cache/queries").persist(StorageLevel.MEMORY_ONLY)
    ctx.check("corpus.input_loaded", docs.count() == corpus.ids.length &&
      vecs.count() == Vectors && queries.count() == Queries)
  }

  private def jaccard(a: Int, b: Int): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }

  def round(ctx: Ctx, rec: Recorder, roundNo: Int): Unit = {
    val spark = ctx.spark
    val groupOf = corpus.groupOf
    def idx(s: String) = s.toInt // doc ids are the arrival index

    val lsh = rec.call("minhash", "ops")(
      Dedup.minHashLsh(docs, shingleK = Shingle, threshold = Threshold).collect())
    val lshPairs = lsh.map(p => (idx(p.getString(0)), idx(p.getString(1))))
    ctx.check("corpus.minhash_pairs_verified",
      lshPairs.forall { case (a, b) => jaccard(a, b) >= Threshold })

    val jac = rec.call("jaccard", "ops")(
      Dedup.jaccardPairs(docs, threshold = Threshold, k = Shingle).collect())
    val jacPairs = jac.map(p => (idx(p.getString(0)), idx(p.getString(1))))
    ctx.check("corpus.jaccard_pairs_exact",
      jacPairs.forall { case (a, b) => jaccard(a, b) >= Threshold })
    // the exact join is lossless: it finds every in-group pair above the threshold
    val truePairs = groupOf.indices.groupBy(groupOf).removed(-1).values.toSeq.flatMap { g =>
      g.combinations(2).map(p => (p(0), p(1))).filter { case (a, b) => jaccard(a, b) >= Threshold }
    }.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    ctx.check("corpus.jaccard_recall",
      jacPairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet == truePairs,
      s"${jacPairs.length} pairs vs ${truePairs.size} true")

    val sim = rec.call("simhash", "ops")(Dedup.simHash(docs).collect())
    // word-feature simhash also pairs unrelated docs that share frequent
    // words, so in-group share is reported, not checked
    val simPairs = sim.map(p => (idx(p.getString(0)), idx(p.getString(1))))
    ctx.check("corpus.simhash_pairs_valid", simPairs.distinct.length == simPairs.length &&
      sim.forall(p => p.getLong(2) <= 3L) && simPairs.forall { case (a, b) => a != b })
    simInGroup = simPairs.count { case (a, b) => groupOf(a) >= 0 && groupOf(a) == groupOf(b) }
      .toDouble / math.max(1, simPairs.length)

    val pairDf = spark.createDataFrame(lsh.toSeq.asJava, lsh.headOption.map(_.schema)
      .getOrElse(StructType(Seq(StructField("doc_a", StringType), StructField("doc_b", StringType)))))
    val cl = rec.call("clusters", "ops")(Dedup.clusters(pairDf, docs).collect())
    Dedup.releaseCaches()
    // recovered groups: the clusters of size > 1 are exactly the injected groups
    val found = cl.filter(_.getAs[Long]("cluster_size") > 1)
      .groupBy(_.getAs[String]("cluster_id")).values
      .map(_.map(r => idx(r.getAs[String]("doc_id"))).toSet).toSet
    val injected = groupOf.indices.groupBy(groupOf).removed(-1).values.map(_.toSet).toSet
    ctx.check("corpus.clusters_recover_groups", found == injected,
      s"${found.size} clusters vs ${injected.size} groups")
    lshPairCount = lsh.length

    val index = rec.call("ivf_build", "ops")(Ivf.build(vecs, Lists))
    val top = rec.call("ivf_topk", "ops")(Ivf.topK(index, queries, K, NProbe).collect())
    // recall over every query, not a sample: recall on 20 sampled queries
    // swings by several points around the recall over all of them
    val truth = Similarity.bruteForceTopK(vecs, queries, K).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = top.map(r => (r.getLong(0), r.getLong(2))).count(truth.contains)
    val recall = hits.toDouble / truth.size
    ivfRecall = recall
    ctx.check("corpus.ivf_recall", truth.size == Queries * K && recall >= MinRecall,
      f"recall@$K $recall%.3f")
    if (lastIndex != null) lastIndex.centroids.destroy()
    lastIndex = index
  }

  def probe(ctx: Ctx, rec: Recorder, i: Int): Unit =
    rec.call("ivf_topk", "ops")(Ivf.topK(lastIndex, queries, K, NProbe).count())

  def verify(ctx: Ctx): Unit = lastIndex.centroids.destroy()

  def samples(ctx: Ctx): Kernels.Samples = {
    val texts = corpus.texts.take(2048)
    val emb = vecs.limit(4096).collect().map(_.getSeq[Float](1).toArray)
    Kernels.Samples(
      ints = Seq(emb.flatMap(_.map(java.lang.Float.floatToRawIntBits)), texts.map(_.length)),
      strs = Seq(texts, texts.flatMap(_.split(" ")).take(65536)),
      longs = Seq(corpus.ids.take(65536), emb.flatMap(_.map(f => java.lang.Float.floatToRawIntBits(f).toLong))))
  }

  def detail(ctx: Ctx, rec: Recorder, report: Option[TraceReport]): Map[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def med(op: String) = rec.median(op)
    val n = corpus.ids.length
    out("dedup_docs_s") = (n / (med("minhash") + med("clusters")), "docs/s")
    out("ann_queries_s") = (Queries / med("ivf_topk"), "queries/s")
    out("ops.lsh.verified_pairs") = (lshPairCount.toDouble, "pairs")
    out("ops.simhash.in_group_frac") = (simInGroup, "fraction")
    out("ops.ivf.recall_at_k") = (ivfRecall, "fraction")
    out("ops.clusters.directed_edges") = (2.0 * lshPairCount, "edges")
    report.foreach { rep =>
      Seq("minhash", "jaccard", "simhash", "clusters", "ivf_build", "ivf_topk").foreach { op =>
        out(s"ops.${op}_s") = (med(op), "s")
      }
      val cl = rep.named("clusters")
      out("ops.clusters.jobs") = (Stats.median(cl.map(s => rep.jobsOf(s).size.toDouble)), "count")
      val opsSpans = rep.spans.filter(_.module == "ops")
      out("ops.shuffle_bytes") = (rep.sums(opsSpans.flatMap(rep.jobsOf)).shuffleWriteBytes.toDouble
        / math.max(1, cl.size), "bytes")
    }
    out.toMap
  }
}
