package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Timing.timed
import graft.table.GraftTable.{EncodeResult, Snapshot}

/** The snapshot commit protocol of both table lanes: every encode, append,
  * compact and generic rewrite commits through [[apply]]. A version's
  * data dir gets a manifest built from its WRITTEN files, the snapshot
  * aggregates totals over every live manifest, and only then does the
  * `metadata/current` pointer move — readers see the old snapshot or the
  * new one, never a half-committed version (Iceberg's commit order).
  */
private[table] object Commit {

  def dataDir(ver: Int): String = s"data/v$ver"

  /** Totals over every live manifest of a commit (O(1) driver state: the
    * content signature is a commutative `bit_xor`). Generic manifests
    * carry no token_count, so their `tokens` total is 0.
    */
  final case class Totals(blocks: Long, rows: Long, tokens: Long, bytes: Long, plain: Long,
      sig: Long) {
    def contentSig: String = f"$sig%016x"
  }

  /** The part of a snapshot its caller decides: lineage, identity, layout
    * and metadata. The protocol supplies version, totals and live dirs.
    */
  final case class Head(
      snapshotId: String,
      parentId: Option[String],
      inputFingerprint: String,
      keyStrategy: String,
      boundsDir: Option[String],
      numBlocks: Int,
      complete: Boolean,
      stats: Seq[(String, String)])

  /** Builds the manifest of the version just written to `data/v<ver>`
    * from its files and persists it for `body`, so the manifest write and
    * the totals share one pass over the written blocks. The frame is
    * released on every exit path.
    */
  def withManifest[T](tableDir: String, ver: Int, manifestOf: String => DataFrame)(
      body: DataFrame => T): T = {
    val manifest = manifestOf(s"$tableDir/${dataDir(ver)}").persist(StorageLevel.MEMORY_AND_DISK)
    try body(manifest) finally { manifest.unpersist(false); () }
  }

  /** Commits version `ver`: writes `manifests/v<ver>` from the `fresh`
    * manifest of `data/v<ver>` (None for an empty table, or a rewrite that
    * emptied every version it touched), totals the manifests of `base`'s
    * live versions minus `drop` plus the fresh frame, builds the snapshot
    * from `head` of those totals, writes `metadata/v<ver>.json`, then
    * moves the pointer. `lane` prefixes the phase timing labels.
    */
  def apply(
      spark: SparkSession,
      tableDir: String,
      ver: Int,
      fresh: Option[DataFrame],
      base: Option[Snapshot],
      drop: Set[Int] = Set.empty,
      lane: String,
      newBlocks: Long)(head: Totals => Head): EncodeResult = {
    def kept(dirs: Snapshot => Seq[String]) = base.map(dirs).getOrElse(Nil)
      .filterNot(d => drop(GraftTable.versionOfDir(d)))
    val keepMan = kept(_.manifestDirs)
    val manifestDir = fresh.map { f =>
      val dir = s"manifests/v$ver"
      timed(s"${lane}manifest-write")(f.write.mode("overwrite").json(s"$tableDir/$dir"))
      dir
    }
    val tot = timed(s"${lane}totals")(totals(spark, tableDir, keepMan, fresh))
    val h = head(tot)
    val snap = Snapshot(ver, h.snapshotId, h.parentId, h.inputFingerprint, h.keyStrategy,
      h.boundsDir, h.numBlocks, tot.blocks, h.complete, tot.rows, tot.tokens, tot.bytes,
      tot.plain, tot.contentSig, kept(_.dataDirs) ++ fresh.map(_ => dataDir(ver)),
      keepMan ++ manifestDir, h.stats.sorted, java.time.Instant.now().toString)
    GraftTable.writeString(spark, s"$tableDir/metadata/v$ver.json", GraftTable.renderSnapshot(snap))
    commitPointer(spark, tableDir, ver)
    EncodeResult(snap, newBlocks)
  }

  /** Atomic snapshot-pointer commit: write `metadata/current.tmp`, then
    * RENAME over `metadata/current` (atomic on HDFS and POSIX local fs).
    * A plain create-overwrite truncates in place, so a concurrent reader
    * could observe an empty/partial pointer mid-commit; rename gives
    * readers either the old version or the new one, never neither —
    * the snapshot-isolation contract the rest of the metadata tree
    * assumes (data/manifest dirs are immutable once the pointer moves).
    */
  private def commitPointer(spark: SparkSession, tableDir: String, ver: Int): Unit =
    GraftTable.writeStringAtomic(spark, s"$tableDir/metadata/current", ver.toString)

  /** Totals-projection schema for manifest JSON reads: the totals touch
    * only these five LONG fields, so an explicit schema skips
    * spark.read.json's schema-inference pass (a full extra read of every
    * manifest file). Manifests of evolved generic versions differ in their
    * codec_i columns, but these accounting columns are common to all.
    */
  private val totalsSchema = StructType(Seq(
    StructField("row_count", LongType),
    StructField("token_count", LongType),
    StructField("bytes_total", LongType),
    StructField("plain_bytes", LongType),
    StructField("block_sig", LongType)))

  /** Kept manifest dirs read their (small) JSON files; the new version
    * aggregates the in-memory frame that produced its file, so the totals
    * job never re-reads data the same commit just wrote. No manifest at
    * all is an empty table: zero totals, no job.
    */
  private def totals(spark: SparkSession, tableDir: String, keepMan: Seq[String],
      fresh: Option[DataFrame]): Totals = {
    val kept =
      if (keepMan.isEmpty) None
      else Some(spark.read.schema(totalsSchema).json(keepMan.map(d => s"$tableDir/$d"): _*))
    val freshTot = fresh.map { f =>
      val cols = f.columns.toSet
      f.select(totalsSchema.fields.toIndexedSeq.map(c =>
        (if (cols(c.name)) col(c.name).cast(c.dataType)
         else lit(null).cast(c.dataType)).as(c.name)): _*)
    }
    (kept ++ freshTot).reduceOption(_ unionByName _) match {
      case None => Totals(0L, 0L, 0L, 0L, 0L, 0L)
      case Some(all) =>
        val t = all.agg(count(lit(1)), sum("row_count"), sum("token_count"),
          sum("bytes_total"), sum("plain_bytes"), expr("bit_xor(block_sig)")).head()
        def l(i: Int) = if (t.isNullAt(i)) 0L else t.getLong(i)
        Totals(l(0), l(1), l(2), l(3), l(4), l(5))
    }
  }
}
