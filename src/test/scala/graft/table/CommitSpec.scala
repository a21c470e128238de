package graft.table

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StreamingEncode

/** Snapshot-commit invariants over every commit kind of both table lanes.
  * Each kind builds a parent state, runs one operation, and then checks:
  *   - the snapshot totals (rows, bytes, plain bytes, blocks, content
  *     signature) equal an aggregate over the committed manifest;
  *   - the version advances by the number of commits and parent ids chain;
  *   - the parent's `stream_*` keys carry over (plus the op's own metadata);
  *   - the decoded row count equals the snapshot's row count;
  *   - a no-op leaves `metadata/current` unchanged.
  */
class CommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val opts = GraftTable.Options(targetRowsPerBlock = 64)
  private val streamMeta = Map("stream_probe" -> "1")

  private def toks(lo: Int, hi: Int): DataFrame = (lo until hi).map { i =>
    val n = 3 + (i * 7) % 20
    (i.toString, (0 until n).map(j => (i * 31 + j * 17) % 97).toArray, n,
      Seq("web", "books", "code")(i % 3))
  }.toDF("doc_id", "tokens", "n_tok", "source")

  private def gen(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, s"name$i", i * 1.5, i % 7))
      .toDF("id", "name", "val", "grp")

  /** One commit kind: `setup` builds the parent table, `op` commits
    * `commits` snapshots (0 = a no-op) carrying `meta` among its stats.
    */
  private final case class Kind(
      name: String,
      generic: Boolean,
      setup: String => Unit,
      op: String => Unit,
      commits: Int = 1,
      meta: Map[String, String] = Map.empty)

  private val kinds = Seq(
    Kind("token encode: fresh", generic = false, _ => (),
      d => GraftTable.encode(toks(0, 300), d, opts, streamMeta), meta = streamMeta),
    Kind("token encode: empty input", generic = false, _ => (),
      d => GraftTable.encode(toks(0, 0), d, opts)),
    Kind("token encode: resume no-op", generic = false,
      d => GraftTable.encode(toks(0, 300), d, opts, streamMeta),
      d => GraftTable.encode(toks(0, 300), d, opts), commits = 0),
    Kind("token encode: blockFilter partial resume", generic = false,
      d => GraftTable.encode(toks(0, 300), d,
        opts.copy(blockFilter = Some((b: Int) => b % 2 == 0)), streamMeta),
      d => GraftTable.encode(toks(0, 300), d, opts)),
    Kind("token append", generic = false,
      d => GraftTable.encode(toks(0, 300), d, opts, streamMeta),
      d => GraftTable.append(toks(300, 340), d, opts)),
    Kind("token compact", generic = false,
      { d =>
        GraftTable.encode(toks(0, 300), d, opts)
        GraftTable.append(toks(300, 310), d, opts)
        GraftTable.append(toks(310, 320), d, opts, streamMeta)
      },
      d => GraftTable.compact(spark, d, opts)),
    Kind("generic encode: fresh", generic = true, _ => (),
      d => GenericTable.encode(gen(0, 200), d, "id", opts, streamMeta), meta = streamMeta),
    Kind("generic encode: empty input", generic = true, _ => (),
      d => GenericTable.encode(gen(0, 0), d, "id", opts)),
    Kind("generic append: on an empty table, keeps extraMeta", generic = true, _ => (),
      d => GenericTable.append(gen(0, 50), d, opts, streamMeta), meta = streamMeta),
    Kind("generic append: added column", generic = true,
      d => GenericTable.encode(gen(0, 200), d, "id", opts, streamMeta),
      d => GenericTable.append(
        (200 until 240).map(i => (i.toLong, s"name$i", i * 1.5, i % 7, s"x$i"))
          .toDF("id", "name", "val", "grp", "extra"), d, opts)),
    Kind("generic compact", generic = true,
      { d =>
        GenericTable.encode(gen(0, 200), d, "id", opts)
        GenericTable.append(gen(200, 210), d, opts)
        GenericTable.append(gen(210, 220), d, opts, streamMeta)
      },
      d => GenericTable.compact(spark, d, opts)),
    Kind("generic deleteWhere", generic = true,
      d => GenericTable.encode(gen(0, 200), d, "id", opts, streamMeta),
      d => GenericTable.deleteWhere(spark, d, col("grp") === 3, opts)),
    Kind("generic deleteWhere: every row", generic = true,
      d => GenericTable.encode(gen(0, 200), d, "id", opts, streamMeta),
      d => GenericTable.deleteWhere(spark, d, col("id") >= 0, opts)),
    Kind("generic deleteKeys", generic = true,
      d => GenericTable.encode(gen(0, 200), d, "id", opts, streamMeta),
      d => GenericTable.deleteKeys(spark, d, Seq(5L, 6L, 150L).toDF("k"), opts)),
    Kind("generic deleteRange", generic = true,
      d => GenericTable.encode(gen(0, 200), d, "id", opts, streamMeta),
      d => GenericTable.deleteRange(spark, d, 20, 40, opts)),
    Kind("generic deleteRange: no match is a no-op", generic = true,
      d => GenericTable.encode(gen(0, 200), d, "id", opts, streamMeta),
      d => GenericTable.deleteRange(spark, d, 1000, 2000, opts), commits = 0),
    Kind("generic upsertByKey", generic = true,
      d => GenericTable.encode(gen(0, 200), d, "id", opts, streamMeta),
      d => GenericTable.upsertByKey(gen(190, 230), d, opts), commits = 2),
    Kind("StreamingEncode.applyBatchUpsert", generic = true,
      d => assert(StreamingEncode.applyBatchUpsert(gen(0, 200), 0L, d, "id", opts)),
      d => assert(StreamingEncode.applyBatchUpsert(gen(190, 230), 1L, d, "id", opts)),
      commits = 2, meta = Map("stream_batch_id" -> "1")))

  private def pointer(dir: String): Option[String] =
    GraftTable.readStringOpt(spark, s"$dir/metadata/current")

  kinds.foreach { k =>
    test(s"commit invariants: ${k.name}") {
      val dir = Files.createTempDirectory("graft-commit").toString
      k.setup(dir)
      val before = GraftTable.currentSnapshot(spark, dir)
      val pointerBefore = pointer(dir)
      k.op(dir)
      val after = GraftTable.committed(spark, dir)

      if (k.commits == 0) {
        assert(pointer(dir) == pointerBefore)
        assert(before.contains(after))
      } else {
        assert(after.version == before.map(_.version).getOrElse(0) + k.commits)
        // newest first: each committed snapshot names the one before it
        val chain = (0 to k.commits).map(i =>
          GraftTable.snapshotVersion(spark, dir, after.version - i))
        (0 until k.commits).foreach { i =>
          assert(chain(i).get.parentId == chain(i + 1).map(_.snapshotId))
        }
      }

      val carried = before.toSeq.flatMap(_.stats.filter(_._1.startsWith("stream_")))
      assert((carried.toMap ++ k.meta).toSet.subsetOf(after.stats.toSet))

      val (blocks, rows, bytes, plain, sig) =
        if (after.manifestDirs.isEmpty) (0L, 0L, 0L, 0L, 0L)
        else {
          val t = GraftTable.readManifest(spark, dir, after).agg(
            count(lit(1)), sum("row_count"), sum("bytes_total"), sum("plain_bytes"),
            expr("bit_xor(block_sig)")).head()
          (t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3), t.getLong(4))
        }
      assert(after.blocksEncoded == blocks)
      assert(after.rowCount == rows)
      assert(after.bytesTotal == bytes)
      assert(after.plainBytes == plain)
      assert(after.contentSig == f"$sig%016x")

      val decoded =
        if (k.generic) GenericTable.decode(spark, dir).count()
        else GraftTable.decode(spark, dir).count()
      assert(decoded == after.rowCount)
    }
  }
}
