package perfbench

import scala.collection.mutable

import graft.codec.{IntBlocks, LongBlocks, PrimBlocks, StrBlocks}

/** Single-thread codec kernel calls on blocks sampled from a workload's own
  * inputs: MB/s per codec family (input bytes over the median pass time)
  * and the auto-choice histogram, so kernel work can be told apart from
  * Spark overhead.
  */
object Kernels {

  final case class Samples(ints: Seq[Array[Int]], strs: Seq[Array[String]], longs: Seq[Array[Long]])

  private val MinPassSeconds = 0.25
  private val MinPasses = 3

  /** Median seconds of one pass of `f`, repeated for at least
    * [[MinPassSeconds]] and [[MinPasses]] passes.
    */
  private def medianPass(f: => Unit): Double = {
    val times = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (times.size < MinPasses || System.nanoTime() - t0 < MinPassSeconds * 1e9) {
      val s = System.nanoTime()
      f
      times += (System.nanoTime() - s) / 1e9
    }
    Stats.median(times.toSeq)
  }

  def run(s: Samples): Map[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def mbps(bytes: Long, sec: Double) = (bytes / 1e6 / sec, "MB/s")

    val intBytes = s.ints.map(_.length * 4L).sum
    val intEnc = s.ints.map(IntBlocks.encodeAutoChoice(_))
    out("codec.int.encode_MBps") = mbps(intBytes,
      medianPass(s.ints.foreach(IntBlocks.encodeAutoChoice(_))))
    out("codec.int.decode_MBps") = mbps(intBytes,
      medianPass(intEnc.foreach(e => IntBlocks.decode(e._1))))
    intEnc.groupBy(_._2.name).foreach { case (n, xs) =>
      out(s"codec.int.kernel_choice.$n") = (xs.size.toDouble, "blocks")
    }

    val strBytes = s.strs.map(_.map(_.getBytes("UTF-8").length.toLong + 1L).sum).sum
    val strEnc = s.strs.map(StrBlocks.encodeAutoChoice)
    out("codec.str.encode_MBps") = mbps(strBytes,
      medianPass(s.strs.foreach(StrBlocks.encodeAutoChoice)))
    out("codec.str.decode_MBps") = mbps(strBytes,
      medianPass(strEnc.foreach(e => StrBlocks.decode(e._1))))
    strEnc.groupBy(_._2.name).foreach { case (n, xs) =>
      out(s"codec.str.kernel_choice.$n") = (xs.size.toDouble, "blocks")
    }

    val longBytes = s.longs.map(_.length * 8L).sum
    val longEnc = s.longs.map(LongBlocks.encodeAuto)
    out("codec.any.encode_MBps") = mbps(longBytes,
      medianPass(s.longs.foreach(LongBlocks.encodeAuto)))
    out("codec.any.decode_MBps") = mbps(longBytes,
      medianPass(longEnc.foreach(LongBlocks.decode)))
    longEnc.groupBy(PrimBlocks.codecName).foreach { case (n, xs) =>
      out(s"codec.any.kernel_choice.$n") = (xs.size.toDouble, "blocks")
    }
    out.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
