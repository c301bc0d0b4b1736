package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Minimal JSON writer: the harness emits flat objects only. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def num(v: Long): String = v.toString
  def bool(b: Boolean): String = b.toString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Host-noise record: CPU steal from /proc/stat and JVM collection time. */
object Host {
  /** (steal ticks, total ticks) of the aggregate `cpu` line; zeros where
    * /proc/stat is unavailable. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1)
          .map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}

/** Raised when a result disagrees with the harness's model. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)
}

/** Order-independent digest of a result: row count plus the wrapping sum of
  * a per-row hash, so the model can maintain it incrementally. */
final case class Digest(count: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
  def -(o: Digest): Digest = Digest(count - o.count, sum - o.sum)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(xs: Long*): Long = xs.foldLeft(0x3C6EF372FE94F82BL)((h, x) => mix(h ^ mix(x)))
  def row(xs: Long*): Digest = Digest(1L, hash(xs: _*))
}

/** What one read returned, computed inside the read's own physical plan. */
final case class ReadResult(digest: Digest, ordered: Boolean)

object Read {
  /** Execute `df`'s physical plan and digest its rows. `cols` are the long
    * columns hashed per row, by position; a string column is hashed by its
    * UTF-8 bytes. With `keyCols` the rows must come back strictly
    * increasing on those columns, across partitions in partition order.
    * Planning and execution are traced as separate spans. */
  def digest(df: DataFrame, cols: Seq[Int], keyCols: Seq[Int],
      tracer: Tracer): ReadResult = {
    val qe = df.queryExecution
    tracer.span("scan.plan")(qe.executedPlan)
    val types = df.schema.fields.map(_.dataType)
    val isStr = cols.map(i => types(i) == org.apache.spark.sql.types.StringType).toArray
    val colArr = cols.toArray
    val keyArr = keyCols.toArray
    def run() = qe.toRdd.mapPartitions { it =>
      var n = 0L; var sum = 0L; var ok = true
      var first: Array[Long] = null; var last: Array[Long] = null
      it.foreach { r: InternalRow =>
        var h = 0x3C6EF372FE94F82BL
        var i = 0
        while (i < colArr.length) {
          val c = colArr(i)
          val x =
            if (r.isNullAt(c)) 0x5555555555555555L
            else if (isStr(i)) r.getUTF8String(c).hashCode().toLong
            else r.getLong(c)
          h = Digest.mix(h ^ Digest.mix(x))
          i += 1
        }
        n += 1; sum += h
        if (keyArr.nonEmpty) {
          val k = keyArr.map(r.getLong)
          if (first == null) first = k
          else if (!Read.less(last, k)) ok = false
          last = k
        }
      }
      Iterator((n, sum, ok, Option(first), Option(last)))
    }.collect()
    val parts = tracer.span("scan.exec")(run())
    val bounds = parts.flatMap { case (_, _, _, f, l) => f.map(x => (x, l.get)) }
    val ordered = parts.forall(_._3) &&
      bounds.zip(bounds.drop(1)).forall { case ((_, l), (f, _)) => less(l, f) }
    ReadResult(Digest(parts.map(_._1).sum, parts.map(_._2).sum), ordered)
  }

  def less(a: Array[Long], b: Array[Long]): Boolean = {
    var i = 0
    while (i < a.length && a(i) == b(i)) i += 1
    i < a.length && a(i) < b(i)
  }
}
