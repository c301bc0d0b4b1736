package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
import graft.operators.IncrementalAgg

/** The seeded inputs of `maintain` and the state they produce: events
  * (event_id -> grp, v), the per-group aggregate and the digests every read
  * is checked against. Plain Scala with no Spark, so it can be tested alone. */
final class EventModel(seed: Long) {
  import Maintain._
  private val rng = new SplittableRandom(seed ^ 0x3A1A7L)
  private val grpOf = mutable.LongMap.empty[Long]
  private val vOf = mutable.LongMap.empty[Long]
  private val gSum = new Array[Long](Groups)
  private val gCnt = new Array[Long](Groups)
  private var nextId = 0L
  var baseDigest: Digest = Digest.empty
  /** Base digest as of each committed transaction, for time-travel checks. */
  val txnDigests: mutable.LongMap[Digest] = mutable.LongMap.empty

  def events: Int = grpOf.size
  def liveGroups: Int = gCnt.count(_ > 0)

  /** `fresh` new events plus `rewrites` distinct existing ones whose value
    * always changes, so each is one CDC row. */
  def delta(fresh: Int, rewrites: Int): Array[(Long, Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val seen = mutable.HashSet.empty[Long]
    while (seen.size < rewrites) {
      val id = rng.nextLong(nextId)
      if (seen.add(id)) {
        val g = if (rng.nextInt(10) < 3) rng.nextInt(Groups).toLong else grpOf(id)
        out += ((id, g, vOf(id) + 1 + rng.nextLong(1000L)))
      }
    }
    for (id <- nextId until nextId + fresh)
      out += ((id, rng.nextInt(Groups).toLong, rng.nextLong(1000000L)))
    nextId += fresh
    out.toArray
  }

  /** Start of a one-chunk event range [lo, lo + IdChunk) over a full chunk. */
  def rangeStart(): Long = rng.nextLong(math.max(1L, nextId / IdChunk)) * IdChunk

  /** Apply delta `d`, committed as `txn`; returns its expected CDC digest. */
  def apply(txn: Long, d: Array[(Long, Long, Long)]): Digest = {
    val cdc = d.foldLeft(Digest.empty) { case (acc, (id, g, v)) =>
      val op = grpOf.get(id) match {
        case Some(og) =>
          gSum(og.toInt) -= vOf(id); gCnt(og.toInt) -= 1
          baseDigest -= Digest.row(id, og, vOf(id))
          "U"
        case None => "I"
      }
      grpOf(id) = g; vOf(id) = v
      gSum(g.toInt) += v; gCnt(g.toInt) += 1
      baseDigest += Digest.row(id, g, v)
      acc + Digest.row(opHash(op), id, g, v)
    }
    txnDigests(txn) = baseDigest
    cdc
  }

  def viewDigest: Digest = (0 until Groups).foldLeft(Digest.empty) { (acc, g) =>
    if (gCnt(g) > 0) acc + Digest.row(g.toLong, gSum(g), gCnt(g)) else acc
  }

  def rangeDigest(lo: Long, hi: Long): Digest = grpOf.foldLeft(Digest.empty) {
    case (acc, (id, g)) => if (id >= lo && id < hi) acc + Digest.row(id, g, vOf(id)) else acc
  }
}

/** `maintain`: a base table of events (event_id -> grp, v) with one
  * declared materialized view (grp -> sum_v, cnt). Each request is one
  * maintenance step: commit a delta of new and rewritten events, fold it
  * into the view, read that transaction's change feed, then read a
  * one-chunk base range and the per-group aggregate, which the MV rewrite
  * answers from the view, and end with `checkpointIfNeeded`, as a writer
  * does. Writes and reads share the step, so a write- or read-path gain
  * that costs maintenance shows here.
  *
  * Each commit adds one segment and a checkpoint folds the history into
  * one, so `checkpointIfNeeded(CheckpointSegments, 0)` runs on every
  * fourth step: a cycle is 4 requests, and any whole cycle holds one
  * checkpoint and the history growth between two of them. */
final class Maintain(ctx: Ctx) extends Workload(ctx) {
  import Maintain._
  private var model: EventModel = _
  private var base: MatDb = _
  private var view: MatDb = _
  private var basePath: String = _
  private var viewRoot: String = _
  private var lastTxn = 0L
  /** Oldest transaction time travel can still reach (the last checkpoint). */
  private var horizon = 0L
  private val segments = mutable.ArrayBuffer.empty[Double]
  private val all = Seq(0, 1, 2)

  /** None: every set-up already commits and folds, and a first measured
    * step runs no slower than the steps after it. */
  val warmupRequests = 0
  val cycle = CheckpointSegments

  private def frame(d: Array[(Long, Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    d.toSeq.toDF("event_id", "grp", "v")
  }

  private def fold(from: Long, to: Long, rows: Int): Unit = span("view.fold") {
    attr("delta_rows", rows.toDouble)
    IncrementalAgg.maintainAbsoluteMulti(base, view, from, to, "grp")
    ()
  }

  def setup(dir: Path): Unit = {
    model = new EventModel(ctx.args.seed)
    segments.clear()
    basePath = dir.resolve("events").toString
    viewRoot = dir.resolve("by_grp").toString
    base = MatDb.create(spark, BaseSchema, basePath, "manifest")
    view = MatDb.create(spark, ViewSchema, viewRoot, "manifest")
    val d = model.delta(InitRows, 0)
    val t = commitTxn(base, frame(d))
    model(t, d)
    fold(0L, t, d.length)
    base.registerMaterializedView(viewRoot)
    lastTxn = t
    horizon = 0L
    base = openDb(basePath)
    view = MatDb.open(spark, viewRoot)
  }

  def request(): (Long, Long) = {
    val d = model.delta(FreshRows, RewriteRows)
    val df = frame(d)
    val lo = model.rangeStart()
    val from = lastTxn
    val (t, ns1) = timed("txn")(commitTxn(base, df))
    val (_, ns2) = timed("fold")(fold(from, t, d.length))
    lastTxn = t
    val cdcExpected = model(t, d)
    val (cdc, ns3) = timed("cdc_read")(read("cdc", base.changesBetween(from, t), Seq(0, 1, 2, 3)))
    val (range, ns4) = timed("range_read")(rangeRead(lo))
    val (agg, ns5) = timed("agg_read")(span("agg") {
      val q = base.snapshot().groupBy("grp")
        .agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
      val rows = q.collect()
      attr("mv_hit", if (answeredFromView(q)) 1.0 else 0.0)
      rows
    })
    val (_, ns6) = timed("checkpoint")(span("core.checkpoint") {
      val ran = base.checkpointIfNeeded(CheckpointSegments, 0)
      attr("ran", if (ran.isDefined) 1.0 else 0.0)
      if (ran.isDefined) horizon = t
    })
    if (measuring) {
      kinds.getOrElseUpdate("view_fresh", mutable.ArrayBuffer.empty) += (ns1 + ns2) / 1e6
      segments += base.committedSegments.size.toDouble
    }
    attr("user_bytes", (d.length * RowBytes).toDouble)

    Check(cdc.digest.count == d.length,
      s"CDC of txn $t: ${cdc.digest.count} rows, the txn changed ${d.length}")
    Check(cdc.digest == cdcExpected, s"CDC of txn $t: ${cdc.digest} != model $cdcExpected")
    checkRange(range, lo)
    checkGroups(agg, s"base aggregate after txn $t")
    (ns1 + ns2 + ns3 + ns4 + ns5 + ns6, d.length.toLong)
  }

  private def rangeRead(lo: Long): ReadResult = read("scan.range",
    base.snapshot().where(col("event_id") >= lo && col("event_id") < lo + IdChunk), all)

  private def checkRange(r: ReadResult, lo: Long): Unit =
    Check(r.digest == expect(model.rangeDigest(lo, lo + IdChunk)),
      s"base range read at event $lo: ${r.digest} != model")

  def probeRead(): Unit = checkRange(rangeRead(0L), 0L)

  private def checkGroups(rows: Array[Row], what: String): Unit = {
    val got = rows.map(r => Digest.row(r.getLong(0), r.getLong(1), r.getLong(2)))
      .foldLeft(Digest.empty)(_ + _)
    val want = expect(model.viewDigest)
    Check(got == want, s"$what: $got != model $want")
  }

  /** True when every relation the optimized plan scans lives under the view. */
  private def answeredFromView(q: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = q.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    val viewUri = new java.io.File(viewRoot).toURI.toString.stripSuffix("/")
    roots.nonEmpty && roots.forall(_.startsWith(viewUri))
  }

  def spaceAmp(): Double =
    (base.visibleBytes() + view.visibleBytes()).toDouble /
      ((model.events + model.liveGroups) * RowBytes)

  override def layerSamples: Map[String, Double] =
    if (segments.isEmpty) Map.empty
    else Map("core.segments_live" -> Stats.median(segments.toSeq))

  def finalChecks(): Int = {
    // the view equals a GROUP BY over the base snapshot computed from the
    // base itself (rewrite off), and both equal the model
    val viewRead = read("view.read", view.snapshot(), all)
    Check(viewRead.digest == expect(model.viewDigest), s"final view ${viewRead.digest} != model")
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val baseRows =
      try base.snapshot().groupBy("grp").agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
        .collect()
      finally spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    checkGroups(baseRows, "final base GROUP BY")
    val snap = read("scan.full", base.snapshot(), all)
    Check(snap.digest == expect(model.baseDigest), s"final base snapshot ${snap.digest} != model")
    val ordered = read("scan.ordered", base.orderedScan(), all, keyCols = Seq(0))
    Check(ordered.digest == model.baseDigest && ordered.ordered,
      s"ordered scan ${ordered.digest} (ordered=${ordered.ordered}) != model")
    val reachable = model.txnDigests.keys.filter(_ >= horizon).toSeq.sorted
    val mid = reachable(reachable.size / 2)
    val past = read("scan.asof", base.asOf(mid), all)
    Check(past.digest == model.txnDigests(mid), s"asOf txn $mid: ${past.digest} != model")
    // fold history into a baseline, then recover the table from disk alone
    span("core.checkpoint") {
      val ran = base.checkpointIfNeeded(1, 0)
      attr("ran", if (ran.isDefined) 1.0 else 0.0)
    }
    val reopened = openDb(basePath)
    Check(reopened.committedSegments == base.committedSegments,
      "reopened table lists a different committed segment set")
    val after = read("scan.full", reopened.snapshot(), all)
    Check(after.digest == model.baseDigest, s"snapshot after checkpoint ${after.digest} != model")
    7
  }
}

object Maintain {
  val Groups = 64
  val InitRows = 10000
  val FreshRows = 600
  val RewriteRows = 400
  val IdChunk = 2048L
  /** Live segments `checkpointIfNeeded` tolerates before it folds history. */
  val CheckpointSegments = 4
  /** Logical bytes of one base or view row: three longs. */
  val RowBytes = 24L
  val BaseSchema: MatSchema = MatSchema(Seq(Dimension("event_id", IdChunk)),
    Seq(ValueCol("grp"), ValueCol("v")))
  val ViewSchema: MatSchema = MatSchema(Seq(Dimension("grp", Groups.toLong)),
    Seq(ValueCol("sum_v"), ValueCol("cnt")))
  def opHash(op: String): Long =
    org.apache.spark.unsafe.types.UTF8String.fromString(op).hashCode().toLong
}
