package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a graft layer, opened by the harness around a public
  * call. Spark jobs submitted inside it are attributed to it through the
  * `perfbench.span` local property, which every job carries in its
  * properties (broadcast and subquery threads inherit it). */
final class Span(val id: Long, val parent: Long, val name: String, val startNs: Long) {
  var wallNs = 0L
  /** Wall time covered by direct child spans; self time is wall minus this. */
  var childNs = 0L
  /** Quantities only the harness knows (rows returned, delta size, ...). */
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var jobs, stages, tasks = 0L
  var inputRecords, inputBytes, outputBytes = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def selfNs: Long = wallNs - childNs
  def attr(k: String): Double = attrs.getOrElse(k, 0.0)

  def json: String = Json.obj(Seq(
    "id" -> Json.num(id), "parent" -> Json.num(parent), "name" -> Json.str(name),
    "start_ns" -> Json.num(startNs), "wall_ms" -> Json.num(wallNs / 1e6),
    "self_ms" -> Json.num(selfNs / 1e6), "jobs" -> Json.num(jobs),
    "stages" -> Json.num(stages), "tasks" -> Json.num(tasks),
    "input_records" -> Json.num(inputRecords), "input_bytes" -> Json.num(inputBytes),
    "output_bytes" -> Json.num(outputBytes),
    "shuffle_read_bytes" -> Json.num(shuffleReadBytes),
    "shuffle_write_bytes" -> Json.num(shuffleWriteBytes),
    "spill_bytes" -> Json.num(spillBytes),
    "attrs" -> Json.obj(attrs.toSeq.map { case (k, v) => k -> Json.num(v) })))
}

/** Span recorder plus the listener that attributes Spark work to spans.
  * Disabled, a span is just the call: no property, no record. */
final class Tracer(sc: SparkContext) {
  private val Prop = "perfbench.span"
  private var enabled = false
  private var nextId = 1L
  private var stack: List[Span] = Nil
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .flatMap(id => Option(byId.get(id.toLong))).foreach { s =>
          s.synchronized(s.jobs += 1)
          e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        val m = e.stageInfo.taskMetrics
        s.synchronized {
          s.stages += 1
          s.tasks += e.stageInfo.numTasks
          if (m != null) {
            s.inputRecords += m.inputMetrics.recordsRead
            s.inputBytes += m.inputMetrics.bytesRead
            s.outputBytes += m.outputMetrics.bytesWritten
            s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }
  private var attached = false

  /** Turn recording on or off. Off also detaches the listener (after the
    * bus has delivered every pending event), so untraced calls pay nothing. */
  def setEnabled(on: Boolean): Unit = {
    if (on && !attached) { sc.addSparkListener(listener); attached = true }
    if (!on && attached) {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener); attached = false
    }
    enabled = on
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = new Span(nextId, parent.fold(0L)(_.id), name, System.nanoTime())
      nextId += 1
      byId.put(s.id, s)
      recorded += s
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        s.wallNs = System.nanoTime() - s.startNs
        stack = stack.tail
        parent.foreach(_.childNs += s.wallNs)
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
      }
    }

  /** Attach a harness-known quantity to the innermost open span. */
  def attr(k: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(k) = v)

  /** Every recorded span, after the listener bus has caught up. */
  def spans: Seq[Span] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    recorded.toSeq
  }
}

/** Per-layer metrics from recorded spans. Each is a per-call figure over
  * the calls made inside a request or the final checks; set-up and
  * overhead-probe calls are left out. A span's Spark counters include its
  * child spans' (a read's plan and exec children). A layer no counted span
  * called reports 0. */
object Layers {
  private val ReadSpans = Seq("scan.full", "scan.range", "scan.ordered", "scan.asof")

  /** Root spans whose calls the metrics count. */
  val CountedRoots = Set("request", "final")

  def metrics(all: Seq[Span], extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val kids = all.groupBy(_.parent)
    val byId = all.map(s => s.id -> s).toMap
    def root(s: Span): Span = byId.get(s.parent).fold(s)(root)
    val spans = all.filter(s => CountedRoots(root(s).name))
    def total(s: Span)(f: Span => Long): Double =
      f(s).toDouble + kids.getOrElse(s.id, Nil).map(total(_)(f)).sum
    def named(names: String*) = spans.filter(s => names.contains(s.name))
    def medMs(ss: Seq[Span]): Double =
      if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.wallNs / 1e6))
    def mean(ss: Seq[Span])(f: Span => Double): Double =
      if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
    def sum(ss: Seq[Span])(f: Span => Double): Double = ss.map(f).sum
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val jobs = (s: Span) => total(s)(_.jobs)
    val tasks = (s: Span) => total(s)(_.tasks)
    val records = (s: Span) => total(s)(_.inputRecords)

    val flush = named("core.flush")
    val ckpt = named("core.checkpoint").filter(_.attr("ran") > 0)
    val open = named("core.open")
    val reads = named(ReadSpans: _*)
    val readIds = reads.map(_.id).toSet
    val full = named("scan.full")
    val range = named("scan.range")
    val fold = named("view.fold")
    val cdc = named("cdc")
    val search = named("index.search")
    val maint = named("index.maintain")
    // write amplification over measured requests only: setup writes have no
    // user bytes attached
    val requests = named("request")
    val requestIds = requests.map(_.id).toSet
    val written = sum(named("core.flush", "core.checkpoint")
      .filter(s => requestIds.contains(s.parent)))(total(_)(_.outputBytes))
    Seq(
      ("core.flush.ms", medMs(flush), "ms"),
      ("core.flush.jobs", mean(flush)(jobs), "count"),
      ("core.flush.tasks", mean(flush)(tasks), "count"),
      ("core.flush.shuffle_bytes", mean(flush)(total(_)(_.shuffleWriteBytes)), "bytes"),
      ("core.commit.ms", medMs(named("core.commit")), "ms"),
      ("core.write_amp", ratio(written, sum(requests)(_.attr("user_bytes"))), "ratio"),
      ("core.checkpoint.ms", medMs(ckpt), "ms"),
      ("core.checkpoint.bytes_rewritten", mean(ckpt)(total(_)(_.outputBytes)), "bytes"),
      ("core.segments_live", extra.getOrElse("core.segments_live", 0.0), "count"),
      ("core.open.ms", medMs(open), "ms"),
      ("core.open.segments_listed", mean(open)(_.attr("segments")), "count"),
      ("scan.plan.ms", medMs(named("scan.plan").filter(s => readIds(s.parent))), "ms"),
      ("scan.exec.ms", medMs(named("scan.exec").filter(s => readIds(s.parent))), "ms"),
      ("scan.jobs", mean(reads)(jobs), "count"),
      ("scan.tasks", mean(reads)(tasks), "count"),
      ("scan.shuffle_bytes", mean(reads)(total(_)(_.shuffleWriteBytes)), "bytes"),
      ("scan.records_read_per_row", ratio(sum(reads)(records), sum(reads)(_.attr("rows"))), "ratio"),
      ("plans.prune.records_ratio", ratio(mean(range)(records), mean(full)(records)), "ratio"),
      ("plans.prune.tasks_ratio", ratio(mean(range)(tasks), mean(full)(tasks)), "ratio"),
      ("plans.mv.hit_ratio", mean(named("agg"))(_.attr("mv_hit")), "ratio"),
      ("view.fold.ms", medMs(fold), "ms"),
      ("view.fold.jobs", mean(fold)(jobs), "count"),
      ("view.fold.tasks", mean(fold)(tasks), "count"),
      ("view.fold.records_read_per_delta_row",
        ratio(sum(fold)(records), sum(fold)(_.attr("delta_rows"))), "ratio"),
      ("view.read.ms", medMs(named("view.read")), "ms"),
      ("cdc.ms", medMs(cdc), "ms"),
      ("cdc.jobs", mean(cdc)(jobs), "count"),
      ("cdc.records_read_per_change_row", ratio(sum(cdc)(records), sum(cdc)(_.attr("rows"))), "ratio"),
      ("index.search.ms", medMs(search), "ms"),
      ("index.search.jobs", mean(search)(jobs), "count"),
      ("index.search.records_read", mean(search)(records), "count"),
      ("index.maintain.ms", medMs(maint), "ms"),
      ("index.maintain.jobs", mean(maint)(jobs), "count"),
      ("index.pending_deltas", extra.getOrElse("index.pending_deltas", 0.0), "count"),
      ("index.recall_at_10", extra.getOrElse("index.recall_at_10", 0.0), "ratio"),
    )
  }
}
