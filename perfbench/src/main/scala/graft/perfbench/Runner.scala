package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Ctx(spark: SparkSession, args: Args, tracer: Tracer)

/** One workload: a closed loop of requests from a single client over state
  * that `setup` builds from the seed. Every request checks its results
  * against a model the workload keeps in memory. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Untimed requests before the measured loop (JIT, codegen, file cache). */
  def warmupRequests: Int
  /** Requests per round of the workload's periodic work (a checkpoint, an
    * index compaction). The measured loop runs whole cycles, so every
    * window holds the same share of that work. */
  def cycle: Int
  /** Build the initial state under `dir`, resetting the model. */
  def setup(dir: Path): Unit
  /** One request. Returns (latency ns, user rows). Throws on a wrong result. */
  def request(): (Long, Long)
  /** On-disk bytes of the workload's state over its logical bytes. */
  def spaceAmp(): Double
  /** Checks after the loop; returns how many were made. */
  def finalChecks(): Int
  /** A checked read that leaves the state unchanged, repeated traced and
    * untraced to measure the tracing overhead. */
  def probeRead(): Unit
  /** Per-layer figures the workload samples itself (segments, deltas, recall). */
  def layerSamples: Map[String, Double] = Map.empty

  protected def span[A](name: String)(f: => A): A = ctx.tracer.span(name)(f)
  protected def attr(k: String, v: Double): Unit = ctx.tracer.attr(k, v)
  /** The model's expected digest; the self-test corrupts it on purpose. */
  protected def expect(d: Digest): Digest =
    if (ctx.args.corruptModel) Digest(d.count, d.sum + 1L) else d

  /** Latencies per sub-operation of the measured requests, in ms. */
  val kinds: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  var measuring = false
  protected def timed[A](kind: String)(f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = f
    val dt = System.nanoTime() - t0
    if (measuring) kinds.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt / 1e6
    (r, dt)
  }

  /** A read of `df` (built inside the span), digested over `cols`. */
  protected def read(name: String, df: => org.apache.spark.sql.DataFrame, cols: Seq[Int],
      keyCols: Seq[Int] = Nil): ReadResult = span(name) {
    val r = Read.digest(df, cols, keyCols, ctx.tracer)
    attr("rows", r.digest.count.toDouble)
    r
  }

  /** One write transaction, its flush and commit traced apart. */
  protected def commitTxn(db: graft.core.MatDb, df: org.apache.spark.sql.DataFrame): Long = {
    val txn = db.newTransaction()
    txn.addRows(df)
    span("core.flush")(txn.flush())
    span("core.commit")(txn.commit())
    txn.id.get
  }

  protected def openDb(path: String): graft.core.MatDb = span("core.open") {
    val db = graft.core.MatDb.open(spark, path)
    attr("segments", db.committedSegments.size.toDouble)
    db
  }
}

object Workloads {
  val names: Seq[String] = Seq("maintain", "ann")
  def make(name: String, ctx: Ctx): Workload = name match {
    case "maintain" => new Maintain(ctx)
    case "ann" => new Ann(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected ${names.mkString(", ")})")
  }
}

object Runner {
  /** Setups per run; setup_s is their median, so one slow (cold) set-up
    * does not decide it. */
  val Setups = 3
  /** A request during which the hypervisor stole more than this share of
    * the CPUs is left out of the median latency, since it measures the
    * neighbours rather than graft, as long as at least `MinCalm` requests
    * ran below it; otherwise every request counts. */
  val MaxSteal = 0.05
  val MinCalm = 3
  /** Untraced and traced calls of `probeRead` each, for the tracing overhead. */
  val OverheadPairs = 3

  def run(spark: SparkSession, args: Args): Result = {
    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
    val tracer = new Tracer(spark.sparkContext)
    val w = Workloads.make(args.workload, Ctx(spark, args, tracer))
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    def attempt(f: => Unit): Boolean = {
      attempted += 1
      try { f; true }
      catch {
        case e: Exception =>
          failed += 1
          errors += s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[perfbench] FAILED: ${errors.last}")
          e.printStackTrace(System.err)
          false
      }
    }

    // set-up, request and final-check spans sit under a root span of that
    // name; the per-layer metrics count request and final-check spans only
    tracer.setEnabled(args.trace)
    val setupS = mutable.ArrayBuffer.empty[Double]
    var ok = (0 until Setups).forall { r =>
      val dir = args.workDir.resolve(s"setup-$r")
      if (r > 0) graft.core.Storage.deleteRecursively(args.workDir.resolve(s"setup-${r - 1}"))
      attempt {
        val s0 = System.nanoTime()
        tracer.span("setup")(w.setup(dir))
        setupS += (System.nanoTime() - s0) / 1e9
      }
    }

    phase("setups done")
    tracer.setEnabled(false)
    var i = 0
    while (ok && i < w.warmupRequests) { ok = attempt(w.request()); i += 1 }

    phase("warm-up done")
    // (latency ns, rows, calm) per measured request
    val reqs = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    // space amplification is the mean over the first cycle's requests, so
    // it covers one round of the periodic work and does not depend on how
    // many cycles fit in the run
    val amps = mutable.ArrayBuffer.empty[Double]
    val (steal0, total0) = Host.cpuTicks()
    val gc0 = Host.gcMs()
    val start = System.nanoTime()
    var cycleStart = start
    var lastCycleNs = 0L
    var n = 0
    // whole cycles only: another one starts while the last one would still
    // fit in --seconds, and the first always runs
    def more: Boolean = args.requests match {
      case Some(k) => n < k
      case None => n % w.cycle != 0 || n == 0 ||
        System.nanoTime() - start + lastCycleNs <= args.seconds * 1e9
    }
    w.measuring = true
    tracer.setEnabled(args.trace)
    while (ok && more) {
      ok = attempt {
        val (s0, c0) = Host.cpuTicks()
        val (ns, r) = tracer.span("request")(w.request())
        val (s1, c1) = Host.cpuTicks()
        val steal = if (c1 > c0) (s1 - s0).toDouble / (c1 - c0) else 0.0
        reqs += ((ns, r, steal <= MaxSteal))
        System.err.println(f"[perfbench] request $i: ${ns / 1e6}%.1f ms, steal $steal%.3f")
        if (n < w.cycle) amps += w.spaceAmp()
      }
      i += 1; n += 1
      if (n % w.cycle == 0) {
        val now = System.nanoTime()
        lastCycleNs = now - cycleStart
        cycleStart = now
      }
    }
    w.measuring = false
    val (steal1, total1) = Host.cpuTicks()
    val gcMs = (Host.gcMs() - gc0).toDouble
    val stealFrac = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0

    phase(s"$n requests measured")
    if (ok) {
      var checks = 0
      // attempt() counts the final checks as one operation
      if (attempt { checks = tracer.span("final")(w.finalChecks()) }) attempted += checks - 1
    }
    // tracing overhead: the same read-only call alternately untraced and
    // traced, each side first in turn (under an "overhead" root the
    // per-layer metrics skip)
    var overhead = Double.NaN
    if (args.trace && failed == 0) {
      val untraced, traced = mutable.ArrayBuffer.empty[Double]
      def timeProbe(on: Boolean): Unit = {
        tracer.setEnabled(on)
        val t0 = System.nanoTime()
        tracer.span("overhead")(w.probeRead())
        (if (on) traced else untraced) += (System.nanoTime() - t0) / 1e6
      }
      if (attempt((0 until OverheadPairs).foreach { k =>
        timeProbe(k % 2 == 1); timeProbe(k % 2 == 0)
      }))
        overhead = Stats.median(traced.toSeq) / Stats.median(untraced.toSeq) - 1.0
    }
    // A traced run also drives every other workload once (set-up, one
    // request, final checks), traced, so each per-layer metric is measured
    // in every traced run. The workloads' layer sets are disjoint, so these
    // spans never mix into the run's own layers.
    tracer.setEnabled(args.trace)
    if (args.trace && failed == 0)
      for (other <- Workloads.names if other != args.workload) {
        val p = Workloads.make(other, Ctx(spark, args, tracer))
        var checks = 0
        if (attempt {
          tracer.span("setup")(p.setup(args.workDir.resolve(s"probe-$other")))
          tracer.span("request")(p.request())
          checks = tracer.span("final")(p.finalChecks())
        }) attempted += checks
      }

    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)
    val counted = if (reqs.count(_._3) >= MinCalm) reqs.filter(_._3) else reqs
    val lat = counted.map(_._1 / 1e6).toSeq
    // throughput over every measured request: whole cycles, so it carries
    // the periodic work a median leaves out
    val busyNs = reqs.map(_._1).sum
    val endToEnd = Seq(
      ("setup_s", med(setupS.toSeq), "s"),
      ("request_p50_ms", med(lat), "ms"),
      ("rows_per_s", if (busyNs > 0) reqs.map(_._2).sum / (busyNs / 1e9) else Double.NaN,
        "rows/s"),
      ("space_amp", if (amps.isEmpty) Double.NaN else amps.sum / amps.size, "ratio"))
    val spans = if (args.trace) tracer.spans else Nil
    val perLayer = Layers.metrics(spans, w.layerSamples) ++ Seq(
      ("host.steal_frac", stealFrac, "ratio"),
      ("jvm.gc_ms", gcMs, "ms"),
      ("trace.overhead_frac", overhead, "ratio"))
    val detail = Seq("requests" -> n.toDouble, "requests_counted" -> counted.size.toDouble,
        "setups" -> setupS.size.toDouble) ++
      setupS.zipWithIndex.map { case (s, r) => s"setup_${r}_s" -> s } ++
      (if (lat.nonEmpty) Seq("request_p90_ms" -> Stats.quantile(lat, 0.9)) else Nil) ++
      w.kinds.toSeq.flatMap { case (k, xs) =>
        Seq(s"${k}_p50_ms" -> med(xs.toSeq), s"${k}_n" -> xs.size.toDouble)
      } ++ Seq("host.steal_frac" -> stealFrac, "jvm.gc_ms" -> gcMs)
    val result = Result(failed == 0, math.max(1L, attempted), failed, endToEnd,
      perLayer, detail, errors.toSeq)
    phase("final checks done")
    Report.write(args, result, spans)
    result
  }
}

/** Per-run artifacts next to the printed metrics: the full metric set with
  * host noise and per-operation medians, and the span log of traced runs. */
object Report {
  def write(args: Args, r: Result, spans: Seq[Span]): Unit = {
    val base = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    val body = Json.obj(Seq(
      "workload" -> Json.str(args.workload), "seed" -> Json.num(args.seed),
      "seconds" -> Json.num(args.seconds), "correct" -> Json.bool(r.correct),
      "attempted" -> Json.num(r.attempted), "failed" -> Json.num(r.failed),
      "error_rate" -> Json.num(r.failed.toDouble / r.attempted),
      "errors" -> r.errors.map(Json.str).mkString("[", ", ", "]"),
      "end_to_end" -> Json.obj(r.endToEnd.map { case (k, v, _) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(r.perLayer.map { case (k, v, _) => k -> Json.num(v) }),
      "detail" -> Json.obj(r.detail.map { case (k, v) => k -> Json.num(v) })))
    java.nio.file.Files.createDirectories(args.outDir)
    java.nio.file.Files.write(args.outDir.resolve(s"$base.json"),
      (body + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (args.trace) {
      val t = new java.io.PrintWriter(args.outDir.resolve(s"$base-spans.jsonl").toFile, "UTF-8")
      try spans.foreach(s => t.println(s.json)) finally t.close()
    }
    System.err.println(s"[perfbench] $body")
  }
}
