package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    workDir: Path,
    outDir: Path,
    /** Fixed request count instead of a timed loop (self-tests). */
    requests: Option[Int] = None,
    /** Perturb the workload's model so its checks must fail (self-tests). */
    corruptModel: Boolean = false)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      Paths.get(need("work-dir")), Paths.get(need("out-dir")), m.get("requests").map(_.toInt))
  }
}

/** What a run measured. `endToEnd` and `perLayer` hold (name, value, unit). */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double, String)],
    detail: Seq[(String, Double)],
    errors: Seq[String]) {
  def metric(name: String): Double =
    (endToEnd ++ perLayer).find(_._1 == name).map(_._2)
      .getOrElse(throw new NoSuchElementException(name))

  def line(trace: Boolean): String = {
    val ms = (if (trace) perLayer else endToEnd).map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    Json.obj(Seq("correct" -> Json.bool(correct), "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed), "metrics" -> Json.obj(ms)))
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work-dir <dir> --out-dir <dir> [--requests <n>]`. Prints one JSON
  * result as the last stdout line and exits non-zero on any failure. */
object Main {
  /** The session shape of `graft.Bench`: local[cores], AQE with cached-plan
    * repartitioning, hash-join preference, graft's planner extensions. */
  def session(workDir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Files.createDirectories(args.workDir)
    val spark = session(args.workDir)
    val result =
      try Runner.run(spark, args)
      finally spark.stop()
    System.out.flush()
    println(result.line(args.trace))
    System.out.flush()
    if (!result.correct) sys.exit(1)
  }
}
