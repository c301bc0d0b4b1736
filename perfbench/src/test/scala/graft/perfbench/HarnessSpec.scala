package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark harness: inputs are a function of the seed,
  * the counters a change may cite repeat exactly, and a wrong model can
  * never pass. Run with `sbt test` in perfbench/. */
class HarnessSpec extends AnyFunSuite {
  private val work: Path = Files.createDirectories(Paths.get("target", "test-work"))
  private lazy val spark = Main.session(Files.createTempDirectory(work, "spark"))

  /** One whole cycle: a checkpoint on `maintain`, a compaction on `ann`. */
  private val cycle = Map("maintain" -> Maintain.CheckpointSegments, "ann" -> Ann.Cycle)

  private def run(workload: String, seed: Long, corrupt: Boolean = false): Result = {
    val dir = Files.createTempDirectory(work, workload)
    try Runner.run(spark, Args(workload, seed, seconds = 0, trace = true, workDir = dir,
      outDir = dir.resolve("runs"), requests = Some(if (corrupt) 1 else cycle(workload)),
      corruptModel = corrupt))
    finally graft.core.Storage.deleteRecursively(dir)
  }

  test("the same seed generates the same inputs, another seed different ones") {
    def events(seed: Long) = {
      val m = new EventModel(seed)
      val init = m.delta(Maintain.InitRows, 0)
      m(1L, init)
      val steps = (2L to 4L).map { t =>
        val d = m.delta(Maintain.FreshRows, Maintain.RewriteRows)
        m(t, d)
        (d.toSeq, m.rangeStart())
      }
      (init.toSeq, steps, m.baseDigest, m.viewDigest)
    }
    def vectors(seed: Long) = {
      val m = new VectorModel(seed)
      val corpus = m.corpus()
      m(corpus)
      val batches = (0 until 3).map { _ =>
        val u = m.upserts()
        m(u)
        (u.map { case (id, v) => (id, v.toSeq) }, m.queries())
      }
      (corpus.map { case (id, v) => (id, v.toSeq) }, batches)
    }
    assert(events(7) == events(7))
    assert(events(7) != events(8))
    assert(vectors(7) == vectors(7))
    assert(vectors(7) != vectors(8))
  }

  test("the deterministic counters repeat exactly for the same seed") {
    val counters = Map(
      "maintain" -> Seq("core.flush.jobs", "core.flush.tasks", "scan.jobs", "scan.tasks",
        "view.fold.jobs", "cdc.jobs", "core.segments_live", "space_amp"),
      "ann" -> Seq("index.search.jobs", "index.search.records_read", "index.maintain.jobs",
        "index.pending_deltas", "space_amp"))
    for ((w, names) <- counters) {
      val a = run(w, 5)
      val b = run(w, 5)
      assert(a.correct && b.correct, s"$w: ${a.errors ++ b.errors}")
      for (n <- names) {
        assert(a.metric(n) > 0, s"$w: $n was not measured")
        assert(a.metric(n) == b.metric(n), s"$w: $n differs between two runs of seed 5")
      }
    }
  }

  test("a deliberately wrong model fails the run") {
    for (w <- Workloads.names) {
      val r = run(w, 5, corrupt = true)
      assert(!r.correct && r.failed > 0, s"$w passed with a corrupted model")
    }
  }
}
