package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TestSpark

/** Recall of the trained IVF index against the brute-force oracle (probing
  * all k buckets IS brute force, so the baseline reuses the same scoring
  * path). The driver's synthetic embeddings are near-uniform on the sphere
  * (verified offline with a numpy sweep) — essentially unclustered — which
  * bounds any IVF-style index on THIS data: measured recall@5 ≈ 0.82 at
  * nprobe=2 and ≈ 0.90 at nprobe=3 (k=8, 500 vectors). The floors below
  * assert those minus a small margin plus the monotone probe→recall trade;
  * clustered real-world corpora sit strictly higher at equal probes. */
class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("trained IVF: recall floors vs brute force, monotone in nprobe") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 8)
      .map(_.toSeq).toSeq
    assert(centroids.size === 8)
    // every centroid is unit-norm (spherical k-means invariant)
    centroids.foreach { c =>
      assert(math.abs(c.map(x => x * x).sum - 1.0) < 1e-9)
    }

    def top5(nprobe: Int) =
      IvfIndex.searchTopK(emb, queries, "vec_id", "embedding", centroids, nprobe, k = 5)
        .select(col("qid"), col("vec_id"))
    val truth = top5(nprobe = 8) // all buckets probed = exact
    val truthN = truth.count()
    assert(truthN === 50) // 10 queries x top-5

    def recall(nprobe: Int): Double =
      top5(nprobe).intersect(truth).count().toDouble / truthN
    val r2 = recall(2)
    val r3 = recall(3)
    assert(r2 >= 0.75, s"recall@5 nprobe=2 was $r2")
    assert(r3 >= 0.85, s"recall@5 nprobe=3 was $r3")
    assert(r3 >= r2, s"recall must not degrade with more probes: $r2 -> $r3")
  }

  test("persisted index: searchIndex equals searchTopK and prunes to probed buckets") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 2) // 2 queries x 2 probes <= 4 of 8 buckets
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 4)
      .map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", centroids, path)

    // round trip of the centroid matrix
    val loaded = IvfIndex.readCentroids(spark, path)
    assert(loaded.map(_.toSeq).toSeq === centroids)

    val fromIndex = IvfIndex
      .searchIndex(spark, path, queries, "vec_id", "embedding", nprobe = 2, k = 5)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
    val inMemory = IvfIndex
      .searchTopK(emb, queries, "vec_id", "embedding", centroids, nprobe = 2, k = 5)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
    assert(fromIndex.except(inMemory).count() === 0L)
    assert(inMemory.except(fromIndex).count() === 0L)
    assert(fromIndex.count() === 10) // 2 queries x top-5

    // the probe scan must prune to the probed bucket directories: `bucket`
    // is a partition column and the isin filter has to land in the scan's
    // PartitionFilters (file-skipping at the index, the same mechanism
    // ChunkPruneSpec pins for _ck_* columns), not in a post-scan Filter
    val planText = fromIndex.queryExecution.executedPlan.toString
    val corpusScan = planText.linesIterator
      .filter(_.contains("FileScan")).find(_.contains("/corpus")).getOrElse("")
    assert(corpusScan.contains("PartitionFilters: [bucket"),
      s"bucket isin not a partition filter on the corpus scan:\n$planText")
    // and row-level semantics: only probed buckets contribute candidates
    val probed = IvfIndex.probes(
        queries.select(col("vec_id").as("qid"),
          IvfIndex.normalized(col("embedding")).as("qv")), "qv", centroids, 2)
      .select(col("bucket")).collect().map(_.getInt(0)).toSet
    assert(probed.size < 8, s"test premise: probes must not cover all buckets ($probed)")
  }

  test("maintainIndex: upserts move buckets, deletes leave, untouched buckets keep their files") {
    import java.nio.file.{Files => JF, Paths => JP}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 4)
      .map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-maint").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", centroids, path)

    // DML: vec_id % 7 == 1 upserts to its NEGATED vector (on a sphere the
    // antipode lands in a different bucket — a guaranteed move), and
    // vec_id % 11 == 3 is deleted (disjoint from the upserts — an id in
    // both sets is an upsert by maintainIndex's newest-wins contract)
    val upserts = emb.where(col("vec_id") % 7 === 1)
      .select(col("vec_id"),
        expr("transform(embedding, x -> -x)").as("embedding"))
    val deletes = emb.where(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1)
      .select(col("vec_id"))
    val postDml = emb.where(!(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1))
      .select(col("vec_id"), when(col("vec_id") % 7 === 1,
        expr("transform(embedding, x -> -x)")).otherwise(col("embedding")).as("embedding"))

    // a bucket no touched id lives in must keep its files byte-identical
    def bucketOf(df: org.apache.spark.sql.DataFrame) = IvfIndex.assign(
      df.select(col("vec_id"), IvfIndex.normalized(col("embedding")).as("v")),
      "v", centroids).select(col("vec_id"), col("bucket"))
    val touchedBuckets = bucketOf(emb.join(
        upserts.select("vec_id").unionByName(deletes), Seq("vec_id"), "left_semi"))
      .select("bucket").collect().map(_.getInt(0)).toSet ++
      bucketOf(upserts).select("bucket").collect().map(_.getInt(0)).toSet
    val untouched = (0 until 8).find(b => !touchedBuckets.contains(b))
    def files(b: Int): Seq[(String, Long)] = {
      val d = JP.get(s"$path/corpus/bucket=$b")
      if (!JF.isDirectory(d)) Seq.empty
      else {
        val s = JF.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(p => p.getFileName.toString -> JF.size(p)).toSeq.sorted
        } finally s.close()
      }
    }
    val beforeAll = (0 until 8).map(b => b -> files(b)).toMap

    IvfIndex.maintainIndex(spark, path, "vec_id", upserts, deletes)

    // O(delta) writes: the maintenance fold APPENDS a delta generation —
    // EVERY base bucket keeps its files byte-identical, touched or not
    // (round 14 rewrote each touched bucket whole)
    (0 until 8).foreach(b => assert(files(b) === beforeAll(b),
      s"base bucket $b must keep its files under delta maintenance"))
    assert(IvfIndex.deltaGens(s"$path/corpus").size === 1,
      "one maintenance fold = one pending delta generation")
    untouched.foreach(b => assert(files(b) === beforeAll(b),
      s"untouched bucket $b must keep its files"))

    val queries = postDml.where(col("vec_id") < 3)
    val fromIndex = IvfIndex
      .searchIndex(spark, path, queries, "vec_id", "embedding", nprobe = 3, k = 5)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
    // ground truth: the same search math over the post-DML corpus, no index
    val expected = IvfIndex
      .searchTopK(postDml, queries, "vec_id", "embedding", centroids, nprobe = 3, k = 5)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
    assert(fromIndex.except(expected).count() === 0L)
    assert(expected.except(fromIndex).count() === 0L)

    // deleted ids never surface; a moved id is findable at its new home
    val all = IvfIndex.searchIndex(spark, path,
        postDml.where(col("vec_id") < 50), "vec_id", "embedding", nprobe = 8, k = 10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(!all.exists(id => id % 11 == 3 && id % 7 != 1),
      "deleted ids must not surface as candidates")
    // the RESOLVED corpus row count matches the post-DML corpus exactly
    assert(IvfIndex.readLayout(spark, s"$path/corpus", "vec_id").count()
      === postDml.count())
    // and an upserted id's stored vector is its NEW normalized vector
    val movedId = upserts.select(col("vec_id")).orderBy(col("vec_id")).head().getLong(0)
    val stored = IvfIndex.readLayout(spark, s"$path/corpus", "vec_id")
      .where(col("vec_id") === movedId).select(col("v")).head().getSeq[Double](0)
    val fresh = upserts.where(col("vec_id") === movedId)
      .select(IvfIndex.normalized(col("embedding")).as("v")).head().getSeq[Double](0)
    assert(stored === fresh, "the upserted vector must replace the old version")

    // COMPACTION folds base+deltas into a fresh base: pending generations
    // disappear, the plain base read equals the resolved state, and the
    // search answers are unchanged
    val preCompact = fromIndex.collect().toSet
    IvfIndex.compactLayout(spark, s"$path/corpus", "vec_id")
    assert(IvfIndex.deltaGens(s"$path/corpus").isEmpty, "compaction clears deltas")
    assert(spark.read.parquet(s"$path/corpus").count() === postDml.count())
    val postCompact = IvfIndex
      .searchIndex(spark, path, queries, "vec_id", "embedding", nprobe = 3, k = 5)
      .select(col("qid"), col("vec_id"), col("score"), col("rn")).collect().toSet
    assert(postCompact === preCompact, "compaction must not change answers")
    assert(!all.exists(id => id % 11 == 3 && id % 7 != 1)) // still no deleted ids
  }

  test("an interrupted compaction resumes losslessly; a parquet-less base still reads") {
    import java.nio.file.{Files => JF, Paths => JP}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(200)
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 4, iters = 2)
      .map(_.toSeq).toSeq
    val path = JF.createTempDirectory("graft-ivf-crash").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", centroids, path)
    val layout = s"$path/corpus"
    // one fold: a few upserts (antipodes move buckets) + a few deletes
    val ups = emb.where(col("vec_id") % 9 === 1)
      .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
    val dels = emb.where(col("vec_id") % 13 === 2 && col("vec_id") % 9 =!= 1)
      .select(col("vec_id"))
    IvfIndex.maintainIndex(spark, path, "vec_id", ups, dels)
    assert(IvfIndex.deltaGens(layout).nonEmpty)
    val expected = IvfIndex.readLayout(spark, layout, "vec_id")
      .orderBy("vec_id").collect().toSeq

    // CRASH SIM at the worst window: the fold landed in .compact.tmp and
    // its _FRESH completion marker was written, a live bucket was deleted,
    // the fresh copy was NOT yet moved in — the pre-fix delete-tmp-first
    // recovery lost that bucket's base rows permanently
    val tmp = JP.get(s"$layout.compact.tmp")
    IvfIndex.readLayout(spark, layout, "vec_id")
      .write.partitionBy("bucket").parquet(tmp.toString)
    val freshNames = {
      val s = JF.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("bucket=")).toSeq.sorted
      } finally s.close()
    }
    JF.write(tmp.resolve("_FRESH"), freshNames.mkString("\n").getBytes("UTF-8"))
    val victim = freshNames.head
    graft.core.Storage.deleteRecursively(JP.get(s"$layout/$victim"))
    // next compaction call must FINISH the interrupted swap from tmp
    IvfIndex.compactLayout(spark, layout, "vec_id")
    assert(IvfIndex.deltaGens(layout).isEmpty, "compaction clears deltas")
    assert(!JF.exists(tmp), "tmp cleared after the finished swap")
    assert(spark.read.parquet(layout).orderBy("vec_id").collect().toSeq
      === expected, "resumed compaction must be lossless")

    // an INCOMPLETE tmp (no _FRESH) is discarded and compaction reruns
    IvfIndex.maintainIndex(spark, path, "vec_id", ups, dels.limit(0))
    JF.createDirectories(tmp)
    JF.write(tmp.resolve("part-junk.parquet.tmp"), Array[Byte](1, 2, 3))
    val expected2 = IvfIndex.readLayout(spark, layout, "vec_id")
      .orderBy("vec_id").collect().toSeq
    IvfIndex.compactLayout(spark, layout, "vec_id")
    assert(IvfIndex.deltaGens(layout).isEmpty && !JF.exists(tmp))
    assert(spark.read.parquet(layout).orderBy("vec_id").collect().toSeq
      === expected2)

    // PARQUET-LESS BASE + pending deltas (interrupted compaction removed
    // every emptied live bucket): readLayout answers from the deltas
    // instead of crashing schema inference on the bare root
    IvfIndex.maintainIndex(spark, path, "vec_id", ups, dels.limit(0))
    val liveBuckets = {
      val s = JF.list(JP.get(layout))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString.startsWith("bucket="))
          .toSeq
      } finally s.close()
    }
    liveBuckets.foreach(graft.core.Storage.deleteRecursively)
    val resolved = IvfIndex.readLayout(spark, layout, "vec_id")
    // only the last fold's upserts survive (base rows are gone by sim)
    assert(resolved.count() === ups.count())
    assert(resolved.columns.contains("vec_id") && resolved.columns.contains("v"))
  }

  test("a fold after an interrupted compaction survives the finished swap") {
    import java.nio.file.{Files => JF, Paths => JP}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(200)
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 4, iters = 2)
      .map(_.toSeq).toSeq
    val path = JF.createTempDirectory("graft-ivf-stale-swap").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", centroids, path)
    val layout = s"$path/corpus"
    def negated(mod: Int) = emb.where(col("vec_id") % 9 === mod)
      .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
    IvfIndex.maintainIndex(spark, path, "vec_id", negated(1), emb.select("vec_id").limit(0))
    // CRASH SIM: a compaction completed its fold (tmp + _FRESH) and died
    // before the swap
    val tmp = JP.get(s"$layout.compact.tmp")
    IvfIndex.readLayout(spark, layout, "vec_id")
      .write.partitionBy("bucket").parquet(tmp.toString)
    val freshNames = {
      val s = JF.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("bucket=")).toSeq
      } finally s.close()
    }
    JF.write(tmp.resolve("_FRESH"), freshNames.mkString("\n").getBytes("UTF-8"))
    // the next fold lands, then a compaction finishes the interrupted swap:
    // the fold's generation must not be cleared with the folded ones
    IvfIndex.maintainIndex(spark, path, "vec_id", negated(4), emb.select("vec_id").limit(0))
    IvfIndex.compactLayout(spark, layout, "vec_id")
    IvfIndex.compactLayout(spark, layout, "vec_id")
    assert(IvfIndex.deltaGens(layout).isEmpty && !JF.exists(tmp))
    val want = emb.select(col("vec_id"),
      when((col("vec_id") % 9).isin(1, 4), expr("transform(embedding, x -> -x)"))
        .otherwise(col("embedding")).as("embedding"))
    val got = spark.read.parquet(layout).select(col("vec_id"), col("v"))
    val expected = want.select(col("vec_id"), IvfIndex.normalized(col("embedding")).as("v"))
    assert(got.count() === emb.count())
    assert(got.except(expected).count() === 0L, "the second fold's upserts were lost")
  }

  test("searching an EMPTY index answers empty, not a schema-inference crash") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = IvfIndex.train(emb.limit(16), "vec_id", "embedding", k = 2, iters = 1)
      .map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-empty").toString
    // bootstrap-empty index (the streaming sink's starting state — also
    // what a truncate-driven rebuild leaves before the first re-seed fold)
    IvfIndex.writeIndex(emb.limit(0), "vec_id", "embedding", centroids, path)
    val got = IvfIndex.searchIndex(spark, path, emb.limit(2),
      "vec_id", "embedding", nprobe = 2, k = 3)
    assert(got.columns.toSeq === Seq("qid", "vec_id", "score", "rn"))
    assert(got.count() === 0L)
  }

  test("delta maintenance writes O(delta) bytes; repeated folds auto-compact") {
    import java.nio.file.{Files => JF, Paths => JP}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      .map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-lsm").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", centroids, path)
    def treeBytes(p: String): Long = {
      val d = JP.get(p)
      if (!JF.isDirectory(d)) 0L
      else {
        val s = JF.walk(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(JF.isRegularFile(_)).map(JF.size).sum
        } finally s.close()
      }
    }
    val baseBytes = treeBytes(s"$path/corpus")
    // a 3-id fold must write a small delta generation, not bucket-scale bytes
    val tiny = emb.where(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
    IvfIndex.maintainIndex(spark, path, "vec_id", tiny, tiny.limit(0).select(col("vec_id")))
    val deltaBytes = treeBytes(s"$path/corpus_deltas")
    assert(deltaBytes > 0L && deltaBytes < baseBytes / 4,
      s"delta generation ($deltaBytes B) must be far below the corpus ($baseBytes B)")
    // drive folds past the pending threshold under a tiny override: the
    // layout auto-compacts and stays correct
    val saved = sys.props.get("graft.index.delta.maxpending")
    sys.props("graft.index.delta.maxpending") = "3"
    try {
      (0 until 4).foreach { i =>
        val up = emb.where(col("vec_id") === (10L + i))
          .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
        IvfIndex.maintainIndex(spark, path, "vec_id", up, up.limit(0).select(col("vec_id")))
      }
      assert(IvfIndex.deltaGens(s"$path/corpus").size < 3,
        "pending generations must fold once the threshold trips")
    } finally {
      saved match {
        case Some(v) => sys.props("graft.index.delta.maxpending") = v
        case None    => sys.props.remove("graft.index.delta.maxpending"); ()
      }
    }
    // end state equals the post-DML ground truth exactly
    val postDml = emb.select(col("vec_id"),
      when(col("vec_id").isin(1L, 2L, 3L, 10L, 11L, 12L, 13L),
        expr("transform(embedding, x -> -x)")).otherwise(col("embedding")).as("embedding"))
    val got = IvfIndex
      .searchIndex(spark, path, postDml.where(col("vec_id") < 3), "vec_id",
        "embedding", nprobe = 8, k = 5)
      .select(col("qid"), col("vec_id"), col("rn"))
    val want = IvfIndex
      .searchTopK(postDml, postDml.where(col("vec_id") < 3), "vec_id",
        "embedding", centroids, nprobe = 8, k = 5)
      .select(col("qid"), col("vec_id"), col("rn"))
    assert(got.except(want).count() === 0L && want.except(got).count() === 0L)
  }

  /** Spark jobs `f` submits from this thread (tagged by a local property,
    * so work of any other thread is not counted). */
  private def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.jobs") == tag)) {
          jobs.incrementAndGet(); ()
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    try f finally {
      sc.setLocalProperty("graft.test.jobs", null)
      org.apache.spark.TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("maintain and search submit the same jobs at any pending depth; one file per bucket") {
    import java.nio.file.{Files => JF}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(300)
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      .map(_.toSeq).toSeq
    val path = JF.createTempDirectory("graft-ivf-flat").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", centroids, path)
    val layout = s"$path/corpus"
    // each fold re-embeds 6 ids (antipodes: they move buckets, so the
    // generation holds new rows AND tombstones) under graft's default
    // 8-generation threshold: depths 1..7 never compact
    def fold(i: Int): Int = {
      val up = emb.where(col("vec_id") % 40 === i)
        .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
      jobsOf(IvfIndex.maintainIndex(spark, path, "vec_id", up,
        up.select(col("vec_id")).limit(0), Some(centroids)))
    }
    val queries = emb.where(col("vec_id") < 4)
    def search(): Int = jobsOf(IvfIndex.searchIndex(spark, path, queries, "vec_id",
      "embedding", nprobe = 2, k = 5, Some(centroids)).collect())
    fold(0)
    assert(IvfIndex.deltaGens(layout).size === 1)
    val (search1, maintain1) = (search(), fold(1))
    (2 until 6).foreach(fold)
    assert(IvfIndex.deltaGens(layout).size === 6)
    val (search6, maintain6) = (search(), fold(6))
    assert(IvfIndex.deltaGens(layout).size === 7, "no compaction below the threshold")
    assert(maintain6 === maintain1,
      s"maintainIndex jobs at depth 6 ($maintain6) differ from depth 1 ($maintain1)")
    assert(search6 === search1,
      s"searchIndex jobs at depth 6 ($search6) differ from depth 1 ($search1)")

    // the tiny fold's generation: at most one data file per bucket
    val newest = IvfIndex.deltaGens(layout).last
    val perBucket = {
      val s = JF.walk(newest)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
          .groupBy(_.getParent.getFileName.toString).map { case (b, fs) => b -> fs.size }
      } finally s.close()
    }
    assert(perBucket.size > 1, s"test premise: the fold touches several buckets ($perBucket)")
    assert(perBucket.values.forall(_ <= 1), s"more than one file per bucket: $perBucket")
  }

  test("generations take the on-disk base's types, not the caller's (int id column)") {
    import org.apache.spark.sql.types.IntegerType
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(300)
    val intEmb = emb.select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    val centroids = IvfIndex.train(intEmb, "vec_id", "embedding", k = 4, iters = 2)
      .map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-intid").toString
    IvfIndex.writeIndex(intEmb, "vec_id", "embedding", centroids, path)
    val layout = s"$path/corpus"
    // the caller folds with LONG ids (the source table's type) over an
    // index whose base stores them as int
    val ups1 = emb.where(col("vec_id") % 9 === 1)
      .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
    // deleted for good: not re-upserted by either fold
    val deleted = col("vec_id") % 13 === 2 && !(col("vec_id") % 9).isin(1, 4)
    IvfIndex.maintainIndex(spark, path, "vec_id", ups1,
      emb.where(deleted).select(col("vec_id")))
    val ups2 = emb.where(col("vec_id") % 9 === 4)
      .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
    IvfIndex.maintainIndex(spark, path, "vec_id", ups2, ups2.select(col("vec_id")).limit(0))
    assert(IvfIndex.deltaGens(layout).size === 2)
    IvfIndex.deltaGens(layout).foreach(g => assert(
      spark.read.parquet(g.toString).schema("vec_id").dataType === IntegerType,
      s"generation $g must store the base's int id"))
    assert(IvfIndex.readLayout(spark, layout, "vec_id").schema("vec_id").dataType
      === IntegerType)

    val postDml = intEmb.where(!deleted)
      .select(col("vec_id"), when(col("vec_id") % 9 === 1 || col("vec_id") % 9 === 4,
        expr("transform(embedding, x -> -x)")).otherwise(col("embedding")).as("embedding"))
    assert(IvfIndex.readLayout(spark, layout, "vec_id").count() === postDml.count())
    val queries = postDml.where(col("vec_id") < 5)
    val got = IvfIndex.searchIndex(spark, path, queries, "vec_id", "embedding",
        nprobe = 4, k = 5)
      .select(col("qid"), col("vec_id"), col("rn"))
    val want = IvfIndex.searchTopK(postDml, queries, "vec_id", "embedding",
        centroids, nprobe = 4, k = 5)
      .select(col("qid"), col("vec_id"), col("rn"))
    assert(got.count() === queries.count() * 5)
    assert(got.except(want).count() === 0L && want.except(got).count() === 0L)
  }
}

/** q37's HLL sketch has no DuckDB oracle (rows-only in the battery); this
  * pins its accuracy instead: approx_count_distinct must land within 5% of
  * the exact distinct count per group on sf0.01 (q17 is the exact
  * counterpart over the same grouping). */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("approx_count_distinct within 5% of exact per group on sf0.01") {
    val rows = graft.SparkEntry.queries("q37_approx_distinct")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_parts").toDouble
      val exact = r.getAs[Long]("exact_parts").toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"group ${r.get(0)}: approx $approx vs exact $exact")
    }
  }
}
