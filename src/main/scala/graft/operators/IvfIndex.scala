package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor over an embedding
  * column — the trained upgrade of q53's deterministic pseudo-centroids
  * (SURVEY.md §2.3 "North-star: similarity search").
  *
  * Index = spherical k-means centroids (trained on L2-normalized vectors, so
  * L2 assignment ≡ cosine assignment) + every vector tagged with its nearest
  * centroid's `bucket`. Search probes only the query's `nprobe` nearest
  * buckets: cost ≈ nprobe/k of brute force, recall traded per probe.
  *
  * Scale notes: training touches the driver only for the k×dim centroid
  * matrix (k=8..4096 × 64 doubles — bytes, not data; the per-iteration means
  * are a distributed groupBy). Assignment and search are narrow projections +
  * a bucket equi-join with the (tiny) probe side broadcast — no shuffle of
  * the corpus beyond the bucket join, and at 100 TB the corpus side would be
  * written bucket-partitioned so probes prune partitions.
  *
  * Measured on the driver's synthetic embeddings (deterministic seed, see
  * IvfSpec): the vectors are near-uniform on the sphere — essentially
  * unclustered — which bounds ANY ivf-style index: recall@5 ≈ 0.82 at
  * nprobe=2, ≈ 0.90 at nprobe=3, ≈ 0.92 at nprobe=4 (k=8, 500 vectors;
  * verified against the q50 brute-force oracle). On real corpora (which
  * cluster) the same index hits 0.9+ at nprobe=2; the spec asserts the
  * measured floors and their monotone improvement with nprobe.
  */
object IvfIndex extends org.apache.spark.internal.Logging {

  // codegen'd vector kernels (graft.functions.VectorOps): identical left
  // fold as the HOF forms they replaced, ~no boxing, stays in codegen.
  // Callers register the functions on the session (reg below) before any
  // DataFrame using these columns is analyzed.
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorOps.sqDistCol(a, b)

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dotCol(a, b)

  private def reg(df: DataFrame): Unit =
    graft.functions.VectorOps.register(df.sparkSession)

  /** L2-normalized double vector (codegen kernel — the HOF
    * `transform(d, x -> x / sqrt(dot(d, d)))` re-evaluated the norm per
    * element in interpreted lambda eval; same IEEE divides, one pass). */
  def normalized(vec: Column): Column =
    graft.functions.VectorOps.normCol(vec.cast("array<double>"))

  /** Spherical k-means (Lloyd's): deterministic init = first k vectors by
    * `idCol`; each iteration assigns to the nearest centroid and recenters
    * on the normalized per-bucket mean. Empty buckets keep their centroid.
    * Only k×dim aggregated doubles ever reach the driver per iteration. */
  def train(emb: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int)
      : Array[Array[Double]] = {
    reg(emb)
    // train() is eager (each Lloyd iteration is a collect of k×dim means),
    // so the normalized sample would otherwise be recomputed from the scan
    // for EVERY job (init + one per iteration): cache it for the duration
    // of training and release before returning. The sample is a fraction of
    // the corpus by contract (callers pass a sample); MEMORY_AND_DISK
    // spills rather than OOMs if a caller passes more.
    val v = emb.select(col(idCol), normalized(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // tiny training samples skip codegen+AQE for the per-iteration jobs
    // (graft.core.FastPlan): each Lloyd job is driver-latency-bound at
    // this size, and the centroid literals change per iteration
    try graft.core.FastPlan.scoped(emb.sparkSession,
      graft.core.FastPlan.isSmall(emb)) {
      val initRows = v.orderBy(col(idCol)).limit(k).collect()
      require(initRows.nonEmpty, "IvfIndex.train: empty corpus")
      val dim = initRows.head.getSeq[Double](1).length
      var centroids: Seq[Seq[Double]] = initRows.map(_.getSeq[Double](1)).toSeq
      // corpora smaller than k get one bucket per vector, not a crash
      val kEff = centroids.size
      for (_ <- 0 until iters) {
        val means = assign(v, "v", centroids)
          .select(col("bucket"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("bucket"), col("i")).agg(avg(col("x")).as("m"))
          .collect() // k*dim rows — the centroid matrix, driver-sized by design
        val byBucket = means.groupBy(_.getAs[Int]("bucket"))
        centroids = (0 until kEff).map { b =>
          byBucket.get(b).fold(centroids(b)) { rows =>
            val arr = new Array[Double](dim)
            rows.foreach(r => arr(r.getAs[Int]("i")) = r.getAs[Double]("m"))
            val n = math.sqrt(arr.map(x => x * x).sum)
            (if (n > 0) arr.map(_ / n) else centroids(b).toArray).toSeq
          }
        }
      }
      centroids.map(_.toArray).toArray
    } finally v.unpersist(blocking = false)
  }

  /** Per-centroid squared distances of `vecCol` (already normalized).
    * Built as array(vec_sqdist(v, lit(c0)), …) — direct codegen calls; a
    * `transform` over a centroid-array literal evaluates the lambda (and
    * the kernel inside it) interpreted per element. */
  private def distances(vecCol: String, centroids: Seq[Seq[Double]]): Column =
    array(centroids.map(c => sqDist(col(vecCol), typedlit(c))): _*)

  /** Tag each row with its nearest centroid (`bucket`, int). */
  def assign(df: DataFrame, vecCol: String, centroids: Seq[Seq[Double]]): DataFrame =
    assignWithDist(df, vecCol, centroids).drop("_adist")

  /** [[assign]] keeping `_adist` (squared distance to the assigned
    * centroid) — the drift-metric input: its corpus mean is "how well the
    * fixed centroids still describe the data". */
  private[graft] def assignWithDist(df: DataFrame, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    reg(df)
    df.withColumn("_dl", distances(vecCol, centroids))
      .withColumn("bucket",
        expr("cast(array_position(_dl, array_min(_dl)) - 1 as int)"))
      .withColumn("_adist", expr("array_min(_dl)"))
      .drop("_dl")
  }

  /** Explode each row into its `nprobe` nearest buckets (multi-probe). */
  def probes(df: DataFrame, vecCol: String, centroids: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    reg(df)
    df.withColumn("_dl", distances(vecCol, centroids))
      .withColumn("_order", expr(
        "array_sort(zip_with(_dl, sequence(0, size(_dl) - 1), (d, i) -> struct(d as d, i as i)))"))
      .withColumn("bucket", explode(expr(s"transform(slice(_order, 1, $nprobe), s -> cast(s.i as int))")))
      .drop("_dl", "_order")
  }

  /** Persist a trained index: `path/centroids` is a k-row parquet table of
    * (bucket, weights); `path/corpus` is the NORMALIZED corpus written
    * bucket-partitioned (`bucket=N/` directories), so probe-time scans
    * prune to the probed buckets — at 100 TB a nprobe=2, k=4096 search
    * reads 2/4096 of the corpus bytes, enforced by the layout rather than
    * hoped for from a filter. */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    reg(corpus)
    // the centroid table is driver-sized by construction (k×dim doubles):
    // always skip codegen for its write plan
    graft.core.FastPlan.scoped(spark, small = true)(
      centroids.zipWithIndex.map { case (c, b) => (b, c) }
        .toDF("bucket", "weights").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/centroids"))
    // drift BASELINE: the mean assigned-centroid distance of the corpus
    // the index was built for, OBSERVED during the write action itself
    // (zero extra jobs — the metric rides the pass that lays the corpus
    // out). A bootstrap writeIndex (empty corpus) records nothing — the
    // first maintenance fold becomes the baseline.
    val obs = new org.apache.spark.sql.Observation()
    oneFilePerBucket(assignWithDist(
        corpus.select(col(idCol), normalized(col(vecCol)).as("v")), "v", centroids)
      .observe(obs, count(lit(1)).as("n"), avg(col("_adist")).as("m"))
      .drop("_adist"), graft.core.FastPlan.isSmall(corpus))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/corpus")
    // a rebuild supersedes any pending maintenance generations of the old
    // layout — clear them or reads would resolve stale deltas over it
    graft.core.Storage.deleteRecursively(
      java.nio.file.Paths.get(s"$path/corpus_deltas"))
    IndexStats.reset(path)
    IndexStats.record(path, phase = "train", obs)
  }

  /** The persisted centroid matrix, bucket-ordered (k×dim doubles). */
  def readCentroids(spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] =
    // k rows; the fixture-path literal changes per index, so this tiny
    // plan would otherwise recompile its codegen per call
    graft.core.FastPlan.scoped(spark, small = true)(
      spark.read.parquet(s"$path/centroids").orderBy(col("bucket"))
        .collect().map(_.getSeq[Double](1).toArray))

  /** Fingerprint of the persisted centroid layout — ONE driver-side stat
    * walk of the (two-file) `centroids/` directory. A rebuild
    * ([[writeIndex]] / `CALL system.retrain_index`) rewrites the directory,
    * moving the fingerprint; a long-lived maintenance stream compares it
    * per batch and re-reads the centroids instead of assigning vectors
    * with stale geometry. */
  def centroidStamp(path: String): Long = {
    val dir = java.nio.file.Paths.get(path, "centroids")
    if (!java.nio.file.Files.isDirectory(dir)) return Long.MinValue
    val s = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      // FNV-1a over the SORTED (relative path, mtime, size) tuples — a
      // position-sensitive hash, unlike the old XOR fold, where two files
      // with equal per-file stamps cancelled to 0 and a same-size rewrite
      // within mtime granularity kept the fingerprint unchanged (a
      // retrained index would then be maintained with stale geometry)
      val tuples = s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => s"${dir.relativize(p)}|" +
          s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}|" +
          s"${java.nio.file.Files.size(p)}")
        .toSeq.sorted
      var h = 0xcbf29ce484222325L
      tuples.foreach(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L })
      h
    } finally s.close()
  }

  /** Maintained-through base txn marker (`<index>/maint_txn`) — the
    * streaming maintenance sink's range bookkeeping
    * ([[graft.streaming.Streams.indexMaintSink]]): with it, an EMPTY
    * micro-batch (a segment-less TRUNCATE advanced the base's clock) still
    * advances the index. Written AFTER each fold; a crash in between only
    * replays the fold, which is per-id absolute and converges. */
  def readMaintTxn(path: String): Option[Long] = {
    val f = java.nio.file.Paths.get(path, "maint_txn")
    if (!java.nio.file.Files.exists(f)) None
    else scala.util.Try(new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong).toOption
  }

  def writeMaintTxn(path: String, txn: Long): Unit = {
    val f = java.nio.file.Paths.get(path, "maint_txn")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f,
      String.valueOf(txn).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** INDEX MAINTENANCE under DML — fold an upsert/delete delta into a
    * [[writeIndex]] layout WITHOUT a rebuild, rewriting ONLY the buckets
    * the delta touches. Centroids stay fixed: they are the index's
    * geometry (assignment function), so maintenance preserves search
    * semantics exactly; re-training after heavy drift is a rebuild, not
    * maintenance.
    *
    * Semantics: `upserts` rows replace any previous version of their id
    * (including a MOVE to a different bucket when the vector changed);
    * `deletes` ids leave the index; an id in BOTH is an upsert (the
    * delete retires the old version, the upsert lands the new one — the
    * MVCC newest-wins reading of one batch). A bucket emptied entirely
    * disappears.
    *
    * Cost shape at 100 TB: one O(delta) assignment; one column-pruned scan
    * of the corpus's id column for the old-bucket lookup of touched ids
    * (parquet reads only the id bytes — never the vectors — of
    * un-probed buckets); then a read+write of the touched buckets' rows
    * only. The rewrite lands in a temp sibling and swaps per-bucket
    * directories (the source buckets are being read by the same plan, so
    * an in-place overwrite is illegal). Single-writer contract, like
    * every fixture layout. */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, upserts: DataFrame, deletes: DataFrame,
      knownCentroids: Option[Seq[Seq[Double]]] = None): Unit = {
    graft.functions.VectorOps.register(spark)
    val vecCol = upserts.columns.find(_ != idCol).getOrElse(idCol)
    // centroids are FIXED for the index's lifetime (they are its geometry),
    // so a steady maintenance driver (indexMaintSink) reads them once and
    // passes them in — one fewer read+collect per micro-batch
    val centroids = knownCentroids.getOrElse(
      readCentroids(spark, path).map(_.toSeq).toSeq)
    // DRIFT METRIC: mean assigned-centroid distance of this batch's
    // upserts, OBSERVED during the layout's own actions (zero extra Spark
    // jobs, zero extra persists — the observation node rides whichever
    // evaluation of the assignment the rewrite runs first) and appended
    // to the index's stats log driver-side. A rising maintain-vs-train
    // ratio says the fixed centroids no longer describe incoming data:
    // recall will sag and a re-train + writeIndex rebuild is due
    // (indexStats / CALL system.index_stats expose it; DriftProbe
    // measures the correlation with actual recall).
    val obs = new org.apache.spark.sql.Observation()
    val newAssign = assignWithDist(
      upserts.select(col(idCol), normalized(col(vecCol)).as("v")), "v", centroids)
      .observe(obs, count(lit(1)).as("n"), avg(col("_adist")).as("m"))
    val touched = upserts.select(col(idCol))
      .unionByName(deletes.select(col(idCol))).distinct()
    upsertBucketLayout(spark, s"$path/corpus", idCol,
      newAssign.select(col(idCol), col("v"), col("bucket")), touched)
    IndexStats.record(path, phase = "maintain", obs)
    // close the advisory loop: the log alone only OBSERVES drift — warn
    // loudly (driver log) the moment the ratio crosses the threshold, so
    // an operator sees the re-train signal without polling index_stats
    driftAdvisory(path).foreach(logDriftAdvisory)
  }

  /** The advisory's log sink (shared with [[PqIndex.maintainIvfPq]]). */
  private[operators] def logDriftAdvisory(msg: String): Unit = logWarning(msg)

  /** The index's drift-stats log: (seq, phase, n, mean_sqdist) rows —
    * `train` = the rebuild baseline, `maintain` = one row per maintenance
    * fold — plus each row's drift ratio vs the baseline (NaN before any
    * baseline exists). Driver-side file read; no jobs. */
  def indexStats(path: String): Seq[IndexStats.Row] = IndexStats.read(path)

  /** Latest drift ratio: newest recorded mean / baseline mean (the first
    * row with data). None until two usable rows exist. A ratio well above
    * 1 (DriftProbe measures ≈2× at the recall cliff on the synthetic
    * corpus) is the re-train signal. */
  def driftRatio(path: String): Option[Double] = {
    val rows = IndexStats.read(path)
    for {
      base <- rows.headOption.map(_.meanSqdist)
      last <- rows.lastOption.map(_.meanSqdist)
      if rows.size >= 2 && base > 0
    } yield last / base
  }

  /** Advisory threshold for [[driftAdvisory]] (`graft.index.drift.warn`
    * system property, default 4× — comfortably above the ~1 in-distribution
    * noise band DriftProbe measured, well below the ~71× of a hard shift). */
  def driftWarnThreshold: Double =
    sys.props.get("graft.index.drift.warn").map(_.toDouble).getOrElse(4.0)

  /** The RE-TRAIN ADVISORY: Some(message) when the latest drift ratio
    * crossed [[driftWarnThreshold]] — incoming vectors no longer match the
    * trained centroids, recall is degrading, and a re-train + rebuild
    * ([[retrain]] / `CALL system.retrain_index`) is due. [[maintainIndex]]
    * logs it after every fold, closing the loop the stats log only
    * observed before. */
  def driftAdvisory(path: String): Option[String] = {
    val t = driftWarnThreshold
    driftRatio(path).filter(_ >= t).map(r =>
      f"graft ANN index at $path: drift ratio $r%.2f >= $t%.2f — incoming " +
        "vectors no longer match the trained centroids and recall is " +
        "degrading; re-train and rebuild (IvfIndex.retrain / " +
        "CALL system.retrain_index)")
  }

  /** Re-train + rebuild — the drift advisory's remedy: fresh spherical
    * k-means centroids over the index's CURRENT corpus (same k unless
    * overridden), then a full [[writeIndex]] rebuild under the new
    * geometry. The corpus is STAGED to a temp sibling first because the
    * rebuild overwrites the very layout it reads (one extra corpus pass —
    * a rebuild is O(corpus) regardless; no driver materialization). The
    * stats log resets with a fresh baseline (writeIndex), so the drift
    * ratio returns to ~1; the `maint_txn` marker is untouched — the
    * rebuild re-buckets exactly the rows the index already held. */
  def retrain(spark: org.apache.spark.sql.SparkSession, path: String,
      iters: Int = 5, kOverride: Option[Int] = None): Unit = {
    val corpusPath = s"$path/corpus"
    val k = kOverride.getOrElse(readCentroids(spark, path).length)
    val tmp = java.nio.file.Paths.get(s"$path/corpus.retrain.tmp")
    graft.core.Storage.deleteRecursively(tmp)
    val idCol = spark.read.parquet(corpusPath).columns
      .find(c => c != "v" && c != "bucket").getOrElse(
        throw new IllegalStateException(s"no id column in index corpus at $corpusPath"))
    // resolved through pending maintenance generations — the retrain must
    // see the corpus as maintained, not the stale base
    readLayout(spark, corpusPath, idCol)
      .select(col(idCol), col("v")).write.parquet(tmp.toString)
    try {
      val staged = spark.read.parquet(tmp.toString)
      val centroids = train(staged, idCol, "v", k, iters).map(_.toSeq).toSeq
      writeIndex(staged, idCol, "v", centroids, path)
    } finally graft.core.Storage.deleteRecursively(tmp)
  }

  // ---- LSM-style bucket-layout maintenance --------------------------------
  //
  // Round 14's maintenance rewrote every TOUCHED BUCKET whole: write
  // amplification per batch = the full bytes of each touched bucket — at
  // 100 TB with k=4096 (~25 GB/bucket) a one-id delta rewrote 25 GB. The
  // engine already owns the right algebra for exactly this (its tables:
  // immutable segments + tombstones + newest-wins + compaction), applied
  // here to the index layout:
  //   - each maintenance fold APPENDS one delta generation
  //     `<layout>_deltas/d<gen%08d>/bucket=N/…` — the delta's new rows
  //     (`_del = false`) into their NEW buckets plus an id-tombstone row
  //     (`_del = true`, null payload) into every bucket the id LEFT — so
  //     bytes written ∝ delta, never ∝ bucket;
  //   - reads resolve newest-generation-wins PER (bucket, id)
  //     ([[readLayout]]): pruning to probed buckets BEFORE resolution is
  //     sound because a moved/deleted id always left a tombstone behind in
  //     its old bucket;
  //   - once pending generations reach `graft.index.delta.maxpending`
  //     (default 8), [[compactLayout]] folds base+deltas into a fresh
  //     base — the whole-corpus rewrite now amortized over N folds.
  // Crash safety: a generation is written to `d<gen>.tmp` and atomically
  // renamed ([[deltaGens]] ignores `.tmp`); re-applying deltas over an
  // already-compacted base is idempotent (tombstoned ids are absent,
  // moved/updated ids carry identical payloads), so compaction deletes
  // the delta dirs LAST and a crash anywhere replays harmlessly.

  private val DeltaGen = """^d([0-9a-f]{8})$""".r

  private def deltasDir(layoutPath: String): java.nio.file.Path =
    java.nio.file.Paths.get(layoutPath + "_deltas")

  /** Committed delta generation directories, generation order. */
  private[operators] def deltaGens(layoutPath: String): Seq[java.nio.file.Path] = {
    val dir = deltasDir(layoutPath)
    if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.toSeq
        .filter(p => DeltaGen.matches(p.getFileName.toString))
        .sortBy(_.getFileName.toString)
      finally s.close()
    }
  }

  /** Resolved read of a maintained bucket layout: base ∪ pending delta
    * generations, newest generation wins per (bucket, id), tombstones
    * drop. `buckets` prunes partitions BEFORE resolution. With NO pending
    * deltas (a fresh [[writeIndex]], or right after [[compactLayout]])
    * this is a plain partition-pruned parquet read — zero extra shuffles;
    * with pending deltas the resolve is one HashAggregate over the PROBED
    * buckets' rows only.
    *
    * Driver cost is flat in the number of pending generations: the base
    * is read once (its one schema-inference job), and every generation is
    * read with the schema GIVEN ([[readGens]]), so a generation adds a
    * directory listing and a union leg but no Spark job. */
  def readLayout(spark: org.apache.spark.sql.SparkSession, layoutPath: String,
      idCol: String, buckets: Option[Seq[Int]] = None): DataFrame = {
    def prune(df: DataFrame): DataFrame =
      buckets.fold(df)(bs => df.where(col("bucket").isin(bs: _*)))
    val gens = deltaGens(layoutPath)
    if (gens.isEmpty) prune(spark.read.parquet(layoutPath))
    else {
      // a parquet-less base (an interrupted compaction removed every
      // emptied live bucket before clearing the deltas) contributes an
      // empty frame with the delta-derived schema instead of crashing
      // parquet schema inference on the bare root
      val base = Option.when(hasParquet(java.nio.file.Paths.get(layoutPath)))(
        spark.read.parquet(layoutPath))
      val deltas = prune(readGens(spark, base, gens))
      val all = base.fold(deltas.limit(0))(b => prune(b)
          .withColumn("_gen", lit(0L)).withColumn("_del", lit(false)))
        .unionByName(deltas)
      val outCols = deltas.columns.filterNot(c => c == "_gen" || c == "_del").toSeq
      val dataCols = outCols.filterNot(c => c == idCol || c == "bucket")
      val aggs = dataCols.map(c => max_by(col(c), col("_gen")).as(c)) :+
        max_by(col("_del"), col("_gen")).as("_del")
      all.groupBy(col("bucket"), col(idCol))
        .agg(aggs.head, aggs.tail: _*)
        .where(!col("_del"))
        .select(outCols.map(col): _*)
    }
  }

  /** The pending generations as ONE frame, every generation read with a
    * GIVEN schema (no schema-inference job per generation): the base's
    * columns plus `_del` (tombstone) and `_gen` (generation number),
    * `bucket` the partition column — exactly what [[upsertBucketLayout]]
    * writes, which casts every generation to the base's types. Without a
    * base (parquet-less, see [[readLayout]]) the schema is inferred from
    * the first generation — one job, still flat in the generation count.
    * Each generation stays its own read root: one `parquet(...)` call over
    * several `d<gen>/bucket=N` trees fails partition discovery with
    * CONFLICTING_DIRECTORY_STRUCTURES. The union collapses into one scan
    * stage and a bucket filter pushes into every leg. */
  private def readGens(spark: org.apache.spark.sql.SparkSession,
      base: Option[DataFrame], gens: Seq[java.nio.file.Path]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = base.fold(spark.read.parquet(gens.head.toString).schema)(b =>
      StructType(b.schema.fields.filterNot(_.name == "bucket") ++ Seq(
        StructField("_del", BooleanType), StructField("_gen", LongType),
        b.schema("bucket"))))
    gens.map(g => spark.read.schema(schema).parquet(g.toString)).reduce(_ unionByName _)
  }

  /** The resolved live (id, bucket) pairs of the TOUCHED ids only — the
    * maintenance fold's old-bucket lookup. The touched semi-join sits
    * BELOW the newest-wins resolve (per-id resolution only needs that
    * id's own rows), so the base contributes a column-pruned id scan
    * streamed through one broadcast join — the resolve aggregate then
    * shuffles O(touched ids), never the corpus. Resolving first and
    * joining after would hash-shuffle every corpus id per fold — at
    * 100 TB with k=4096 that is a full-corpus exchange per micro-batch.
    * `base` is the caller's already-read base layout. */
  private def readLayoutIds(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String, base: DataFrame, idCol: String,
      touched: DataFrame): DataFrame = {
    def restrict(df: DataFrame): DataFrame =
      df.join(broadcast(touched), Seq(idCol), "left_semi")
    val baseIds = restrict(base.select(col(idCol), col("bucket")))
      .select(col(idCol), col("bucket"), lit(0L).as("_gen"), lit(false).as("_del"))
    val gens = deltaGens(layoutPath)
    val all = if (gens.isEmpty) baseIds else baseIds.unionByName(
      restrict(readGens(spark, Some(base), gens)
        .select(col(idCol), col("bucket"), col("_gen"), col("_del"))))
    all.groupBy(col("bucket"), col(idCol))
      .agg(max_by(col("_del"), col("_gen")).as("_del"))
      .where(!col("_del"))
      .select(col(idCol), col("bucket"))
  }

  /** `df` hash-partitioned on `bucket` when `small` (the FastPlan size
    * gate), so a `partitionBy("bucket")` write lands ONE file per bucket
    * instead of one per task per bucket: a tiny fold otherwise scatters
    * its few rows over tasks × buckets one-row files, and every later read
    * pays a task and a footer per file. At scale (`small` false) the write
    * keeps its parallelism. */
  private[operators] def oneFilePerBucket(df: DataFrame, small: Boolean): DataFrame =
    if (small) df.repartition(col("bucket")) else df

  /** Any `.parquet` data file under `p`? (schema inference fails on a
    * data-file-less root, so every base read checks this first). */
  private def hasParquet(p: java.nio.file.Path): Boolean =
    java.nio.file.Files.isDirectory(p) && {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.exists(_.toString.endsWith(".parquet"))
      } finally s.close()
    }

  /** No data file anywhere under the layout OR its pending generations —
    * the nothing-to-search state (a fresh bootstrap index, or an index
    * whose whole corpus was retired and compacted away). */
  private[operators] def layoutIsEmpty(layoutPath: String): Boolean =
    !hasParquet(java.nio.file.Paths.get(layoutPath)) &&
      deltaGens(layoutPath).forall(p => !hasParquet(p))

  /** The (qid, id, score, rn) empty frame a candidate-less search returns
    * (id typed like the query's id column). */
  private[operators] def emptySearchResult(
      spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val idType = queries.schema(idCol).dataType
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("qid", idType), StructField(idCol, idType),
        StructField("score", DoubleType), StructField("rn", LongType))))
  }

  /** Pending generations allowed before [[compactLayout]] auto-triggers. */
  private[operators] def maxPendingGens: Int =
    sys.props.get("graft.index.delta.maxpending").map(_.toInt).getOrElse(8)

  /** Fold base + pending delta generations into a fresh base layout (the
    * amortized whole-corpus rewrite): resolved rows land in a temp
    * sibling, bucket directories swap atomically one by one, buckets
    * emptied by tombstones are removed, and the delta dirs are deleted
    * LAST (re-application over the compacted base is idempotent — crash
    * anywhere is harmless). */
  def compactLayout(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String, idCol: String): Unit = {
    val tmp = java.nio.file.Paths.get(s"$layoutPath.compact.tmp")
    val freshMarker = tmp.resolve("_FRESH")
    // a COMPLETE tmp from an interrupted prior run (its _FRESH manifest
    // was the write's last step) holds the only full copy of the buckets
    // not yet swapped in — FINISH its swap instead of deleting it (the
    // old delete-first recovery lost any bucket whose live dir was
    // removed before the crash). An incomplete tmp (no _FRESH) is
    // discarded: nothing was swapped yet, so base + deltas are intact.
    if (java.nio.file.Files.exists(freshMarker)) { finishSwap(layoutPath); return }
    graft.core.Storage.deleteRecursively(tmp)
    if (deltaGens(layoutPath).isEmpty) return
    val small = graft.core.FastPlan.isSmallDir(java.nio.file.Paths.get(layoutPath)) &&
      graft.core.FastPlan.isSmallDir(deltasDir(layoutPath))
    oneFilePerBucket(readLayout(spark, layoutPath, idCol), small)
      .write.partitionBy("bucket").parquet(tmp.toString)
    // completion point: record the fold's bucket set, then swap. Every
    // step after this line is idempotent and replayed by finishSwap on
    // the next maintenance call if we crash anywhere inside it.
    val names = bucketDirs(tmp).map(_.getFileName.toString)
    val tmpList = tmp.resolve("_FRESH.tmp")
    java.nio.file.Files.write(tmpList,
      names.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmpList, freshMarker)
    finishSwap(layoutPath)
  }

  private def bucketDirs(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.isDirectory(p)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("bucket="))
      finally s.close()
    }

  /** The idempotent tail of [[compactLayout]]: swap each fresh bucket from
    * the completed `.compact.tmp` into the live layout (skipping buckets a
    * prior attempt already moved), remove live buckets the fold emptied,
    * then clear the delta generations and the tmp — in that order, so a
    * crash at ANY point leaves a state this method finishes from. */
  private def finishSwap(layoutPath: String): Unit = {
    val tmp = java.nio.file.Paths.get(s"$layoutPath.compact.tmp")
    val live = java.nio.file.Paths.get(layoutPath)
    val fresh = new String(
      java.nio.file.Files.readAllBytes(tmp.resolve("_FRESH")),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).toSet
    fresh.foreach { name =>
      val src = tmp.resolve(name)
      if (java.nio.file.Files.isDirectory(src)) {
        val target = live.resolve(name)
        graft.core.Storage.deleteRecursively(target)
        java.nio.file.Files.move(src, target)
      } // else: already swapped by a prior attempt
    }
    // buckets absent from the fold were emptied entirely by tombstones
    bucketDirs(live).filterNot(b => fresh.contains(b.getFileName.toString))
      .foreach(graft.core.Storage.deleteRecursively)
    graft.core.Storage.deleteRecursively(deltasDir(layoutPath))
    graft.core.Storage.deleteRecursively(tmp)
  }

  /** The shared O(delta) maintenance fold under a `bucket=N/` parquet
    * layout ([[maintainIndex]] for normalized vectors,
    * [[PqIndex.maintainIvfPq]] for PQ codes): append ONE delta generation
    * holding the `newRows` versions (which carry a `bucket` column) plus
    * tombstones into every bucket a `touched` id leaves — bytes written
    * ∝ delta; reads resolve through [[readLayout]]. Auto-compacts at
    * [[maxPendingGens]] pending generations. Bootstraps an EMPTY layout:
    * the first delta becomes the corpus.
    *
    * Cost per call is flat in the number of pending generations: one
    * schema-inference job for the base (read once, reused for the
    * generation schema and the tombstone lookup), none per generation,
    * one write job (plus its broadcasts) — and, under the FastPlan size
    * gate, one data file per touched bucket. A call that trips the
    * threshold adds the compaction's base read and rewrite. */
  private[operators] def upsertBucketLayout(
      spark: org.apache.spark.sql.SparkSession, layoutPath: String,
      idCol: String, newRowsIn: DataFrame, touchedIn: DataFrame): Unit = {
    // an interrupted compaction's swap is finished BEFORE a generation is
    // appended: finishing clears every pending generation, which would
    // take one written after the compaction's fold with it
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$layoutPath.compact.tmp", "_FRESH")))
      finishSwap(layoutPath)
    if (!hasParquet(java.nio.file.Paths.get(layoutPath))) {
      newRowsIn.write.mode("overwrite").partitionBy("bucket").parquet(layoutPath)
      graft.core.Storage.deleteRecursively(deltasDir(layoutPath))
      return
    }
    // TINY-FOLD fast planning (graft.core.FastPlan): every fold plans with
    // a fresh generation-number literal, so each micro-batch recompiles
    // its codegen fragments — fixed cost that dominates small folds. Gated
    // on BOTH the delta and the corpus estimate (the tombstone lookup and
    // a triggered compaction scan the corpus).
    val small = graft.core.FastPlan.isSmall(newRowsIn) &&
      graft.core.FastPlan.isSmallDir(java.nio.file.Paths.get(layoutPath))
    graft.core.FastPlan.scoped(spark, small) {
    val gen = deltaGens(layoutPath).lastOption
      .map(_.getFileName.toString match {
        case DeltaGen(g) => java.lang.Long.parseLong(g, 16) + 1L
        case _           => 1L // unreachable: deltaGens filters by the regex
      })
      .getOrElse(1L)
    // the base, read ONCE: its schema types the generation (and so every
    // later generation read, see readGens) and it feeds the tombstone
    // lookup
    val base = spark.read.parquet(layoutPath)
    val fields = base.schema.fields.filterNot(_.name == "bucket").toSeq
    // both legs cast to the base's types: generations are read with the
    // base-derived schema, whatever id type the caller's frame carries
    def typed(df: DataFrame): DataFrame =
      df.select(fields.map(f => col(f.name).cast(f.dataType).as(f.name)) :+ col("bucket"): _*)
    // tombstones: every bucket a touched id currently LIVES in, minus the
    // bucket its new version lands in (a pure delete has no new version);
    // payload columns are null — the id + bucket + generation is the fact
    val newBuckets = newRowsIn.select(col(idCol), col("bucket").as("_nb"))
    val tomb = readLayoutIds(spark, layoutPath, base, idCol, touchedIn)
      .join(broadcast(newBuckets), Seq(idCol), "left")
      .where(col("_nb").isNull || col("_nb") =!= col("bucket"))
      .select(fields.map(f =>
        if (f.name == idCol) col(idCol) else lit(null).as(f.name)) :+
        col("bucket"): _*)
    val generation = typed(newRowsIn).withColumn("_del", lit(false))
      .unionByName(typed(tomb).withColumn("_del", lit(true)))
      .withColumn("_gen", lit(gen))
    val tmpDir = deltasDir(layoutPath).resolve(f"d$gen%08x.tmp")
    val finalDir = deltasDir(layoutPath).resolve(f"d$gen%08x")
    graft.core.Storage.deleteRecursively(tmpDir)
    graft.core.Storage.deleteRecursively(finalDir)
    oneFilePerBucket(generation, small).write.partitionBy("bucket").parquet(tmpDir.toString)
    // an ALL-SILENT fold (empty upserts and deletes — e.g. a micro-batch
    // whose delta netted to same-value rewrites) produces a data-file-less
    // directory; committing it would break the parquet-less-base read,
    // which infers the generation schema from the first generation
    // (readGens). Checked driver-side on the just-written tree — no extra
    // Spark job.
    if (!hasParquet(tmpDir)) graft.core.Storage.deleteRecursively(tmpDir)
    else {
      java.nio.file.Files.move(tmpDir, finalDir)
      if (deltaGens(layoutPath).size >= maxPendingGens)
        compactLayout(spark, layoutPath, idCol)
    }
    }
  }

  /** Top-k cosine search against a [[writeIndex]] layout. The probed
    * bucket ids are collected to the driver (≤ queries×nprobe ints — the
    * query side is small by contract, it is broadcast below) and pushed
    * into the corpus scan as a partition filter: only the probed
    * `bucket=N/` directories are read (IvfSpec asserts the pruning).
    *
    * Jobs per call do not depend on the pending generations: the probe
    * collect, the base's schema inference ([[readLayout]] reads every
    * generation with a given schema), then the caller's action over one
    * plan whatever the backlog. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, nprobe: Int, k: Int,
      knownCentroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorOps.register(spark)
    // an EMPTY layout (bootstrap writeIndex, or a truncate-driven rebuild
    // before the first re-seed fold) has no candidates — and no data files
    // to infer a schema from: answer the empty result instead of crashing
    if (layoutIsEmpty(s"$path/corpus")) return emptySearchResult(spark, queries, idCol)
    // centroids are fixed index geometry ([[maintainIndex]] scaladoc): a
    // caller that just trained or already read them passes them in and
    // skips the read+collect (parquet round-trips doubles bit-exactly, so
    // the two paths see identical values)
    val centroids = knownCentroids.getOrElse(
      readCentroids(spark, path).map(_.toSeq).toSeq)
    val q = probes(
      queries.select(col(idCol).as("qid"), normalized(col(vecCol)).as("qv")),
      "qv", centroids, nprobe)
    // queries are small by contract (they are broadcast below): the probe
    // collect is a tiny plan — skip codegen for it
    val probed = graft.core.FastPlan.scoped(spark, small = true)(
      q.select(col("bucket")).distinct().collect()).map(_.getInt(0)).toSeq
    // resolved read: partition-pruned to the probed buckets BEFORE the
    // (pending-deltas-only) newest-wins resolve — see readLayout
    val cand = readLayout(spark, s"$path/corpus", idCol, Some(probed))
    broadcast(q).join(cand, Seq("bucket"))
      .where(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), dot(col("qv"), col("v")).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col(idCol))).cast("long"))
      .where(col("rn") <= k)
  }

  /** Top-k cosine neighbors per query via bucket-probe join: `queries`
    * (small, broadcast) probe their nprobe buckets of `corpus`. Returns
    * (qid, vec_id, score, rn). Inputs carry raw embedding columns; ids must
    * not collide with a query matching itself (filtered). */
  def searchTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    reg(corpus)
    val cand = assign(
      corpus.select(col(idCol), normalized(col(vecCol)).as("v")), "v", centroids)
    val q = probes(
      queries.select(col(idCol).as("qid"), normalized(col(vecCol)).as("qv")),
      "qv", centroids, nprobe)
    broadcast(q).join(cand, Seq("bucket"))
      .where(col(idCol) =!= col("qid"))
      // normalized inputs: the dot product IS the cosine
      .select(col("qid"), col(idCol), dot(col("qv"), col("v")).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col(idCol))).cast("long"))
      .where(col("rn") <= k)
  }
}
