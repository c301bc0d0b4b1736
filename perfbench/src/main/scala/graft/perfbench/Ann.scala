package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.IvfIndex

/** The seeded inputs of `ann` and the corpus they produce: vectors drawn
  * around latent cluster centers, kept as unit vectors (the index stores
  * normalized vectors), with brute-force neighbours for recall. Plain
  * Scala with no Spark, so it can be tested alone. */
final class VectorModel(seed: Long) {
  import Ann._
  private val rng = new SplittableRandom(seed ^ 0xA77L)
  private var nextId = 0L
  private val unit = mutable.LongMap.empty[Array[Double]]

  private def gaussian(): Array[Double] = Array.fill(Dim) {
    // Box-Muller keeps the draw a pure function of the seeded stream
    val u = 1.0 - rng.nextDouble(); val v = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }
  private def normalize(a: Array[Double]): Array[Double] = {
    val n = math.sqrt(a.map(x => x * x).sum)
    a.map(_ / n)
  }
  private val centers = Array.fill(Clusters)(normalize(gaussian()))
  private def embedding(): Array[Double] = {
    val c = centers(rng.nextInt(Clusters))
    c.zip(gaussian()).map { case (x, e) => x + Noise * e }
  }

  def size: Int = unit.size
  /** Live ids in ascending order. */
  def vectorIds: Seq[Long] = unit.keys.toSeq.sorted
  def vector(id: Long): Array[Double] = unit(id)
  def contains(id: Long): Boolean = unit.contains(id)

  /** The initial corpus, ids 0 until Corpus. */
  def corpus(): Seq[(Long, Array[Double])] = {
    val c = (nextId until nextId + Corpus).map(id => id -> embedding())
    nextId += Corpus
    c
  }

  /** One upsert batch: `Rewrites` re-embedded existing ids and new ids. */
  def upserts(): Seq[(Long, Array[Double])] = {
    val ids = mutable.LinkedHashSet.empty[Long]
    while (ids.size < Rewrites) ids += rng.nextLong(nextId)
    val fresh = nextId until nextId + (Upserts - Rewrites)
    nextId += fresh.size
    (ids.toSeq ++ fresh).map(id => id -> embedding())
  }

  def apply(rows: Seq[(Long, Array[Double])]): Unit =
    rows.foreach { case (id, v) => unit(id) = normalize(v) }

  /** `Queries` distinct live ids to search with. */
  def queries(): Seq[Long] = {
    val q = mutable.LinkedHashSet.empty[Long]
    while (q.size < Queries) q += rng.nextLong(nextId)
    q.toSeq
  }

  /** The exact top-K neighbours of `q` by cosine, excluding itself. */
  def neighbours(q: Long): Set[Long] = {
    val qv = unit(q)
    unit.iterator.filter(_._1 != q).map { case (id, v) => (dot(qv, v), id) }
      .toSeq.sortBy { case (s, id) => (-s, id) }.take(K).map(_._2).toSet
  }
}

/** `ann`: setup trains an IVF index over seeded clustered embeddings and
  * writes its bucket layout. Each request upserts two batches of vectors
  * through two `maintainIndex` calls (re-embedded ids and new ids) and then
  * answers one `searchIndex` batch of existing vectors. The index layer
  * does nearly all of the work; no graft table is involved.
  *
  * The index keeps graft's default compaction threshold: each maintenance
  * call appends one delta generation, searches resolve the base plus the
  * pending deltas, and the call that brings the pending count to 8
  * compacts. A cycle is 4 requests, so any whole cycle holds one
  * compaction and searches at pending depths 0, 2, 4 and 6. Two calls per
  * request rather than one keep the cycle, which every run measures whole,
  * short enough for a comparison's runs to fit their time limit. */
final class Ann(ctx: Ctx) extends Workload(ctx) {
  import Ann._
  private var model: VectorModel = _
  private var centroids: Seq[Seq[Double]] = _
  private var path: String = _
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val pending = mutable.ArrayBuffer.empty[Double]

  /** Any `cycle` consecutive requests hold one compaction and every even
    * pending depth, so the warm-up need not end on a compaction. The
    * set-ups do not call `maintainIndex` or `searchIndex`, so one request
    * warms them. */
  val warmupRequests = 1
  val cycle = Cycle

  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  def setup(dir: Path): Unit = {
    model = new VectorModel(ctx.args.seed)
    recalls.clear(); pending.clear()
    val corpus = model.corpus()
    model(corpus)
    val embPath = dir.resolve("embeddings").toString
    frame(corpus).write.parquet(embPath)
    val emb = spark.read.parquet(embPath)
    path = dir.resolve("index").toString
    centroids = span("index.train")(
      IvfIndex.train(emb, "vec_id", "embedding", Buckets, Iters).map(_.toSeq).toSeq)
    span("index.write")(IvfIndex.writeIndex(emb, "vec_id", "embedding", centroids, path))
  }

  private def search(qids: Seq[Long]): Seq[(Long, Long, Double)] =
    span("index.search")(IvfIndex.searchIndex(spark, path,
      frame(qids.map(id => id -> model.vector(id))), "vec_id", "embedding", NProbe, K,
      Some(centroids)).select("qid", "vec_id", "score").collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  def request(): (Long, Long) = {
    val ns1 = (0 until MaintainCalls).map { _ =>
      val ups = model.upserts()
      val upDf = frame(ups)
      val (_, ns) = timed("maintain")(span("index.maintain")(IvfIndex.maintainIndex(
        spark, path, "vec_id", upDf, upDf.select(col("vec_id")).limit(0), Some(centroids))))
      model(ups)
      ns
    }.sum
    val qids = model.queries()
    val (res, ns2) = timed("search")(search(qids))
    if (measuring) pending += pendingDeltas
    checkSearch(qids, res)
    attr("user_bytes", (MaintainCalls * Upserts * RowBytes).toDouble)
    (ns1 + ns2, (MaintainCalls * Upserts + Queries).toLong)
  }

  /** At most K neighbours per query, never the query itself, every id live,
    * every score the cosine the model computes; recall@K against brute force. */
  private def checkSearch(qids: Seq[Long], res: Seq[(Long, Long, Double)]): Unit = {
    val byQ = res.groupBy(_._1)
    Check(byQ.keySet.subsetOf(qids.toSet), "search answered a query it was not asked")
    val rec = qids.map { q =>
      val got = byQ.getOrElse(q, Nil)
      Check(got.size <= K, s"query $q: ${got.size} results > k=$K")
      Check(got.forall(_._2 != q), s"query $q matched itself")
      got.foreach { case (_, id, score) =>
        Check(model.contains(id), s"query $q returned unknown id $id")
        val want = dot(model.vector(q), model.vector(id)) +
          (if (ctx.args.corruptModel) 1e-3 else 0.0)
        Check(math.abs(want - score) < 1e-9, s"query $q: score of $id is $score, model $want")
      }
      val truth = model.neighbours(q)
      got.count(r => truth.contains(r._2)).toDouble / K
    }
    val recall = rec.sum / rec.size
    if (measuring) recalls += recall
    Check(recall >= RecallFloor,
      f"recall@$K $recall%.3f below the floor $RecallFloor")
  }

  private def pendingDeltas: Double = {
    val d = Paths.get(s"$path/corpus_deltas")
    if (!Files.isDirectory(d)) 0.0
    else {
      val s = Files.list(d)
      try s.filter(p => !p.getFileName.toString.endsWith(".tmp")).count().toDouble
      finally s.close()
    }
  }

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def spaceAmp(): Double =
    (bytesUnder(Paths.get(s"$path/corpus")) + bytesUnder(Paths.get(s"$path/corpus_deltas")))
      .toDouble / (model.size * RowBytes)

  override def layerSamples: Map[String, Double] =
    (if (pending.isEmpty) Map.empty[String, Double]
     else Map("index.pending_deltas" -> Stats.median(pending.toSeq))) ++
      (if (recalls.isEmpty) Map.empty[String, Double]
       else Map("index.recall_at_10" -> recalls.sum / recalls.size))

  def finalChecks(): Int = {
    val qids = model.queries()
    checkSearch(qids, search(qids))
    1
  }

  def probeRead(): Unit = {
    val qids = model.vectorIds.take(Queries)
    checkSearch(qids, search(qids))
  }
}

object Ann {
  val Corpus = 4000L
  val Dim = 32
  val Clusters = 64
  /** Per-dimension spread around a cluster center. At 0.12, IVF at NProbe 2
    * left about one 16-query batch in 250 under RecallFloor (a query on a
    * bucket border loses its neighbours); at 0.07 the simulated lowest
    * batch in 1.2M was 0.84 and the mean recall is about 0.99. */
  val Noise = 0.07
  val Buckets = 16
  val Iters = 3
  val Upserts = 50
  val Rewrites = 30
  val Queries = 16
  val NProbe = 2
  val K = 10
  /** Lowest acceptable mean recall@K of one search batch at NProbe probes. */
  val RecallFloor = 0.8
  /** `IvfIndex`'s default compaction threshold (`graft.index.delta.maxpending`):
    * the 8th pending delta generation triggers a compaction. */
  val CompactEvery = 8
  /** `maintainIndex` calls per request. */
  val MaintainCalls = 2
  /** Requests per compaction. */
  val Cycle: Int = CompactEvery / MaintainCalls
  /** Logical bytes of one vector: the id and Dim doubles. */
  val RowBytes: Long = 8L + 8L * Dim

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
