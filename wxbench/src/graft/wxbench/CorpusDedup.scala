package graft.wxbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Dedup, FuzzyJoin, Similarity}

/** corpus_dedup: the LLM-data toolkit stages in a fixed order over a seeded
  * documents/embeddings corpus replicated K-fold with the ScaleStress
  * perturbation. Each op is one stage over the K-fold parquet; the CC stage
  * clusters the pairs of the latest MinHash stage. Each copy of every
  * text-stage result must equal copy 0's with its ids offset, and the
  * MinHash and fuzzy-join results must hold the pairs the generator
  * planted; embedding pairs are re-verified against cosine computed here. */
final class CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val K = 2
  val Docs = 2000
  val Vecs = 1000
  val Stages = IndexedSeq("minhash", "cc", "spans", "fuzzy", "cosine")
  // 16 bands of 2 rows: a pair at Jaccard 0.8 escapes LSH with p ~ 1e-7,
  // so every copy finds the same pairs although its hashes differ
  private val Hashes = 32
  private val Bands = 16
  private val Jaccard = 0.8
  private val CosThreshold = 0.95
  /** Docs per copy in the traced run's direct lshCandidates/jaccardVerify
    * calls; that column-expression MinHash costs ~70 ms a doc on one core. */
  private val TraceSlice = 64
  private val pairsSchema = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))

  private var cp: Gen.Corpus = _
  private var docsK: DataFrame = _
  private var embK: DataFrame = _
  private var planesK: Seq[Seq[Float]] = Nil
  private var textBytes = 0L
  private var titleBytes = 0L
  private var lastPairs: Array[Row] = _

  def traceOps: Int = Stages.size

  override def enough(samples: Seq[Sample]): Boolean =
    Stages.forall(s => samples.exists(_.kind == s))

  def setup(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    cp = Gen.corpus(ctx.seed, Docs, Vecs)
    Gen.docsFrame(spark, cp, K).repartition(4 * ctx.cores).write.parquet(s"$dir/docs.parquet")
    Gen.embFrame(spark, cp, K).repartition(ctx.cores).write.parquet(s"$dir/emb.parquet")
    docsK = spark.read.parquet(s"$dir/docs.parquet")
    embK = spark.read.parquet(s"$dir/emb.parquet")
    planesK = Gen.planes(ctx.seed, Similarity.planeCountFor(Vecs.toLong * K))
    textBytes = K * cp.texts.map(t => t.getBytes("UTF-8").length.toLong + 4L).sum
    titleBytes = K * cp.titles.map(_.length + 3L).sum
    lastPairs = null
  }

  /** Every stage once, K-fold, over a small corpus of its own. */
  def warmUp(ctx: Ctx): Unit = {
    val warm = Gen.corpus(ctx.seed ^ 0x5eedL, 250, 100)
    val docs = Gen.docsFrame(ctx.spark, warm, K)
    cc(ctx, docs, pairsFrame(ctx, minhash(ctx, docs)))
    spans(ctx, docs)
    fuzzy(ctx, docs)
    Similarity.cosineNearDupPairs(Gen.embFrame(ctx.spark, warm, K), "embedding", "vec_id",
      Gen.planes(ctx.seed, 2), CosThreshold).collect()
  }

  private def pairsFrame(ctx: Ctx, rows: Array[Row]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      rows.map(r => Row(r.getLong(0), r.getLong(1))).toSeq, 1), pairsSchema)

  // ------------------------------------------------------------ the stages

  private def minhash(ctx: Ctx, docs: DataFrame): Array[Row] =
    ctx.action("collect", ctx.builder("Dedup.minhashNearDupsRelational", "minhash")(
      Dedup.minhashNearDupsRelational(docs, "doc_id", "text", Hashes, Bands, 3, Jaccard)))(_.collect())

  /** Traced run only, outside the op timers: LSH candidates and their
    * Jaccard verify as two separate calls, over the first [[TraceSlice]]
    * docs of every copy. */
  override def traceExtras(ctx: Ctx): Unit = {
    val slice = docsK.filter(col("doc_id") % Docs < TraceSlice)
    val cands = ctx.builder("Dedup.lshCandidates", "lsh")(
      Dedup.lshCandidates(slice, "doc_id", "text", Hashes, Bands, 3)).persist()
    val n = ctx.action("count", cands.agg(count(lit(1))))(_.collect().head.getLong(0))
    val verified = ctx.action("collect", ctx.builder("Dedup.jaccardVerify", "verify")(
      Dedup.jaccardVerify(cands, slice, "doc_id", "text", 3, Jaccard)))(_.collect())
    cands.unpersist(blocking = true)
    ctx.tr.add("operators.dedup.lsh_candidates", n)
    ctx.tr.add("operators.dedup.verified_pairs", verified.length)
  }

  private def cc(ctx: Ctx, docs: DataFrame, pairs: DataFrame): Array[Row] = {
    val labels = ctx.builder("Dedup.connectedComponents", "cc")(
      Dedup.connectedComponents(docs.select("doc_id"), "doc_id", pairs))
    val canon = ctx.builder("Dedup.canonicalPerCluster", "canonical")(
      Dedup.canonicalPerCluster(labels, docs.select("doc_id", "score"), "doc_id", "score"))
    ctx.action("collect", canon.select("cluster", "doc_id"))(_.collect())
  }

  private def spans(ctx: Ctx, docs: DataFrame): Array[Row] =
    ctx.action("collect", ctx.builder("Dedup.dupSpans", "spans")(
      Dedup.dupSpans(docs, "doc_id", "text", 3, 2)))(_.collect())

  private def fuzzy(ctx: Ctx, docs: DataFrame): Array[Row] =
    ctx.action("collect", ctx.builder("FuzzyJoin.editSelfJoin", "fuzzy")(
      FuzzyJoin.editSelfJoin(docs.select("doc_id", "title"), "doc_id", "title", 1, 2)))(_.collect())

  private def cosine(ctx: Ctx): Array[Row] =
    ctx.action("collect", ctx.builder("Similarity.cosineNearDupPairs", "cosine")(
      Similarity.cosineNearDupPairs(embK, "embedding", "vec_id", planesK, CosThreshold)))(_.collect())

  def run(ctx: Ctx, i: Int): Done = {
    def text(stage: String, rows: Array[Row], bytes: Long): Done =
      Done(stage, bytes, () => textHolds(stage, rows.map(_.toSeq).toSeq))
    Stages(i % Stages.size) match {
      case "minhash" =>
        lastPairs = minhash(ctx, docsK)
        text("minhash", lastPairs, textBytes)
      case "cc" =>
        require(lastPairs != null, "no MinHash pairs to cluster")
        text("cc", cc(ctx, docsK, pairsFrame(ctx, lastPairs)), textBytes)
      case "spans" => text("spans", spans(ctx, docsK), textBytes)
      case "fuzzy" => text("fuzzy", fuzzy(ctx, docsK), titleBytes)
      case _ =>
        val rows = cosine(ctx)
        Done("cosine", Vecs.toLong * K * 64 * 4, () => cosinesHold(rows))
    }
  }

  /** Positions of the document ids in each stage's rows. */
  private val idCols = Map("minhash" -> Seq(0, 1), "cc" -> Seq(0, 1), "spans" -> Seq(0),
    "fuzzy" -> Seq(0, 1))

  /** The pairs [[Gen.corpus]] plants in every copy: doc `d` with
    * `d % 3 == 1` is a near-copy of doc `d - 1` (Jaccard >= 0.9), title `d`
    * with `d % 5 == 4` is at most one edit from title `d - 1`. */
  private def planted(stage: String): Seq[(Long, Long)] = {
    val step = stage match { case "minhash" => Some((3, 1)); case "fuzzy" => Some((5, 4)); case _ => None }
    step.toSeq.flatMap { case (m, r) =>
      for (c <- 0 until K; d <- 0 until Docs if d % m == r)
        yield (c.toLong * Docs + d - 1, c.toLong * Docs + d)
    }
  }

  /** A text stage's output check: in its result, each copy with its ids
    * shifted back by the copy's offset equals copy 0 (the 1x corpus), no
    * row mixes copies, and every planted pair is found. */
  private def textHolds(stage: String, rows: Seq[Seq[Any]]): Boolean = {
    val replicas = replicasHold(rows, idCols(stage))
    if (!replicas) System.err.println(s"[wxbench] $stage: a copy differs from copy 0")
    val want = planted(stage)
    lazy val found = rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
    val missed = want.count(p => !found.contains(p))
    if (missed > 0) System.err.println(s"[wxbench] $stage: $missed planted pairs missing")
    replicas && missed == 0
  }

  private def replicasHold(rows: Seq[Seq[Any]], ids: Seq[Int]): Boolean = {
    val byCopy = rows.groupBy(r => ids.map(c => r(c).asInstanceOf[Long] / Docs).distinct)
    def shifted(c: Int): Set[Seq[Any]] = byCopy.getOrElse(Seq(c.toLong), Nil).map(r =>
      r.indices.map(i => if (ids.contains(i)) r(i).asInstanceOf[Long] - c.toLong * Docs else r(i))).toSet
    val base = shifted(0)
    byCopy.keys.forall(_.size == 1) && base.nonEmpty && (1 until K).forall(c =>
      byCopy.getOrElse(Seq(c.toLong), Nil).size == base.size && shifted(c) == base)
  }

  /** Each pair is distinct and ordered, and its cosine recomputed here in
    * double precision agrees with the reported one and clears the
    * threshold. */
  private def cosinesHold(rows: Array[Row]): Boolean = {
    def vec(id: Long): Array[Float] = Gen.copyVec(cp.vecs((id % Vecs).toInt), id % Vecs, (id / Vecs).toInt)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / math.sqrt(na * nb)
    }
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    keys.distinct.length == keys.length && rows.forall { r =>
      val (a, b, s) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val c = cos(vec(a), vec(b))
      a < b && math.abs(c - s) <= 2e-6 && c >= CosThreshold - 2e-6
    }
  }

  def report(samples: Seq[Sample]): Seq[(String, (Double, String))] = {
    val perStage = Stages.map(s => Main.median(samples.filter(_.kind == s).map(_.seconds)))
    Seq("docs_per_s" -> ((K.toDouble * Docs / perStage.sum, "docs/s")),
      "passes" -> ((samples.size.toDouble / Stages.size, "count"))) ++
      Stages.zip(perStage).map { case (s, t) => s"stage.${s}_p50_s" -> ((t, "s")) }
  }
}
