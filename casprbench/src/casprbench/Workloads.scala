package casprbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ColumnRoles
import graft.nn.{AeConfig, TransformerAE}
import graft.ops.Dedup
import graft.prep.{CasprFeaturizer, CasprFeaturizerModel, FeaturizerConfig}
import graft.train.{TrainConfig, TransformerTrainer}

/** Output check of one job: failures (empty = passed) plus the quality
  * numbers the check measured. */
final case class Check(failures: Seq[String], quality: Map[String, Double])

/**
 * One benchmark workload: a closed-loop job over generated parquet, the
 * check of its outputs, and the extra per-layer numbers a traced run
 * reports. Spans wrap calls into the program's public functions.
 */
sealed trait Workload {
  type Out
  def job(spark: SparkSession, data: String, work: String, tr: Tracer): Out
  /** Checks on the values the job returns, run after every job. */
  def jobFailure(o: Out): Option[String] = None
  /** Full output check, run (untimed) on the last job's outputs. */
  def check(spark: SparkSession, data: String, o: Out): Check
  /** Counts and single-thread kernel timings for the traced run. */
  def extras(spark: SparkSession, data: String, work: String, o: Out,
      c: Check): Map[String, Any]
}

object Workload {
  val all: Map[String, Workload] =
    Map("embed_batch" -> EmbedBatch, "train_ae" -> TrainAe, "near_dup" -> NearDup)

  private[casprbench] def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private[casprbench] def events(spark: SparkSession, data: String): DataFrame =
    spark.read.parquet(s"$data/events")
      .withColumn("pred_date", to_timestamp(lit(Params.PredTs)))

  /** Plain in-window filter on the raw events: the expected entity set. */
  private[casprbench] def inWindowIds(spark: SparkSession, data: String): DataFrame =
    events(spark, data)
      .filter(col("ts") < col("pred_date") &&
        col("ts") > col("pred_date") - expr(s"INTERVAL ${Params.HistoryDays} DAYS"))
      .groupBy(col("user_id")).count().select(col("user_id"))

  private[casprbench] def wideNames(c: String): Seq[String] =
    (1 to Params.SeqLen).map(t => s"${c}_$t")

  private def nonFinite(c: Column): Column =
    exists(c, x => isnan(x) || x === lit(Float.PositiveInfinity) ||
      x === lit(Float.NegativeInfinity))

  /** (rows, distinct ids, min length, max length, rows with a non-finite
    * value) of an (user_id, embedding) frame. */
  private[casprbench] def embeddingStats(out: DataFrame): (Long, Long, Int, Int, Long) = {
    val r = out.agg(count(lit(1)), countDistinct(col("user_id")),
      min(size(col("embedding"))), max(size(col("embedding"))),
      sum(when(nonFinite(col("embedding")), 1L).otherwise(0L))).head()
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0 else r.getInt(2),
      if (r.isNullAt(3)) 0 else r.getInt(3), if (r.isNullAt(4)) 0L else r.getLong(4))
  }

  /** Median wall time per call of `f`, in microseconds, on this thread:
    * 0.3 s of warm-up, then seven batches of 50 calls. */
  private[casprbench] def perCallUs(f: () => Unit): Double = {
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < 300000000L) f()
    val s = (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      for (_ <- 1 to 50) f()
      (System.nanoTime() - t0) / 1e3 / 50
    }.sorted
    s(3)
  }

  /** Seeded random model inputs of `cfg`'s shape. */
  private[casprbench] def inputs(cfg: AeConfig, seed: Long) = {
    val rng = new java.util.SplittableRandom(seed)
    val cat = Array.fill(cfg.seqLen)(cfg.vocabSizes.map(v => rng.nextInt(v)).toArray)
    val cont = Array.fill(cfg.seqLen, cfg.nCont)(rng.nextDouble())
    val nsCat = cfg.nonSeqVocabSizes.map(v => rng.nextInt(v)).toArray
    val nsCont = Array.fill(cfg.nNonSeqCont)(rng.nextDouble())
    (cat, cont, nsCat, nsCont)
  }
}

import Workload._

/** Daily embedding refresh: featurize a heavy-tailed event log with an
  * entity profile, then score every entity with seeded encoder weights. */
object EmbedBatch extends Workload {
  final case class Out(wide: DataFrame, res: TransformerTrainer.Result, out: DataFrame)

  private val roles = ColumnRoles(tgtId = Seq("user_id"), activityDate = "ts",
    predictionDate = "pred_date", catCols = Seq("channel", "item", "segment"),
    contCols = Seq("amount", "dwell", "tenure"),
    seqCols = Seq("channel", "item", "amount", "dwell", "ts"),
    nonSeqCols = Seq("segment", "tenure"), dateCols = Seq("ts"))
  private val cfg = FeaturizerConfig(roles, seqLen = Params.SeqLen,
    historyDays = Params.HistoryDays, maxCardinality = Params.MaxCardinality,
    tiebreak = Seq("event_id"))
  private val catCols = Seq("channel", "item").map(wideNames)
  private val contCols = Seq("amount", "dwell", "ts_days").map(wideNames)
  /** Profile segments are generated as codes 1..5. */
  private val SegmentVocab = 6

  private def aeConfig(m: CasprFeaturizerModel) = AeConfig(dModel = 32, heads = 2,
    layers = 2, pf = 32, seqLen = Params.SeqLen,
    vocabSizes = Seq("channel", "item").map(c => (m.cardinality(c) + 1).toInt),
    nCont = 3, nonSeqVocabSizes = Seq(SegmentVocab), nNonSeqCont = 1)

  private def score(wide: DataFrame, res: TransformerTrainer.Result) =
    TransformerTrainer.transform(wide, res, "user_id", catCols, contCols,
      Seq("segment"), Seq("tenure"))

  def job(spark: SparkSession, data: String, work: String, tr: Tracer): Out =
    tr.span("job") {
      val input = events(spark, data).join(spark.read.parquet(s"$data/profile"), "user_id")
      val model = tr.span("prep.fit")(CasprFeaturizer.fit(input, cfg))
      val wide = tr.span("prep.transform")(tr.boundary(model.transform(input)))
      val ae = aeConfig(model)
      val res = TransformerTrainer.Result(ae, ae.initParams(), Nil, 0)
      val out = tr.span("ml.score") { val o = score(wide, res); noop(o); o }
      tr.release()
      Out(wide, res, out)
    }

  def check(spark: SparkSession, data: String, o: Out): Check = {
    val want = inWindowIds(spark, data).count()
    val (n, ids, minLen, maxLen, bad) = embeddingStats(o.out)
    val len = o.res.cfg.tEff * o.res.cfg.dModel
    val sample = inWindowIds(spark, data).filter(col("user_id") % 331 === 0)
      .collect().map(_.getLong(0)).toSeq
    def byId(df: DataFrame) = df.filter(col("user_id").isin(sample: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val full = byId(o.out)
    val alone = byId(score(o.wide.filter(col("user_id").isin(sample: _*)), o.res))
    val drift = sample.map { id =>
      (full.get(id), alone.get(id)) match {
        case (Some(a), Some(b)) if a.size == b.size =>
          a.zip(b).map { case (x, y) => math.abs(x - y).toDouble }.max
        case _ => Double.PositiveInfinity
      }
    }
    Check(Seq(
      Option.when(n != want)(s"$n embeddings for $want in-window entities"),
      Option.when(ids != n)(s"$ids distinct ids in $n rows"),
      Option.when(minLen != len || maxLen != len)(
        s"embedding length $minLen..$maxLen, want $len"),
      Option.when(bad > 0)(s"$bad embeddings with non-finite values"),
      Option.when(sample.isEmpty)("empty rescoring sample"),
      Option.when(drift.exists(_ > 1e-6))(
        s"rescored sample differs by up to ${drift.max}")).flatten,
      Map("entities" -> n.toDouble))
  }

  def extras(spark: SparkSession, data: String, work: String, o: Out,
      c: Check): Map[String, Any] = {
    val ae = o.res.cfg
    val lay = ae.layout
    val (cat, cont, nsCat, nsCont) = inputs(ae, 7L)
    Map("entities" -> c.quality("entities"),
      "nn_embed_us" -> perCallUs(() =>
        TransformerAE.embed(ae, lay, o.res.params, cat, cont, nsCat, nsCont)))
  }
}

/** Autoencoder pretraining on short, mostly padded histories: full-corpus
  * epochs with a fixed epoch count, then scoring with the trained weights. */
object TrainAe extends Workload {
  final case class Out(res: TransformerTrainer.Result, out: DataFrame)

  val Epochs = 2
  val BatchSize = 50

  private val roles = ColumnRoles(tgtId = Seq("user_id"), activityDate = "ts",
    predictionDate = "pred_date", catCols = Seq("channel", "item"),
    contCols = Seq("amount", "dwell"),
    seqCols = Seq("channel", "item", "amount", "dwell", "ts"),
    nonSeqCols = Nil, dateCols = Seq("ts"))
  private val cfg = FeaturizerConfig(roles, seqLen = Params.SeqLen,
    historyDays = Params.HistoryDays, maxCardinality = Params.MaxCardinality,
    tiebreak = Seq("event_id"))
  private val catCols = Seq("channel", "item").map(wideNames)
  private val contCols = Seq("amount", "dwell", "ts_days").map(wideNames)
  // patience above the epoch count: early stopping never shortens a run
  private val train = TrainConfig(lr = 1e-2, maxEpochs = Epochs,
    patience = Epochs + 1, warmupEpochs = 1)

  def job(spark: SparkSession, data: String, work: String, tr: Tracer): Out =
    tr.span("job") {
      val input = events(spark, data)
      val model = tr.span("prep.fit")(CasprFeaturizer.fit(input, cfg))
      val wide = tr.span("prep.transform")(tr.boundary(model.transform(input)))
      // the q_train_transformer model shape (teacher-forced decoder)
      val ae = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
        seqLen = Params.SeqLen,
        vocabSizes = Seq("channel", "item").map(c => (model.cardinality(c) + 1).toInt),
        nCont = 3, decoderLayers = 1)
      val res = tr.span("train.fit") {
        TransformerTrainer.fit(wide, ae, catCols, contCols, train, batchSize = BatchSize)
      }
      val out = tr.span("ml.score") {
        val o = TransformerTrainer.transform(wide, res, "user_id", catCols, contCols)
        noop(o); o
      }
      tr.release()
      Out(res, out)
    }

  override def jobFailure(o: Out): Option[String] = {
    val l = o.res.losses
    if (l.size != Epochs) Some(s"${l.size} epochs recorded, want $Epochs")
    else if (l.exists(x => x.isNaN || x.isInfinite)) Some(s"non-finite loss in $l")
    else if (!(l.last < l.head)) Some(s"loss did not fall: $l")
    else None
  }

  def check(spark: SparkSession, data: String, o: Out): Check = {
    val (n, _, minLen, _, bad) = embeddingStats(o.out)
    Check(Seq(
      Option.when(n == 0)("no embeddings"),
      Option.when(minLen == 0)("empty embedding"),
      Option.when(bad > 0)(s"$bad embeddings with non-finite values")).flatten,
      Map("final_loss" -> o.res.losses.last, "examples" -> n.toDouble))
  }

  def extras(spark: SparkSession, data: String, work: String, o: Out,
      c: Check): Map[String, Any] = {
    val ae = o.res.cfg
    val lay = ae.layout
    val (cat, cont, _, _) = inputs(ae, 7L)
    val grad = new Array[Double](o.res.params.length)
    val examples = c.quality("examples")
    Map("examples" -> examples, "epochs" -> o.res.stoppedAt,
      "steps" -> o.res.stoppedAt * math.max(1, math.ceil(examples / BatchSize).toInt),
      "nn_lossgrad_us" -> perCallUs(() =>
        TransformerAE.lossAndGrad(ae, lay, o.res.params, grad, cat, cont)))
  }
}

/** Corpus dedup for the LLM-data pipeline: LSH pairs, groups and the
  * keep/drop decision over the base corpus, then incremental admission
  * of a new batch against a parquet band index. */
object NearDup extends Workload {
  final case class Out(pairs: DataFrame, admitted: DataFrame)

  private def index(work: String) = s"$work/band_index"

  def job(spark: SparkSession, data: String, work: String, tr: Tracer): Out =
    tr.span("job") {
      val base = spark.read.parquet(s"$data/base")
      val batch = spark.read.parquet(s"$data/batch")
      // the pair table is materialized without lineage in every run:
      // dedupGroups over the lazy minhashLshPairs plan spends minutes
      // rendering nested cached-plan strings for each of its queries
      val pairs = tr.span("ops.pairs")(Dedup.minhashLshPairs(base, "text",
        "doc_id", Params.ShingleN, Params.MinHashK, Params.Bands, Params.Tau, Params.MaxBucket,
        fastHash = true).localCheckpoint())
      tr.span("ops.groups") {
        noop(Dedup.resolveDuplicates(base, Dedup.dedupGroups(pairs), "doc_id",
          length(col("text"))))
      }
      tr.span("ops.index_write") {
        Dedup.minhashBandIndex(base, "text", "doc_id", Params.ShingleN, Params.MinHashK,
          Params.Bands, fastHash = true).write.mode("overwrite").parquet(index(work))
      }
      val admitted = tr.span("ops.admit") {
        val a = Dedup.admitNearDups(batch, spark.read.parquet(index(work)), "text",
          "doc_id", Params.ShingleN, Params.MinHashK, Params.Bands, Params.Tau, Params.MaxBucket,
          fastHash = true)
        noop(a); a
      }
      tr.release()
      Out(pairs, admitted)
    }

  def check(spark: SparkSession, data: String, o: Out): Check = {
    val base = spark.read.parquet(s"$data/base")
    val pairs = o.pairs.select("doc_a", "doc_b")
      .join(base.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[String]("ta"), r.getAs[String]("tb")))
    val low = pairs.filter { case (a, b, ta, tb) =>
      a >= b || Params.jaccard(Params.shingles(ta, Params.ShingleN),
        Params.shingles(tb, Params.ShingleN)) < Params.Tau - 1e-6
    }
    val found = pairs.map(p => (p._1, p._2)).toSet
    val truth = spark.read.parquet(s"$data/truth_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val recall = truth.count(found.contains).toDouble / truth.length
    val verdict = o.admitted.select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val wrong = spark.read.parquet(s"$data/truth_admit").collect()
      .filter(r => !verdict.get(r.getLong(0)).contains(r.getBoolean(1)))
    Check(Seq(
      Option.when(low.nonEmpty)(
        s"${low.length} returned pairs below Jaccard ${Params.Tau}, e.g. ${low.head._1}-${low.head._2}"),
      Option.when(recall < 0.5)(s"planted-pair recall $recall below 0.5"),
      Option.when(wrong.nonEmpty)(
        s"${wrong.length} admission verdicts disagree with the planted truth")).flatten,
      Map("dup_recall" -> recall, "pairs" -> pairs.length.toDouble))
  }

  /** Band-equal candidate pairs and the largest (band, sig) bucket,
    * counted from the band index with the same bands and cap. */
  def extras(spark: SparkSession, data: String, work: String, o: Out,
      c: Check): Map[String, Any] = {
    val idx = spark.read.parquet(index(work)).select("band", "sig", "doc_id")
    val sizes = idx.groupBy("band", "sig").count()
    val maxBucket = sizes.agg(max("count")).head().getLong(0)
    val kept = idx.join(sizes.filter(col("count") <= Params.MaxBucket), Seq("band", "sig"))
    val candidates = kept.select(col("band"), col("sig"), col("doc_id").as("a"))
      .join(kept.select(col("band"), col("sig"), col("doc_id").as("b")), Seq("band", "sig"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    Map("candidates" -> candidates, "max_bucket" -> maxBucket,
      "pairs" -> c.quality("pairs"))
  }
}
