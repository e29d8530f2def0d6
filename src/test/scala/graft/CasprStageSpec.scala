package graft

import org.apache.spark.ml.{Pipeline, Transformer}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.{ColumnRoles, Tables}
import graft.ml.{CasprAutoencoder, CasprModel, CasprStage}
import graft.prep.FeaturizerConfig

/** Test glue only: array<float> embedding -> MLlib Vector column, so the
  * autoencoder output feeds vector-typed MLlib stages inside a Pipeline. */
private class EmbeddingToVector(override val uid: String =
    Identifiable.randomUID("embToVec")) extends Transformer {
  override def transform(ds: Dataset[_]): DataFrame =
    ds.toDF().withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col("embedding")))
  override def copy(extra: ParamMap): EmbeddingToVector = this
  override def transformSchema(schema: StructType): StructType =
    schema.add("features", org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
}

/** The featurizer + trainer as real MLlib Pipeline stages composing with
  * MLlib (SURVEY §7.1 steps 2 + 6). */
class CasprStageSpec extends SparkSpec {

  test("Pipeline(featurize -> assemble -> kmeans) fits and transforms") {
    val input = Tables.load(spark, sf, "events")
      .withColumn("pred_date", to_timestamp(lit("2024-02-01 00:00:00")))
    val roles = ColumnRoles(Seq("user_id"), "ts", "pred_date",
      Seq("event_type"), Seq("value"), Seq("event_type", "value", "ts"),
      Nil, Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 4, historyDays = 21,
      tiebreak = Seq("event_id"))
    val stage = new CasprStage(cfg)
    val contCols = (for (c <- Seq("value", "ts_days"); t <- 1 to 4) yield s"${c}_$t").toArray
    val pipeline = new Pipeline().setStages(Array(
      stage,
      new VectorAssembler().setInputCols(contCols).setOutputCol("features"),
      new KMeans().setK(3).setSeed(42L).setFeaturesCol("features")
        .setPredictionCol("segment")))
    val fitted = pipeline.fit(input)
    val out = fitted.transform(input)
    assert(out.count() == 15)
    assert(out.columns.contains("segment"))
    assert(out.select("segment").distinct().count() == 3)
    // static schema matches the actual transform output for the stage alone
    val schema = stage.transformSchema(input.schema)
    val wide = stage.fit(input).transform(input)
    assert(schema.fieldNames.toSeq == wide.schema.fieldNames.toSeq)
  }

  test("Pipeline(featurize -> autoencoder -> logistic regression) fits end-to-end") {
    // churn label precomputed per entity and carried through the featurizer
    // as an output column (the q_pipeline_e2e contract)
    val ev = Tables.load(spark, sf, "events")
    val pred = to_timestamp(lit("2024-02-01 00:00:00"))
    val active = ev.filter(col("ts") >= pred - expr("INTERVAL 7 DAYS") && col("ts") < pred)
      .select(col("user_id")).distinct().withColumn("churn0", lit(0.0))
    val input = ev.join(active, Seq("user_id"), "left")
      .withColumn("churn", coalesce(col("churn0"), lit(1.0))).drop("churn0")
      .withColumn("pred_date", pred)
    val roles = ColumnRoles(Seq("user_id"), "ts", "pred_date",
      Seq("event_type"), Seq("value"), Seq("event_type", "value", "ts"),
      Nil, Seq("ts"), outputCols = Seq("churn"))
    val cfg = FeaturizerConfig(roles, seqLen = 4, historyDays = 21,
      tiebreak = Seq("event_id"))
    val aeCfg = graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 4, vocabSizes = Seq(8), nCont = 2, decoderLayers = 1)
    val pipeline = new Pipeline().setStages(Array(
      new CasprStage(cfg),
      new CasprAutoencoder(aeCfg, "user_id", Seq("event_type"),
        Seq("value", "ts_days"),
        graft.train.TrainConfig(lr = 1e-2, maxEpochs = 2, warmupEpochs = 1),
        batchSize = 64),
      new EmbeddingToVector(),
      new LogisticRegression().setFeaturesCol("features").setLabelCol("churn")
        .setMaxIter(5)))
    // CasprModel APPENDS embedding to the wide row (Transformer semantics),
    // so the churn label flows featurize -> embed -> LR untouched
    val featurized = new CasprStage(cfg).fit(input).transform(input)
    assert(featurized.columns.contains("churn"))
    val fitted = pipeline.fit(input)
    val scored = fitted.transform(input)
    assert(scored.count() == 15)
    assert(scored.columns.contains("prediction"))
    assert(scored.select("prediction").distinct().count() >= 1)
  }

  test("Pipeline(featurize -> scorer stage -> kmeans) runs for BOTH archs") {
    val input = Tables.load(spark, sf, "events")
      .withColumn("pred_date", to_timestamp(lit("2024-02-01 00:00:00")))
    val roles = ColumnRoles(Seq("user_id"), "ts", "pred_date",
      Seq("event_type"), Seq("value"), Seq("event_type", "value", "ts"),
      Nil, Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 4, historyDays = 21,
      tiebreak = Seq("event_id"))
    val vocab = Map("event_type" -> 8L)
    val tStage = new graft.ml.CasprScorerStage(graft.ml.CasprScorer.forWide(
      graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8, seqLen = 4,
        vocabSizes = Seq(vocab("event_type").toInt), nCont = 2),
      "user_id", seqCat = Seq("event_type"), seqCont = Seq("value", "ts_days")))
    val lStage = new graft.ml.LstmScorerStage(graft.ml.LstmScorerModel(
      graft.nn.LstmEncoderWeights.init(hidden = 8, outDim = 6,
        vocabSizes = Seq(8), nCont = 2),
      "user_id",
      Seq((1 to 4).map(t => s"event_type_$t")),
      Seq("value", "ts_days").map(c => (1 to 4).map(t => s"${c}_$t"))))
    for (stage <- Seq[Transformer](tStage, lStage)) {
      val out = new Pipeline().setStages(Array(
        new CasprStage(cfg), stage, new EmbeddingToVector(),
        new KMeans().setK(2).setSeed(7L).setFeaturesCol("features")
          .setPredictionCol("segment"))).fit(input).transform(input)
      assert(out.count() == 15 && out.columns.contains("segment"))
      // Transformer semantics: the wide columns survive alongside embedding
      assert(out.columns.contains("event_type_1"))
    }
  }

  test("CasprModel save/load round trip restores a scoring-identical model") {
    val input = Tables.load(spark, sf, "events")
      .withColumn("pred_date", to_timestamp(lit("2024-02-01 00:00:00")))
    val roles = ColumnRoles(Seq("user_id"), "ts", "pred_date",
      Seq("event_type"), Seq("value"), Seq("event_type", "value", "ts"),
      Nil, Seq("ts"))
    val cfg = FeaturizerConfig(roles, seqLen = 4, historyDays = 21,
      tiebreak = Seq("event_id"))
    val wide = new CasprStage(cfg).fit(input).transform(input)
    val aeCfg = graft.nn.AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 4, vocabSizes = Seq(8), nCont = 2, decoderLayers = 1)
    val model = new CasprAutoencoder(aeCfg, "user_id", Seq("event_type"),
      Seq("value", "ts_days"),
      graft.train.TrainConfig(lr = 1e-2, maxEpochs = 2, warmupEpochs = 1),
      batchSize = 64).fit(wide)
    val dir = java.nio.file.Files.createTempDirectory("caspr_model").toString
    model.write.overwrite().save(dir)
    val loaded = CasprModel.load(dir)
    assert(loaded.weights.toSeq == model.weights.toSeq)
    def embs(m: CasprModel) = m.transform(wide).select("user_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val a = embs(model)
    val b = embs(loaded)
    assert(a == b && a.nonEmpty)
  }
}
