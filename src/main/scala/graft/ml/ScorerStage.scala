package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.StructType

/**
 * Thin `ml.Transformer` adapters completing the idiomatic MLlib surface
 * (SURVEY.md §7.1): the scorer models ([[CasprScorerModel]] transformer
 * arch over `AeConfig` flat params, seeded or trained; [[LstmScorerModel]]
 * LSTM arch over `LstmEncoderWeights` — the J6 serving path) drop into an
 * `org.apache.spark.ml.Pipeline` next to [[CasprStage]] and
 * [[CasprAutoencoder]]. Like [[CasprModel]] (an EmbeddingStage too), the
 * stage APPENDS `embedding: array<float>` to the input row (computed on
 * the narrowed Ingress projection, joined back on the entity-unique id),
 * so labels and profile columns flow through to downstream MLlib stages.
 */
private[ml] trait EmbeddingStage extends Transformer {
  def idCol: String
  /** The underlying (id, embedding) scoring transform. */
  protected def score(df: DataFrame): DataFrame

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    df.join(score(df), Seq(idCol))
  }

  override def transformSchema(schema: StructType): StructType =
    EmbeddingStage.outSchema(schema)
}

private[ml] object EmbeddingStage {
  def outSchema(input: StructType): StructType =
    StructType(input.fields.toIndexedSeq :+ Ingress.EmbeddingField)
}

/** [[CasprScorerModel]] (transformer encoder, I8 extra-timestep non-seq
  * routing) as a Pipeline stage. */
class CasprScorerStage(val model: CasprScorerModel,
    override val uid: String = Identifiable.randomUID("casprScorer"))
    extends EmbeddingStage {
  override def idCol: String = model.idCol
  override protected def score(df: DataFrame): DataFrame = model.transform(df)
  override def copy(extra: ParamMap): CasprScorerStage =
    new CasprScorerStage(model, uid)
}

/** [[LstmScorerModel]] (LSTM encoder arch, ns-MLP fuse routing) as a
  * Pipeline stage — the reference's architecture switch on the same
  * serving surface. */
class LstmScorerStage(val model: LstmScorerModel,
    override val uid: String = Identifiable.randomUID("lstmScorer"))
    extends EmbeddingStage {
  override def idCol: String = model.idCol
  override protected def score(df: DataFrame): DataFrame = model.transform(df)
  override def copy(extra: ParamMap): LstmScorerStage =
    new LstmScorerStage(model, uid)
}
