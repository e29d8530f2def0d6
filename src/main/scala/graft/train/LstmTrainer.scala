package graft.train

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, StructField}
import graft.ml.{EntityInputs, Ingress, InputColumns}
import graft.nn.{LstmAE, LstmAeConfig}

/**
 * Distributed LSTM-encoder training (SURVEY.md §2.I11/I12): the same
 * [[EpochLoop]] harness as [[TransformerTrainer]] (reference-style
 * multi-step epochs; see its scaladoc for the `examplesPerEpoch` budget
 * semantics), over the BPTT-gradient-checked [[LstmAE]].
 *
 * Non-seq features enter via the LSTM mechanism (unified_encoder.py:
 * 142-146,257-266): ns cat embeddings -> DenseBnDropout MLP, prepended with
 * ns cont to the fuse input — trained end-to-end here, matching the serving
 * twin [[graft.nn.LstmEncoderWeights]]. `labelCol` feeds the `decoder =
 * "churn"` BCE fine-tune objective (I16, ChurnModel model_wrapper.py:
 * 123-155); it is ignored by the reconstruction decoders.
 */
object LstmTrainer {

  final case class Result(cfg: LstmAeConfig, params: Array[Double],
      losses: Seq[Double], stoppedAt: Int)

  private type Example = (EntityInputs, Double)

  def fit(wide: DataFrame, cfg: LstmAeConfig,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      train: TrainConfig,
      nonSeqCatCols: Seq[String] = Nil, nonSeqContCols: Seq[String] = Nil,
      labelCol: Option[String] = None,
      batchSize: Int = 4096,
      examplesPerEpoch: Option[Int] = None): Result = {
    require(labelCol.isEmpty || cfg.hasChurn,
      "labelCol only feeds the churn objective (decoder = \"churn\")")
    require(!cfg.hasChurn || labelCol.nonEmpty,
      "decoder = \"churn\" trains BCE against labelCol — pass one")
    val lay = cfg.layout
    val data = Ingress.examples(wide,
        InputColumns(seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols), labelCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val params = cfg.initParams()
    // per-example dropout seed (see TransformerTrainer.fit); probe
    // evaluates with dropout off (inference behavior)
    val lossGradFn = {
      var calls = 0L
      (p: Array[Double], a: Array[Double], ex: Example) => {
        calls += 1
        val (e, label) = ex
        val ds = train.seed ^ (calls * 0x9E3779B97F4A7C15L) ^
          java.util.Arrays.deepHashCode(e.seqCat.asInstanceOf[Array[AnyRef]])
        LstmAE.lossGradEmbed(cfg, lay, p, a, e.seqCat, e.seqCont, e.nsCat, e.nsCont,
          label, dropSeed = ds)._1
      }
    }
    val cfgEval = cfg.copy(dropout = 0.0)
    val res = EpochLoop.run(data, params, train, batchSize, examplesPerEpoch,
      lossGradFn,
      lossOnly = Some((p: Array[Double], ex: Example) =>
        LstmAE.lossGradEmbed(cfgEval, lay, p, null, ex._1.seqCat, ex._1.seqCont,
          ex._1.nsCat, ex._1.nsCont, ex._2)._1),
      frozenRanges = cfg.frozenRanges)
    data.unpersist()
    Result(cfg, params, res.losses, res.stoppedAt)
  }

  /** Score with trained weights: pooled attention-fused embedding. */
  def transform(wide: DataFrame, res: Result, idCol: String,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String] = Nil,
      nonSeqContCols: Seq[String] = Nil): DataFrame = {
    val cfg = res.cfg
    val lay = cfg.layout
    val bc = wide.sparkSession.sparkContext.broadcast(res.params)
    Ingress.score(wide, idCol,
      InputColumns(seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols),
      Ingress.EmbeddingField) { () =>
      val p = bc.value
      e => LstmAE.lossGradEmbed(cfg, lay, p, null, e.seqCat, e.seqCont,
        e.nsCat, e.nsCont, embedOnly = true)._2.map(_.toFloat)
    }
  }

  /** I16 churn scoring: sigmoid(head) probability from a churn-trained
    * result, alongside the embedding. */
  def transformChurn(wide: DataFrame, res: Result, idCol: String,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String] = Nil,
      nonSeqContCols: Seq[String] = Nil): DataFrame = {
    require(res.cfg.hasChurn, "transformChurn needs a churn-trained Result")
    val cfg = res.cfg
    val lay = cfg.layout
    val bc = wide.sparkSession.sparkContext.broadcast(res.params)
    Ingress.score(wide, idCol,
      InputColumns(seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols),
      StructField("churn_prob", DoubleType, nullable = false)) { () =>
      val p = bc.value
      val (wOff, _) = lay.offsets("churn_w")
      val (bOff, _) = lay.offsets("churn_b")
      e => {
        val (_, emb) = LstmAE.lossGradEmbed(cfg, lay, p, null, e.seqCat, e.seqCont,
          e.nsCat, e.nsCont, embedOnly = true)
        var z = p(bOff)
        var i = 0
        while (i < cfg.outDim) { z += p(wOff + i) * emb(i); i += 1 }
        1.0 / (1.0 + math.exp(-z))
      }
    }
  }
}
